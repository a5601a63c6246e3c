"""Storage-layout operators: the levers that matter most at 100 TB.

Three families the reference never needed at its single-node scale but a
Spark deployment lives or dies by:

- **Z-order data skipping** (`q_zorder_skipping`): multi-dimensional
  clustering via bit-interleaved space-filling-curve keys, audited by the
  file-level min/max pruning it enables.  At cluster scale the layout is
  produced by ``repartitionByRange(zvalue)`` at write time; here we model
  the resulting file population purely declaratively (file id = z-range)
  so the audit itself is shuffle-light: one scan, one tiny per-file agg.
- **Small-file compaction planning** (`q_compaction_plan`): bin-packing a
  file inventory into target-sized compaction groups.  The inventory is
  metadata-sized (one row per file, never per data row), so the global
  window over it is cardinality-bounded by design.
- **Domain-mixture reweighting** (`t_domain_mixture`): DoReMi-flavored
  multiplicative-weights excess-loss reweighting of corpus sources — the
  mixture-optimization step of an LLM data pipeline, computed from
  per-source aggregates (20 rows) after a single corpus scan.

Beyond-parity vs the reference (no analogue in /root/reference — its
corpus fits one node); required by the repo's 100 TB north star.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..functions import text as T
from .docpipe import _TOKS, _fanout
from .registry import davg, dsum, query, sql_davg, sql_dsum, sql_trunc6, trunc6


# --------------------------------------------------------------------------
# bit interleaving (Morton / Z-curve), 8 bits per dimension.  Both sides
# are generated from the same loop so the Spark Column and the SQL string
# are term-for-term identical — pure integer bit ops, no float hazard.


def z_interleave8(x: Column, y: Column) -> Column:
    """Morton code of two 8-bit grid coordinates → int in [0, 65535].

    x occupies even bit positions, y odd — the classic Z-curve used by
    Delta/Iceberg OPTIMIZE ZORDER.  16 codegen'd integer ops, no UDF.
    """
    terms = []
    for i in range(8):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return reduce(lambda a, b: a + b, terms)


def sql_z_interleave8(x: str, y: str) -> str:
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


# --------------------------------------------------------------------------
# Z-order vs natural vs single-column layouts, graded by min/max skipping.
#
# Each layout assigns every row to one of 64 "files" the way a range
# write would (file = key-range bucket; for z-order that is exactly what
# repartitionByRange(zvalue) + per-file min/max footer stats produce).
# A 2-D box predicate then prunes on file min/max.  The z-order layout
# must beat both the insert-order layout (every file spans the full key
# range → nothing prunes) and the single-column sort (prunes on one
# dimension only).  No global sort is executed anywhere: file ids are
# computed map-side, the only shuffle is the 192-group aggregate.
#
# The probe box is data-relative (25–35 % of partkey × 20–40 % of
# suppkey) so the query is meaningful at every scale factor.

_ZORDER_SQL = f"""
    WITH mx AS (
      SELECT MAX(l_partkey) AS max_pk, MAX(l_suppkey) AS max_sk,
             MAX(l_orderkey) AS max_ok,
             FLOOR(MAX(l_partkey) / 4.0) AS lo_pk,
             FLOOR((MAX(l_partkey) * 7.0) / 20.0) AS hi_pk,
             FLOOR(MAX(l_suppkey) / 5.0) AS lo_sk,
             FLOOR((MAX(l_suppkey) * 2.0) / 5.0) AS hi_sk
      FROM lineitem
    ), coords AS (
      SELECT l_partkey, l_suppkey, lo_pk, hi_pk, lo_sk, hi_sk,
             CAST(FLOOR((l_partkey * 256.0) / (max_pk + 1)) AS INTEGER) AS xb,
             CAST(FLOOR((l_suppkey * 256.0) / (max_sk + 1)) AS INTEGER) AS yb,
             CAST(FLOOR((l_orderkey * 256.0) / (max_ok + 1)) AS INTEGER) AS ob
      FROM lineitem CROSS JOIN mx
    ), lay AS (
      SELECT 'natural' AS layout, ob >> 2 AS f, l_partkey, l_suppkey,
             lo_pk, hi_pk, lo_sk, hi_sk FROM coords
      UNION ALL
      SELECT 'partkey', xb >> 2, l_partkey, l_suppkey,
             lo_pk, hi_pk, lo_sk, hi_sk FROM coords
      UNION ALL
      SELECT 'zorder', {sql_z_interleave8("xb", "yb")} >> 10,
             l_partkey, l_suppkey, lo_pk, hi_pk, lo_sk, hi_sk FROM coords
    ), files AS (
      SELECT layout, f,
             MIN(l_partkey) AS mn_pk, MAX(l_partkey) AS mx_pk2,
             MIN(l_suppkey) AS mn_sk, MAX(l_suppkey) AS mx_sk2,
             COUNT(*) AS n_rows,
             MIN(lo_pk) AS lo_pk, MIN(hi_pk) AS hi_pk,
             MIN(lo_sk) AS lo_sk, MIN(hi_sk) AS hi_sk
      FROM lay GROUP BY layout, f
    ), hits AS (
      SELECT layout, f, n_rows, 'box2d' AS probe,
             (mn_pk <= hi_pk AND mx_pk2 >= lo_pk AND
              mn_sk <= hi_sk AND mx_sk2 >= lo_sk) AS hit
      FROM files
      UNION ALL
      SELECT layout, f, n_rows, 'sk_only',
             (mn_sk <= hi_sk AND mx_sk2 >= lo_sk)
      FROM files
    ), agg AS (
      SELECT layout, probe,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
             CAST(SUM(CASE WHEN hit THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_in_hit_files
      FROM hits GROUP BY layout, probe
    ), m AS (
      SELECT 'box2d' AS probe, CAST(COUNT(*) AS BIGINT) AS match_rows
      FROM lineitem CROSS JOIN mx
      WHERE l_partkey >= lo_pk AND l_partkey <= hi_pk
        AND l_suppkey >= lo_sk AND l_suppkey <= hi_sk
      UNION ALL
      SELECT 'sk_only', CAST(COUNT(*) AS BIGINT)
      FROM lineitem CROSS JOIN mx
      WHERE l_suppkey >= lo_sk AND l_suppkey <= hi_sk
    )
    SELECT layout, agg.probe AS probe, n_files, files_hit,
           rows_in_hit_files, match_rows,
           {sql_trunc6("1.0 - (files_hit * 1.0) / n_files")} AS skip_ratio,
           {sql_trunc6("(rows_in_hit_files * 1.0) / match_rows")}
             AS scan_amplification
    FROM agg JOIN m ON agg.probe = m.probe ORDER BY layout, probe
"""


@query(
    "q_zorder_skipping",
    _ZORDER_SQL,
    doc="Z-order clustering audit: 64 range-files per layout "
    "(insert-order / partkey-sort / Morton), file min/max pruning for a "
    "2-D box predicate AND a suppkey-only probe (the case a single-"
    "column sort cannot prune). cf. Delta OPTIMIZE ZORDER BY; no "
    "analogue in the reference (single-node, no file skipping).",
)
def q_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    mx = li.agg(
        F.max("l_partkey").alias("max_pk"),
        F.max("l_suppkey").alias("max_sk"),
        F.max("l_orderkey").alias("max_ok"),
        F.floor(F.max("l_partkey") / F.lit(4.0)).alias("lo_pk"),
        F.floor((F.max("l_partkey") * F.lit(7.0)) / F.lit(20.0)).alias("hi_pk"),
        F.floor(F.max("l_suppkey") / F.lit(5.0)).alias("lo_sk"),
        F.floor((F.max("l_suppkey") * F.lit(2.0)) / F.lit(5.0)).alias("hi_sk"),
    )

    def bucket(col: str, mxcol: str) -> Column:
        return F.floor(
            (F.col(col) * F.lit(256.0)) / (F.col(mxcol) + 1)
        ).cast("int")

    coords = li.crossJoin(F.broadcast(mx)).select(
        "l_partkey",
        "l_suppkey",
        "lo_pk",
        "hi_pk",
        "lo_sk",
        "hi_sk",
        bucket("l_partkey", "max_pk").alias("xb"),
        bucket("l_suppkey", "max_sk").alias("yb"),
        bucket("l_orderkey", "max_ok").alias("ob"),
    )
    # one scan → three (layout, file) assignments per row, all map-side
    lay = coords.select(
        "l_partkey",
        "l_suppkey",
        "lo_pk",
        "hi_pk",
        "lo_sk",
        "hi_sk",
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.shiftright(F.col("ob"), 2).alias("f"),
                ),
                F.struct(
                    F.lit("partkey").alias("layout"),
                    F.shiftright(F.col("xb"), 2).alias("f"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.shiftright(
                        z_interleave8(F.col("xb"), F.col("yb")), 10
                    ).alias("f"),
                ),
            )
        ).alias("lf"),
    ).select("l_partkey", "l_suppkey", "lo_pk", "hi_pk", "lo_sk", "hi_sk", "lf.*")
    files = lay.groupBy("layout", "f").agg(
        F.min("l_partkey").alias("mn_pk"),
        F.max("l_partkey").alias("mx_pk2"),
        F.min("l_suppkey").alias("mn_sk"),
        F.max("l_suppkey").alias("mx_sk2"),
        F.count(F.lit(1)).alias("n_rows"),
        F.min("lo_pk").alias("lo_pk"),
        F.min("hi_pk").alias("hi_pk"),
        F.min("lo_sk").alias("lo_sk"),
        F.min("hi_sk").alias("hi_sk"),
    )
    hit2d = (
        (F.col("mn_pk") <= F.col("hi_pk"))
        & (F.col("mx_pk2") >= F.col("lo_pk"))
        & (F.col("mn_sk") <= F.col("hi_sk"))
        & (F.col("mx_sk2") >= F.col("lo_sk"))
    )
    hit_sk = (F.col("mn_sk") <= F.col("hi_sk")) & (F.col("mx_sk2") >= F.col("lo_sk"))
    hits = files.select(
        "layout",
        "f",
        "n_rows",
        F.explode(
            F.array(
                F.struct(F.lit("box2d").alias("probe"), hit2d.alias("hit")),
                F.struct(F.lit("sk_only").alias("probe"), hit_sk.alias("hit")),
            )
        ).alias("ph"),
    ).select("layout", "f", "n_rows", "ph.*")
    agg = hits.groupBy("layout", "probe").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("files_hit"),
        F.sum(F.when(F.col("hit"), F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_in_hit_files"),
    )
    withbox = li.crossJoin(F.broadcast(mx))
    in_sk = (F.col("l_suppkey") >= F.col("lo_sk")) & (
        F.col("l_suppkey") <= F.col("hi_sk")
    )
    in_pk = (F.col("l_partkey") >= F.col("lo_pk")) & (
        F.col("l_partkey") <= F.col("hi_pk")
    )
    # both probes' exact match counts in ONE conditional-aggregation
    # pass (a union of two filtered aggregates would rescan the fact
    # table per probe); the 1-row result unpivots to (probe, count)
    m = (
        withbox.agg(
            F.sum(F.when(in_pk & in_sk, 1).otherwise(0))
            .cast("bigint")
            .alias("m_box2d"),
            F.sum(F.when(in_sk, 1).otherwise(0)).cast("bigint").alias("m_sk_only"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("box2d").alias("mprobe"),
                        F.col("m_box2d").alias("match_rows"),
                    ),
                    F.struct(
                        F.lit("sk_only").alias("mprobe"),
                        F.col("m_sk_only").alias("match_rows"),
                    ),
                )
            ).alias("mp")
        )
        .select("mp.*")
    )
    return (
        agg.join(F.broadcast(m), agg["probe"] == m["mprobe"])
        .select(
            "layout",
            "probe",
            "n_files",
            "files_hit",
            "rows_in_hit_files",
            "match_rows",
            trunc6(
                F.lit(1.0) - (F.col("files_hit") * F.lit(1.0)) / F.col("n_files")
            ).alias("skip_ratio"),
            trunc6(
                (F.col("rows_in_hit_files") * F.lit(1.0)) / F.col("match_rows")
            ).alias("scan_amplification"),
        )
        .orderBy("layout", "probe")
    )


# --------------------------------------------------------------------------
# compaction planning — bin-pack a file inventory into ~64 KiB groups.
#
# "Files" are the (month × status) partitions of orders with a fixed
# 128 B/row size model (deterministic, engine-independent).  Packing is
# cumulative-sum next-fit over size-descending order: bin = ⌊cum_before /
# target⌋ — a single window over the METADATA-sized inventory (one row
# per file; at 100 TB that is ~10⁵ rows of file listing, not data rows),
# which is why the unpartitioned window is acceptable here (see PLANS.md
# window-audit table).

_TARGET_BYTES = 65536  # compaction target per output file


@query(
    "q_compaction_plan",
    f"""
    WITH files AS (
      SELECT date_trunc('month', o_orderdate) AS fmonth,
             o_orderstatus AS fstatus,
             CAST(COUNT(*) * 128 AS BIGINT) AS size_bytes
      FROM orders GROUP BY 1, 2
    ), packed AS (
      SELECT size_bytes,
             CAST(FLOOR(
               (SUM(size_bytes) OVER (
                  ORDER BY size_bytes DESC, fmonth, fstatus
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - size_bytes) / {_TARGET_BYTES}.0) AS BIGINT) AS bin_id
      FROM files
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
           {sql_trunc6(f"SUM(size_bytes) / {_TARGET_BYTES}.0")} AS fill_ratio
    FROM packed GROUP BY bin_id ORDER BY bin_id
    """,
    doc="Small-file compaction planner: deterministic next-fit bin "
    "packing by cumulative size over the file inventory (metadata-"
    "cardinality window). cf. Delta OPTIMIZE / Iceberg rewrite_data_files.",
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    files = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).alias("fmonth"),
        F.col("o_orderstatus").alias("fstatus"),
    ).agg((F.count(F.lit(1)) * 128).cast("bigint").alias("size_bytes"))
    w = (
        Window.orderBy(F.col("size_bytes").desc(), "fmonth", "fstatus")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = files.select(
        "size_bytes",
        F.floor(
            (F.sum("size_bytes").over(w) - F.col("size_bytes"))
            / F.lit(float(_TARGET_BYTES))
        )
        .cast("bigint")
        .alias("bin_id"),
    )
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("size_bytes").cast("bigint").alias("bin_bytes"),
            trunc6(F.sum("size_bytes") / F.lit(float(_TARGET_BYTES))).alias(
                "fill_ratio"
            ),
        )
        .orderBy("bin_id")
    )


# --------------------------------------------------------------------------
# domain-mixture reweighting — DoReMi-flavored excess-loss weights.
#
# Per-source "difficulty" proxy = mean type/token ratio; weight factor =
# (1 + η·(loss − mean_loss))⁶ — six multiplicative-weights rounds against
# the fixed uniform baseline in closed form (explicit multiplication
# chain, NOT power(): identical IEEE sequence in both engines; libm pow
# is not ulp-portable).  Everything after the single corpus scan runs on
# 20 source rows.  cf. DoReMi (Xie et al. 2023) excess-loss reweighting.

_ETA = "4.0"


@query(
    "t_domain_mixture",
    f"""
    WITH docs AS (
      SELECT source,
             len({_TOKS}) AS n_tok,
             len(list_distinct({_TOKS})) AS n_distinct
      FROM documents
    ), per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS src_tokens,
             {sql_davg("(n_distinct * 1.0) / n_tok")} AS loss
      FROM docs GROUP BY source
    ), stats AS (
      SELECT {sql_davg("loss")} AS mean_loss,
             CAST(SUM(src_tokens) AS BIGINT) AS tot_tokens
      FROM per_src
    ), fac AS (
      SELECT source, n_docs, src_tokens, loss,
             (1.0 + {_ETA} * (loss - mean_loss)) AS f, tot_tokens
      FROM per_src CROSS JOIN stats
    ), pw AS (
      SELECT source, n_docs, src_tokens, loss, tot_tokens,
             {sql_trunc6("((f * f) * f) * ((f * f) * f)")} AS wraw
      FROM fac
    ), denom AS (
      SELECT {sql_dsum("wraw")} AS wsum FROM pw
    )
    SELECT source, n_docs, src_tokens,
           {sql_trunc6("loss")} AS loss,
           {sql_trunc6("wraw / wsum")} AS weight,
           CAST(FLOOR((wraw / wsum) * tot_tokens) AS BIGINT) AS token_alloc
    FROM pw CROSS JOIN denom ORDER BY source
    """,
    doc="DoReMi-style domain mixture: per-source excess-loss "
    "multiplicative weights (6 rounds, closed form) → token allocation. "
    "One corpus scan; all reweighting math on 20 source rows.",
)
def t_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _fanout(load_tables(spark, sf_dir)["documents"])
    toks = T.tokens(F.col("text"))
    docs = d.select(
        "source",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("src_tokens"),
        davg((F.col("n_distinct") * F.lit(1.0)) / F.col("n_tok")).alias("loss"),
    )
    stats = per_src.agg(
        davg(F.col("loss")).alias("mean_loss"),
        F.sum("src_tokens").cast("bigint").alias("tot_tokens"),
    )
    fac = per_src.crossJoin(F.broadcast(stats)).withColumn(
        "f", F.lit(1.0) + F.lit(float(_ETA)) * (F.col("loss") - F.col("mean_loss"))
    )
    f, f2 = F.col("f"), F.col("f") * F.col("f")
    pw = fac.withColumn("wraw", trunc6((f2 * f) * (f2 * f)))
    denom = pw.agg(dsum(F.col("wraw")).alias("wsum"))
    return (
        pw.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "src_tokens",
            trunc6(F.col("loss")).alias("loss"),
            trunc6(F.col("wraw") / F.col("wsum")).alias("weight"),
            F.floor((F.col("wraw") / F.col("wsum")) * F.col("tot_tokens"))
            .cast("bigint")
            .alias("token_alloc"),
        )
        .orderBy("source")
    )
