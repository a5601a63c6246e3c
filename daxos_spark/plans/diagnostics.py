"""Corpus/pipeline diagnostics + SCD surface — beyond-parity queries a
100 TB training-data pipeline needs on top of SURVEY §2.

Cross-engine determinism: every fractional statistic here is derived
from INTEGER counts via ``floor(int * 1e6 * int / int)`` micro-units.
The quotient's distance from an integer boundary is ≥ 1/denominator
(the numerator is exact in float, the division correctly rounded), so
Spark and duckdb floor identically — no DECIMAL plumbing and no libm
(ln/exp) whose last-ulp behavior differs between JVM and C runtimes.

Scale notes per query are inline; the common theme is that every
statistic is one partial-aggregated groupBy (map-side combine), and the
only driver-sized objects are group-cardinality results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..functions.hashing import md5_long_sql
from .registry import dsum, query, sql_dsum, sql_trunc6, trunc6


# --------------------------------------------------------------------------
# TF-IDF top terms per document — inverted-index/term-weighting surface.
# Scale: tokenize is partition-local (no Python UDF); tf groupBy shuffles
# on (doc_id, term); the df relation is term-cardinality (zipfian but
# small vs corpus) and joins back by term — at real scale the df side is
# broadcastable after aggregation. idf is kept log-free (tf·N/df in
# exact micro-units) so both engines rank identically.
@query(
    "d_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
      FROM documents
    ), toks2 AS (
      SELECT doc_id, term FROM toks WHERE term <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks2 GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(FLOOR(tf.tf * 1000000.0 * n.n_docs / dfreq.df) AS BIGINT) AS score_micro
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rk
      FROM scored
    )
    SELECT doc_id, rk, term, tf, df, score_micro
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def d_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score_micro",
            F.floor(
                F.col("tf") * F.lit(1000000.0) * F.col("n_docs") / F.col("df")
            ).cast("long"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_micro"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "rk", "term", "tf", "df", "score_micro")
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# SCD-2 interval build from an event stream — dimension-maintenance
# surface (slowly-changing user state from raw events). One window per
# user (shuffle on user_id only), no self-join: change-point filter via
# lag, interval close via lead over the surviving change rows.
@query(
    "q_scd2_user_state",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    ORDER BY user_id, valid_from, event_id
    """,
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    return (
        changes.withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
            "event_id",
        )
        .orderBy("user_id", "valid_from", "event_id")
        .drop("event_id")
    )


# --------------------------------------------------------------------------
# CDC changelog apply — MERGE-INTO semantics over an ordered change
# stream (Debezium → lakehouse): per key keep the LATEST op by
# (ts, event_id); a tombstone ('error' here plays the delete op)
# removes the key from the final table.  The latest-row pick is a
# partial-aggregable max(struct(ts, event_id, payload)) — map-side
# combine shrinks the shuffle to key cardinality and no window
# partition ever holds a hot key's full history (the same
# argmin-by-struct trick as SemDeDup).  The oracle states the
# equivalent ROW_NUMBER formulation; max-by-lexicographic(ts,
# event_id) picks the identical row because event_id is unique.
@query(
    "q_cdc_apply",
    f"""
    WITH ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ), final AS (
      SELECT user_id, event_type, value FROM ranked WHERE rn = 1
    )
    SELECT CASE WHEN event_type = 'error' THEN '__deleted__'
                ELSE event_type END AS last_event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           {sql_dsum(
               "CASE WHEN event_type <> 'error' THEN value"
               " ELSE CAST(0.0 AS DOUBLE) END"
           )} AS value_sum
    FROM final
    GROUP BY 1
    ORDER BY last_event_type
    """,
    doc="Changelog MERGE apply: latest-wins upsert + tombstone delete "
    "per key, via partial-aggregable max(struct) (no per-key window). "
    "cf. Delta MERGE INTO / Debezium snapshot reconstruction.",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import latest_by_key

    e = load_tables(spark, sf_dir)["events"]
    final = latest_by_key(
        e, "user_id", ["ts", "event_id"], ["event_type", "value"]
    )
    # one aggregation over the case-mapped bucket key — a union of two
    # filtered aggregates would run the latest_by_key compaction twice.
    # Edge semantics (both engines): a changelog with NO tombstone-last
    # keys simply has no '__deleted__' row (standard GROUP BY reporting).
    return (
        final.groupBy(
            F.when(F.col("event_type") == "error", F.lit("__deleted__"))
            .otherwise(F.col("event_type"))
            .alias("last_event_type")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            dsum(
                F.when(
                    F.col("event_type") != "error", F.col("value")
                ).otherwise(F.lit(0.0))
            ).alias("value_sum"),
        )
        .orderBy("last_event_type")
    )


# --------------------------------------------------------------------------
# the materialized CDC view itself, row per key — the batch twin of
# streaming/pipelines.cdc_upsert_stream's emitted rows (the q_cdc_apply
# summary above proves the rollup; this gate proves the per-key payload
# + delete flag a MERGE sink would consume). Same partial-aggregable
# max(struct) compaction; output is key-cardinality.
@query(
    "q_cdc_materialize",
    """
    WITH ranked AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id,
           event_type AS last_event_type,
           CASE WHEN event_type <> 'error' THEN value
                ELSE CAST(NULL AS DOUBLE) END AS value,
           (event_type = 'error') AS is_deleted
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
    doc="materialized CDC view: per-key latest payload + tombstone "
    "delete flag (the rows a MERGE sink upserts; batch twin of the "
    "streaming cdc_upsert_stream state)",
)
def q_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import latest_by_key

    e = load_tables(spark, sf_dir)["events"]
    final = latest_by_key(
        e, "user_id", ["ts", "event_id"], ["event_type", "value"]
    )
    deleted = F.col("event_type") == "error"
    return final.select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.when(~deleted, F.col("value")).otherwise(F.lit(None).cast("double")).alias(
            "value"
        ),
        deleted.alias("is_deleted"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# HLL approximate-distinct vs exact — the sketch every 100 TB pipeline
# uses for cardinality (one pass, fixed memory, mergeable across
# partitions; exact COUNT(DISTINCT) needs a full shuffle of the key
# column). Spark's HLL++ is deterministic given the data (sketch merge
# is elementwise-max → order/partitioning independent), so asserting
# the 5% envelope (at rsd=0.01, 5σ) is a stable cross-engine check; the
# oracle supplies the exact count and a TRUE literal.
@query(
    "q_approx_distinct_check",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_cnt,
           TRUE AS within_5pct
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    # Mixing COUNT(DISTINCT) with the HLL aggregate in ONE groupBy plans
    # an Expand (row duplication) feeding a sketch-carrying multi-stage
    # aggregate — ~4s where each aggregate alone is <1s. Compute the two
    # independently and join on the 5-row group key instead (both sides
    # fully aggregated before the join, so the join is trivial).
    exact = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_cnt")
    )
    approx = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("approx_cnt")
    )
    return (
        exact.join(F.broadcast(approx), "o_orderpriority")
        .select(
            "o_orderpriority",
            "exact_cnt",
            (
                F.abs(F.col("approx_cnt") - F.col("exact_cnt"))
                <= F.lit(0.05) * F.col("exact_cnt")
            ).alias("within_5pct"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Key-skew profiler — the diagnostic you run BEFORE a big join: top
# heavy keys and their ratio to the mean key load, from one counts
# groupBy plus a scalar total (broadcast). skew_ratio_micro =
# floor(cnt·1e6·n_keys/total) in exact integer micro-units.
@query(
    "q_key_skew_profile",
    """
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey
    ), tot AS (
      SELECT SUM(cnt) AS total, COUNT(*) AS n_keys FROM counts
    )
    SELECT l_suppkey, cnt, n_keys, total,
           CAST(FLOOR(cnt * 1000000.0 * n_keys / total) AS BIGINT) AS skew_ratio_micro
    FROM counts CROSS JOIN tot
    ORDER BY cnt DESC, l_suppkey ASC LIMIT 5
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir)["lineitem"]
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn(
            "skew_ratio_micro",
            F.floor(
                F.col("cnt") * F.lit(1000000.0) * F.col("n_keys") / F.col("total")
            ).cast("long"),
        )
        .select("l_suppkey", "cnt", "n_keys", "total", "skew_ratio_micro")
        .orderBy(F.desc("cnt"), F.asc("l_suppkey"))
        .limit(5)
    )


# --------------------------------------------------------------------------
# Language-diversity (Gini impurity) per source — corpus-composition
# diagnostic. Gini = 1 − Σ(p_l²) computed as exact integer rational
# (total² − Σcnt²)/total² in micro-units: log-free, so no libm drift.
@query(
    "d_source_lang_gini",
    """
    WITH cnts AS (
      SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY source, lang
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           CAST(FLOOR(
             (SUM(cnt)*SUM(cnt) - SUM(cnt*cnt)) * 1000000.0
             / (SUM(cnt)*SUM(cnt))
           ) AS BIGINT) AS gini_micro
    FROM cnts GROUP BY source ORDER BY source
    """,
    tags=("docs",),
)
def d_source_lang_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"]
    cnts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        cnts.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("sumsq"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            F.floor(
                (F.col("n_docs") * F.col("n_docs") - F.col("sumsq"))
                * F.lit(1000000.0)
                / (F.col("n_docs") * F.col("n_docs"))
            )
            .cast("long")
            .alias("gini_micro"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Approx-quantile sketch check — the partition-pruning / salting
# decisions at 100 TB run on approx_percentile (KLL-style sketch, one
# pass, mergeable across executors) because exact percentile needs a
# full sort. This query certifies the sketch against the exact
# percentile per group: with accuracy 10000 the rank error is ≤ 0.01·n,
# so a half-IQR envelope is a rock-solid cross-engine TRUE; the oracle
# supplies the exact quantiles and TRUE literals (same contract as
# q_approx_distinct_check).
@query(
    "q_approx_quantile_check",
    f"""
    SELECT o_orderstatus,
           {sql_trunc6("quantile_cont(o_totalprice, 0.5)")} AS exact_p50,
           {sql_trunc6("quantile_cont(o_totalprice, 0.9)")} AS exact_p90,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir)["orders"]
    # array-form percentile: ONE values buffer per group feeds all four
    # exact quantiles (five scalar calls would build five buffers — the
    # exact percentile aggregate holds every group value in memory, so
    # buffer count is the dominant cost)
    agg = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75, 0.9))").alias("ex"),
        F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").alias("ap"),
    )
    iqr = F.col("ex")[2] - F.col("ex")[0]
    return (
        agg.select(
            "o_orderstatus",
            trunc6(F.col("ex")[1]).alias("exact_p50"),
            trunc6(F.col("ex")[3]).alias("exact_p90"),
            (F.abs(F.col("ap")[0] - F.col("ex")[1]) <= F.lit(0.5) * iqr).alias("p50_ok"),
            (F.abs(F.col("ap")[1] - F.col("ex")[3]) <= F.lit(0.5) * iqr).alias("p90_ok"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Pareto frontier (skyline) per brand: parts not dominated on
# (cheaper price, larger size). The Spark plan is the O(n log n)
# sort-based skyline — one shuffle on p_brand, two RANGE-frame window
# maxes (strictly-cheaper prefix max and equal-price peer max) — while
# the oracle is the textbook O(n²) NOT EXISTS dominance self-join.
# Independent formulations of the same relation: a hash match here is
# evidence the window algebra is right, not just that two copies of
# one query agree. At 100 TB the window plan is the only viable one
# (the naive skyline self-join is quadratic per brand).
@query(
    "q_pareto_frontier",
    """
    WITH p AS (
      SELECT p_brand, p_partkey,
             CAST(FLOOR(p_retailprice * 100) AS BIGINT) AS price_cents, p_size
      FROM part
    )
    SELECT p_brand, p_partkey, price_cents, p_size
    FROM p b
    WHERE NOT EXISTS (
      SELECT 1 FROM p a
      WHERE a.p_brand = b.p_brand
        AND ((a.price_cents < b.price_cents AND a.p_size >= b.p_size)
          OR (a.price_cents = b.price_cents AND a.p_size > b.p_size))
    )
    ORDER BY p_brand, price_cents, p_partkey
    """,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir)["part"].select(
        "p_brand",
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100).cast("bigint").alias("price_cents"),
        "p_size",
    )
    cheaper = (
        Window.partitionBy("p_brand")
        .orderBy("price_cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    peers = Window.partitionBy("p_brand").orderBy("price_cents").rangeBetween(0, 0)
    return (
        p.withColumn("mx_cheaper", F.max("p_size").over(cheaper))
        .withColumn("mx_peer", F.max("p_size").over(peers))
        .filter(
            (F.col("p_size") > F.coalesce(F.col("mx_cheaper"), F.lit(-1)))
            & (F.col("p_size") == F.col("mx_peer"))
        )
        .select("p_brand", "p_partkey", "price_cents", "p_size")
        .orderBy("p_brand", "price_cents", "p_partkey")
    )


# --------------------------------------------------------------------------
# k-anonymity audit over quasi-identifiers — the governance check a
# training-data pipeline runs BEFORE release (companion to the PII
# scrub d_pii_scrub: scrubbing direct identifiers does not stop
# re-identification through quasi-identifier combinations). Equivalence
# classes = (nation, market segment, $1000 balance band); classes
# smaller than k=5 put their members at re-identification risk, and
# the records_at_risk / risk_fraction columns are exactly the
# suppress-or-generalize workload. Scale shape: one customer scan into
# a class-cardinality groupBy (partial counts combine map-side), then a
# segment-cardinality rollup — both shuffles are bounded by the QI
# domain, never the table.
_KANON_K = 5

# THE quasi-identifier definition for the whole governance ladder
# (k-anonymity → l-diversity → t-closeness): one SQL fragment + one
# Spark projection, so a band-width or QI-column change cannot drift
# between the three audits that claim "the same QI classes".
_QI_SQL = (
    "c_mktsegment AS seg, c_nationkey, "
    "CAST(FLOOR(CAST(c_acctbal AS DOUBLE) / 1000.0) AS BIGINT) AS bal_band"
)


def _qi_customer(customer: DataFrame) -> DataFrame:
    """(c_custkey, seg, c_nationkey, bal_band) — the Spark twin of
    ``_QI_SQL``."""
    return customer.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        "c_nationkey",
        F.floor(F.col("c_acctbal").cast("double") / F.lit(1000.0))
        .cast("bigint")
        .alias("bal_band"),
    )


@query(
    "q_k_anonymity",
    f"""
    WITH classes AS (
      SELECT {_QI_SQL},
             COUNT(*) AS sz
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT seg,
           COUNT(*) AS n_classes,
           CAST(SUM(CASE WHEN sz < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_classes,
           CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS BIGINT)
             AS records_at_risk,
           {sql_trunc6(
               f"CAST(SUM(CASE WHEN sz < {_KANON_K} THEN sz ELSE 0 END) AS DOUBLE)"
               " / CAST(SUM(sz) AS DOUBLE)"
           )} AS risk_fraction,
           CAST(MIN(sz) AS BIGINT) AS min_class_size
    FROM classes GROUP BY seg ORDER BY seg
    """,
    doc=f"k-anonymity audit (k={_KANON_K}) over (nation, segment, "
    "$1000 balance band) quasi-identifiers: per-segment class "
    "counts, records at re-identification risk, suppression "
    "fraction (governance companion to the PII scrub)",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_tables(spark, sf_dir)["customer"]
    small = F.col("sz") < _KANON_K
    classes = (
        _qi_customer(c)
        .groupBy("seg", "c_nationkey", "bal_band")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return (
        classes.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(small, 1).otherwise(0)).cast("bigint").alias(
                "n_small_classes"
            ),
            F.sum("sz").cast("bigint").alias("n_records"),
            F.sum(F.when(small, F.col("sz")).otherwise(0)).cast("bigint").alias(
                "records_at_risk"
            ),
            F.min("sz").cast("bigint").alias("min_class_size"),
        )
        .select(
            "seg",
            "n_classes",
            "n_small_classes",
            "n_records",
            "records_at_risk",
            trunc6(
                F.col("records_at_risk").cast("double")
                / F.col("n_records").cast("double")
            ).alias("risk_fraction"),
            "min_class_size",
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# point-in-time (PIT) lookup against the SCD-2 dimension — "what state
# was every user in at time T" for three probe instants derived from
# the stream's own span (quartile points of [min ts, max ts], computed
# in exact integer microseconds). The resolve is NOT a window over the
# probe×change fan-out: per (user, probe) the winning change is a
# partial-aggregable max(struct(ts_us, event_id, event_type)) over the
# user-keyed left join — map-side combine, fan-out bounded by per-user
# change count, users with no prior change resolve to NULL (LEFT ASOF
# semantics). This is the training-data use case "features as of label
# time" in miniature — the leakage-safe feature-store join.
@query(
    "q_scd2_lookup",
    """
    WITH b AS (
      SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    ), ks AS (
      SELECT unnest([1, 2, 3]) AS k
    ), probes AS (
      SELECT u.user_id, ks.k,
             b.mn + CAST(FLOOR(CAST((b.mx - b.mn) * ks.k AS DOUBLE) / 4.0)
                         AS BIGINT) AS p_us
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN ks CROSS JOIN b
    ), ordered AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts_us, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    ), ranked AS (
      SELECT p.user_id, p.k, c.event_type, c.ts_us,
             ROW_NUMBER() OVER (
               PARTITION BY p.user_id, p.k
               ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST
             ) AS rn
      FROM probes p
      LEFT JOIN changes c
        ON c.user_id = p.user_id AND c.ts_us <= p.p_us
    )
    SELECT user_id, k, event_type AS state,
           CAST(ts_us AS BIGINT) AS since_us
    FROM ranked WHERE rn = 1
    ORDER BY user_id, k
    """,
    doc="point-in-time SCD-2 lookup: per-user state at 3 quartile probe "
    "instants via partial-aggregable max(struct) asof resolve (the "
    "leakage-safe features-as-of-label-time join in miniature)",
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["events"]
    b = e.agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("mn"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("mx"),
    )
    ks = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k")
    probes = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(b.select("mn", "mx").select("mn", "mx", ks)))
        .select(
            "user_id",
            "k",
            (
                F.col("mn")
                + F.floor(
                    ((F.col("mx") - F.col("mn")) * F.col("k")).cast("double")
                    / F.lit(4.0)
                ).cast("long")
            ).alias("p_us"),
        )
    )
    # restored ts is micros precision, so ordering by (ts_us, event_id)
    # is identical to the oracle's (ts, event_id)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "event_id",
        )
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    p, c = probes.alias("p"), changes.alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts_us") <= F.col("p.p_us")),
        "left",
    )
    best = F.max(F.struct(F.col("c.ts_us"), F.col("c.event_id"), F.col("c.event_type")))
    return (
        joined.groupBy(F.col("p.user_id").alias("user_id"), F.col("p.k").alias("k"))
        .agg(best.alias("best"))
        .select(
            "user_id",
            "k",
            F.col("best.event_type").alias("state"),
            F.col("best.ts_us").cast("bigint").alias("since_us"),
        )
        .orderBy("user_id", "k")
    )


# --------------------------------------------------------------------------
# l-diversity audit — k-anonymity's necessary companion (Machanavajjhala
# et al. '06): a class can be k-large yet still leak if every member
# shares the SAME sensitive value. Records = orders carrying their
# customer's quasi-identifiers (nation, segment, $1000 balance band);
# sensitive attribute = order priority; a class violates at l < 3
# distinct priorities. Scale: one fact-dim equi-join (customer side
# broadcastable), then a two-level aggregate — COUNT(DISTINCT s) per
# class expands to the standard two-phase partial aggregation, both
# keyed on the QI tuple; the per-segment rollup is 5 groups.
_LDIV_L = 3


@query(
    "q_l_diversity",
    f"""
    WITH r AS (
      SELECT {_QI_SQL},
             o_orderpriority AS s
      FROM customer JOIN orders ON o_custkey = c_custkey
    ), classes AS (
      SELECT seg, c_nationkey, bal_band,
             COUNT(*) AS sz, COUNT(DISTINCT s) AS l
      FROM r GROUP BY 1, 2, 3
    )
    SELECT seg,
           COUNT(*) AS n_classes,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_diversity,
           CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN l < {_LDIV_L} THEN sz ELSE 0 END) AS BIGINT)
             AS records_at_risk,
           {sql_trunc6(
               f"CAST(SUM(CASE WHEN l < {_LDIV_L} THEN sz ELSE 0 END) AS DOUBLE)"
               " / CAST(SUM(sz) AS DOUBLE)"
           )} AS risk_fraction,
           CAST(MIN(l) AS BIGINT) AS min_l
    FROM classes GROUP BY seg ORDER BY seg
    """,
    doc=f"l-diversity audit (l={_LDIV_L}) over the q_k_anonymity "
    "quasi-identifiers with order priority as the sensitive attribute: "
    "per-segment homogeneous-class counts and records at attribute-"
    "disclosure risk",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    r = (
        t["orders"]
        .select("o_custkey", F.col("o_orderpriority").alias("s"))
        .join(
            # NO broadcast hint: customer is SF-scaled (unbounded at
            # 100 TB) — let AQE pick broadcast vs shuffled-hash (the
            # round-7 q_kcore_decomposition rule); at test scale AQE
            # broadcasts it anyway
            _qi_customer(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    classes = r.groupBy("seg", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("s").alias("l"),
    )
    low = F.col("l") < _LDIV_L
    return (
        classes.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n_low_diversity"),
            F.sum("sz").cast("bigint").alias("n_records"),
            F.sum(F.when(low, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("records_at_risk"),
            F.min("l").cast("bigint").alias("min_l"),
        )
        .select(
            "seg",
            "n_classes",
            "n_low_diversity",
            "n_records",
            "records_at_risk",
            trunc6(
                F.col("records_at_risk").cast("double")
                / F.col("n_records").cast("double")
            ).alias("risk_fraction"),
            "min_l",
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# Right-to-erasure cascade audit — the GDPR/CCPA deletion dry-run every
# governed store needs: given a deletion request set (here a fixed
# panel of {_ERASE_N} data subjects, smallest md5(custkey) — the
# round-6 panel convention), count every row that the cascade must
# remove per table: the customer row, their orders, those orders'
# lineitems, and their event stream. This is the impact report a
# deletion pipeline emits BEFORE rewriting partitions (the write side
# is q_cdc_apply / dynamic-partition-overwrite, already covered).
# Scale: the subject panel is constant-size (broadcast everywhere);
# the order-key set of a bounded panel is itself bounded (orders per
# customer), so even the lineitem count is a broadcast semi-join —
# NO shuffle touches a fact table.
_ERASE_N = 10


@query(
    "q_erasure_audit",
    f"""
    WITH subj AS (
      SELECT c_custkey FROM customer
      ORDER BY {md5_long_sql("CAST(c_custkey AS VARCHAR)")}, c_custkey
      LIMIT {_ERASE_N}
    ), o AS (
      SELECT s.c_custkey, o_orderkey FROM subj s JOIN orders ON o_custkey = s.c_custkey
    ), oc AS (
      SELECT c_custkey, COUNT(*) AS n_orders FROM o GROUP BY c_custkey
    ), lc AS (
      SELECT o.c_custkey, COUNT(*) AS n_lineitem
      FROM o JOIN lineitem ON l_orderkey = o.o_orderkey
      GROUP BY o.c_custkey
    ), ec AS (
      SELECT s.c_custkey, COUNT(*) AS n_events
      FROM subj s JOIN events ON user_id = s.c_custkey
      GROUP BY s.c_custkey
    )
    SELECT s.c_custkey AS custkey,
           CAST(1 AS BIGINT) AS n_customer,
           CAST(COALESCE(oc.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(lc.n_lineitem, 0) AS BIGINT) AS n_lineitem,
           CAST(COALESCE(ec.n_events, 0) AS BIGINT) AS n_events,
           CAST(1 + COALESCE(oc.n_orders, 0) + COALESCE(lc.n_lineitem, 0)
                + COALESCE(ec.n_events, 0) AS BIGINT) AS total_rows
    FROM subj s
    LEFT JOIN oc ON oc.c_custkey = s.c_custkey
    LEFT JOIN lc ON lc.c_custkey = s.c_custkey
    LEFT JOIN ec ON ec.c_custkey = s.c_custkey
    ORDER BY custkey
    """,
    doc=f"right-to-erasure cascade dry-run: per data subject (fixed "
    f"{_ERASE_N}-subject md5-ranked panel), rows to delete across "
    "customer/orders/lineitem/events — the impact report before the "
    "partition rewrite",
)
def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    t = load_tables(spark, sf_dir)
    # constant 10-row panel: materialize ONCE and re-literalize so the
    # three consuming joins (orders, events, spine) never re-execute the
    # customer scan + TakeOrdered (the q_bradley_terry pattern)
    subj_ids = [
        int(r["c_custkey"])
        for r in t["customer"]
        .select("c_custkey")
        .orderBy(md5_long(F.col("c_custkey").cast("string")), "c_custkey")
        .limit(_ERASE_N)
        .collect()
    ]
    subj = spark.createDataFrame([(i,) for i in subj_ids], "c_custkey bigint")
    o = t["orders"].join(F.broadcast(subj), F.col("o_custkey") == F.col("c_custkey")).select(
        "c_custkey", "o_orderkey"
    )
    oc = o.groupBy("c_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    lc = (
        t["lineitem"]
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_lineitem"))
    )
    ec = (
        t["events"]
        .join(F.broadcast(subj), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        subj.join(oc, "c_custkey", "left")
        .join(lc, "c_custkey", "left")
        .join(ec, "c_custkey", "left")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.lit(1).cast("bigint").alias("n_customer"),
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.col("n_lineitem"), F.lit(0)).cast("bigint").alias("n_lineitem"),
            F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
            (
                F.lit(1)
                + F.coalesce(F.col("n_orders"), F.lit(0))
                + F.coalesce(F.col("n_lineitem"), F.lit(0))
                + F.coalesce(F.col("n_events"), F.lit(0))
            )
            .cast("bigint")
            .alias("total_rows"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# t-closeness audit — the third rung of the release-governance ladder
# (Li, Li & Venkatasubramanian, ICDE '07): l-diversity counts DISTINCT
# sensitive values, but a class whose distribution is heavily skewed
# toward one value still leaks (skewness attack). t-closeness bounds
# the Earth Mover's Distance between each class's sensitive-attribute
# distribution and the GLOBAL one. Order priority is ordinal (1-URGENT
# … 5-LOW), so EMD is the ordered-values form: mean |cumulative
# (P−Q)| over the m−1 interior prefixes. Determinism: class and global
# probabilities are ratios of exact integers computed with the
# IDENTICAL expression in both engines, the prefix sums are fixed-order
# double adds on those identical doubles, so every emd is bit-equal —
# only the final output goes through trunc6.
# Scale: one fact-dim broadcast join → QI-class conditional-count
# aggregate (5 counters, partial-agg map-side) → a 1-row global rollup
# OF THE CLASS TABLE (not a second fact scan) broadcast back → pure
# per-class arithmetic → segment rollup. Shuffles are QI-domain-
# bounded; the fact table is scanned once.
_TCLOSE_T = 0.2  # max EMD before a class is flagged


def _tclose_emd_sql() -> str:
    """Fixed-order EMD arithmetic over (n1..n5, sz) vs (g1..g5, n).
    Only the m−1 = 4 interior prefixes are generated — c5 (the full
    sum, ≡ 0 by construction) is never read by the EMD."""
    diffs = " ".join(
        f", c{i} + (CAST(n{i + 1} AS DOUBLE) / CAST(sz AS DOUBLE)"
        f" - CAST(g{i + 1} AS DOUBLE) / CAST(n AS DOUBLE)) AS c{i + 1}"
        for i in range(1, 4)
    )
    return diffs


@query(
    "q_t_closeness",
    f"""
    WITH r AS (
      SELECT {_QI_SQL},
             CAST(SUBSTR(o_orderpriority, 1, 1) AS INT) AS slot
      FROM customer JOIN orders ON o_custkey = c_custkey
    ), classes AS (
      SELECT seg, c_nationkey, bal_band, COUNT(*) AS sz,
             SUM(CASE WHEN slot = 1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN slot = 2 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN slot = 3 THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN slot = 4 THEN 1 ELSE 0 END) AS n4,
             SUM(CASE WHEN slot = 5 THEN 1 ELSE 0 END) AS n5
      FROM r GROUP BY 1, 2, 3
    ), gtot AS (
      SELECT SUM(sz) AS n, SUM(n1) AS g1, SUM(n2) AS g2, SUM(n3) AS g3,
             SUM(n4) AS g4, SUM(n5) AS g5
      FROM classes
    ), emds AS (
      SELECT seg, sz, (ABS(c1) + ABS(c2) + ABS(c3) + ABS(c4)) / 4.0 AS emd
      FROM (
        SELECT seg, sz, c1 {_tclose_emd_sql()}
        FROM (
          SELECT seg, sz, n2, n3, n4, n5, g2, g3, g4, g5, n,
                 CAST(n1 AS DOUBLE) / CAST(sz AS DOUBLE)
                   - CAST(g1 AS DOUBLE) / CAST(n AS DOUBLE) AS c1
          FROM classes CROSS JOIN gtot))
    )
    SELECT seg,
           COUNT(*) AS n_classes,
           CAST(SUM(CASE WHEN emd > {_TCLOSE_T} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(SUM(sz) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN emd > {_TCLOSE_T} THEN sz ELSE 0 END) AS BIGINT)
             AS records_at_risk,
           {sql_trunc6(
               f"CAST(SUM(CASE WHEN emd > {_TCLOSE_T} THEN sz ELSE 0 END) AS DOUBLE)"
               " / CAST(SUM(sz) AS DOUBLE)"
           )} AS risk_fraction,
           {sql_trunc6("MAX(emd)")} AS max_emd
    FROM emds GROUP BY seg ORDER BY seg
    """,
    doc=f"t-closeness audit (t={_TCLOSE_T}) over the q_k_anonymity "
    "quasi-identifiers: per-segment classes whose ordinal order-priority "
    "distribution drifts from the global one by EMD > t (ordered-EMD = "
    "mean |cumulative P-Q|), records at skewness-attack risk",
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    r = (
        t["orders"]
        .select(
            "o_custkey",
            F.substring("o_orderpriority", 1, 1).cast("int").alias("slot"),
        )
        .join(
            # NO broadcast hint: customer is SF-scaled (unbounded at
            # 100 TB) — AQE decides (the round-7 q_kcore rule)
            _qi_customer(t["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    classes = r.groupBy("seg", "c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("sz"),
        *[
            F.sum(F.when(F.col("slot") == i, 1).otherwise(0)).alias(f"n{i}")
            for i in range(1, 6)
        ],
    )
    glob = classes.agg(
        F.sum("sz").alias("n"),
        *[F.sum(f"n{i}").alias(f"g{i}") for i in range(1, 6)],
    )
    # fixed-order prefix sums of (p_i - q_i): identical doubles in both
    # engines because every term is the same int/int division
    withg = classes.crossJoin(F.broadcast(glob))
    c = (
        F.col("n1").cast("double") / F.col("sz").cast("double")
        - F.col("g1").cast("double") / F.col("n").cast("double")
    )
    cums = [c]
    for i in range(2, 5):  # m-1 = 4 interior prefixes; c5 ≡ 0 unused
        c = c + (
            F.col(f"n{i}").cast("double") / F.col("sz").cast("double")
            - F.col(f"g{i}").cast("double") / F.col("n").cast("double")
        )
        cums.append(c)
    emd = (
        F.abs(cums[0]) + F.abs(cums[1]) + F.abs(cums[2]) + F.abs(cums[3])
    ) / F.lit(4.0)
    emds = withg.select("seg", "sz", emd.alias("emd"))
    viol = F.col("emd") > _TCLOSE_T
    return (
        emds.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(viol, 1).otherwise(0)).cast("bigint").alias("n_violating"),
            F.sum("sz").cast("bigint").alias("n_records"),
            F.sum(F.when(viol, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("records_at_risk"),
            trunc6(F.max("emd")).alias("max_emd"),
        )
        .select(
            "seg",
            "n_classes",
            "n_violating",
            "n_records",
            "records_at_risk",
            trunc6(
                F.col("records_at_risk").cast("double")
                / F.col("n_records").cast("double")
            ).alias("risk_fraction"),
            "max_emd",
        )
        .orderBy("seg")
    )


# --------------------------------------------------------------------------
# Differentially-private histogram release — the RELEASE step after the
# k-anonymity / l-diversity / t-closeness audits: instead of suppressing
# risky classes, publish every cell of the (status × priority) order
# histogram with Laplace(1/ε) noise (ε-DP for counting queries,
# sensitivity 1 — one order changes one cell by 1; Dwork et al.'s
# classic mechanism). Noise is DETERMINISTIC for the cross-engine gate:
# u = (md5(cell key) 56-bit lane + 0.5) / 2^56 ∈ (0,1) exclusive, and
# the Laplace inverse-CDF −b·sign(u−½)·ln(1−2|u−½|) is evaluated on the
# identical double in both engines (single LN per row — the
# q_km_time_to_error precedent; division by 2^56 is exact). A real
# deployment swaps the md5-uniform for a CSPRNG draw; every other part
# of the release — cell keying, sensitivity bound, ε accounting — is
# exactly this plan. Scale shape: one groupBy over the fact table, a
# per-cell projection; nothing keyed wider than the cell space.
_DP_EPS_INV = 2.0  # b = sensitivity/ε = 1/0.5


@query(
    "q_dp_histogram",
    f"""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), u AS (
      SELECT o_orderstatus, o_orderpriority, n,
             (CAST({md5_long_sql("concat('dp#', o_orderstatus, '#', o_orderpriority)")} AS DOUBLE) + 0.5)
               / CAST(72057594037927936 AS DOUBLE) AS u
      FROM c
    ), z AS (
      SELECT o_orderstatus, o_orderpriority, n,
             -CAST({_DP_EPS_INV} AS DOUBLE)
               * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
               * LN(1.0 - 2.0 * ABS(u - 0.5)) AS noise
      FROM u
    )
    SELECT o_orderstatus, o_orderpriority,
           {sql_trunc6("CAST(n AS DOUBLE) + noise")} AS released_count,
           {sql_trunc6("ABS(noise)")} AS abs_noise,
           CAST({1.0 / _DP_EPS_INV} AS DOUBLE) AS nominal_epsilon
    FROM z ORDER BY o_orderstatus, o_orderpriority
    """,
    doc="differentially-private-SHAPED release of the (status × priority) "
    "order histogram: Laplace(1/ε) via deterministic md5-uniform "
    "inverse-CDF (sensitivity 1, nominal ε=0.5), per-cell released count "
    "+ noise magnitude. NOTE: the noise here is a deterministic public "
    "function of the cell key (required for the cross-engine hash gate), "
    "so this release provides NO actual privacy — the column is named "
    "nominal_epsilon for that reason; a real deployment swaps the "
    "md5-uniform for a CSPRNG draw and keeps every other part of the "
    "plan",
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    o = load_tables(spark, sf_dir)["orders"]
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    u = (
        md5_long(
            F.concat(
                F.lit("dp#"),
                F.col("o_orderstatus"),
                F.lit("#"),
                F.col("o_orderpriority"),
            )
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(72057594037927936.0)
    noise = (
        -F.lit(_DP_EPS_INV)
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    return (
        c.select(
            "o_orderstatus",
            "o_orderpriority",
            trunc6(F.col("n").cast("double") + noise).alias("released_count"),
            trunc6(F.abs(noise)).alias("abs_noise"),
            F.lit(1.0 / _DP_EPS_INV).alias("nominal_epsilon"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# DP-shaped mean release — the continuous companion to q_dp_histogram:
# per-group CLIPPED mean of order value (clip to [0, C] bounds each
# row's influence, the standard DP-mean recipe) plus Laplace noise at
# the mean's sensitivity C/n, so b = C/(n·ε) SHRINKS as the group
# grows — the larger the cohort, the less noise a given ε needs, which
# is the whole reason DP aggregates are usable at 100 TB. Same
# deterministic md5-uniform inverse-CDF (and the same honesty caveat:
# recomputable noise provides NO actual privacy — nominal_epsilon);
# the clipped sum goes through the DECIMAL ladder and n is exact, so
# both engines divide the identical doubles before the single LN.
_DPM_CLIP = 200000.0  # C: clip bound on o_totalprice
_DPM_EPS = 0.5


@query(
    "q_dp_mean",
    f"""
    WITH c AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             {sql_dsum(f'LEAST(o_totalprice, {_DPM_CLIP})')} AS csum
      FROM orders GROUP BY o_orderpriority
    ), u AS (
      SELECT o_orderpriority, n, csum / n AS cmean,
             {_DPM_CLIP} / (CAST(n AS DOUBLE) * {_DPM_EPS}) AS b,
             (CAST({md5_long_sql("concat('dpm#', o_orderpriority)")} AS DOUBLE) + 0.5)
               / CAST(72057594037927936 AS DOUBLE) AS u
      FROM c
    ), z AS (
      SELECT o_orderpriority, n, cmean,
             -b * (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
                * LN(1.0 - 2.0 * ABS(u - 0.5)) AS noise
      FROM u
    )
    SELECT o_orderpriority, n,
           {sql_trunc6('cmean + noise')} AS released_mean,
           {sql_trunc6('ABS(noise)')} AS abs_noise,
           CAST({_DPM_EPS} AS DOUBLE) AS nominal_epsilon
    FROM z ORDER BY o_orderpriority
    """,
    doc="DP-SHAPED clipped-mean release per order priority: Laplace at "
    "the mean's C/n sensitivity (noise shrinks with cohort size), "
    "deterministic md5-uniform inverse-CDF — same nominal_epsilon "
    "caveat as q_dp_histogram (recomputable noise = no actual privacy; "
    "a real deployment swaps in a CSPRNG draw)",
)
def q_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    o = load_tables(spark, sf_dir)["orders"]
    c = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.least(F.col("o_totalprice"), F.lit(_DPM_CLIP))).alias("csum"),
    )
    u = (
        md5_long(F.concat(F.lit("dpm#"), F.col("o_orderpriority"))).cast("double")
        + F.lit(0.5)
    ) / F.lit(72057594037927936.0)
    b = F.lit(_DPM_CLIP) / (F.col("n").cast("double") * F.lit(_DPM_EPS))
    noise = (
        -b
        * F.when(u >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5)))
    )
    cmean = F.col("csum") / F.col("n")
    return (
        c.select(
            "o_orderpriority",
            "n",
            trunc6(cmean + noise).alias("released_mean"),
            trunc6(F.abs(noise)).alias("abs_noise"),
            F.lit(float(_DPM_EPS)).alias("nominal_epsilon"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# HyperLogLog distinct-count sketch — the mergeable cardinality
# primitive every 100 TB pipeline leans on (approx_count_distinct is
# Spark's built-in HLL++, but its register layout is engine-private;
# this portable construction makes the sketch itself auditable and
# cross-engine hash-checkable). b=8 → m=256 registers; register id is
# the low 8 bits of the 56-bit md5 lane, rank = leading-zero count of
# the remaining 48-bit suffix + 1, computed EXACTLY via
# length(bin(suffix)) (no float log2). The indicator sum Σ 2^-rho needs
# up to 57 mantissa bits — more than a double carries — so both engines
# sum the INTEGER scaled form Σ 2^(49-rho) (≤ 2^56, exact, and
# order-independent, hence partial-aggregable) and divide by 2^49 once
# at the end. Small-range correction (linear counting) applies when
# E ≤ 2.5m and empty registers remain — at sf cardinalities that is
# the active branch; the raw-estimate branch takes over at scale.
# Scale shape: one partial-agg max per (event_type, register) — only
# m rows per group cross the exchange — then a 256-row final agg; the
# exact COUNT(DISTINCT) audit column is itself a two-level exchange on
# (event_type, user_id). Flagship use: per-event-type distinct users.
_HLL_TWO49 = 562949953421312.0  # 2^49, the integer-sum descale


@query(
    "q_hll_distinct",
    f"""
    WITH h AS (
      SELECT event_type,
             {md5_long_sql("concat('hll#', user_id)")} AS h
      FROM events
    ), r AS (
      SELECT event_type, h & 255 AS reg,
             CASE WHEN (h >> 8) = 0 THEN 49
                  ELSE 49 - length(bin(h >> 8)) END AS rho
      FROM h
    ), regs AS (
      SELECT event_type, reg, MAX(rho) AS rho_max
      FROM r GROUP BY event_type, reg
    ), agg AS (
      SELECT event_type,
             SUM(CAST(1 AS BIGINT) << (49 - rho_max)) AS sum_int,
             COUNT(*) AS v
      FROM regs GROUP BY event_type
    ), est AS (
      SELECT event_type, v,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
               / (CAST(sum_int AS DOUBLE) / {_HLL_TWO49}
                  + CAST(256 - v AS DOUBLE)) AS e_raw,
             256 - v AS zeros
      FROM agg
    ), fin AS (
      SELECT event_type, v,
             CASE WHEN e_raw <= 640.0 AND zeros > 0
                  THEN 256.0 * LN(256.0 / zeros) ELSE e_raw END AS e
      FROM est
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT f.event_type, CAST(f.v AS BIGINT) AS n_registers,
           {sql_trunc6('f.e')} AS hll_estimate,
           ex.exact_distinct,
           {sql_trunc6('ABS(f.e - ex.exact_distinct) / ex.exact_distinct * 100.0')}
             AS rel_err_pct
    FROM fin f JOIN ex ON ex.event_type = f.event_type
    ORDER BY f.event_type
    """,
    doc="portable HyperLogLog (m=256) distinct-user sketch per event "
    "type: md5-derived registers, EXACT integer rank via bin-length "
    "(no float log2), order-independent integer indicator sum, linear "
    "counting in the small range — with the exact COUNT(DISTINCT) and "
    "relative error as self-audit columns",
)
def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import hll_reg, hll_rho, md5_long

    e = load_tables(spark, sf_dir)["events"]
    h = e.select(
        "event_type",
        md5_long(F.concat(F.lit("hll#"), F.col("user_id").cast("string"))).alias("h"),
    )
    r = h.select(
        "event_type",
        hll_reg(F.col("h")).alias("reg"),
        hll_rho(F.col("h")).alias("rho"),
    )
    regs = r.groupBy("event_type", "reg").agg(F.max("rho").alias("rho_max"))
    agg = regs.groupBy("event_type").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - rho_max AS INT))")
        ).alias("sum_int"),
        F.count(F.lit(1)).alias("v"),
    )
    zeros = F.lit(256) - F.col("v")
    e_raw = (
        F.lit(0.7213 / (1.0 + 1.079 / 256.0)) * F.lit(65536.0)
    ) / (
        F.col("sum_int").cast("double") / F.lit(_HLL_TWO49)
        + zeros.cast("double")
    )
    est = agg.select(
        "event_type",
        "v",
        F.when((e_raw <= 640.0) & (zeros > 0), F.lit(256.0) * F.log(F.lit(256.0) / zeros))
        .otherwise(e_raw)
        .alias("e"),
    )
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(ex, "event_type")
        .select(
            "event_type",
            F.col("v").cast("bigint").alias("n_registers"),
            trunc6(F.col("e")).alias("hll_estimate"),
            "exact_distinct",
            trunc6(
                F.abs(F.col("e") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * F.lit(100.0)
            ).alias("rel_err_pct"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# DP-shaped QUANTILE release — the exponential mechanism (McSherry &
# Talwar '07), completing the ladder: q_dp_histogram (counts, Laplace)
# → q_dp_mean (clipped mean, Laplace) → q_dp_quantile (median, the
# mechanism for non-numeric-aggregable outputs). Candidates are the
# $5000 bucket UPPER EDGES observed in each group; utility is the
# integer u2(c) = -|2·below(c) - n| (twice the classic rank distance,
# keeping everything integral; sensitivity 1 per row → score = ε·u2/4).
# "Sampling" ∝ exp(score) is the Gumbel-max trick with the same
# deterministic md5-uniform draws as its ladder siblings (and the same
# honesty caveat — recomputable noise = NO actual privacy →
# nominal_epsilon): winner = argmax(score + Gumbel(md5)). below(edge)
# is EXACT from the bucket histogram (price < (k+1)·5000 ⟺
# floor(price/5000) ≤ k), so both engines compare identical doubles
# built from identical integers and one LN(LN) chain.
# Scale shape: one groupBy histogram (bounded by groups × price-range/
# 5000 — value-domain-bounded, not corpus-scaled), a cumsum window and
# an argmax window over those same bounded rows.
_DPQ_EPS = 0.5
_DPQ_BUCKET = 5000


@query(
    "q_dp_quantile",
    f"""
    WITH hist AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice / {_DPQ_BUCKET}) AS BIGINT) AS k,
             COUNT(*) AS c
      FROM orders GROUP BY o_orderpriority, k
    ), cum AS (
      SELECT o_orderpriority, k, c,
             SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY k) AS below,
             SUM(c) OVER (PARTITION BY o_orderpriority) AS n
      FROM hist
    ), scored AS (
      SELECT o_orderpriority, k, below, n,
             -ABS(2 * below - n) AS u2,
             (CAST({md5_long_sql(f"concat('dpq#', o_orderpriority, '#', k)")} AS DOUBLE) + 0.5)
               / CAST(72057594037927936 AS DOUBLE) AS u
      FROM cum
    ), g AS (
      SELECT o_orderpriority, k, below, n,
             CAST(u2 AS DOUBLE) * {_DPQ_EPS} / 4.0 - LN(-LN(u)) AS key
      FROM scored
    ), win AS (
      SELECT o_orderpriority, k, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY key DESC, k) AS rn
      FROM g
    ), true_edge AS (
      SELECT o_orderpriority, MIN(k) AS tk
      FROM cum WHERE 2 * below >= n GROUP BY o_orderpriority
    )
    SELECT w.o_orderpriority, CAST(w.n AS BIGINT) AS n,
           (w.k + 1) * {_DPQ_BUCKET} AS dp_median_edge,
           (t.tk + 1) * {_DPQ_BUCKET} AS true_median_edge,
           ABS(w.k - t.tk) AS abs_err_buckets,
           CAST({_DPQ_EPS} AS DOUBLE) AS nominal_epsilon
    FROM win w JOIN true_edge t ON t.o_orderpriority = w.o_orderpriority
    WHERE w.rn = 1
    ORDER BY w.o_orderpriority
    """,
    doc="DP-SHAPED median release per order priority via the "
    "exponential mechanism: bucket-edge candidates, integer rank "
    "utility, deterministic md5-Gumbel argmax — completes the DP "
    "ladder (histogram/mean/quantile); same nominal_epsilon caveat "
    "(recomputable noise = no actual privacy)",
)
def q_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import md5_long

    o = load_tables(spark, sf_dir)["orders"]
    hist = o.groupBy(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") / _DPQ_BUCKET).cast("bigint").alias("k"),
    ).agg(F.count(F.lit(1)).alias("c"))
    wk = Window.partitionBy("o_orderpriority").orderBy("k")
    wall = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "k",
        F.sum("c").over(wk).alias("below"),
        F.sum("c").over(wall).alias("n"),
    )
    u = (
        md5_long(
            F.concat(
                F.lit("dpq#"), F.col("o_orderpriority"), F.lit("#"), F.col("k")
            )
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(72057594037927936.0)
    u2 = -F.abs(F.lit(2) * F.col("below") - F.col("n"))
    key = u2.cast("double") * F.lit(_DPQ_EPS) / F.lit(4.0) - F.log(-F.log(u))
    win = (
        cum.select(
            "o_orderpriority",
            "k",
            "n",
            F.row_number()
            .over(Window.partitionBy("o_orderpriority").orderBy(key.desc(), "k"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    true_edge = (
        cum.filter(F.lit(2) * F.col("below") >= F.col("n"))
        .groupBy("o_orderpriority")
        .agg(F.min("k").alias("tk"))
    )
    return (
        win.join(true_edge, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            ((F.col("k") + 1) * _DPQ_BUCKET).alias("dp_median_edge"),
            ((F.col("tk") + 1) * _DPQ_BUCKET).alias("true_median_edge"),
            F.abs(F.col("k") - F.col("tk")).alias("abs_err_buckets"),
            F.lit(float(_DPQ_EPS)).alias("nominal_epsilon"),
        )
        .orderBy("o_orderpriority")
    )
