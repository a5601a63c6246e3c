"""Similarity-search / vector queries over the `embeddings` table.

Beyond-parity surface: brute-force cosine top-k (the correctness
baseline for ANN), per-label centroids (the k-means/IVF building block),
norm statistics, and a cosine near-dup count. All vector math is
builtin-expression (functions/vectors.py) — arrays promoted to double
before accumulation so results are reproducible cross-engine.

Scale path: brute-force top-k broadcasts the (small) query set against
the full corpus — linear scan, embarrassingly parallel, no shuffle
except the final per-query top-k; the IVF variant
(daxos_spark.functions.similarity) prunes the scan by centroid bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..functions.vectors import cosine, dot, l2_norm, to_double
from .registry import query, sql_trunc6, trunc6

_COS = (
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


# --------------------------------------------------------------------------
# brute-force cosine top-5 — ints only in the output (ranks, not scores)
# so the hash-compare is float-proof.
@query(
    "e_knn_bruteforce",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), c AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 10
    ), s AS (
      SELECT qid, cid, {_COS} AS cos FROM q, c
    ), r AS (
      SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
      FROM s
    )
    SELECT qid, rk, cid AS neighbor_id FROM r WHERE rk <= 5 ORDER BY qid, rk
    """,
)
def e_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    # norms precomputed ONCE per side — the naive cosine(q,c) would
    # re-aggregate dot(q,q) and dot(c,c) for every pair (3× the HOF
    # work); the precomputed product is the bit-identical double.
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        to_double(F.col("embedding")).alias("qv"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        to_double(F.col("embedding")).alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    s = c.crossJoin(F.broadcast(q)).select(
        "qid", "cid", (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"))
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# per-label centroids — posexplode + exact decimal mean per (label, pos);
# the building block for IVF bucketing and k-means.
@query(
    "e_label_centroids",
    f"""
    WITH u AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT label, pos,
           {sql_trunc6('CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)')} AS centroid,
           COUNT(*) AS n
    FROM u GROUP BY label, pos
    ORDER BY label, pos
    """,
)
def e_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    return (
        e.select("label", F.posexplode(to_double(F.col("embedding"))).alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            trunc6(F.sum(F.col("val").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("centroid"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# norm statistics per label — per-row L2 norm then exact-decimal mean.
@query(
    "e_norm_stats",
    f"""
    WITH n AS (
      SELECT label, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings
    )
    SELECT label,
           {sql_trunc6('CAST(SUM(CAST(nrm AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)')} AS avg_norm,
           {sql_trunc6('MIN(nrm)')} AS min_norm,
           {sql_trunc6('MAX(nrm)')} AS max_norm,
           COUNT(*) AS n
    FROM n GROUP BY label ORDER BY label
    """,
)
def e_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    n = e.select("label", l2_norm(F.col("embedding")).alias("nrm"))
    return (
        n.groupBy("label")
        .agg(
            trunc6(F.sum(F.col("nrm").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1))).alias("avg_norm"),
            trunc6(F.min("nrm")).alias("min_norm"),
            trunc6(F.max("nrm")).alias("max_norm"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# embedding-cosine near-dup summary — all-pairs at correctness scale;
# the LSH/IVF bucketed variant is the production path.
@query(
    "e_cosine_neardup_count",
    f"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings
    ), p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             list_dot_product(a.ev, b.ev)
               / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN cos > 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
           {sql_trunc6('MAX(cos)')} AS max_cos
    FROM p
    """,
)
def e_cosine_neardup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    v = e.select(
        "vec_id",
        to_double(F.col("embedding")).alias("ev"),
        l2_norm(F.col("embedding")).alias("nn"),
    )
    a, b = v.alias("a"), v.alias("b")
    p = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        (dot(F.col("a.ev"), F.col("b.ev")) / (F.col("a.nn") * F.col("b.nn"))).alias("cos")
    )
    return p.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cos") > 0.9, 1).otherwise(0)).alias("n_neardup"),
        trunc6(F.max("cos")).alias("max_cos"),
    )


# --------------------------------------------------------------------------
# IVF-bucketed ANN — the at-scale similarity-search path (brute force
# above is the baseline): per-label centroids (exact decimal means) →
# nearest-centroid bucket assignment → probe top-3 buckets per query →
# exact top-5 inside the probed buckets. Ints-only output.
_IVF_COS = (
    "list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "e_knn_ivf",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), dims AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id >= 10
    ), cm AS (
      SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ), cent AS (
      SELECT label AS bucket, list(m ORDER BY pos) AS cv FROM cm GROUP BY label
    ), assign AS (
      SELECT vec_id, ev, bucket FROM (
        SELECT c.vec_id, c.ev, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_IVF_COS.format(a='c.ev', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM corpus c CROSS JOIN cent ct)
      WHERE rn = 1
    ), probes AS (
      SELECT qid, qv, bucket FROM (
        SELECT q.qid, q.qv, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_IVF_COS.format(a='q.qv', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM q CROSS JOIN cent ct)
      WHERE rn <= 3
    ), scored AS (
      SELECT p.qid, a.vec_id AS neighbor_id, {_IVF_COS.format(a='p.qv', b='a.ev')} AS cos
      FROM probes p JOIN assign a ON a.bucket = p.bucket
    )
    SELECT qid, rk, neighbor_id FROM (
      SELECT qid, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored)
    WHERE rk <= 5 ORDER BY qid, rk
    """,
)
def e_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import assign_buckets, ivf_search, label_centroids

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") >= 10)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), to_double(F.col("embedding")).alias("qv")
    )
    cent = label_centroids(corpus)
    bucketed = assign_buckets(corpus, cent)
    return ivf_search(queries, bucketed, cent, nprobe=3, k=5).orderBy("qid", "rk")


# --------------------------------------------------------------------------
# IVF recall vs exact top-k — the ANN quality measurement: per query,
# how many of the exact top-5 the probed search recovered. Both sides
# deterministic, so recall itself is hash-checkable.
@query(
    "e_knn_recall",
    f"""
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev, label FROM embeddings WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), exact_s AS (
      SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
        {_IVF_COS.format(a='qv', b='ev')} DESC, cid) AS rk
      FROM q CROSS JOIN (SELECT vec_id AS cid, ev FROM corpus)
    ), exact_top AS (
      SELECT qid, cid FROM exact_s WHERE rk <= 5
    ), dims AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings WHERE vec_id >= 10
    ), cm AS (
      SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ), cent AS (
      SELECT label AS bucket, list(m ORDER BY pos) AS cv FROM cm GROUP BY label
    ), assign AS (
      SELECT vec_id, ev, bucket FROM (
        SELECT c.vec_id, c.ev, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
                 {_IVF_COS.format(a='c.ev', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM corpus c CROSS JOIN cent ct)
      WHERE rn = 1
    ), probes AS (
      SELECT qid, qv, bucket FROM (
        SELECT q.qid, q.qv, ct.bucket,
               ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
                 {_IVF_COS.format(a='q.qv', b='ct.cv')} DESC, ct.bucket) AS rn
        FROM q CROSS JOIN cent ct)
      WHERE rn <= 3
    ), ivf_s AS (
      SELECT p.qid, a.vec_id AS cid, {_IVF_COS.format(a='p.qv', b='a.ev')} AS cos
      FROM probes p JOIN assign a ON a.bucket = p.bucket
    ), ivf_top AS (
      SELECT qid, cid FROM (
        SELECT qid, cid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rk
        FROM ivf_s)
      WHERE rk <= 5
    )
    SELECT e.qid,
           COUNT(*) AS k_exact,
           CAST(SUM(CASE WHEN i.cid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_recovered
    FROM exact_top e LEFT JOIN ivf_top i ON i.qid = e.qid AND i.cid = e.cid
    GROUP BY e.qid ORDER BY e.qid
    """,
)
def e_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import assign_buckets, ivf_search, label_centroids

    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") >= 10)
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), to_double(F.col("embedding")).alias("qv")
    )
    exact = e_knn_bruteforce(spark, sf_dir).select(
        "qid", F.col("neighbor_id").alias("cid")
    )
    cent = label_centroids(corpus)
    ivf = ivf_search(queries, assign_buckets(corpus, cent), cent, nprobe=3, k=5).select(
        "qid", F.col("neighbor_id").alias("icid")
    )
    return (
        exact.join(
            ivf, (exact["qid"] == ivf["qid"]) & (F.col("cid") == F.col("icid")), "left"
        )
        .select(exact["qid"].alias("q"), "cid", "icid")
        .groupBy(F.col("q").alias("qid"))
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.col("icid").isNotNull().cast("int")).cast("bigint").alias("n_recovered"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# scalar-quantized (int8) ANN — the memory-side scale path: per-dim
# min/max over the corpus → each vector compressed to 64 int8 codes
# (8× smaller than float64; at 100 TB the code table fits where the
# raw vectors cannot), ranked by EXACT INTEGER dot product of codes —
# bit-identical in any engine, so the whole ANN ranking is
# hash-checked, not just row counts. One stats pass + broadcast of the
# (1-row) quantization params; scoring is the same embarrassingly
# parallel scan as e_knn_bruteforce but on codes.
@query(
    "e_sq_knn",
    """
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
    ), dims AS (
      SELECT generate_subscripts(ev, 1) AS pos, unnest(ev) AS val FROM corpus
    ), st AS (
      SELECT pos, MIN(val) AS mn, MAX(val) AS mx FROM dims GROUP BY pos
    ), stats AS (
      SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs FROM st
    ), cq AS (
      SELECT vec_id AS cid,
             list_transform(ev, (x, i) -> GREATEST(0, LEAST(254,
               CAST(FLOOR(COALESCE(((x - mins[i]) / NULLIF(maxs[i] - mins[i], 0)) * 255.0,
                                   0.0)) AS INT))) - 127) AS cc
      FROM corpus, stats
    ), qq AS (
      SELECT qid,
             list_transform(qv, (x, i) -> GREATEST(0, LEAST(254,
               CAST(FLOOR(COALESCE(((x - mins[i]) / NULLIF(maxs[i] - mins[i], 0)) * 255.0,
                                   0.0)) AS INT))) - 127) AS qc
      FROM q, stats
    ), s AS (
      SELECT qid, cid, CAST(list_dot_product(qc, cc) AS BIGINT) AS score FROM qq, cq
    ), r AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
      FROM s
    )
    SELECT qid, rk, cid AS neighbor_id, score FROM r WHERE rk <= 5 ORDER BY qid, rk
    """,
)
def e_sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), to_double(F.col("embedding")).alias("ev")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), to_double(F.col("embedding")).alias("qv")
    )
    # per-dimension min/max in one distributed pass; packed into two
    # position-ordered arrays (the 1-row quantization param set)
    # explode the cast EXPRESSION inline (naming it first copies the
    # array per row before the Generate)
    st = (
        e.filter(F.col("vec_id") >= 10)
        .select(F.posexplode(to_double(F.col("embedding"))).alias("pos", "val"))
        .groupBy("pos")
        .agg(F.min("val").alias("mn"), F.max("val").alias("mx"))
    )
    stats = st.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
        ).alias("mins"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
        ).alias("maxs"),
    )

    def quant(vec):
        # i is 0-based in Spark HOF lambdas (1-based in the duckdb
        # oracle, hence get() here vs [i] there — same element)
        return F.transform(
            vec,
            lambda x, i: F.greatest(
                F.lit(0),
                F.least(
                    F.lit(254),
                    F.floor(
                        F.coalesce(
                            (
                                (x - F.get(F.col("mins"), i))
                                / F.nullif(
                                    F.get(F.col("maxs"), i) - F.get(F.col("mins"), i),
                                    F.lit(0.0),
                                )
                            )
                            * 255.0,
                            F.lit(0.0),
                        )
                    ).cast("int"),
                ),
            )
            - 127,
        )

    cq = corpus.crossJoin(F.broadcast(stats)).select("cid", quant(F.col("ev")).alias("cc"))
    qq = q.crossJoin(F.broadcast(stats)).select("qid", quant(F.col("qv")).alias("qc"))
    s = cq.crossJoin(F.broadcast(qq)).select(
        "qid",
        "cid",
        F.aggregate(
            F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: (a * b).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), "score")
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# LSH-bucketed ANN — the hash-partition scale path (IVF above is the
# centroid path): 8 deterministic random hyperplanes hash every vector
# into 1 of 256 buckets; queries probe their home bucket plus all 8
# single-bit flips (multiprobe), then rank candidates by the EXACT
# INTEGER dot product of fixed-point codes — every decision (signature
# sign, bucket, ranking) is integer arithmetic, so the whole ANN result
# hash-matches the oracle bit-for-bit. At 100 TB the bucket id becomes
# the corpus partition key: a probe touches ~9/256 of the data, the
# candidate join is a bucket equi-join (broadcast query side), and no
# centroid training pass is needed (vs IVF).
def _lsh_sql_bucket(col: str, planes: list[list[int]]) -> str:
    terms = []
    for b, w in enumerate(planes):
        lit = "[" + ", ".join(str(int(x)) for x in w) + "]::BIGINT[]"
        terms.append(
            f"CASE WHEN CAST(list_dot_product({col}, {lit}) AS DOUBLE) >= 0 "
            f"THEN {1 << b} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _lsh_oracle() -> str:
    from ..functions.similarity import LSH_BITS, lsh_planes

    planes = lsh_planes()
    code = "list_transform({v}::DOUBLE[], x -> CAST(FLOOR(x * 1000.0) AS BIGINT))"
    return f"""
    WITH corpus AS (
      SELECT vec_id AS cid, {code.format(v='embedding')} AS cc
      FROM embeddings WHERE vec_id >= 10
    ), q AS (
      SELECT vec_id AS qid, {code.format(v='embedding')} AS qc
      FROM embeddings WHERE vec_id < 10
    ), cb AS (
      SELECT cid, cc, {_lsh_sql_bucket('cc', planes)} AS bucket FROM corpus
    ), qb AS (
      SELECT qid, qc, {_lsh_sql_bucket('qc', planes)} AS qbk FROM q
    ), probes AS (
      SELECT qid, qc,
             CASE WHEN f = {LSH_BITS} THEN qbk ELSE xor(qbk, 1 << f) END AS bucket
      FROM qb, (SELECT unnest(range(0, {LSH_BITS} + 1)) AS f)
    ), s AS (
      SELECT p.qid, c.cid, CAST(list_dot_product(p.qc, c.cc) AS BIGINT) AS score
      FROM probes p JOIN cb c ON c.bucket = p.bucket
    ), r AS (
      SELECT qid, cid, score,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY score DESC, cid) AS rk
      FROM s
    )
    SELECT qid, rk, cid AS neighbor_id, score FROM r WHERE rk <= 5 ORDER BY qid, rk
    """


@query("e_knn_lsh", _lsh_oracle())
def e_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.similarity import int_code, lsh_bucket, lsh_planes, lsh_probe_buckets

    planes = lsh_planes()
    e = load_tables(spark, sf_dir)["embeddings"]
    corpus = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"), int_code(to_double(F.col("embedding"))).alias("cc")
    )
    corpus = corpus.withColumn("bucket", lsh_bucket(F.col("cc"), planes))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), int_code(to_double(F.col("embedding"))).alias("qc")
    )
    probes = q.withColumn("qb", lsh_bucket(F.col("qc"), planes)).select(
        "qid",
        "qc",
        F.explode(lsh_probe_buckets(F.col("qb"))).alias("bucket"),
    )
    s = corpus.join(F.broadcast(probes), "bucket").select(
        "qid",
        "cid",
        F.aggregate(
            F.zip_with(F.col("qc"), F.col("cc"), lambda a, b: a * b),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("score"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), "score")
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# product-quantization ANN (PQ-ADC) — the last member of the ANN family
# (brute force → IVF → LSH → int8 SQ → PQ). The 64-dim vector splits
# into M=8 subvectors; each subvector is assigned to the nearest of
# K=16 anchor subvectors (deterministic codebook: the first 16 corpus
# vectors — a trained k-means codebook slots into the same relation),
# compressing every vector to M code ids. Queries score against codes
# via asymmetric distance (ADC): dist ≈ Σ_m d(q_m, codebook[m][code_m])
# — the query-to-anchor lookup table is M×K-sized and the scan touches
# only the compact code table, which is the entire point at 100 TB
# (8 bytes of code per vector instead of 256 bytes of floats).
# Exact-decimal subdistances make assignment, lookup, and ranking
# bit-identical in both engines → full value-hash check.
_PQ_K = 16  # codebook size per subvector


@query(
    "e_pq_knn",
    f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ), sub AS (
      SELECT vec_id, pos // 8 AS m, pos % 8 AS i, x FROM u
    ), anch AS (
      SELECT vec_id - 10 AS code, m, i, x AS a
      FROM sub WHERE vec_id >= 10 AND vec_id < {10 + _PQ_K}
    ), corpus AS (
      SELECT * FROM sub WHERE vec_id >= 10
    ), qs AS (
      SELECT * FROM sub WHERE vec_id < 10
    ), ad AS (
      SELECT c.vec_id, c.m, a.code,
             SUM(CAST((c.x - a.a) * (c.x - a.a) AS DECIMAL(25,6))) AS d
      FROM corpus c JOIN anch a ON a.m = c.m AND a.i = c.i
      GROUP BY c.vec_id, c.m, a.code
    ), codes AS (
      SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
        FROM ad) t WHERE rn = 1
    ), qd AS (
      SELECT qv.vec_id AS qid, qv.m, a.code,
             SUM(CAST((qv.x - a.a) * (qv.x - a.a) AS DECIMAL(25,6))) AS d
      FROM qs qv JOIN anch a ON a.m = qv.m AND a.i = qv.i
      GROUP BY qv.vec_id, qv.m, a.code
    ), adc AS (
      SELECT qd.qid, codes.vec_id AS cid, SUM(qd.d) AS dist
      FROM codes JOIN qd ON qd.m = codes.m AND qd.code = codes.code
      GROUP BY qd.qid, codes.vec_id
    ), r AS (
      SELECT qid, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rk
      FROM adc
    )
    SELECT qid, rk, cid AS neighbor_id,
           {sql_trunc6('CAST(dist AS DOUBLE)')} AS adc_dist
    FROM r WHERE rk <= 5 ORDER BY qid, rk
    """,
    doc="PQ-ADC approximate kNN: M=8 subvector codes, K=16 deterministic "
    "codebook, asymmetric-distance scoring over the compact code table",
)
def e_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    dec = "decimal(25,6)"

    # Corpus coding is MAP-SIDE (round-2 fix): the K×64-double codebook is
    # collected once (tiny) and broadcast inside an Arrow-batched pandas
    # UDF that emits each vector's M codes in one pass — so there is NO
    # exchange between the corpus scan and the code table. (Round 2
    # exploded to N×M×K rows, grouped, then window-argmin'd: a
    # 128×-amplified shuffle on a fact-scale relation; a folded JVM
    # expression tree was tried and is exact but ~1000 interpreted
    # decimal nodes/row — 8× slower than this vectorized batch path.)
    # Quantization: each squared-diff term rounds HALF_UP onto the 1e-6
    # grid as an int64 (floor(v*1e6+0.5)) — the same value class as the
    # oracle's CAST(... AS DECIMAL(25,6)); integer sums are exact, and
    # np.argmin's first-minimum tie-break == the old window's
    # ORDER BY d, code (hash-verified against the unchanged oracle).
    anch_rows = (
        e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 10 + _PQ_K))
        .select((F.col("vec_id") - 10).alias("code"), to_double(F.col("embedding")).alias("av"))
        .collect()
    )
    by_code = {int(r["code"]): [float(x) for x in r["av"]] for r in anch_rows}
    codebook = np.array([by_code[c] for c in range(_PQ_K)])  # (K, M*8)
    dim = codebook.shape[1]
    n_sub = dim // 8
    corpus = e.filter(F.col("vec_id") >= 10).select(
        "vec_id", to_double(F.col("embedding")).alias("v")
    )

    # mapInPandas emitting the exploded (vec_id, m, code) rows directly:
    # an array-returning pandas_udf + posexplode got its projections
    # collapsed into TWO stacked ArrowEvalPython nodes (the coding
    # kernel ran twice per row — caught by tools/plan_audit.py).
    def pq_codes(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf["v"].to_numpy())  # (n, dim)
            diff = X[:, None, :] - codebook[None, :, :]  # (n, K, dim)
            t = np.floor(diff * diff * 1e6 + 0.5).astype(np.int64)
            sums = t.reshape(len(X), _PQ_K, n_sub, 8).sum(axis=3)  # (n, K, M)
            cd = sums.argmin(axis=1).astype(np.int32)  # (n, M)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_sub),
                    "m": np.tile(np.arange(n_sub, dtype=np.int32), len(pdf)),
                    "code": cd.reshape(-1),
                }
            )

    codes = corpus.mapInPandas(pq_codes, schema="vec_id long, m int, code int")

    # query side: 10 vectors — the relational explode+join+agg is trivial
    anch = (
        e.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 10 + _PQ_K))
        .select((F.col("vec_id") - 10).alias("code"), F.posexplode(to_double(F.col("embedding"))).alias("pos", "a"))
        .select("code", F.expr("pos div 8").alias("m"), (F.col("pos") % 8).alias("i"), "a")
    )
    qd = (
        e.filter(F.col("vec_id") < 10)
        .select("vec_id", F.posexplode(to_double(F.col("embedding"))).alias("pos", "x"))
        .select(
            F.col("vec_id").alias("qid"),
            F.expr("pos div 8").alias("m"),
            (F.col("pos") % 8).alias("i"),
            "x",
        )
        .join(F.broadcast(anch), ["m", "i"])
        .select(
            "qid", "m", "code",
            ((F.col("x") - F.col("a")) * (F.col("x") - F.col("a"))).cast(dec).alias("t"),
        )
        .groupBy("qid", "m", "code")
        .agg(F.sum("t").alias("d"))
    )
    adc = (
        codes.join(F.broadcast(qd), ["m", "code"])
        .groupBy("qid", F.col("vec_id").alias("cid"))
        .agg(F.sum("d").alias("dist"))
    )
    w = Window.partitionBy("qid").orderBy("dist", "cid")
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("qid", "rk", F.col("cid").alias("neighbor_id"), trunc6(F.col("dist").cast("double")).alias("adc_dist"))
        .orderBy("qid", "rk")
    )


# --------------------------------------------------------------------------
# embedding-space decontamination — the semantic complement of the
# n-gram d_decontamination: flag corpus vectors whose cosine to ANY
# benchmark vector exceeds τ (paraphrased eval contamination that exact
# n-gram matching misses). The benchmark side is small by definition →
# broadcast; the corpus scan stays linear and the per-label summary is
# one agg. Same identical-double cosine as e_knn_bruteforce.
@query(
    "e_embed_decontam",
    f"""
    WITH bench AS (
      SELECT vec_id AS bid, embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id < 10
    ), corpus AS (
      SELECT vec_id AS cid, label, embedding::DOUBLE[] AS cv FROM embeddings WHERE vec_id >= 10
    ), hits AS (
      SELECT c.cid, c.label,
             MAX(CASE WHEN list_dot_product(c.cv, b.bv)
                        / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(b.bv, b.bv)))
                      > 0.92 THEN 1 ELSE 0 END) AS contaminated
      FROM corpus c, bench b
      GROUP BY c.cid, c.label
    )
    SELECT label,
           COUNT(*) AS n_corpus,
           CAST(SUM(contaminated) AS BIGINT) AS n_contaminated
    FROM hits GROUP BY label ORDER BY label
    """,
    doc="benchmark-similarity decontamination: corpus vectors within "
    "cosine 0.92 of any benchmark vector, per label",
)
def e_embed_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    bench = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("bid"),
        to_double(F.col("embedding")).alias("bv"),
        l2_norm(F.col("embedding")).alias("bn"),
    )
    corpus = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cid"),
        "label",
        to_double(F.col("embedding")).alias("cv"),
        l2_norm(F.col("embedding")).alias("cn"),
    )
    cos = dot(F.col("cv"), F.col("bv")) / (F.col("cn") * F.col("bn"))
    hits = (
        corpus.crossJoin(F.broadcast(bench))
        .select("cid", "label", F.when(cos > 0.92, 1).otherwise(0).alias("h"))
        .groupBy("cid", "label")
        .agg(F.max("h").alias("contaminated"))
    )
    return (
        hits.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_corpus"),
            F.sum("contaminated").alias("n_contaminated"),
        )
        .orderBy("label")
    )
