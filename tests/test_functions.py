"""Function library vs independent oracles: md5 hashing vs duckdb,
vector math vs numpy, text metrics vs pure python."""

from __future__ import annotations

import duckdb
import numpy as np
from pyspark.sql import functions as F

from daxos_spark.functions.hashing import (
    char_shingles,
    hamming32,
    md5_lanes,
    md5_long,
    md5_long_sql,
    minhash_signature,
    simhash32,
    word_shingles,
)
from daxos_spark.functions import vectors as V
from daxos_spark.functions import text as T


def test_md5_long_matches_duckdb(spark):
    words = ["hello", "spark engine", "αβγ", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", md5_long(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for w in words:
        expected = con.execute(f"select {md5_long_sql('?')}", [w]).fetchone()[0]
        assert got[w] == expected, w


def test_md5_lane2_independent(spark):
    """md5_lanes splits an md5 hex digest into hex chars 1-14 and 15-28:
    both must match an independent python computation of the same digest
    slices, lane 1 must be md5_long, and the lanes must differ (else the
    112-bit key collapses to 56)."""
    import hashlib

    words = ["hello", "spark engine", "αβγ", "x"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    h1, h2 = md5_lanes(F.md5(F.col("s")))
    got = {
        r["s"]: (r["h1"], r["h2"], r["m"])
        for r in df.select(
            "s", h1.alias("h1"), h2.alias("h2"), md5_long(F.col("s")).alias("m")
        ).collect()
    }
    for w in words:
        hx = hashlib.md5(w.encode()).hexdigest()
        assert got[w][0] == int(hx[:14], 16) == got[w][2], w
        assert got[w][1] == int(hx[14:28], 16), w
        assert got[w][0] != got[w][1], w


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d e",), ("x y",)], "s string")
    out = df.select(word_shingles(F.col("s"), 3).alias("sh")).collect()
    assert out[0]["sh"] == ["a b c", "b c d", "c d e"]
    assert out[1]["sh"] == ["x y"]
    ch = df.select(char_shingles(F.col("s"), 5).alias("sh")).collect()
    assert ch[1]["sh"] == ["x y"]
    assert len(ch[0]["sh"]) == 5


def test_minhash_containment(spark):
    """Near-identical docs share most minhashes; disjoint docs share none."""
    a = "the quick brown fox jumps over the lazy dog " * 3
    b = a + "extra tail words here"
    c = "completely different content with other tokens entirely"
    df = spark.createDataFrame([(1, a), (2, b), (3, c)], "id int, s string")
    sigs = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", minhash_signature(word_shingles(F.col("s"), 3), 16).alias("sig")
        ).collect()
    }
    match_ab = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    match_ac = sum(x == y for x, y in zip(sigs[1], sigs[3]))
    assert match_ab >= 10
    assert match_ac == 0


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta iota"),
         (3, "one two three four five six seven eight")],
        "id int, s string",
    )
    sh = {r["id"]: r["h"] for r in df.select("id", simhash32(T.tokens(F.col("s"))).alias("h")).collect()}
    d = spark.createDataFrame([(sh[1], sh[2]), (sh[1], sh[3])], "a long, b long")
    dists = [r["d"] for r in d.select(hamming32(F.col("a"), F.col("b")).alias("d")).collect()]
    assert dists[0] < dists[1]


def test_vector_math_vs_numpy(spark):
    rng = np.random.RandomState(0)
    a, b = rng.randn(16).astype(np.float32), rng.randn(16).astype(np.float32)
    df = spark.createDataFrame([(a.tolist(), b.tolist())], "a array<float>, b array<float>")
    row = df.select(
        V.dot(F.col("a"), F.col("b")).alias("dot"),
        V.l2_norm(F.col("a")).alias("na"),
        V.cosine(F.col("a"), F.col("b")).alias("cos"),
        V.vec_sub(F.col("a"), F.col("b")).alias("sub"),
    ).collect()[0]
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    assert abs(row["dot"] - ad @ bd) < 1e-9
    assert abs(row["na"] - np.linalg.norm(ad)) < 1e-9
    assert abs(row["cos"] - (ad @ bd) / (np.linalg.norm(ad) * np.linalg.norm(bd))) < 1e-9
    np.testing.assert_allclose(row["sub"], ad - bd, rtol=1e-12)


def test_text_metrics(spark):
    df = spark.createDataFrame([("The cat and the dog in a house",)], "s string")
    row = df.select(
        T.token_count(F.col("s")).alias("n"),
        T.stopword_hits(F.col("s"), T.EN_STOPWORDS).alias("hits"),
        T.avg_token_len(F.col("s")).alias("avg_len"),
        T.langid(F.col("s")).alias("lang"),
        T.fingerprint(F.col("s")).alias("fp"),
    ).collect()[0]
    assert row["n"] == 8
    assert row["hits"] == 5  # the×2, and, in, a
    assert row["lang"] == "en"
    assert isinstance(row["fp"], int)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], "s string"
    )
    fps = [r["fp"] for r in df.select(T.fingerprint(F.col("s")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_lsh_bucket_properties(spark):
    """LSH signatures: buckets in [0, 2^B), multiprobe covers all
    single-bit flips, and candidate ranking equals the exact integer
    dot product (so LSH top-k ⊆ brute-force ranking of its candidates)."""
    import numpy as np
    from pyspark.sql import functions as F

    from daxos_spark.functions.similarity import (
        LSH_BITS,
        int_code,
        lsh_bucket,
        lsh_planes,
        lsh_probe_buckets,
    )

    planes = lsh_planes()
    assert len(planes) == LSH_BITS and all(len(p) == 64 for p in planes)
    assert planes == lsh_planes()  # deterministic

    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(64)] for _ in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid: long, ev: array<double>"
    )
    out = df.select(
        "vid",
        lsh_bucket(int_code(F.col("ev")), planes).alias("b"),
        lsh_probe_buckets(lsh_bucket(int_code(F.col("ev")), planes)).alias("probes"),
    ).collect()

    for r in out:
        assert 0 <= r.b < (1 << LSH_BITS)
        assert len(r.probes) == LSH_BITS + 1 and r.probes[0] == r.b
        assert sorted(p ^ r.b for p in r.probes) == [0] + [1 << i for i in range(LSH_BITS)]

    # numpy oracle for the bucket of vector 0
    code0 = np.floor(np.array(vecs[0]) * 1000.0).astype(np.int64)
    expect = sum(
        (1 << b) for b, w in enumerate(planes) if int(code0 @ np.array(w, dtype=np.int64)) >= 0
    )
    assert out[0].b == expect
