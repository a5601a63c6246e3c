"""Clean-corpus build pipeline: dedup/quality/scrub invariants and
partition-pruned gold layout."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from daxos_spark.catalog import TABLES, load_tables
from daxos_spark.corpus import build_clean_corpus, scrub_pii

SF_DIR = "/root/testdata/sf0.001"


def test_build_clean_corpus_invariants(spark, tmp_path):
    res = build_clean_corpus(spark, SF_DIR, str(tmp_path))
    assert 0 < res.n_canonical <= res.n_input
    assert 0 < res.n_clean <= res.n_canonical

    back = spark.read.parquet(res.gold_path)
    # dedup: no two docs share a normalized-text fingerprint
    from daxos_spark.functions.text import fingerprint

    n_fp = back.select(fingerprint(F.col("clean_text")).alias("fp")).distinct().count()
    assert n_fp == res.n_clean  # scrub is injective on distinct canonicals here
    # quality gate actually applied
    assert back.filter(F.col("stop_density") < 0.1).count() == 0
    # partition column round-trips
    langs = {r["lang"] for r in back.select("lang").distinct().collect()}
    src = {
        r["lang"]
        for r in load_tables(spark, SF_DIR)["documents"].select("lang").distinct().collect()
    }
    assert langs <= src


def test_build_clean_corpus_all_documents_gated_out(spark, tmp_path):
    """A batch the quality gate drops wholesale (no stopwords at all)
    must yield an empty gold layer, not a schema-inference error."""
    sf = tmp_path / "sf"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    docs = load_tables(spark, SF_DIR)["documents"].limit(5)
    docs.withColumn("text", F.lit("alpha beta gamma delta")).write.parquet(
        str(sf / "documents.parquet")
    )
    res = build_clean_corpus(spark, str(sf), str(tmp_path / "out"))
    assert res.n_input == 5
    assert res.n_canonical == 1  # identical texts share one fingerprint
    assert res.n_clean == 0


def test_gold_layout_partition_pruned(spark, tmp_path):
    res = build_clean_corpus(spark, SF_DIR, str(tmp_path))
    pruned = spark.read.parquet(res.gold_path).filter(F.col("lang") == "en")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # lang=en must appear as a PartitionFilter (directory pruning), not
    # a post-scan data filter
    assert "PartitionFilters: [isnotnull(lang" in plan or "PartitionFilters: [(lang" in plan
    assert pruned.count() > 0


def test_scrub_pii_patterns(spark):
    df = spark.createDataFrame(
        [
            ("reach me at jane.doe+x@corp.example.org ok",),
            ("call +1 (415) 555-0199 now",),
            ("no pii here",),
        ],
        "t string",
    )
    out = [r["s"] for r in df.select(scrub_pii(F.col("t")).alias("s")).collect()]
    assert out[0] == "reach me at <EMAIL> ok"
    assert out[1] == "call <PHONE> now"
    assert out[2] == "no pii here"
