"""End-to-end training-corpus build: documents → deduped, quality-
filtered, PII-scrubbed parquet partitioned by language.

The doc-pipeline twin of ``preprocess.run_preprocessing`` (which stages
the reference's matrix DAG): the bronze→gold shape every pretraining
corpus build follows —

  1. fingerprint + exact dedup (canonical = min doc_id per fingerprint)
  2. quality gate (stopword-density heuristic, functions/text.py)
  3. PII scrub (regex redaction, audit columns kept)
  4. sink: parquet **partitioned by lang**, ``maxRecordsPerFile``-capped

Scale notes: dedup is one shuffle on the fingerprint; quality + scrub
are pure map stages fused into the same pass; ``partitionBy("lang")``
gives the gold layer partition pruning for per-language readers (the
dominant downstream access pattern), and ``maxRecordsPerFile`` bounds
file sizes so a 100 TB corpus lands as uniformly-sized splits rather
than one skewed file per partition directory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import load_tables
from .functions import text as T


@dataclass
class CorpusResult:
    gold_path: str
    n_input: int
    n_canonical: int
    n_clean: int


def scrub_pii(col: F.Column) -> F.Column:
    """Email/phone redaction — JVM-side regexp_replace, zero shuffles.

    The phone pattern requires NANP-like group structure (3-3-4 digits
    with single separators, optional country code / parens) rather than
    any long digit-ish span — a loose class like ``[\\d\\s().-]{7,}``
    would also swallow legitimate numeric text (decimals, date ranges).
    """
    return F.regexp_replace(
        F.regexp_replace(col, r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
        r"\+?\d{0,2}[\s.-]?\(?\d{3}\)?[\s.-]?\d{3}[\s.-]?\d{4}",
        "<PHONE>",
    )


def build_clean_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_stop_density: float = 0.1,
    max_records_per_file: int = 100_000,
) -> CorpusResult:
    """documents → gold clean-corpus parquet partitioned by lang."""
    d = load_tables(spark, sf_dir)["documents"]
    n_input = d.count()

    # 1. exact dedup: canonical doc per normalized-text fingerprint.
    #    (min-doc_id canonical via one row_number window = one shuffle
    #    on fp; at corpus scale fp is near-unique so no skew.)
    f = d.withColumn("fp", T.fingerprint(F.col("text")))
    w = Window.partitionBy("fp").orderBy("doc_id")
    canon = f.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")

    # 2+3. quality gate + scrub — same map stage, no extra pass
    stop_density = T.stopword_ratio(F.col("text"))
    clean = (
        canon.withColumn("stop_density", stop_density)
        .filter(F.col("stop_density") >= min_stop_density)
        .withColumn("clean_text", scrub_pii(F.col("text")))
        .withColumn("was_redacted", F.col("clean_text") != F.col("text"))
        .select("doc_id", "lang", "source", "clean_text", "stop_density", "was_redacted")
    )

    # persist the deduped relation: the write AND the n_canonical audit
    # count both consume it — without the cache the fingerprint+window
    # shuffle over the whole corpus would execute twice
    canon = canon.persist()
    try:
        gold = f"{out_dir}/gold_corpus"
        (
            clean.write.mode("overwrite")
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy("lang")
            .parquet(gold)
        )
        n_canonical = canon.count()
    finally:
        canon.unpersist()

    # explicit schema: when the quality gate drops every document the
    # gold dir holds no data file, and schema inference would fail
    back = spark.read.schema(clean.schema).parquet(gold)
    return CorpusResult(
        gold_path=gold,
        n_input=n_input,
        n_canonical=n_canonical,
        n_clean=back.count(),
    )
