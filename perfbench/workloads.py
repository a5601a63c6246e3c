"""The benchmark workloads: inputs, set-up, one timed unit, output checks.

Each workload is a closed loop with one client: the next operation is
sent only after the previous one has returned. A *unit* is the smallest
block the timed loop repeats (one pipeline pass, one sweep of the query
mix); each unit returns one record per operation it ran.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen


@dataclass
class Op:
    latency_s: float
    ok: bool = True


# ---------------------------------------------------------- snp_pipeline


class SnpPipeline:
    """The paper's batch pipeline as one operation, in the session a run
    starts: PLINK ``.raw`` ingest → seeded shuffle at rest → ID split →
    covariate deconfounding → gold parquet (``preprocess.run_preprocessing``),
    an ``operators.subset`` row-ID + SNP-list subset of the bronze matrix,
    a subset of both gold stores to the ``N_TRAIN_SNPS`` training SNPs,
    then ``training.run_training`` (CV × random search, fit → prune →
    refit, predict, Platt calibration) with its predictions collected.
    Both halves are bound by the cold JVM and per-job overhead, not by
    data volume (see perfbench/README.md): ``N_SNPS`` is as wide as the
    time a run may spend allows.

    There is no warm-up pass: a pipeline run is a fresh Spark application,
    so the operation pays the JIT and code-generation cost every user pays.
    """

    name = "snp_pipeline"
    min_units = 1
    N_ROWS, N_SNPS, N_TRAIN_SNPS = 2_000, 300, 50
    TRAIN_KW = dict(n_folds=2, n_iter=1, cv_subsample=1_000, n_boost_round=5, seed=42)
    FEATURES = "features_adj"
    AUC_FLOOR = 0.6

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.subset_path = f"{work}/subset"
        self.narrow_paths = (f"{work}/narrow_train", f"{work}/narrow_test")
        self.passes: list[dict] = []
        self.problems: list[str] = []

    def prepare(self) -> None:
        self.inp = gen.gen_snp_inputs(
            f"{self.work}/snp", self.seed, self.N_ROWS, self.N_SNPS, self.N_TRAIN_SNPS
        )

    def setup(self, spark, tracer=None) -> None:
        """Nothing beyond the inputs: the operation starts cold."""

    def unit(self, spark, tracer=None) -> list[Op]:
        from daxos_spark import preprocess, training
        from daxos_spark.operators import subset
        from daxos_spark.sources import plink, tables

        inp = self.inp
        t0 = time.perf_counter()
        with _maybe_span(tracer, "op", self.name):
            self.pre = pre = preprocess.run_preprocessing(
                spark, inp.raw_path, inp.covars_path, f"{self.work}/pre", seed=42
            )
            ds = plink.read_matrix(spark, pre.bronze)
            picked = subset.subset_columns(ds, [ln.strip() for ln in open(inp.snps_path) if ln.strip()])
            rows = subset.subset_rows_by_ids(picked.fact, tables.read_id_list(spark, inp.ids_path))
            plink.write_matrix(plink.MatrixDataset(rows, picked.cols), self.subset_path)
            train_snps = [ln.strip() for ln in open(inp.train_snps_path) if ln.strip()]
            for src, dst in zip((pre.train_gold, pre.test_gold), self.narrow_paths):
                self._narrow_gold(spark, src, dst, train_snps)
            res = training.run_training(
                spark, *self.narrow_paths, f"{self.work}/train",
                features_col=self.FEATURES, **self.TRAIN_KW,
            )
            preds = res.predictions.toPandas()
        dt = time.perf_counter() - t0
        self.passes.append({"test_score": res.test_score, "used": list(res.used_cols), "preds": preds})
        return [Op(dt)]

    def _narrow_gold(self, spark, src: str, dst: str, names: list[str]) -> None:
        """Keep only the training SNPs in both feature columns of a gold store."""
        from daxos_spark.operators import subset
        from daxos_spark.sources import plink

        ds = plink.read_matrix(spark, src)
        raw = subset.subset_columns(ds, names, match_prefix=False)
        adj = subset.subset_columns(
            plink.MatrixDataset(raw.fact, ds.cols), names, match_prefix=False,
            features_col=self.FEATURES,
        )
        plink.write_matrix(plink.MatrixDataset(adj.fact, raw.cols), dst)

    # ------------------------------------------------------------ checks

    def check(self, spark) -> int:
        """Number of failed operations; reasons go to ``self.problems``.
        Every later pass must reproduce the first pass exactly."""
        if self._check_preprocess(spark):
            return len(self.passes)  # every operation wrote these outputs
        failed = 0
        ref = self.passes[0]
        ref_p = ref["preds"].sort_values("IID").reset_index(drop=True)
        for i, p in enumerate(self.passes):
            why = []
            if not p["test_score"] >= self.AUC_FLOOR:
                why.append(f"test AUC {p['test_score']:.4f} < {self.AUC_FLOOR}")
            if not set(gen.PLANTED_SNPS) <= set(p["used"]):
                why.append("planted SNPs missing from used_cols")
            q = p["preds"].sort_values("IID").reset_index(drop=True)
            same = (
                len(q) == len(ref_p)
                and (q["IID"] == ref_p["IID"]).all()
                and np.allclose(q["y_pred"], ref_p["y_pred"], rtol=0, atol=1e-9)
                and np.allclose(q["y_pred_platt_scaled"], ref_p["y_pred_platt_scaled"], rtol=0, atol=1e-9)
                and abs(p["test_score"] - ref["test_score"]) <= 1e-9
            )
            if not same:
                why.append("predictions differ from the first pass")
            if why:
                self.problems.append(f"pass {i}: " + "; ".join(why))
                failed += 1
        return failed

    def _check_preprocess(self, spark) -> int:
        inp, pre = self.inp, self.pre
        why = []
        if (pre.n_total, pre.n_features) != (inp.n_rows, inp.n_snps):
            why.append(f"bronze {pre.n_total}x{pre.n_features} != {inp.n_rows}x{inp.n_snps}")
        tr = spark.read.parquet(f"{pre.train_gold}/fact.parquet").toPandas()
        te = spark.read.parquet(f"{pre.test_gold}/fact.parquet").toPandas()
        all_ids = {f"S{i:07d}" for i in range(inp.n_rows)}
        if set(tr["iid"]) & set(te["iid"]) or set(tr["iid"]) | set(te["iid"]) != all_ids:
            why.append("train/test split is not a disjoint cover of the input IDs")
        if len(tr) != pre.n_train or len(te) != pre.n_test:
            why.append("split row counts disagree with the reported counts")
        widths = {len(v) for v in tr[self.FEATURES]} | {len(v) for v in tr["features"]}
        if widths != {inp.n_snps}:
            why.append(f"feature widths {sorted(widths)} != {inp.n_snps}")
        # residuals are orthogonal to [1 | covariates]: OLS betas ≈ 0
        cov = pd.read_csv(inp.covars_path, sep="\t").set_index("IID").loc[tr["iid"]]
        C = np.column_stack([np.ones(len(tr)), cov[["COV1", "COV2", "COV3"]].to_numpy()])
        cols = np.random.default_rng(self.seed).choice(inp.n_snps, size=10, replace=False)
        X = np.stack(tr[self.FEATURES].to_numpy()).astype(np.float64)[:, cols]
        Y = np.column_stack([X, tr["label_adj"].to_numpy(dtype=np.float64)])
        betas, *_ = np.linalg.lstsq(C, Y, rcond=None)
        if np.abs(betas).max() > 1e-3:
            why.append(f"residual OLS betas up to {np.abs(betas).max():.2e}")
        # subset: exactly the listed IDs and SNPs, dosages unchanged
        sub = spark.read.parquet(f"{self.subset_path}/fact.parquet").toPandas().sort_values("iid")
        sub_cols = spark.read.parquet(f"{self.subset_path}/cols.parquet").toPandas().sort_values("pos")
        if list(sub["iid"]) != inp.subset_ids:
            why.append("row subset membership differs from the ID list")
        if list(sub_cols["snp"]) != inp.subset_snps:
            why.append("column subset differs from the SNP list")
        else:
            pos = [inp.snp_names.index(s) for s in inp.subset_snps]
            rows = [int(i[1:]) for i in sub["iid"]]
            want = inp.genotypes[np.ix_(rows, pos)]
            if not np.array_equal(np.stack(sub["features"].to_numpy()), want.astype(np.float32)):
                why.append("subset dosages differ from the input")
        # training store: the listed SNPs of the train gold, both columns
        nar = spark.read.parquet(f"{self.narrow_paths[0]}/fact.parquet").toPandas()
        nar = nar.set_index("iid").loc[tr["iid"]]
        nar_cols = spark.read.parquet(f"{self.narrow_paths[0]}/cols.parquet").toPandas()
        if list(nar_cols.sort_values("pos")["snp"]) != inp.train_snps:
            why.append("training store columns differ from the training SNP list")
        else:
            pos = [inp.snp_names.index(s) for s in inp.train_snps]
            for col in ("features", self.FEATURES):
                if not np.array_equal(np.stack(nar[col].to_numpy()), np.stack(tr[col].to_numpy())[:, pos]):
                    why.append(f"training store {col} differ from the gold columns")
        self.problems += [f"preprocess: {w}" for w in why]
        return 1 if why else 0

    def describe(self) -> dict:
        kw = {("train_seed" if k == "seed" else k): v for k, v in self.TRAIN_KW.items()}
        return {"rows": self.N_ROWS, "snps": self.N_SNPS, "train_snps": self.N_TRAIN_SNPS,
                "features": self.FEATURES, **kw}


# ------------------------------------------------------------- query_mix

# One registered spec per relational shape: aggregation, anti join,
# as-of join, sessionization, OLS residualize and a q-family multi-way
# join. Six keep a run's warm sweep plus two timed sweeps near 55 s.
RELATIONAL_SPECS = (
    "a1_pricing_summary", "a1_anti_join_customers", "a1_asof_click_before_error",
    "q_session_stats", "a2_ols_residualize", "q09_profit_by_nation_year",
)

# MinHash-LSH candidate pairs, and keep-longest per Jaccard cluster
# (connected components)
DEDUP_SPECS = ("d_lsh_candidates", "t_dedup_best_keep")
CORPUS_OP = "build_clean_corpus"
# spec module -> traced layer; specs of any other module are relational
SPEC_LAYERS = {"daxos_spark.plans.docpipe": "plans.docpipe",
               "daxos_spark.plans.textpipe": "plans.textpipe"}


class QueryMix:
    """The registered specs ``RELATIONAL_SPECS`` and ``DEDUP_SPECS``, plus
    ``corpus.build_clean_corpus``, over generated star-schema and
    document tables. One operation is one spec (build its DataFrame,
    then collect the result to the driver) or one corpus build. Each
    timed unit is a full sweep of the mix in a seeded order, so every
    run times the same operations; the set-up runs one untimed warm
    sweep. Every output, warm and timed, is checked after the timed
    section: spec outputs against the spec's duckdb oracle, corpus
    builds against a Python recount of the documents table.
    """

    name = "query_mix"
    min_units = 2
    SCALE = 0.01  # 60,000 lineitems

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.problems: list[str] = []
        self.outputs: list[tuple[str, object]] = []
        self.n_warm = 0

    def prepare(self) -> None:
        self.sf_dir = f"{self.work}/tables"
        gen.gen_query_tables(self.sf_dir, self.seed, self.SCALE)

    def setup(self, spark, tracer=None) -> None:
        from daxos_spark.plans import get_specs

        specs = get_specs()
        self.specs = {n: specs[n] for n in (*RELATIONAL_SPECS, *DEDUP_SPECS)}
        self.rng = np.random.default_rng(self.seed)
        self.unit(spark)
        self.n_warm = len(self.outputs)

    def unit(self, spark, tracer=None) -> list[Op]:
        ops = []
        for name in self.rng.permutation(sorted([*self.specs, CORPUS_OP])):
            out = None
            t0 = time.perf_counter()
            try:
                out = self._run_op(spark, tracer, name)
            except Exception as e:  # noqa: BLE001 - a failing op is a failed op
                self.problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            self.outputs.append((name, out))
            ops.append(Op(dt, out is not None))
        return ops

    def _run_op(self, spark, tracer, name: str):
        if name == CORPUS_OP:
            from daxos_spark import corpus

            res = corpus.build_clean_corpus(spark, self.sf_dir, f"{self.work}/corpus")
            return (res.n_input, res.n_canonical, res.n_clean)
        spec = self.specs[name]
        layer = SPEC_LAYERS.get(spec.spark.__module__)
        if layer is not None:  # one span: these specs materialize while building
            with _maybe_span(tracer, layer, name):
                return spec.spark(spark, self.sf_dir).toPandas()
        with _maybe_span(tracer, "plans.relational.build", name):
            df = spec.spark(spark, self.sf_dir)
        with _maybe_span(tracer, "plans.relational.execute", name):
            return df.toPandas()

    def check(self, spark) -> int:
        """Failed timed operations whose output is wrong (operations that
        raised are counted by the caller)."""
        import duckdb

        sys.path.insert(0, os.path.join(_repo_root(), "tools"))
        from check_oracle import frame_digest

        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.work}/duckdb'")
        for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        want = {n: frame_digest(con.execute(s.oracle).fetchdf()) for n, s in self.specs.items()}
        con.close()
        n_docs, n_canonical, want_ids = self._clean_corpus()
        want[CORPUS_OP] = (n_docs, n_canonical, len(want_ids))
        got_ids = set(pd.read_parquet(f"{self.work}/corpus/gold_corpus", columns=["doc_id"])["doc_id"])
        if got_ids != want_ids:
            self.problems.append(f"{CORPUS_OP}: gold holds {len(got_ids)} doc_ids, "
                                 f"{len(got_ids ^ want_ids)} differ from the recount")
        failed = 0
        for i, (name, out) in enumerate(self.outputs):
            if out is None:
                continue
            got = out if name == CORPUS_OP else frame_digest(out)
            if got != want[name]:
                self.problems.append(f"{name}: spark {got} != expected {want[name]}")
                failed += i >= self.n_warm
        return failed

    def _clean_corpus(self) -> tuple[int, int, set[int]]:
        """Document count, canonical count and the doc_ids
        build_clean_corpus must keep: the minimum doc_id per normalized
        text (lowercase, collapsed whitespace) whose share of English
        stopword tokens is at least 0.1 (its default gate)."""
        docs = pd.read_parquet(f"{self.sf_dir}/documents.parquet", columns=["doc_id", "text"])
        canon: dict[str, int] = {}
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            key = " ".join(text.strip().lower().split())
            canon[key] = min(canon.get(key, doc_id), doc_id)
        stop = set(gen.EN_STOPWORDS)
        keep = set()
        for key, doc_id in canon.items():
            toks = key.split(" ")
            if sum(t in stop for t in toks) / len(toks) >= 0.1:
                keep.add(int(doc_id))
        return len(docs), len(canon), keep

    def describe(self) -> dict:
        return {"specs": len(self.specs), "corpus_builds_per_sweep": 1, "scale": self.SCALE,
                "sweep": "seeded permutation"}


def _maybe_span(tracer, layer: str, name: str):
    if tracer is None or not tracer.enabled:
        return contextlib.nullcontext()
    return tracer.span(layer, name)


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


WORKLOADS = {w.name: w for w in (SnpPipeline, QueryMix)}
