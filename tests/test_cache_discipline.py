"""Static guards for the cache-lifetime discipline: the query registry
owns every cache and eager checkpoint (registry.cache / materialize /
checkpoint_release), and every function in daxos_spark/plans that caches
more than it unpersists either releases through checkpoint_release or
is a helper whose callers release the caches. A new query that leaks a
cache, or bypasses the registry helpers, fails here before it ever
reaches a review."""

from __future__ import annotations

import pathlib
import re

PLANS = pathlib.Path(__file__).resolve().parent.parent / "daxos_spark" / "plans"

# helpers whose cached relations are released by their CALLERS
# (they return the cache handle alongside the result)
CALLER_RELEASED = {
    "_jaccard_edge_pairs",
    "_ss_position_stream",
    "_bigram_scored",
    "_kn_doc_nll",
    "_semdedup_marks",
    "_semantic_pairs",
    "_lr_pipeline",
    "_bm25_lazy",
    "_bpe_learn",
}

# ML queries whose returned (lazy) output reads the capped training-frame
# cache: releasing it before the caller's action would recompute the
# training set, and checkpointing the output would change the plan
CACHE_BACKED_OUTPUT = {
    "ml_gbt_top_predictions",
    "ml_cv_fold_scores",
    "ml_feature_importances",
    "ml_tree_contributions",
    "ml_exact_shap",
    "ml_shap_interactions",
    "ml_platt_identity",
}

_CACHE_CALL = re.compile(r"(?<![\w.])cache\(")
# localCheckpoint() defaults to eager=True
_BYPASS = re.compile(
    r"\.persist\(|\.cache\(|\.localCheckpoint\((?!\s*eager\s*=\s*False)"
)


def _plan_modules():
    return [p for p in sorted(PLANS.glob("*.py")) if p.name != "registry.py"]


def test_no_unreleased_persists():
    offenders = []
    for p in _plan_modules():
        for chunk in re.split(r"\ndef ", p.read_text()):
            name = chunk.split("(")[0].strip()
            n_c = len(_CACHE_CALL.findall(chunk))
            n_u = chunk.count(".unpersist()")
            if n_c <= n_u:
                continue
            if name in CALLER_RELEASED or name in CACHE_BACKED_OUTPUT:
                continue
            if name.endswith("_lazy") or "checkpoint_release(" in chunk:
                continue
            offenders.append(f"{p.name}:{name} (+{n_c - n_u})")
    assert not offenders, (
        "unreleased cache() outside the discipline: " + ", ".join(offenders)
    )


def test_only_registry_caches_or_checkpoints():
    """Plan modules go through registry.cache / materialize /
    checkpoint_release, so registry.plan_context can hand the plan tools
    the whole lazy pipeline. Lineage-truncating lazy checkpoints
    (eager=False) stay allowed: they run on the plan path too."""
    offenders = [
        f"{p.name}:{i}: {line.strip()}"
        for p in _plan_modules()
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _BYPASS.search(line.split("#")[0])
    ]
    assert not offenders, "cache/checkpoint outside the registry: " + "; ".join(
        offenders
    )
