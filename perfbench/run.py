"""daxos_spark benchmark: run one workload, check its outputs, print metrics.

    python3 perfbench/run.py --workload snp_pipeline --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload, summary table

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it records the pinned environment. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see perfbench/README.md). The exit code is 0 only when
every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

# traced layer -> module whose public functions are wrapped
MODULE_LAYERS = {
    "session": "daxos_spark.session",
    "catalog": "daxos_spark.catalog",
    "sources.plink": "daxos_spark.sources.plink",
    "sources.tables": "daxos_spark.sources.tables",
    "operators.splits": "daxos_spark.operators.splits",
    "operators.subset": "daxos_spark.operators.subset",
    "operators.components": "daxos_spark.operators.components",
    "ml.deconfound": "daxos_spark.ml.deconfound",
    "ml.crossvalidate": "daxos_spark.ml.crossvalidate",
    "ml.train": "daxos_spark.ml.train",
    "ml.explain": "daxos_spark.ml.explain",
    "ml.scale": "daxos_spark.ml.scale",
    "ml.scoring": "daxos_spark.ml.scoring",
    "corpus": "daxos_spark.corpus",
    "plans.docpipe": "daxos_spark.plans.docpipe",
    "plans.textpipe": "daxos_spark.plans.textpipe",
}
# spans the workload code opens itself around the registered specs
SPAN_LAYERS = ("plans.relational.build", "plans.relational.execute")
HEAVY_LAYERS = (
    "sources.plink", "ml.deconfound", "ml.train", "corpus", "plans.docpipe",
    "plans.textpipe", "operators.components",
)

LAYER_FIELDS = (
    ("wall_s", "s"), ("self_s", "s"), ("jobs", "count"),
    ("task_s", "s"), ("cpu_util", "ratio"), ("shuffle_write_mb", "MB"),
)
HEAVY_FIELDS = (("gc_s", "s"), ("spill_mb", "MB"), ("skipped_stage_ratio", "ratio"))

END_TO_END = (
    ("op_p50_s", "s"), ("ops_per_s", "1/s"), ("peak_rss_mb", "MB"), ("setup_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [("session.wall_s", "s")]
    for layer in [*list(MODULE_LAYERS)[1:], *SPAN_LAYERS]:
        out += [(f"{layer}.{f}", u) for f, u in LAYER_FIELDS]
        if layer in HEAVY_LAYERS:
            out += [(f"{layer}.{f}", u) for f, u in HEAVY_FIELDS]
    out += [("ml.train.s_per_fit", "s"), ("ml.train.jobs_per_fit", "count")]
    out += [("trace.op_p50_s", "s"), ("trace.coverage", "ratio")]
    return out


# ------------------------------------------------------------ environment


def pin_env(work: str) -> dict:
    """Pin the Spark environment to this box and return what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    mem_gb = mem_kb / 2**20
    # session.py defaults to 16g, more than a 15 GB box has. The inputs
    # are tens of MB, so the heap is fixed at 2g (or a third of a smaller
    # box). -Xms = -Xmx with a pre-touched heap keeps peak RSS from
    # depending on how many heap regions G1 happened to touch.
    driver_gb = max(1, min(2, int(mem_gb / 3)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
            "TMPDIR": tmp,
            # the JVM spark-submit runs first to build the driver command
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    return {
        "nproc": cpus,
        "mem_total_gb": round(mem_gb, 1),
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": os.environ["SPARK_LOCAL_DIRS"],
        "python": platform.python_version(),
    }


def spark_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    java = [
        "-Djava.net.preferIPv4Stack=true",
        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
        "-XX:+AlwaysPreTouch",
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    ]
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(java),
    }


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1])


def peak_rss_mb() -> float:
    """Peak resident set of the JVM plus this Python driver."""
    from pyspark import SparkContext

    return (_vmhwm_kb(SparkContext._gateway.proc.pid) + _vmhwm_kb("self")) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------- one run


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> tuple[dict, int]:
    os.makedirs(WORK, exist_ok=True)
    for entry in os.listdir(WORK):  # earlier runs' traces stay
        if entry != "traces":
            shutil.rmtree(os.path.join(WORK, entry))
    env = pin_env(WORK)
    t0 = time.perf_counter()
    import spans as tr
    import workloads

    from daxos_spark import preprocess, session, training  # noqa: F401
    from daxos_spark.plans import get_specs

    get_specs()  # import every plan module so instrumenting rebinds them too
    tracer = tr.Tracer()
    if traced:
        tracer.instrument(MODULE_LAYERS)
        tracer.enabled = True
    spark = session.get_spark("perfbench", extra_conf=spark_conf(WORK))
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        tracer.enabled = False  # only the session start and the timed section are traced
        env["spark"] = spark.version
        # numpy seeds must be non-negative; identity on 0 <= seed < 2**32
        wl = workloads.WORKLOADS[name](os.path.join(WORK, "data"), seed % 2**32)
        env["workload"] = wl_desc = {"name": name, "seed": seed}
        wl.prepare()
        wl.setup(spark, tracer)
        wl_desc.update(wl.describe())
        setup_s = time.perf_counter() - t0

        # a traced run times exactly the workload's minimum units, all traced
        tracer.phase = "timed"
        tracer.enabled = traced
        ops, units = [], 0
        start = time.perf_counter()
        while units < wl.min_units or (not traced and time.perf_counter() - start < seconds):
            ops += wl.unit(spark, tracer)
            units += 1
        elapsed = time.perf_counter() - start
        tracer.enabled = False

        rss = peak_rss_mb()
        failed = wl.check(spark)
    finally:
        stop_spark(spark)

    attempted = len(ops)
    failed += sum(1 for o in ops if not o.ok)
    op_p50_s = statistics.median(o.latency_s for o in ops)
    if traced:
        metrics = _layer_report(tr, tracer.spans, int(env["nproc"]), op_p50_s, elapsed, wl.problems)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(WORK, "traces", f"{name}-seed{seed}.json"), env)
    else:
        values = {
            "op_p50_s": op_p50_s,
            "ops_per_s": len(ops) / elapsed,
            "peak_rss_mb": rss,
            "setup_s": setup_s,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    for p in wl.problems:
        print(f"check failed: {p}", file=sys.stderr)
    result = {
        "correct": not wl.problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps({"env": env}))
    shutil.rmtree(os.path.join(WORK, "data"), ignore_errors=True)
    return result, 0 if result["correct"] else 1


def _layer_report(tr, spans, cores, op_p50_s, timed_s, problems) -> dict:
    per = tr.layer_metrics(spans, cores)
    values: dict[str, float] = {"session.wall_s": per.get("session", {}).get("wall_s", 0.0)}
    for layer in [*list(MODULE_LAYERS)[1:], *SPAN_LAYERS]:
        m = per.get(layer, {})
        fields = LAYER_FIELDS + (HEAVY_FIELDS if layer in HEAVY_LAYERS else ())
        for f, _ in fields:
            values[f"{layer}.{f}"] = m.get(f, 0.0)
    fits = [s for s in spans if s.layer == "ml.train" and s.name == "fit_gbt"]
    values["ml.train.s_per_fit"] = sum(s.wall_s for s in fits) / len(fits) if fits else 0.0
    values["ml.train.jobs_per_fit"] = sum(s.incl.jobs for s in fits) / len(fits) if fits else 0.0
    values["trace.op_p50_s"] = op_p50_s
    top = [s for s in spans if s.phase == "timed" and s.parent is None]
    values["trace.coverage"] = sum(s.wall_s for s in top) / timed_s
    neg = [s for s in spans if s.wall_s - s.child_s < -1e-6]
    if neg:
        problems.append(f"trace: {len(neg)} spans with negative self time")
    if values["trace.coverage"] < 0.9:
        problems.append(f"trace: top-level spans cover only {values['trace.coverage']:.1%} of the timed section")
    return {k: {"value": values[k], "unit": u} for k, u in per_layer_names()}


# ------------------------------------------------------------------- CLI


def run_all(args) -> int:
    """Every workload in its own process; prints each metric with its unit.
    With ``--trace 1`` each workload also runs untraced with the same
    seed first, and the tracing overhead is printed as the traced run's
    ``trace.op_p50_s`` minus the untraced run's ``op_p50_s``."""
    import workloads

    rc = 0
    for name in workloads.WORKLOADS:
        results = {}
        for trace in sorted({0, args.trace}):
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode in (0, 1) and lines else None
            if res is None:
                print(f"{name} (trace {trace}): run failed (exit {p.returncode})")
                rc = 1
                continue
            rc |= p.returncode
            results[trace] = res
            print(f"{name} (trace {trace}): correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for k, m in res["metrics"].items():
                print(f"  {k:<44} {m['value']:>14.6g} {m['unit']}")
        if args.trace and len(results) == 2:
            over = (results[1]["metrics"]["trace.op_p50_s"]["value"]
                    - results[0]["metrics"]["op_p50_s"]["value"])
            print(f"  {'trace.overhead_s':<44} {over:>14.6g} s")
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description="daxos_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "daxos_spark")):
        print("perfbench: daxos_spark/ not found beside perfbench/ — run from a repository checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2
    result, rc = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return rc


if __name__ == "__main__":
    sys.exit(main())
