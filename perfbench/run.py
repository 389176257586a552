"""Benchmark runner.

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 5 --trace 0

One run, in one process: build (or reuse) the seeded corpus, set up
Spark from a cold JVM, prepare the workload's stored inputs and run its
warm-up iterations (both untimed), then run the workload in that session
in a closed loop (one iteration at a time) until ``--seconds`` have
passed, checking every iteration's output, warm-ups included.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  A
failed output check reports ``"correct": false``; the exit code is 0
whenever that line is printed.  Everything the run writes lives under
``.perfbench/`` in the checkout; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
REQUIRED = ("sourmash_spark/__init__.py", "jobs/dedup_job.py", "bench.py")

# per-layer metric names: span -> extras beyond the common span metrics
SPAN_METRICS = ("wall_s", "spark_jobs", "shuffle_write_mb", "spill_mb", "task_skew")
STAGE_EXTRAS = ("self_s", "stages", "tasks")
SPANS = {
    "jobs.dedup_job": STAGE_EXTRAS + ("peak_rss_mb",),
    "sketch.sketch_signatures": STAGE_EXTRAS + ("python_mb", "cpu_frac"),
    "lsh.band_signatures": STAGE_EXTRAS,
    "lsh.candidate_pairs": STAGE_EXTRAS + ("rows_out",),
    "lsh.verify_pairs": STAGE_EXTRAS + ("pass_ratio", "recall"),
    "cluster.assign_clusters": STAGE_EXTRAS,
    "pipeline.run_pipeline": (),
    "pipeline.incremental_update": (),
    "pipeline.compact_increments": ("rewritten_mb",),
    "compare.compare_all_pairs": ("stages", "tasks", "pass_ratio"),
    "gather.multigather": ("stages", "tasks"),
    "dedup.ngram_jaccard_pairs": ("stages", "tasks"),
    "dedup.exact_dedup_ids": (),
    "text.gopher_quality": (),
    "text.decontaminate": (),
    "dedup.repeated_segment_removal": (),
    "dedup.exact_substring_removal": (),
    "pii.redact_pii": (),
}
OTHER_LAYER = (
    "session.get_spark.wall_s", "session.warmup.wall_s",
    "checkpoint.run_stage.extra_jobs", "checkpoint.run_stage.extra_s",
    "checkpoint.run_stage.stored_mb", "trace.run.overhead_ratio",
)
STAGE_SPANS = ("sketch.sketch_signatures", "lsh.band_signatures",
               "lsh.candidate_pairs", "lsh.verify_pairs", "cluster.assign_clusters")


def unit(name: str) -> str:
    m = name.rsplit(".", 1)[1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m in ("task_skew", "pass_ratio", "recall", "cpu_frac", "overhead_ratio"):
        return "ratio"
    return "count"


def layer_names() -> list[str]:
    names = [f"{s}.{m}" for s, extra in SPANS.items() for m in SPAN_METRICS + extra]
    return names + list(OTHER_LAYER)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def git_head() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_env(work: str, n: int) -> None:
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def setup_session(n: int, conf: dict[str, str]):
    """``session.get_spark`` plus a warm-up action that starts a Python
    worker on every core.  Returns (spark, get_spark_s, warmup_s).  Called
    with no JVM running, this is the set-up every spark-submit pays."""
    from sourmash_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.parallelize(range(n), n).mapPartitions(lambda _: [os.getpid()]).collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def recorded_checker(workload: str, size: str, seed: int):
    """Cluster-partition digests must match the one recorded for the seed
    in perfbench/digests.json, and every earlier run over the same cached
    corpus."""
    with open(os.path.join(ROOT, "perfbench", "digests.json")) as f:
        recorded = json.load(f).get(f"{workload}/{size}/{seed}")

    def check(corpus_dir: str, d: str) -> list[str]:
        fails = []
        if recorded is not None and d != recorded:
            fails.append(f"partition digest {d[:12]} != recorded {recorded[:12]}")
        seen_path = os.path.join(corpus_dir, "partition.digest")
        if os.path.exists(seen_path):
            with open(seen_path) as f:
                if f.read().strip() != d:
                    fails.append("partition digest differs from an earlier run of this seed")
        else:
            with open(seen_path, "w") as f:
                f.write(d)
        return fails

    return check


def layer_metrics(tracer, log_dir: str, n: int, results: list[dict], timed_from: int,
                  session: tuple[float, float], untraced: list[float]) -> dict:
    """Per-layer metrics from the first timed span of each name (span ids
    from `timed_from` on): the first timed iteration's, and its probes'."""
    from perfbench.trace import rollup, self_seconds

    spans = tracer.spans
    roll = rollup(log_dir, spans)
    first = {}
    for sp in spans[timed_from:]:
        first.setdefault(sp["name"], sp["id"])
    vals: dict[str, float] = dict.fromkeys(layer_names(), 0.0)
    extra_jobs = extra_s = 0.0
    for name, sid in first.items():
        r = roll[sid]
        for m in SPAN_METRICS + ("stages", "tasks", "python_mb"):
            vals[f"{name}.{m}"] = r[m]
        # a stage's self time leaves out its checkpoint bookkeeping tail
        tail = r.get("extra_s", 0.0) if name in STAGE_SPANS else 0.0
        vals[f"{name}.self_s"] = self_seconds(spans, sid) - tail
        vals[f"{name}.cpu_frac"] = r["run_ms"] / 1000.0 / max(r["wall_s"] * n, 1e-9)
        vals[f"{name}.rows_out"] = r.get("rows_out", 0)
        if name in STAGE_SPANS:
            extra_jobs += r.get("extra_jobs", 0)
            extra_s += r.get("extra_s", 0.0)
    cand = vals.get("lsh.candidate_pairs.rows_out", 0)
    vals["lsh.verify_pairs.pass_ratio"] = vals["lsh.verify_pairs.rows_out"] / cand if cand else 0.0
    vals["checkpoint.run_stage.extra_jobs"] = extra_jobs
    vals["checkpoint.run_stage.extra_s"] = extra_s
    res = results[0]
    vals.update(res["layer"])
    if "jobs.dedup_job" in first:
        vals["checkpoint.run_stage.stored_mb"] = res["stored_bytes"] / (1 << 20)
    vals["session.get_spark.wall_s"], vals["session.warmup.wall_s"] = session
    if untraced:
        vals["trace.run.overhead_ratio"] = res["wall_s"] / statistics.median(untraced)
    names = set(layer_names())
    return {k: {"value": v, "unit": unit(k)} for k, v in vals.items() if k in names}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"not a repository checkout: missing {', '.join(missing)}")
        return 2

    n = nproc()
    trace = bool(args.trace)
    run_id = f"{args.workload}-{args.size}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(STATE, "out", run_id)
    cache = os.path.join(STATE, "cache", workloads.corpus.VERSION)
    for d in (cache, out_dir):
        os.makedirs(d, exist_ok=True)
    prepare_env(work, n)

    from bench import host_calibration
    import pyspark

    from perfbench.trace import Tracer

    run = workloads.WORKLOADS[args.workload]
    context = {"nproc": n, "git_head": git_head(), "pyspark": pyspark.__version__,
               "host_calibration_sec_before": host_calibration()}

    log("calibrated")
    conf = session_conf(work, trace)
    spark, get_s, warm_s = setup_session(n, conf)
    session = (get_s, warm_s)
    log(f"set-up {get_s:.3f} s get_spark + {warm_s:.3f} s warm-up")

    tracer = Tracer(spark.sparkContext, run_id, trace, [work, cache])

    def live_spark():
        """The benchmark's session; restarted (in the same JVM) after a
        job that stops it, as ``dedup_job.main`` does."""
        if ctx.spark.sparkContext._jsc is None:
            ctx.spark = setup_session(n, conf)[0]
            tracer.sc = ctx.spark.sparkContext
        return ctx.spark

    warmups = workloads.WARMUPS.get(args.workload, 0)
    ctx = SimpleNamespace(
        spark=spark, live_spark=live_spark, tracer=tracer, work=work,
        cache=cache, seed=args.seed, size=args.size, trace=trace,
        warmups=warmups,
        # both dedup workloads must reach run_pipeline's partition of the
        # whole corpus, which digests.json records under dedup_batch
        check_recorded=recorded_checker("dedup_batch", args.size, args.seed),
    )
    # generation is load, not work: keep it out of the timed loop
    cdir = workloads.corpus_dir(ctx, args.workload)

    log("corpus ready")
    results, attempted, failed, ready = [], 0, 0, True
    prepare = workloads.PREPARE.get(args.workload)
    if prepare is not None:
        t0 = time.perf_counter()
        try:
            prepare(ctx)
        except Exception:  # nothing to time: one failed attempt
            traceback.print_exc()
            attempted, failed, ready = 1, 1, False
        log(f"prepared in {time.perf_counter() - t0:.3f} s")
    timed_from = t_start = 0
    while ready:
        it = attempted
        if it == warmups:
            timed_from, t_start = len(tracer.spans), time.perf_counter()
        attempted += 1
        try:
            res = run(ctx, it)
        except Exception:  # a crashed iteration is a failed attempt
            traceback.print_exc()
            failed += 1
        else:
            if it < warmups:
                log(f"warm-up wall_s {res['wall_s']:.3f}")
            else:
                results.append(res)
            if res["fails"]:
                failed += 1
                for msg in res["fails"]:
                    log(f"CHECK FAILED: {msg}")
        if it >= warmups and time.perf_counter() - t_start >= args.seconds:
            break
    context["host_calibration_sec_after"] = host_calibration()
    ctx.spark.stop()
    stop_jvm()
    log("session stopped")

    # workloads may share a corpus directory, so the file is per workload
    walls_path = os.path.join(cdir, f"untraced_walls-{args.workload}.json")
    if results and not trace:
        with open(walls_path, "w") as f:
            json.dump([r["wall_s"] for r in results], f)
    if results:
        with open(os.path.join(out_dir, "outputs.json"), "w") as f:
            json.dump([r["outputs"] for r in results], f, indent=1, sort_keys=True)
    with open(os.path.join(out_dir, "context.json"), "w") as f:
        json.dump(context, f, indent=1)
    log(f"context {json.dumps(context)}")

    if not results:
        metrics = {}
    elif trace:
        untraced = []
        if os.path.exists(walls_path):
            with open(walls_path) as f:
                untraced = json.load(f)
        metrics = layer_metrics(tracer, os.path.join(work, "eventlog"), n, results,
                                timed_from, session, untraced)
        tracer.write(out_dir)
    else:
        walls = [r["wall_s"] for r in results]
        metrics = {
            "wall_s": {"value": statistics.median(walls), "unit": "s"},
            "files_per_s": {"value": statistics.median(
                r["n_inputs"] / r["wall_s"] for r in results), "unit": "1/s"},
            "setup_s": {"value": get_s + warm_s, "unit": "s"},
            "stored_bytes_per_input_byte": {"value": statistics.median(
                r["stored_bytes"] / r["input_bytes"] for r in results), "unit": "ratio"},
        }
        log(f"{len(walls)} iteration(s): wall_s {[round(w, 3) for w in walls]}")
        log("span walls " + json.dumps(
            {sp["name"]: round(sp["end"] - sp["start"], 3)
             for sp in tracer.spans[timed_from:]}))
    shutil.rmtree(work, ignore_errors=True)
    log("done")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
