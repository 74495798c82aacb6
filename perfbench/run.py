"""Benchmark of the Keycloak event store and its analytics engine.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload eventstore_read --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

Workloads (parameters in ``perfbench/spec.json``):

- ``eventstore_read``: paged fluent queries over a dt/hour store, a
  closed loop with one client;
- ``eventstore_ingest``: a streaming drain of Firehose-format files
  into a fresh store, a fixed number of files per trigger;
- ``analytics_headline``: one pass over ``bench.py``'s headline queries.

Each run starts one Spark session on ``local[nproc]``, builds its inputs
from ``--seed``, measures for about ``--seconds``, checks every output,
and prints one line of metrics followed by the result JSON as the last
line. ``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` is a separate run with spans, Spark's event log and (for
ingest) a streaming listener, and reports the per-layer metrics.
Per-request and per-query detail goes to
``.perfbench_work/results/<workload>-seed<N>-trace<T>.json``; spans of a
traced run go next to it as ``.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import core  # noqa: E402
import spans  # noqa: E402

MODULES = {
    "eventstore_read": "wl_read",
    "eventstore_ingest": "wl_ingest",
    "analytics_headline": "wl_headline",
}
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK, "results")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def _instrument(rec) -> list:
    """Wrap the public entry points of each layer the workloads call."""
    from keycloak_event_stream_spark import registry, session
    from keycloak_event_stream_spark.plans import event_query
    from keycloak_event_stream_spark.sources import keycloak

    undo = []
    undo += spans.instrument(session, "session", rec)
    undo += spans.instrument(registry, "registry", rec)
    undo += spans.instrument(keycloak.KeycloakEventStore, "sources.keycloak.KeycloakEventStore", rec)
    for cls in (event_query.EventQueryBuilder, event_query.UserEventQueryBuilder,
                event_query.AdminEventQueryBuilder):
        undo += spans.instrument(cls, f"plans.event_query.{cls.__name__}", rec)
    return undo


def _untraced_baseline(args) -> float:
    """op_geomean_ms of untraced runs of this workload: the median over
    results already in this checkout, else one untraced run now."""
    vals = []
    if os.path.isdir(RESULTS):
        for f in sorted(os.listdir(RESULTS)):
            if f.startswith(f"{args.workload}-") and f.endswith("-trace0.json"):
                with open(os.path.join(RESULTS, f), encoding="utf-8") as fh:
                    vals.append(json.load(fh)["metrics"]["op_geomean_ms"]["value"])
    if vals:
        return statistics.median(vals)
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["op_geomean_ms"]["value"]


def run_one(args, bench: dict, spec: dict) -> dict:
    baseline = _untraced_baseline(args) if args.trace else None

    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _measure(args, bench, spec, work, baseline)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, bench: dict, spec: dict, work: str, baseline: float | None) -> dict:
    from keycloak_event_stream_spark import registry, session

    core.isolate_scratch(work)
    ctx = core.Context(args.seed, float(args.seconds), spec["workloads"][args.workload], work)
    mod = importlib.import_module(MODULES[args.workload])

    rec = spans.Recorder() if args.trace else None
    undo = _instrument(rec) if rec else []
    extra = None
    if rec:
        os.makedirs(ctx.path("eventlog"))
        extra = dict(spans.EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + ctx.path("eventlog")})
    spark = None
    try:
        sw = core.Stopwatch()
        spark = session.get_spark(f"perfbench-{args.workload}", cpus=core.nproc(),
                                  extra_conf=core.session_conf(ctx, extra))
        session_s = sw.s()
        sw = core.Stopwatch()
        registry.collect()
        collect_s = sw.s()
        if rec:
            rec.spark = spark

        res = mod.run(ctx, spark, rec)
        res.setup_parts.update({"session_s": session_s, "registry_collect_s": collect_s})
        res.setup_s = session_s + collect_s + res.setup_parts["inputs_s"]
        pids = [os.getpid(), core.jvm_pid(spark)]
        res.peak_rss_mb = spans.peak_rss_mb(pids)
        env = {"nproc": core.nproc(), "spark": spark.version, "python": sys.version.split()[0]}
    finally:
        _stop(spark)
        spans.restore(undo)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if rec:
        log = spans.parse_event_log(spans.event_log_file(ctx.path("eventlog")))
        metrics = {m["name"]: 0.0 for m in bench["per_layer"]}
        layer = mod.layers(ctx, rec, log, res)
        unknown = set(layer) - set(metrics)
        if unknown:
            raise KeyError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics.update(layer)
        for name in ("session.get_spark", "registry.collect"):  # the set-up call
            first = rec.by_name(name)[0]
            metrics[f"{name}_s"] = first.end - first.start
        metrics["session.peak_rss_mb"] = res.peak_rss_mb
        traced = core.end_to_end(res)["op_geomean_ms"]
        metrics["trace.overhead_frac"] = traced / baseline - 1.0
    else:
        metrics = core.end_to_end(res)
        res.extra["peak_rss_mb"] = (res.peak_rss_mb, "MB")

    _, t_pct, t_n = core.tail(res.ops)
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    os.makedirs(RESULTS, exist_ok=True)
    base = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(base + ".json", "w", encoding="utf-8") as fh:
        json.dump(
            dict(out, workload=args.workload, seed=args.seed, seconds=args.seconds, env=env,
                 failed_frac=res.failed / res.attempted, tail_percentile=t_pct, tail_n=t_n,
                 setup_parts=res.setup_parts, ops_ms=res.ops, failures=res.failures,
                 detail=res.detail, spec=ctx.spec),
            fh, indent=1, default=str,
        )
    if rec:
        rec.dump(base + ".spans.jsonl")

    # one line per run: every metric with its unit, under the workload's
    # own names where it has them; a traced line lists the layers this
    # workload exercises (the JSON below carries all of them)
    alias = ctx.spec.get("names", {})
    shown = {k: v for k, v in metrics.items() if not rec or v}
    line = " ".join(f"{alias.get(k, k)}={_fmt(v)} {units[k]}" for k, v in shown.items())
    line += "".join(f" {k}={_fmt(v)} {u}" for k, (v, u) in res.extra.items())
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: {line}"
        f" failed_frac={_fmt(res.failed / res.attempted)} ({res.failed}/{res.attempted})"
        f" tail=p{t_pct:.1f},n={t_n}"
    )
    return out


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)
    to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_all(args) -> int:
    """Every workload, one process each; their result lines, then a
    summary JSON keyed by workload."""
    summary = {}
    for name in MODULES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-2000:])
            return out.returncode or 1
        print(lines[-2])
        summary[name] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(s["correct"] for s in summary.values()),
        "attempted": sum(s["attempted"] for s in summary.values()),
        "failed": sum(s["failed"] for s in summary.values()),
        "workloads": {k: {m: v["value"] for m, v in s["metrics"].items()} for k, s in summary.items()},
    }))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*MODULES, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        bench = _load_benchmark()
        with open(os.path.join(HERE, "spec.json"), encoding="utf-8") as fh:
            spec = json.load(fh)
        importlib.import_module("keycloak_event_stream_spark.session")
        importlib.import_module("bench")
        importlib.import_module("tools.verify_local")
    except (OSError, ImportError, json.JSONDecodeError) as exc:
        return _fail(f"cannot load the program or the benchmark: {exc}")

    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    out = run_one(args, bench, spec)
    print(json.dumps(out, separators=(",", ":")), flush=True)
    sys.stderr.write(f"perfbench: {args.workload} done in {time.perf_counter() - t0:.1f} s\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
