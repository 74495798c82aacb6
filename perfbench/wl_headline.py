"""analytics_headline: the engine's analytics surface.

The queries come from ``bench.py``'s ``HEADLINE`` list: the first query
of each registry module that list draws on, in ``HEADLINE`` order, so
every module behind the headline (operators, llm, functions and
plans.event_query) is timed while one pass fits the run. The data is a
committed copy of the sf0.01 fixture, read in place: ``--seed`` does not
change it (a seeded row order changed several queries' cost by up to a
third, which is input variance, not the program's).

A check pass runs first: every query is collected and compared with its
registry DuckDB oracle using ``tools/verify_local.py``'s comparison. It
also compiles each query's code paths, so the timed passes that follow
measure, like ``bench.py``'s later passes, compiled code on cold caches:
each query once per pass in a fixed order, ``clearCache()`` before each,
a noop sink, and each query's fastest pass is its time.
"""

from __future__ import annotations

import collections
import glob
import os
import time

from core import HERE, Result

DATA = os.path.join(HERE, "data", "sf0.01")


def layer_of(fn) -> str:
    """``operators``, ``llm``, ``functions`` or ``plans.event_query``."""
    mod = fn.__module__.split("keycloak_event_stream_spark.", 1)[1]
    return "plans.event_query" if mod.startswith("plans.") else mod.split(".", 1)[0]


def select(headline: list[str], queries: dict) -> list[str]:
    seen, out = set(), []
    for name in headline:
        mod = queries[name].__module__
        if mod not in seen:
            seen.add(mod)
            out.append(name)
    return out


def run(ctx, spark, rec) -> Result:
    from bench import HEADLINE
    from keycloak_event_stream_spark import registry

    res = Result()
    queries, oracle = registry.collect()
    names = select(HEADLINE, queries)

    # the input is the committed fixture itself, the same for every seed
    sf = DATA
    res.setup_parts["inputs_s"] = 0.0

    # check pass: every result against its oracle. It is also the
    # warm-up: the timed pass then measures compiled code on cold caches
    con = _oracle(sf)
    try:
        for name in names:
            spark.catalog.clearCache()
            df = queries[name](spark, sf)
            rows = [tuple(r) for r in df.collect()]
            _check(con, oracle[name], name, df.columns, rows, res)
    finally:
        con.close()
    spark.catalog.clearCache()

    # timed passes; each query keeps its fastest pass, which drops the
    # pauses (collections, background compilation) that hit one pass
    passes = ctx.spec["timed_passes"]
    per: dict[str, list[float]] = {n: [] for n in names}
    pins: dict[str, int] = {}
    for k in range(passes):
        for i, name in enumerate(names):
            spark.catalog.clearCache()
            fn = queries[name]
            t0 = time.perf_counter()
            if rec is None:
                fn(spark, sf).write.format("noop").mode("overwrite").save()
            else:
                _traced_query(rec, spark, fn, name, sf, f"p{k}q{i}")
            per[name].append(time.perf_counter() - t0)
            pins[name] = spark.sparkContext._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    best = {n: min(v) for n, v in per.items()}
    res.measured_s = sum(best.values())

    res.ops = [v * 1000.0 for v in best.values()]
    res.items = len(best)
    res.detail = {
        "queries": {n: {"s": [round(x, 4) for x in per[n]], "layer": layer_of(queries[n]),
                        "pins_left": pins[n]} for n in names},
    }
    res.extra["headline_total_s"] = (res.measured_s, "s")
    # the traced run's layer numbers come from its last pass
    res.state = {"layer": {n: layer_of(queries[n]) for n in names}, "pins": pins,
                 "pass": f"p{passes - 1}"}
    return res


def _traced_query(rec, spark, fn, name: str, sf: str, request: str) -> None:
    """Build, plan and execute one query under spans. Execution is the
    same noop write as in the untraced run, so it includes the writer's
    own planning; the plan span is an extra planning of the query alone."""
    layer = layer_of(fn)
    with rec.span(f"query.{name}", request=request, group=True):
        with rec.span(f"{layer}.build", group=True):
            df = fn(spark, sf)
        with rec.span(f"{layer}.plan", group=True):
            df._jdf.queryExecution().executedPlan()
        with rec.span(f"{layer}.exec", group=True):
            df.write.format("noop").mode("overwrite").save()


def _oracle(sf: str):
    """A DuckDB connection with one view per staged table."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        t = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    return con


def _check(con, sql: str, name: str, cols, got, res: Result) -> None:
    from tools.verify_local import _rows_to_sorted

    res.attempted += 1
    cur = con.execute(sql)
    dcols = [d[0] for d in cur.description]
    want = cur.fetchall()
    if sorted(cols) != sorted(dcols) or _rows_to_sorted(got, cols) != _rows_to_sorted(want, dcols):
        res.failed += 1
        res.failures.append({"query": name, "rows": len(got), "oracle_rows": len(want)})


def layers(ctx, rec, log, res: Result) -> dict[str, float]:
    st = res.state
    kids = rec.children()
    out: dict[str, float] = {}
    acc: dict[str, dict[str, float]] = {}
    for root in rec.spans:
        if not root.name.startswith("query.") or not root.request.startswith(st["pass"] + "q"):
            continue
        name = root.name[len("query."):]
        layer = st["layer"][name]
        a = acc.setdefault(layer, collections.defaultdict(float))
        sub = rec.descendants(root, kids)
        for s in sub:
            phase = s.name.rsplit(".", 1)[-1]
            if s.name == f"{layer}.{phase}" and phase in ("build", "plan", "exec"):
                a[f"{phase}_s"] += s.end - s.start
                if phase == "build":
                    a["build_jobs"] += len(log.jobs_of({s.id}))
        js = log.jobs_of({root.id} | {s.id for s in sub})
        t = log.totals(js)
        a["executor_run_s"] += t.run_ms / 1000.0
        a["executor_cpu_s"] += t.cpu_ns / 1e9
        a["gc_s"] += t.gc_ms / 1000.0
        a["stages"] += log.stage_count(js)
        a["tasks"] += t.tasks
        a["shuffle_read_mb"] += t.shuffle_read_bytes / 1e6
        a["shuffle_write_mb"] += t.shuffle_write_bytes / 1e6
        a["spill_mb"] += t.spill_bytes / 1e6
        a["pins_left"] += st["pins"][name]
        a["python_worker_s"] += t.python_ms / 1000.0
        a["n"] += 1
        a["jobs"] += len(js)
    for layer, a in acc.items():
        if layer == "plans.event_query":
            out["plans.event_query.build_ms"] = a["build_s"] * 1000.0 / a["n"]
            out["plans.event_query.plan_ms"] = a["plan_s"] * 1000.0 / a["n"]
            out["plans.event_query.exec_ms"] = a["exec_s"] * 1000.0 / a["n"]
            out["plans.event_query.jobs_per_request"] = a["jobs"] / a["n"]
            out["plans.event_query.tasks_per_request"] = a["tasks"] / a["n"]
            continue
        for k in ("build_s", "build_jobs", "plan_s", "exec_s", "executor_run_s",
                  "executor_cpu_s", "gc_s", "stages", "tasks", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "pins_left"):
            out[f"{layer}.{k}"] = float(a[k])
        if layer == "functions":
            out["functions.python_worker_s"] = a["python_worker_s"]
    return out

