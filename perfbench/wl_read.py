"""eventstore_read: the reference's read path as a closed loop with one
client.

Setup lands a dt/hour store of seeded user and admin events through
``KeycloakEventStore.ingest``/``ingest_admin``. Each request then opens a
fluent query (``create_query()``/``create_admin_query()``), sets its
filters, and collects one page. Requests cycle through five classes in
a fixed order, so every run sees the same class mix; the seed picks the
users, realms, days and offsets. Every page is checked afterwards
against DuckDB over the same Parquet files, by ids in order.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

import gen
from core import Result, Stopwatch
from wl_ingest import layout_metrics, store_files

CLASSES = ("user_page", "console_page", "deep_page", "admin_audit", "wide_range")
# the spans of one traced request, in order
PHASES = ("sources.keycloak.open", "plans.event_query.build", "plans.event_query.plan",
          "plans.event_query.exec")


def make_requests(seed: int, es: gen.EventSet, shape: gen.Shape, p: dict, n: int) -> list[dict]:
    """``n`` request descriptions, cycling through ``CLASSES``. Time
    bounds fall on whole seconds so both engines see the same bound."""
    rng = np.random.default_rng([seed, 0x52])
    pop = es.population
    start = shape.end_ms - shape.days * gen.DAY_MS
    day_w = np.arange(1, shape.days + 1, dtype=float)  # recent days weigh more
    reqs = []
    for i in range(n):
        cls = CLASSES[i % len(CLASSES)]
        u = int(gen.zipf_ranks(rng, shape.n_users, shape.zipf_s, 1)[0])
        realm = pop.realm_ids[pop.user_realm[u]]
        r: dict = {"cls": cls, "realm": realm, "offset": 0, "limit": p["page"], "asc": False}
        if cls == "user_page":
            r["user"] = pop.user_ids[u]
        elif cls == "console_page":
            d = int(rng.choice(shape.days, p=day_w / day_w.sum()))
            r["types"] = ["LOGIN", "LOGIN_ERROR"]
            r["from"] = start + d * gen.DAY_MS
            r["to"] = r["from"] + gen.DAY_MS - 1000
        elif cls == "deep_page":
            r["offset"] = int(rng.integers(p["deep_offset_min"], p["deep_offset_max"]))
        elif cls == "admin_audit":
            span = p["audit_days"] * gen.DAY_MS
            r["from"] = start + int(rng.integers(0, shape.days - p["audit_days"])) * gen.DAY_MS
            r["to"] = r["from"] + span - 1000
            r["ops"] = ["CREATE", "DELETE"]
            r["resources"] = ["USER", "GROUP"]
            r["asc"] = True
        else:  # wide_range
            days = int(rng.integers(p["wide_days_min"], shape.days + 1))
            r["client"] = pop.user_client[u]
            r["from"] = shape.end_ms - days * gen.DAY_MS
            r["to"] = shape.end_ms - 1000
        reqs.append(r)
    return reqs


def table(r: dict) -> str:
    return "admin" if r["cls"] == "admin_audit" else "user"


def open_query(store, r: dict):
    return store.create_admin_query() if table(r) == "admin" else store.create_query()


def build_query(q, r: dict):
    """Apply a request's filters through the reference's named setters."""
    if table(r) == "admin":
        q.realm(r["realm"]).operation(*r["ops"]).resource_type(*r["resources"])
        q.from_time(r["from"]).to_time(r["to"]).order_by_ascending()
    else:
        q.realm(r["realm"])
        if "user" in r:
            q.user(r["user"])
        if "client" in r:
            q.client(r["client"])
        if "types" in r:
            q.type(*r["types"])
        if "from" in r:
            q.from_date(r["from"]).to_date(r["to"])
    if r["offset"]:
        q.first_result(r["offset"])
    return q.max_results(r["limit"]).to_df()


def oracle_sql(r: dict) -> tuple[str, list]:
    conds, args = ["realmid = ?"], [r["realm"]]
    for col, key in (("userid", "user"), ("clientid", "client")):
        if key in r:
            conds.append(f"{col} = ?")
            args.append(r[key])
    for col, key in (("eventtype", "types"), ("operationtype", "ops"), ("resourcetype", "resources")):
        if key in r:
            conds.append(f"{col} IN ({', '.join('?' for _ in r[key])})")
            args.extend(r[key])
    if "from" in r:
        conds.append("time BETWEEN ? AND ?")
        args.extend([r["from"], r["to"]])
    order = "ASC" if r["asc"] else "DESC"
    sql = (
        f"SELECT id FROM {table(r)}_events WHERE {' AND '.join(conds)}"
        f" ORDER BY time {order}, id {order} LIMIT {r['limit']} OFFSET {r['offset']}"
    )
    return sql, args


def _partition_count(table_dir: str) -> int:
    return len(glob.glob(os.path.join(table_dir, "dt=*", "hour=*")))


def run(ctx, spark, rec) -> Result:
    from keycloak_event_stream_spark.sources import keycloak as kc

    p = ctx.spec
    shape = gen.Shape(n_user=p["n_user"], n_admin=p["n_admin"], days=p["days"],
                      n_users=p["n_users"], zipf_s=p["zipf_s"])
    res = Result()

    sw = Stopwatch()
    es = gen.generate(ctx.seed, shape)
    for kind, lines in (("user", es.user_lines), ("admin", es.admin_lines)):
        gen.write_files(lines, ctx.path("in", kind), 1, kind)
    store = kc.KeycloakEventStore(spark, ctx.path("store"))
    store.ingest(spark.read.schema(kc.RAW_USER_EVENT_SCHEMA).json(ctx.path("in", "user")))
    store.ingest_admin(spark.read.schema(kc.RAW_ADMIN_EVENT_SCHEMA).json(ctx.path("in", "admin")))
    res.setup_parts["inputs_s"] = sw.s()

    reqs = make_requests(ctx.seed, es, shape, p, p["max_requests"])
    partitions = {t: _partition_count(ctx.path("store", f"{t}-events")) for t in ("user", "admin")}

    # warm-up, untimed: the timed loop then sees compiled code paths
    warm = make_requests(ctx.seed + 1_000_003, es, shape, p, p["warmup_requests"])
    for r in warm:
        build_query(open_query(store, r), r).collect()

    pages: list[tuple[dict, list[str]]] = []
    lat: list[float] = []
    t_loop = time.perf_counter()
    for i, r in enumerate(reqs):
        if time.perf_counter() - t_loop >= ctx.seconds:
            break
        t0 = time.perf_counter()
        if rec is None:
            rows = build_query(open_query(store, r), r).collect()
        else:
            rows = _traced_request(rec, store, r, i)
        lat.append((time.perf_counter() - t0) * 1000.0)
        pages.append((r, [row["id"] for row in rows]))
    res.measured_s = time.perf_counter() - t_loop
    res.ops = lat
    res.items = len(lat)
    res.attempted = len(pages)

    _check(ctx, pages, res)

    by_cls: dict[str, list[float]] = {}
    for (r, _), ms in zip(pages, lat):
        by_cls.setdefault(r["cls"], []).append(ms)
    res.detail = {
        "requests": [
            {"cls": r["cls"], "ms": round(ms, 3), "rows": len(ids), "offset": r["offset"]}
            for (r, ids), ms in zip(pages, lat)
        ],
        "class_p50_ms": {c: statistics.median(v) for c, v in by_cls.items()},
        "store_partitions": partitions,
        "events": {"user": shape.n_user, "admin": shape.n_admin},
    }
    input_bytes = sum(os.path.getsize(f) for f in glob.glob(ctx.path("in", "*", "*.json")))
    res.state = {"pages": pages, "partitions": partitions,
                 "layout": layout_metrics(store_files(ctx.path("store")), input_bytes)}
    return res


def _traced_request(rec, store, r: dict, i: int):
    open_, build, plan, exec_ = PHASES
    with rec.span(f"request.{r['cls']}", request=f"r{i}", group=True):
        with rec.span(open_):
            q = open_query(store, r)
        with rec.span(build):
            df = build_query(q, r)
        with rec.span(plan, group=True):
            df._jdf.queryExecution().executedPlan()
        with rec.span(exec_, group=True):
            return df.collect()


def _check(ctx, pages, res: Result) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("user", "admin"):
            files = ctx.path("store", f"{t}-events", "*", "*", "*.parquet")
            con.execute(
                f"CREATE TABLE {t}_events AS SELECT * FROM read_parquet(?, hive_partitioning = false)",
                [files],
            )
        for r, ids in pages:
            sql, args = oracle_sql(r)
            want = [row[0] for row in con.execute(sql, args).fetchall()]
            if ids != want:
                res.failed += 1
                res.failures.append(
                    {"cls": r["cls"], "got": len(ids), "want": len(want),
                     "first_diff": next((k for k, (a, b) in enumerate(zip(ids, want)) if a != b), None)}
                )
    finally:
        con.close()


def layers(ctx, rec, log, res: Result) -> dict[str, float]:
    """Per-layer numbers of the traced run (see spec.json for the map to
    end-to-end metrics)."""
    kids = rec.children()
    roots = [s for s in rec.spans if s.name.startswith("request.")]
    pages = res.state["pages"]
    partitions = res.state["partitions"]
    out: dict[str, float] = {}
    phase: dict[str, list[float]] = {p: [] for p in PHASES}
    files, frac, jobs, tasks = [], [], [], []
    scanned = returned = 0
    for root, (r, ids) in zip(sorted(roots, key=lambda s: s.start), pages):
        sub = rec.descendants(root, kids)
        for s in sub:
            if s.name in phase:
                phase[s.name].append((s.end - s.start) * 1000.0)
        groups = {root.id} | {s.id for s in sub}
        js = log.jobs_of(groups)
        execs = {j.execution for j in js if j.execution is not None}
        t = log.totals(js)
        jobs.append(len(js))
        tasks.append(t.tasks)
        scanned += t.input_records
        returned += len(ids)
        files.append(log.driver_metric(execs, "number of files read"))
        frac.append(
            log.driver_metric(execs, "number of partitions read")
            / partitions[table(r)]
        )
    for name, v in phase.items():
        out[f"{name}_ms"] = statistics.median(v)
    out["plans.event_query.files_read"] = statistics.fmean(files)
    out["plans.event_query.partitions_read_frac"] = statistics.fmean(frac)
    out["plans.event_query.rows_scanned_per_row_returned"] = scanned / max(returned, 1)
    out["plans.event_query.jobs_per_request"] = statistics.fmean(jobs)
    out["plans.event_query.tasks_per_request"] = statistics.fmean(tasks)
    for c, v in res.detail["class_p50_ms"].items():
        out[f"plans.event_query.{c}_p50_ms"] = v
    out.update(res.state["layout"])
    return out
