"""eventstore_ingest: the reference's write path as a drain.

Setup stages seeded user and admin events in Firehose wire format (one
JSON object per line, arrival order, a fixed late share and a few poison
lines) as files. Two streaming queries, one per delivery stream as in
the reference, drain them in turn through ``ingest_stream_json`` into a
fresh dt/hour store with a checkpoint, a fixed number of files per
trigger. Afterwards the landed ids must equal the valid generated ids
with no duplicates, and the quarantine must hold one row per poison
line.
"""

from __future__ import annotations

import collections
import glob
import os
import statistics
import time

import gen
from core import Result, Stopwatch

STREAMS = ("user", "admin")


def _stage(ctx, p: dict, shape: gen.Shape, dest: str) -> gen.EventSet:
    es = gen.generate(ctx.seed, shape)
    for kind, lines in (("user", es.user_lines), ("admin", es.admin_lines)):
        gen.write_files(lines, os.path.join(dest, kind), p[f"{kind}_files"], kind)
    return es


def _drain(spark, store, src_dir: str, ck_dir: str, files_per_trigger: int):
    """Drain the user stream, then the admin stream. One after the other:
    two ingest_stream_json queries running at once on one store both
    commit their quarantine writes into ``errors/``, and one of them fails
    with FileNotFoundException on ``errors/_temporary/0``."""
    queries = []
    for kind in STREAMS:
        stream = spark.readStream.option("maxFilesPerTrigger", files_per_trigger).text(
            os.path.join(src_dir, kind)
        )
        q = store.ingest_stream_json(stream, os.path.join(ck_dir, kind), admin=kind == "admin")
        q.awaitTermination()
        queries.append(q)
    return queries


def _progress_listener(events: list):
    """A StreamingQueryListener that appends every progress event to
    ``events`` (the traced run's listener)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({"id": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                           "durationMs": dict(p.durationMs)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def run(ctx, spark, rec) -> Result:
    from keycloak_event_stream_spark.sources import keycloak as kc

    p = ctx.spec
    shape = gen.Shape(n_user=p["n_user"], n_admin=p["n_admin"], days=p["days"],
                      n_users=p["n_users"], zipf_s=p["zipf_s"], late_share=p["late_share"],
                      max_late_h=p["max_late_h"], poison_share=p["poison_share"])
    res = Result()

    # set-up (generate and stage) is repeated; its median is the figure
    times, es = [], None
    for k in range(p["setup_repeats"]):
        sw = Stopwatch()
        es = _stage(ctx, p, shape, ctx.path(f"in{k}"))
        times.append(sw.s())
    res.setup_parts["inputs_s"] = statistics.median(times)
    src = ctx.path(f"in{p['setup_repeats'] - 1}")

    # warm-up: one small trigger of the user stream into a separate
    # store, untimed; the first trigger of a fresh JVM compiles the
    # parse/write path
    wes = gen.generate(ctx.seed + 1_000_003, gen.Shape(n_user=p["warmup_events"], n_admin=0,
                                                       days=1, poison_share=p["poison_share"]))
    gen.write_files(wes.user_lines, ctx.path("warm-in", "user"), 1, "user")
    warm = spark.readStream.text(ctx.path("warm-in", "user"))
    kc.KeycloakEventStore(spark, ctx.path("warm-store")).ingest_stream_json(
        warm, ctx.path("warm-ck")).awaitTermination()

    events: list[dict] = []
    listener = _progress_listener(events) if rec is not None else None
    if listener is not None:
        spark.streams.addListener(listener)
    store = kc.KeycloakEventStore(spark, ctx.path("store"))
    t0 = time.perf_counter()
    if rec is None:
        queries = _drain(spark, store, src, ctx.path("ck"), p["files_per_trigger"])
    else:
        with rec.span("sources.keycloak.drain", group=True):
            queries = _drain(spark, store, src, ctx.path("ck"), p["files_per_trigger"])
    res.measured_s = time.perf_counter() - t0
    if listener is not None:
        spark.streams.removeListener(listener)

    progress = [pr for q in queries for pr in q.recentProgress if pr["numInputRows"] > 0]
    res.ops = [float(pr["durationMs"]["triggerExecution"]) for pr in progress]
    n_lines = len(es.user_lines) + len(es.admin_lines)
    res.items = n_lines
    res.attempted = n_lines
    input_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(src, "*", "*.json")))

    _check(ctx, es, res)
    layout = layout_metrics(store_files(ctx.path("store")), input_bytes)
    res.extra["store_bytes_per_input_byte"] = (
        layout["sources.keycloak.store_bytes_per_input_byte"], "ratio")

    res.detail = {
        "triggers": [
            {"query": str(pr["name"] or pr["id"]), "batch": pr["batchId"],
             "rows": pr["numInputRows"], "durationMs": pr["durationMs"]}
            for pr in progress
        ],
        "input_lines": n_lines,
        "poison_lines": es.n_poison,
        "input_bytes": input_bytes,
    }
    res.state.update({
        "listener": events,
        "input_bytes": input_bytes,
        "query_ids": {str(q.id) for q in queries},
        "layout": layout,
    })
    return res


def _landed_ids(table_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    ids: list[str] = []
    for f in glob.glob(os.path.join(table_dir, "dt=*", "hour=*", "*.parquet")):
        ids.extend(pq.read_table(f, columns=["id"]).column("id").to_pylist())
    return ids


def _quarantined_rows(root: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(root, "errors", "**", "*.json"), recursive=True):
        with open(f, encoding="utf-8") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def _check(ctx, es: gen.EventSet, res: Result) -> None:
    for kind, events in (("user", es.user), ("admin", es.admin)):
        got = _landed_ids(ctx.path("store", f"{kind}-events"))
        counts = collections.Counter(got)
        want = {e["id"] for e in events}
        dup = sum(c - 1 for c in counts.values() if c > 1)
        missing = len(want - counts.keys())
        extra = len(counts.keys() - want)
        if dup or missing or extra:
            res.failed += dup + missing + extra
            res.failures.append({"stream": kind, "duplicates": dup, "missing": missing,
                                 "extra": extra})
    q = _quarantined_rows(ctx.path("store"))
    if q != es.n_poison:
        res.failed += abs(q - es.n_poison)
        res.failures.append({"quarantined": q, "poison_lines": es.n_poison})
    res.state["quarantined"] = q


def store_files(root: str) -> list[str]:
    return [
        f
        for kind in STREAMS
        for f in glob.glob(os.path.join(root, f"{kind}-events", "dt=*", "hour=*", "*.parquet"))
    ]


def layout_metrics(files: list[str], input_bytes: int) -> dict[str, float]:
    """Files, directories and bytes per write of a store. A write job
    names its files part-NNNNN-<job uuid>-c000..., so the files that
    share a uuid came from one write (one micro-batch, or one batch
    ingest call)."""
    size = sum(os.path.getsize(f) for f in files)
    dirs = {(os.path.dirname(f), os.path.basename(f)[11:47]) for f in files}
    writes = max(len({w for _, w in dirs}), 1)
    return {
        "sources.keycloak.files_written_per_batch": len(files) / writes,
        "sources.keycloak.avg_file_kb": size / 1024.0 / max(len(files), 1),
        "sources.keycloak.partition_dirs_per_batch": len(dirs) / writes,
        "sources.keycloak.store_bytes_per_input_byte": size / input_bytes,
    }


def layers(ctx, rec, log, res: Result) -> dict[str, float]:
    st = res.state
    # the listener's progress events of the measured drain's batches
    progress = [e for e in st["listener"] if e["id"] in st["query_ids"] and e["rows"] > 0]
    batches = len(progress)
    dur = {k: [float(pr["durationMs"].get(k, 0)) for pr in progress]
           for k in ("addBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")}

    # jobs of each micro-batch carry the query id and batch id
    per_batch: dict[tuple, list] = collections.defaultdict(list)
    for j in log.jobs:
        if j.query in st["query_ids"] and j.batch is not None:
            per_batch[(j.query, j.batch)].append(j)
    batch_jobs = [j for js in per_batch.values() for j in js]
    t = log.totals(batch_jobs)

    out = {
        "sources.keycloak.add_batch_ms": statistics.median(dur["addBatch"]),
        "sources.keycloak.jobs_per_batch": len(batch_jobs) / batches,
        "sources.keycloak.input_read_amplification": t.input_bytes / st["input_bytes"],
        "sources.keycloak.shuffle_write_mb_per_batch": t.shuffle_write_bytes / 1e6 / batches,
        "sources.keycloak.latest_offset_ms": statistics.median(dur["latestOffset"]),
        "sources.keycloak.query_planning_ms": statistics.median(dur["queryPlanning"]),
        "sources.keycloak.wal_commit_ms": statistics.median(dur["walCommit"]),
        "sources.keycloak.commit_offsets_ms": statistics.median(dur["commitOffsets"]),
        "sources.keycloak.quarantined_rows": float(st["quarantined"]),
    }
    out.update(st["layout"])
    return out
