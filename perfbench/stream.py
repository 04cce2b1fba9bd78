"""The ``k8s_event_stream`` workload: the paper's pipeline, informer to sink.

``run_pipeline(source_format="informer")`` runs with the default trigger.
Its sink is ``sink_foreach_batch`` feeding ``S3Sink`` with an uploader
that writes each object to local disk, batch size 10 000: one gzipped
NDJSON object per flush, the reference's deployed contract.

Phase 1 (LIST): the spool holds a backlog of BACKLOG events at start;
``cold_pass_s`` is the time from starting the query until the uploader
returns for the object holding the last backlog event.

Phase 2 (WATCH): ``k8sgen.py watch`` appends RATE events per second in
ticks of TICK_S, open loop.  An event's latency runs from its tick's due
time until the uploader returns for the object that contains it.
``suite_s`` is the median trigger time of the WATCH triggers.

The rate sits above the reference's ~333 events/s design point and
below the rate at which this pipeline drains a backlog, so the backlog
stays bounded and latency measures the pipeline, not a growing queue.

After the query stops, every object is gunzipped and compared with the
batch form, ``transform_events(..., streaming_dedup=False)`` over the
same generated events: each expected event must appear exactly once and
unchanged.
"""

from __future__ import annotations

import ast
import contextlib
import gzip
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from datetime import datetime, timezone

from perfbench import collect, inputs
from perfbench.spans import Tracer, cost_s, patch

BACKLOG = 10_000
RATE = 500.0
TICK_S = 0.1
BATCH_SIZE = 10_000
POLL_S = 0.05
DRAIN_TIMEOUT_S = 60.0
#: ``durationMs`` phases of one micro-batch, in the order they run.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def _wait(q, rows: int, what: str) -> None:
    """Poll until the query's source has offered ``rows`` events."""
    end = time.time() + DRAIN_TIMEOUT_S
    while _delivered(q) < rows:
        if not q.isActive:
            raise RuntimeError(f"query stopped during {what}: {q.exception()}")
        if time.time() > end:
            raise RuntimeError(f"timed out after {DRAIN_TIMEOUT_S:.0f} s "
                               f"waiting for {what}")
        time.sleep(POLL_S)


def _offset(src: dict, key: str):
    """A progress source offset; the Python source reports it as the
    repr of its offset dict."""
    off = src.get(key)
    return ast.literal_eval(off) if isinstance(off, str) else off


def _epoch(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def _delivered(q) -> int:
    p = q.lastProgress
    if not p or not p.get("sources"):
        return 0
    return collect.offset_rows(_offset(p["sources"][0], "endOffset"))


def _norm(rec: dict) -> str:
    return json.dumps(rec, sort_keys=True, separators=(",", ":"), default=str)


def _read_objects(out_dir: str, uploads: list) -> tuple[dict, list, int]:
    """id -> upload return time, every normalized output row, raw bytes."""
    seen, rows, raw = {}, [], 0
    for key, t_ret in uploads:
        with open(os.path.join(out_dir, key), "rb") as f:
            data = gzip.decompress(f.read())
        raw += len(data)
        for line in data.splitlines():
            rec = json.loads(line)
            seen.setdefault(rec["id"], t_ret)
            rows.append((rec["id"], _norm(rec)))
    return seen, rows, raw


def run(ctx) -> None:
    watch_n = int(RATE * ctx.seconds)
    src = inputs.k8s_inputs(ctx.seed, BACKLOG, watch_n)
    spool, ckpt, out = (os.path.join(ctx.workdir, d)
                        for d in ("spool", "ckpt", "out"))
    shutil.copytree(os.path.join(src, "backlog"), spool)
    os.makedirs(out)

    spark, _ = ctx.setup(load_registry=False)
    from k8stream_spark.io import sinks
    from k8stream_spark.schemas import K8S_EVENT_SCHEMA, K8S_NODE_SCHEMA, K8S_OBJECT_SCHEMA
    from k8stream_spark.streaming import pipeline

    objects = spark.read.schema(K8S_OBJECT_SCHEMA).json(
        os.path.join(src, "objects.jsonl"))
    nodes = spark.read.schema(K8S_NODE_SCHEMA).json(
        os.path.join(src, "nodes.jsonl"))

    uploads: list[tuple[str, float]] = []
    gz_bytes = [0]

    def upload(bucket: str, key: str, payload: bytes) -> None:
        path = os.path.join(out, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(payload)
        gz_bytes[0] += len(payload)
        uploads.append((key, time.time()))

    tracer = Tracer(clock=time.time) if ctx.trace else None
    stages = collect.StageCollector(spark) if ctx.trace else None
    targets = []
    if tracer is not None:
        upload = tracer.wrap("io.sinks.upload", upload)
        targets = [
            (pipeline, "ndjson_bytes", "io.ndjson.serialize"),
            (sinks, "gzip_bytes", "io.ndjson.gzip"),
            (sinks.S3Sink, "flush", "io.sinks.flush"),
        ]
    jobs_before = stages.job_ids() if stages else set()
    sink_fn = pipeline.sink_foreach_batch(
        sinks.S3Sink("perfbench", "k8s", uploader=upload), "perfbench",
        batch_size=BATCH_SIZE)

    report = os.path.join(ctx.workdir, "watch-report.json")
    with patch(tracer, targets) if tracer else contextlib.nullcontext():
        t_start = time.time()
        q = pipeline.run_pipeline(
            spark, spool, objects, nodes, sink_fn, ckpt,
            source_format="informer")
        try:
            _wait(q, BACKLOG, "LIST sync")
            start = time.time() + 0.2
            gen = subprocess.Popen(
                [sys.executable, os.path.join(inputs.HERE, "k8sgen.py"), "watch",
                 "--events", os.path.join(src, "watch.jsonl"), "--spool", spool,
                 "--rate", str(RATE), "--tick-s", str(TICK_S),
                 "--start", str(start), "--report", report])
            try:
                gen.wait(timeout=ctx.seconds + DRAIN_TIMEOUT_S)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if gen.returncode != 0:
                raise RuntimeError(f"watch generator exited {gen.returncode}")
            _wait(q, BACKLOG + watch_n, "WATCH drain")
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        finally:
            q.stop()
    ctx.peak_rss()
    with open(report) as f:
        rep = json.load(f)

    # --- correctness: every expected event exactly once, unchanged ------
    first_seen, rows, raw_bytes = _read_objects(out, uploads)
    events = spark.read.schema(K8S_EVENT_SCHEMA).json(
        [os.path.join(src, "backlog"), os.path.join(src, "watch.jsonl")])
    want = {r["id"]: _norm(r.asDict(recursive=True)) for r in
            pipeline.transform_events(events, objects, nodes,
                                      streaming_dedup=False).collect()}
    got = defaultdict(list)
    for i, v in rows:
        got[i].append(v)
    missing = sum(1 for i in want if i not in got)
    duplicated = sum(1 for i in want if len(got.get(i, ())) > 1)
    wrong = sum(1 for i, v in want.items() if got.get(i, [v])[0] != v)
    unexpected = sum(1 for i in got if i not in want)
    ctx.attempted += len(want)
    ctx.failed += sum(1 for i, v in want.items() if got.get(i) != [v]) + unexpected
    if missing or duplicated or wrong or unexpected:
        print(f"MISMATCH stream: of {len(want)} expected events {missing} missing, "
              f"{duplicated} duplicated, {wrong} wrong; {unexpected} unexpected",
              file=sys.stderr)

    # --- end-to-end ------------------------------------------------------
    backlog_ids: set[str] = set()
    for name in os.listdir(os.path.join(src, "backlog")):
        with open(os.path.join(src, "backlog", name)) as f:
            backlog_ids.update(json.loads(line)["uid"] for line in f)
    due = {}  # first WATCH delivery of each uid the backlog did not hold
    with open(os.path.join(src, "watch.jsonl")) as f:
        for idx, line in enumerate(f):
            uid = json.loads(line)["uid"]
            if uid not in backlog_ids and uid not in due:
                due[uid] = rep["ticks"][idx // rep["per_tick"]]["due"]
    lat_ms = [(first_seen[i] - d) * 1000.0 for i, d in due.items()
              if i in first_seen]
    list_s = max(first_seen[i] for i in backlog_ids if i in first_seen) - t_start
    watch = [p for p in progress if p["batchId"] > 0]
    late_ms = [(t["written"] - t["due"]) * 1000.0 for t in rep["ticks"]]
    ctx.e2e("cold_pass_s", list_s, "s")
    ctx.e2e("suite_s", statistics.median(
        p["durationMs"]["triggerExecution"] for p in watch) / 1000.0, "s")
    ctx.e2e("latency_p50_ms", collect.percentile(lat_ms, 50), "ms")
    ctx.e2e("latency_p90_ms", collect.percentile(lat_ms, 90), "ms")
    ctx.note(f"LIST: {BACKLOG} backlog events, list_sync_events_per_s "
             f"{BACKLOG / list_s:.1f}")
    ctx.note(f"WATCH: {watch_n} events at {RATE:.0f}/s, {len(watch)} triggers, "
             f"{len(lat_ms)} latency samples, event latency p99 "
             f"{collect.percentile(lat_ms, 99):.1f} ms; generator late p99 "
             f"{collect.percentile(late_ms, 99):.1f} ms, max {max(late_ms):.1f} ms")
    ctx.detail["progress"] = progress

    if tracer is None:
        return
    # --- per layer (traced run) -----------------------------------------
    gen_at = []  # (written time, events generated by then)
    n = BACKLOG
    for t in rep["ticks"]:
        n += t["n"]
        gen_at.append((t["written"], n))

    def generated(ts: float) -> int:
        return max([BACKLOG] + [c for w, c in gen_at if w <= ts])

    # Sink calls are recorded as root spans; each belongs to the addBatch
    # phase of the trigger whose interval holds it.
    sink_roots = [sp for sp in tracer.spans if sp["parent"] is None]
    per_trigger = []
    for p in progress:
        t0 = _epoch(p["timestamp"])
        dur = p["durationMs"]
        t1 = t0 + dur.get("triggerExecution", 0) / 1000.0
        trig = tracer.add("streaming.trigger", t0, t1, batch=p["batchId"])
        at, add_sid = t0, None
        for phase in PHASES:
            d = dur.get(phase, 0) / 1000.0
            sid = tracer.add(f"streaming.{phase}", at, at + d, parent=trig)
            add_sid = sid if phase == "addBatch" else add_sid
            at += d
        sink_ms = 0.0
        for sp in sink_roots:
            if sp["start"] >= t0 and sp["end"] <= t1:
                sp["parent"] = add_sid
                sink_ms += (sp["end"] - sp["start"]) * 1000.0
        per_trigger.append({
            "batch": p["batchId"],
            "sink_collect_ms": dur.get("addBatch", 0) - sink_ms,
            "lag": generated(t0) - collect.offset_rows(
                _offset(p["sources"][0], "startOffset")),
        })
    live = [t for t in per_trigger if t["batch"] > 0]
    med = collect.progress_medians(watch)
    totals = tracer.totals()
    states = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    run_roll = stages.rollup_since(jobs_before)
    in_rows = sum(p["numInputRows"] for p in progress)

    def tot_ms(name: str) -> float:
        return totals.get(name, {"dur": 0.0})["dur"] * 1000.0

    lay = ctx.layer
    lay("sources.informer.latest_offset_ms", med["latest_offset_ms"], "ms")
    lay("sources.informer.get_batch_ms", med["get_batch_ms"], "ms")
    lay("sources.informer.input_rows", in_rows, "count")
    lay("sources.informer.lag_events_max", max(t["lag"] for t in live), "count")
    lay("streaming.pipeline.triggers", len(progress), "count")
    for k in ("trigger_ms", "query_planning_ms", "add_batch_ms",
              "wal_commit_ms", "commit_offsets_ms"):
        lay(f"streaming.pipeline.{k}", med[k], "ms")
    lay("streaming.pipeline.executor_run_ms", run_roll["executor_run_ms"], "ms")
    lay("streaming.pipeline.jvm_gc_ms", run_roll["jvm_gc_ms"], "ms")
    lay("streaming.pipeline.sink_collect_ms",
        statistics.median(t["sink_collect_ms"] for t in live), "ms")
    lay("streaming.pipeline.keep_ratio", len(rows) / in_rows, "ratio")
    lay("ops.dedup.state_rows_total", states[-1]["numRowsTotal"], "count")
    lay("ops.dedup.state_memory_bytes",
        max(s["memoryUsedBytes"] for s in states), "bytes")
    lay("ops.dedup.state_update_ms", statistics.median(
        p["stateOperators"][0]["allUpdatesTimeMs"] for p in watch), "ms")
    lay("ops.dedup.watermark_dropped_rows",
        sum(s.get("numRowsDroppedByWatermark", 0) for s in states), "count")
    lay("io.sinks.flush_calls", totals.get("io.sinks.flush", {"calls": 0})["calls"],
        "count")
    lay("io.sinks.flush_ms", tot_ms("io.sinks.flush"), "ms")
    lay("io.sinks.flush_bytes", gz_bytes[0], "bytes")
    lay("io.ndjson.serialize_ms", tot_ms("io.ndjson.serialize"), "ms")
    lay("io.ndjson.gzip_ms", tot_ms("io.ndjson.gzip"), "ms")
    lay("io.ndjson.gzip_ratio", raw_bytes / gz_bytes[0], "ratio")
    lay("k8sgen.late_ms_max", max(late_ms), "ms")
    wrapped_calls = sum(a["calls"] for name, a in totals.items()
                        if name.startswith("io."))
    trig_ms = sum(p["durationMs"]["triggerExecution"] for p in progress)
    lay("trace.overhead_ratio", wrapped_calls * cost_s() * 1000.0 / trig_ms, "ratio")
    lay("trace.accounted_ratio", sum(
        p["durationMs"].get(ph, 0) for p in progress for ph in PHASES) / trig_ms,
        "ratio")
    ctx.tracer = tracer

