"""The ``batch_queries`` workload: registered queries, closed loop, one at
a time.

A pass runs every query once: ``queries()[name]`` builds the frame (eager
driver loops run here), then the frame is materialized.  The first pass
in the fresh session is the cold pass, what a one-shot spark-submit user
pays: it collects every result to pandas and compares it with the DuckDB
expected result (``scripts/check_oracle.py``'s ``compare``, time spent
comparing excluded).  Warm passes follow, materializing with a noop
write: at least three, more while the run's seconds last.  No warm-up
pass is thrown away: JIT compilation still settles in the first warm
pass (it runs ~15% slower than the next ones), and the median of three
passes absorbs it, where a warm-up pass would cost a tenth of the run.
No pass clears caches or forces a GC, because a user's session does
neither.

Traced runs tag each query with its own job group and read its stages
from the status store after it returns.  Their warm passes are a fixed
TRACED_PAIRS pairs of one untraced then one traced pass, whatever the
run's seconds, so the trace's overhead is measured on the same run and
per-layer numbers are medians over TRACED_PAIRS traced passes.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import statistics
import sys
import time

from perfbench import collect, inputs
from perfbench.spans import Tracer

#: The workload's queries, each in the layer (module) of the operator it
#: calls: OLAP ones first (plan-, shuffle- and join-bound), then the LLM
#: dedup ones (driver loops, localCheckpoint, Arrow UDFs).  MinHash LSH
#: runs inside docs_dedup_clusters, so it has no query of its own here.
QUERIES = {
    "q1_pricing_summary": "analytics.tpch",
    "window_top_orders_per_customer": "analytics.tpch",
    "events_funnel": "analytics.events",
    "events_asof_last_purchase": "analytics.asof",
    "d1_dedup_first_seen": "ops",
    "j1_enrich_involved_object": "ops",
    "docs_dedup_clusters": "analytics.dedup",
    "emb_cosine_near_dup_lsh": "analytics.similarity",
    "text_bpe_merge_pairs": "analytics.text",
}
LAYERS = (
    "ops",
    "analytics.tpch",
    "analytics.events",
    "analytics.asof",
    "analytics.dedup",
    "analytics.similarity",
    "analytics.text",
)
#: Per-layer metrics and their units, reported for every layer above.
LAYER_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "stages": "count",
    "executor_run_ms": "ms",
    "jvm_gc_ms": "ms",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "peak_exec_mem_bytes": "bytes",
    "busy_ratio": "ratio",
    "cached_blocks_after": "count",
}
MIN_MEASURED_PASSES = 3
#: Untraced/traced warm-pass pairs in a traced run.
TRACED_PAIRS = 3


class Runner:
    def __init__(self, spark, registry, sf_dir, queries, traced):
        self.spark = spark
        self.registry = registry
        self.sf_dir = sf_dir
        self.queries = queries
        self.cores = int(spark.sparkContext.defaultParallelism)
        self.tracer = Tracer() if traced else None
        self.stages = collect.StageCollector(spark) if traced else None
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.check_oracle = _check_oracle()

    def one(self, name: str, tag: str, expected_dir=None) -> dict | None:
        """Build and materialize one query; None if it raised.  With
        ``expected_dir`` it is collected and compared, not noop-written."""
        self.attempted += 1
        rec = {"query": name, "layer": self.queries[name]}
        tracer = self.tracer
        span = tracer.span if tracer else _no_span
        try:
            if tracer:
                self.stages.tag(tag)
                before = self.stages.cached_blocks()
            with span(name, layer=rec["layer"]):
                with span("build"):
                    t0 = time.perf_counter()
                    df = self.registry[name](self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                with span("exec"):
                    got = self.materialize(df, expected_dir)
                    t2 = time.perf_counter()
            if tracer:
                with span("trace.collect") as c:
                    rec.update(self.stages.rollup(tag))
                    rec["cached_blocks_after"] = (
                        self.stages.cached_blocks() - before
                    )
                rec["collect_s"] = c["end"] - c["start"]
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            self.failed += 1
            print(f"FAILED {name}: {type(e).__name__}: {str(e)[:300]}",
                  file=sys.stderr)
            return None
        rec["build_s"] = t1 - t0
        rec["exec_s"] = t2 - t1
        if expected_dir is not None:
            tc = time.perf_counter()
            verdict = self.compare(name, got, expected_dir)
            rec["check_s"] = time.perf_counter() - tc
            if verdict != "OK":
                self.failed += 1
                self.mismatches.append(f"{name}: {verdict}")
                print(f"MISMATCH {name}: {verdict}", file=sys.stderr)
        return rec

    @staticmethod
    def materialize(df, expected_dir):
        if expected_dir is None:
            df.write.format("noop").mode("overwrite").save()
            return None
        return df.toPandas()

    def compare(self, name: str, got, expected_dir: str) -> str:
        import pandas as pd

        want = pd.read_parquet(os.path.join(expected_dir, f"{name}.parquet"))
        try:
            return self.check_oracle.compare(name, got, want)
        except Exception as e:  # noqa: BLE001 - a broken comparison fails
            return f"ERROR {type(e).__name__}: {str(e)[:300]}"

    def run_pass(self, label: str, traced: bool, expected_dir=None) -> dict:
        tracer, self.tracer = self.tracer, (self.tracer if traced else None)
        try:
            t0 = time.perf_counter()
            recs = [r for n in self.queries
                    if (r := self.one(n, f"{label}:{n}", expected_dir))
                    is not None]
            # the comparison with the expected result is not the system's
            wall = time.perf_counter() - t0 - sum(
                r.get("check_s", 0.0) for r in recs)
        finally:
            self.tracer = tracer
        return {"label": label, "traced": traced, "wall_s": wall,
                "queries": recs}


def _no_span(*_args, **_attrs):
    return contextlib.nullcontext()


def _check_oracle():
    path = os.path.join("scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def layer_metrics(passes: list[dict], cores: int) -> dict:
    """Per-layer sums within each pass, then the median over passes."""
    per_pass = []
    for p in passes:
        sums = {L: dict.fromkeys(LAYER_METRICS, 0.0) for L in LAYERS}
        for r in p["queries"]:
            s = sums[r["layer"]]
            for k in LAYER_METRICS:
                if k != "busy_ratio":
                    s[k] += r.get(k, 0)
        for s in sums.values():
            wall_ms = (s["build_s"] + s["exec_s"]) * 1000.0 * cores
            s["busy_ratio"] = s["executor_run_ms"] / wall_ms if wall_ms else 0.0
        per_pass.append(sums)
    out = {}
    for L in LAYERS:
        for k, unit in LAYER_METRICS.items():
            vals = [pp[L][k] for pp in per_pass]
            out[f"{L}.{k}"] = (statistics.median(vals) if vals else 0.0, unit)
    return out


def run(ctx) -> None:
    """One batch run into ``ctx`` (see run.py)."""
    names = list(QUERIES)
    sf_dir = inputs.batch_tables(ctx.seed)
    expected_dir = inputs.expected(ctx.seed, sf_dir, names)

    spark, registry = ctx.setup(load_registry=True)
    r = Runner(spark, registry, sf_dir, QUERIES, ctx.trace)

    cold = r.run_pass("cold", traced=ctx.trace, expected_dir=expected_dir)
    warm = []
    if ctx.trace:
        for i in range(2 * TRACED_PAIRS):
            warm.append(r.run_pass(f"warm{i}", traced=i % 2 == 1))
    t0 = time.perf_counter()
    while not ctx.trace:
        warm.append(r.run_pass(f"warm{len(warm)}", traced=False))
        used = time.perf_counter() - t0
        last = warm[-1]["wall_s"]
        if len(warm) >= MIN_MEASURED_PASSES and used + last > ctx.seconds:
            break
    ctx.peak_rss()

    plain = [p for p in warm if not p["traced"]]
    walls = [p["wall_s"] for p in plain]
    lat_ms = [(q["build_s"] + q["exec_s"]) * 1000.0
              for p in plain for q in p["queries"]]
    q1, med, q3 = collect.quartiles(walls)
    ctx.note(f"warm passes: {len(walls)} untraced, suite_s quartiles "
             f"{q1:.3f} / {med:.3f} / {q3:.3f} s; {len(lat_ms)} query latencies")
    ctx.e2e("cold_pass_s", cold["wall_s"], "s")
    ctx.e2e("suite_s", med, "s")
    ctx.e2e("latency_p50_ms", collect.percentile(lat_ms, 50), "ms")
    ctx.e2e("latency_p90_ms", collect.percentile(lat_ms, 90), "ms")
    ctx.note(f"query latency p99 {collect.percentile(lat_ms, 99):.1f} ms")
    ctx.detail["passes"] = [cold, *warm]
    ctx.detail["mismatches"] = r.mismatches

    if ctx.trace:
        traced = [p for p in warm if p["traced"]]
        for k, (v, unit) in layer_metrics(traced, r.cores).items():
            ctx.layer(k, v, unit)
        t_med = statistics.median(p["wall_s"] for p in traced)
        ctx.layer("trace.overhead_ratio", t_med / med - 1.0, "ratio")
        # Each traced pass against the untraced pass just before it: the
        # spread of these says how much of the overhead is pass-to-pass
        # noise.
        pairs = [t["wall_s"] / u["wall_s"] - 1.0
                 for u, t in zip(warm[::2], warm[1::2])]
        ctx.note("trace overhead per pair (traced over untraced pass, "
                 "less one): " + ", ".join(f"{x:+.3f}" for x in pairs))
        # Along the blocking steps a traced pass is its queries plus the
        # stage collection between them.
        query_s = sum(q["build_s"] + q["exec_s"]
                      for p in traced for q in p["queries"])
        collect_s = sum(q["collect_s"] for p in traced for q in p["queries"])
        ctx.layer("trace.accounted_ratio",
                  query_s / (sum(p["wall_s"] for p in traced) - collect_s),
                  "ratio")
        ctx.tracer = r.tracer
    ctx.attempted += r.attempted
    ctx.failed += r.failed
