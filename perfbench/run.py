"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: k8s_event_stream, batch_queries (see README.md).
Every line before the last names a metric or fact with its unit; the
last line is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: every end-to-end metric of BENCHMARK.json with
``--trace 0``, every per-layer metric with ``--trace 1``.  A layer the
workload does not exercise reports 0.

The benchmark sets only deployment settings (SPARK_GRAFT_CPUS to the
cores this process may use; SPARK_LOCAL_DIRS, TMPDIR and the JVM's temp
directory inside ``.perfbench/``, the JVM's /tmp perf-data file off) and
keeps every program default.  Inputs are generated
from the seed and cached per seed in ``.perfbench/cache``; a run writes
its full record (box, passes or triggers, spans) to ``.perfbench/runs``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.getcwd()
# Import the benchmark as the package ``perfbench`` from the checkout root.
sys.path[0] = ROOT

from perfbench import batch, collect, stream  # noqa: E402 - needs ROOT on sys.path

WORKLOADS = {"k8s_event_stream": stream.run, "batch_queries": batch.run}

PROGRAM = ("__spark_entry__.py", "k8stream_spark", "scripts/gen_scale_data.py",
           "scripts/check_oracle.py")


class Context:
    """What a workload needs from the harness, and what it reports."""

    def __init__(self, args, spec):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.spec = spec
        self.workdir = os.path.join(ROOT, ".perfbench", "work",
                                    f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(self.workdir)
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.notes: list[str] = []
        self.detail: dict = {"box": collect.box()}
        self.spark = None
        self.tracer = None
        self.jvm_pid = None

    def setup(self, load_registry: bool):
        """Start the session (and load the query registry): ``setup_s``."""
        t0 = time.perf_counter()
        from k8stream_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        registry = None
        if load_registry:
            import __spark_entry__

            registry = __spark_entry__.queries()
        t2 = time.perf_counter()
        self.e2e("setup_s", t2 - t0, "s")
        self.layer("session.start_s", t1 - t0, "s")
        self.layer("session.registry_s", t2 - t1, "s")
        self.jvm_pid = collect.jvm_pid(self.spark)
        self.detail["box"].update(collect.spark_box(self.spark))
        return self.spark, registry

    def peak_rss(self) -> None:
        """Record the JVM's peak RSS; call when the timed phases end."""
        mb = collect.vm_hwm_mb(self.jvm_pid)
        self.layer("jvm.peak_rss_mb", mb, "MiB")
        self.note(f"jvm peak RSS (VmHWM) {mb:.1f} MiB")

    def e2e(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def note(self, line: str) -> None:
        self.notes.append(line)


def _result(ctx) -> dict:
    """The contract line: declared metrics only, declared units, in order."""
    want = ctx.spec["per_layer"] if ctx.trace else ctx.spec["end_to_end"]
    got = ctx.layers if ctx.trace else ctx.metrics
    declared = {m["name"]: m["unit"] for m in want}
    for name, (_, unit) in got.items():
        if declared.get(name) != unit:
            raise RuntimeError(f"metric {name} [{unit}] is not declared as such")
    metrics = {}
    for name, unit in declared.items():
        if name not in got and not ctx.trace:
            raise RuntimeError(f"workload did not measure {name}")
        metrics[name] = {"value": got.get(name, (0.0, unit))[0], "unit": unit}
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": metrics}


def _stop_spark(ctx) -> None:
    """Stop the session and wait for the JVM to exit."""
    if ctx.spark is None:
        return
    from pyspark import SparkContext

    ctx.spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - still running: kill and reap
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not os.path.exists(p)]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    local = os.path.join(ROOT, ".perfbench", "work", f"local-{os.getpid()}")
    os.makedirs(os.path.join(local, "tmp"), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = os.path.join(local, "tmp")
    # The JVM's temp files stay inside the checkout too: java.io.tmpdir
    # for the native libraries it unpacks; HotSpot writes its perf-data
    # file (the jstat counters) to /tmp whatever java.io.tmpdir says, so
    # that file is turned off.  Neither changes how the program runs.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData")))

    ctx = Context(args, spec)
    try:
        WORKLOADS[args.workload](ctx)
        result = _result(ctx)
    except Exception:  # noqa: BLE001 - report, print no result, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        _stop_spark(ctx)
        shutil.rmtree(ctx.workdir, ignore_errors=True)
        shutil.rmtree(local, ignore_errors=True)

    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"args": vars(args), "notes": ctx.notes, "result": result,
                   "e2e": ctx.metrics, "layers": ctx.layers, **ctx.detail},
                  f, default=str)
    if ctx.tracer is not None:
        ctx.tracer.write(stem + "-spans.json")
    print("box: " + json.dumps(ctx.detail["box"]))
    for line in ctx.notes:
        print(line)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_ratio = {ctx.failed}/{ctx.attempted} = "
          f"{ctx.failed / max(1, ctx.attempted):.6g}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
