"""Seeded k8s event generator for the ``k8s_event_stream`` workload.

It runs as its own single-threaded process, apart from the system under
test, in one of two modes:

``inputs``  writes everything the run needs, deterministically from the
            seed: the static dimensions (``objects.jsonl``,
            ``nodes.jsonl``), the LIST backlog (``backlog/*.jsonl``, the
            spool the informer finds at start) and the WATCH schedule
            (``watch.jsonl``, one event per line in due order).

``watch``   replays ``watch.jsonl`` into the live spool at a fixed rate,
            open loop: tick ``k`` is due at ``start + k * tick_s`` no
            matter how far behind the pipeline is.  Each tick becomes
            one spool file, written under a dot-name and renamed into
            place (the informer skips dot-files).  It writes a report
            with every tick's due and actual write time, so the
            benchmark can time events from when they were due and say
            how late the generator ran.

Traffic shape: a fixed share of events repeat an earlier event verbatim
(informer re-delivery, dropped by the TTL dedup), a fixed share sit in a
blacklisted namespace (dropped by the eligibility filter), involved
objects are Zipf-skewed ranks, and a rank past the object table is a uid
the object cache never saw (a left-join miss).  Creation timestamps stay
inside one 30-minute span, well within the one-hour dedup TTL, so the
watermark never drops a live event.

What is grounded and what is assumed: the blacklisted namespaces are the
reference's own three, and the one-hour TTL is its event-cache TTL.  No
measurement of real cluster traffic exists to set REPEAT_SHARE,
BLACKLIST_SHARE, ZIPF_A, N_OBJECTS or the spool-file cadence (one file
per watch tick); their values are unverified assumptions.  perfbench's
README gives the bounded metrics measured with all of them halved and
doubled.

Usage:
    python3 perfbench/k8sgen.py inputs --seed N --out DIR --backlog B --watch W
    python3 perfbench/k8sgen.py watch --events DIR/watch.jsonl --spool S
        --rate R --tick-s T --start EPOCH_S --report OUT.json
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

N_OBJECTS = 2000
N_NODES = 16
REPEAT_SHARE = 0.10
BLACKLIST_SHARE = 0.05
ZIPF_A = 1.3
SPAN_S = 1800
BACKLOG_FILES = 8
BLACKLISTED = ("kube-system", "kubernetes", "kubernetes-dashboard")
NAMESPACES = tuple(f"team-{i}" for i in range(12))
REASONS = ("Scheduled", "Pulled", "Created", "Started", "Killing", "BackOff")
KINDS = ("Pod", "Pod", "Deployment", "ReplicaSet", "ConfigMap")
BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def _iso(epoch_s: int) -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(epoch_s))


def make_objects(rng: np.random.Generator) -> list[dict]:
    kinds = rng.choice(KINDS, N_OBJECTS)
    ns = rng.choice(NAMESPACES, N_OBJECTS)
    apps = rng.integers(0, 50, N_OBJECTS)
    nodes = rng.integers(0, N_NODES, N_OBJECTS)
    out = []
    for i in range(N_OBJECTS):
        out.append(
            {
                "uid": f"obj-{i}",
                "kind": str(kinds[i]),
                "name": f"{str(kinds[i]).lower()}-{i}",
                "namespace": str(ns[i]),
                "labels": {"app": f"app-{apps[i]}", "tier": str(ns[i])},
                "annotations": {},
                "pod_ip": f"10.{i // 256}.{i % 256}.1",
                "host_ip": f"192.168.0.{nodes[i]}",
                "start_time": _iso(BASE_EPOCH_S - 86_400 + i),
                "node_name": f"node-{nodes[i]}",
            }
        )
    return out


def make_nodes() -> list[dict]:
    return [
        {"name": f"node-{k}", "addresses": [f"192.168.0.{k}", f"node-{k}.local"]}
        for k in range(N_NODES)
    ]


def make_events(rng: np.random.Generator, n: int, uid_prefix: str) -> list[dict]:
    """``n`` events in delivery order; REPEAT_SHARE of them are verbatim
    copies of an event delivered earlier."""
    n_fresh = n - int(n * REPEAT_SHARE)
    # Ranks past the object table (~9% of them) are uids it never saw.
    ref = rng.zipf(ZIPF_A, n_fresh) - 1
    blacklisted = rng.random(n_fresh) < BLACKLIST_SHARE
    ns = np.where(
        blacklisted,
        rng.choice(BLACKLISTED, n_fresh),
        rng.choice(NAMESPACES, n_fresh),
    )
    reasons = rng.choice(REASONS, n_fresh)
    # one host in N_NODES + 1 is unknown, so its address list is empty
    hosts = rng.integers(0, N_NODES + 1, n_fresh)
    jitter = rng.integers(-5, 6, n_fresh)
    msg = rng.integers(0, 1_000_000, n_fresh)
    fresh = []
    for i in range(n_fresh):
        r = int(ref[i])
        ts = BASE_EPOCH_S + (i * SPAN_S) // n_fresh + int(jitter[i])
        fresh.append(
            {
                "uid": f"{uid_prefix}-{i}",
                "creation_ts": _iso(max(BASE_EPOCH_S, ts)),
                "namespace": str(ns[i]),
                "reason": str(reasons[i]),
                "message": f"{reasons[i]} obj-{r} #{msg[i]}",
                "source_component": "kubelet",
                "source_host": f"node-{hosts[i]}",
                "ref_uid": f"obj-{r}",
                "ref_name": f"obj-{r}",
                "ref_namespace": str(ns[i]),
                "ref_kind": KINDS[r % len(KINDS)],
                "ref_api_version": "v1",
            }
        )
    # Each repeat is placed after its original, at a random later slot.
    out = list(fresh)
    for _ in range(n - n_fresh):
        j = int(rng.integers(0, len(fresh)))
        pos = int(rng.integers(j + 1, len(out) + 1))
        out.insert(pos, fresh[j])
    return out


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def write_inputs(seed: int, out: str, backlog: int, watch: int) -> None:
    rng = np.random.Generator(np.random.PCG64(seed))
    os.makedirs(os.path.join(out, "backlog"), exist_ok=True)
    _write_jsonl(os.path.join(out, "objects.jsonl"), make_objects(rng))
    _write_jsonl(os.path.join(out, "nodes.jsonl"), make_nodes())
    events = make_events(rng, backlog + watch, f"ev{seed}")
    per = -(-backlog // BACKLOG_FILES)
    for k in range(BACKLOG_FILES):
        _write_jsonl(
            os.path.join(out, "backlog", f"list-{k:03d}.jsonl"),
            events[k * per:min(backlog, (k + 1) * per)],
        )
    _write_jsonl(os.path.join(out, "watch.jsonl"), events[backlog:])


def replay(
    events_path: str,
    spool: str,
    rate: float,
    tick_s: float,
    start: float,
    report: str,
) -> None:
    with open(events_path) as f:
        lines = [ln for ln in f if ln.strip()]
    per_tick = max(1, round(rate * tick_s))
    ticks = []
    for k, lo in enumerate(range(0, len(lines), per_tick)):
        due = start + k * tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(spool, f".w-{k:06d}.jsonl")
        with open(tmp, "w") as f:
            f.writelines(lines[lo:lo + per_tick])
        os.rename(tmp, os.path.join(spool, f"w-{k:06d}.jsonl"))
        ticks.append(
            {"due": due, "written": time.time(), "first": lo,
             "n": len(lines[lo:lo + per_tick])}
        )
    with open(report, "w") as f:
        json.dump({"per_tick": per_tick, "tick_s": tick_s, "ticks": ticks}, f)


def main() -> None:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    a = sub.add_parser("inputs")
    a.add_argument("--seed", type=int, required=True)
    a.add_argument("--out", required=True)
    a.add_argument("--backlog", type=int, required=True)
    a.add_argument("--watch", type=int, required=True)
    w = sub.add_parser("watch")
    w.add_argument("--events", required=True)
    w.add_argument("--spool", required=True)
    w.add_argument("--rate", type=float, required=True)
    w.add_argument("--tick-s", type=float, required=True)
    w.add_argument("--start", type=float, required=True)
    w.add_argument("--report", required=True)
    args = ap.parse_args()
    if args.mode == "inputs":
        write_inputs(args.seed, args.out, args.backlog, args.watch)
    else:
        replay(args.events, args.spool, args.rate, args.tick_s, args.start,
               args.report)


if __name__ == "__main__":
    main()
