"""Pure pins for the benchmark's statistics, rollup schema and spans.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench import collect
from perfbench.inputs import Scale, digest
from perfbench.spans import Tracer, patch


def test_percentile_interpolates_between_closest_ranks():
    xs = [10.0, 20.0, 30.0, 40.0]
    assert collect.percentile(xs, 0) == 10.0
    assert collect.percentile(xs, 100) == 40.0
    assert collect.percentile(xs, 50) == 25.0
    assert collect.percentile(list(range(1, 101)), 99) == pytest.approx(99.01)
    assert collect.percentile([7.0], 99) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        collect.percentile([], 50)


def test_quartiles_match_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    assert collect.quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert collect.quartiles([3.0]) == (3.0, 3.0, 3.0)


def _stage(run, gc, rd, wr, spill, peak):
    return {"executor_run_ms": run, "jvm_gc_ms": gc, "shuffle_read_bytes": rd,
            "shuffle_write_bytes": wr, "spill_bytes": spill,
            "peak_exec_mem_bytes": peak}


def test_rollup_schema_and_folding():
    out = collect.rollup(2, [_stage(100, 5, 10, 20, 0, 64),
                             _stage(50, 1, 30, 0, 7, 128)])
    assert tuple(out) == collect.ROLLUP_KEYS
    assert out == {"jobs": 2, "stages": 2, "executor_run_ms": 150,
                   "jvm_gc_ms": 6, "shuffle_read_bytes": 40,
                   "shuffle_write_bytes": 20, "spill_bytes": 7,
                   "peak_exec_mem_bytes": 128}
    assert collect.rollup(0, []) == dict.fromkeys(collect.ROLLUP_KEYS, 0)


def test_offset_rows_sums_informer_file_counts():
    off = {"files": {"a": [3, "x:1"], "b": [4, "y:2"], "c": 5}, "resync_gen": 0}
    assert collect.offset_rows(off) == 12
    assert collect.offset_rows(None) == 0


def test_progress_medians_cover_every_duration_key():
    progress = [{"durationMs": {"triggerExecution": 10, "addBatch": 8}},
                {"durationMs": {"triggerExecution": 30, "addBatch": 20}},
                {"durationMs": {"triggerExecution": 20}}]
    med = collect.progress_medians(progress)
    assert set(med) == set(collect.DURATION_KEYS)
    assert med["trigger_ms"] == 20
    assert med["add_batch_ms"] == 8
    assert med["wal_commit_ms"] == 0


def test_self_time_subtracts_direct_children():
    ticks = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    tr = Tracer(clock=lambda: next(ticks))
    with tr.span("parent"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    by = {s["name"]: s for s in tr.self_times()}
    assert by["parent"]["dur"] == 10.0
    assert by["parent"]["self"] == 10.0 - 2.0 - 2.0
    assert by["a"]["parent"] == by["parent"]["id"]
    assert tr.totals()["a"] == {"calls": 1, "dur": 2.0, "self": 2.0}


def test_patch_wraps_then_restores():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    orig = Owner.work
    tr = Tracer()
    with patch(tr, [(Owner, "work", "owner.work")]):
        assert Owner.work(1) == 2
    assert Owner.work is orig
    assert [s["name"] for s in tr.spans] == ["owner.work"]


def test_scale_shrinks_generator_row_counts():
    mult = Scale(0.1)
    assert int(mult) == 1 and float(mult) == 1.0
    assert 15000 * mult == 1500
    assert 2000 * Scale(0.25) == 500


def test_cache_digest_follows_every_part_and_its_boundaries():
    key = digest(b"generator source", "0.1 0.25")
    assert key == digest(b"generator source", "0.1 0.25")
    assert key != digest(b"generator source!", "0.1 0.25")
    assert key != digest(b"generator source", "0.1 0.5")
    assert digest("ab", "c") != digest("a", "bc")
