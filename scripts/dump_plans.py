"""Dump ``explain("formatted")`` for a list of registered queries to
``plans/$PLANS_DIR/<query>_<tag>.txt`` (default ``plans/r16``) — the
before/after plan evidence for an optimization.  ``plans/`` is
git-ignored: regenerate the dumps instead of committing them.

``_cache.EAGER`` is flipped off so finalize-using operators return
their LAZY plan (a checkpointed output is just an RDD scan — nothing
to read).  Iterative fixpoints additionally capture one representative
inner-iteration executed plan via ``_cache.PLAN_CAPTURE`` when the
query's returned frame is executed here.

Usage: python scripts/dump_plans.py <tag> <query> [query ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from k8stream_spark.analytics import _cache  # noqa: E402

_cache.EAGER = False

import __spark_entry__ as entrymod  # noqa: E402
from k8stream_spark.session import get_spark  # noqa: E402


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(here, "plans", os.environ.get("PLANS_DIR", "r16"))
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("dump-plans")
    qs = entrymod.queries()
    for name in names:
        # Iterative fixpoint queries run their driver loop at
        # construction time; arm the capture so the representative
        # inner-iteration plans land next to the outer plan (r16:
        # the CC merge-subtree evidence).
        _cache.PLAN_CAPTURE = []
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count(chr(10))} lines)")
        for family, iplan in _cache.PLAN_CAPTURE:
            ipath = os.path.join(
                outdir, f"{name}.{family}_{tag}.txt"
            )
            with open(ipath, "w", encoding="utf-8") as fh:
                fh.write(iplan)
            print(f"wrote {ipath} ({iplan.count(chr(10))} lines)")
        _cache.PLAN_CAPTURE = None
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
