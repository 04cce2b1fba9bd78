"""Driver-contract smoke: entry() produces rows with a stable schema;
every oracle key has a query; every query runs at sf0.001."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.columns[0] == "id"
    assert "version" in df.columns


def test_oracle_keys_subset_of_queries():
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs
    # 142/142 since r8: the last two rows-only entries converted —
    # docs_semantic_dedup now runs the integer-exact replayable variant
    # (cells hash-checked via the IVF training replay) and
    # events_approx_user_counts the replayable HLL (estimate itself
    # oracle-replayed).  Every registered query carries an oracle.
    assert qs - os_ == set()


# Building blocks invoked INSIDE registered operators, not operators
# themselves — the only names allowed to have no presence in
# __spark_entry__.py.  Adding an operator to this set requires the same
# scrutiny as registering it: the r5 failure mode was two finished
# operators (semantic_dedup, remove_boilerplate) that simply never
# entered the registry and so were never graded.
NOT_OPERATORS = {
    "events.approx_user_counts",  # HLL++ stage of approx_distinct_bound
    # (the graded events_approx_user_counts surface is the replayable
    # hll_user_counts since r8)
    "dedup.minhash_signature",  # signature stage of minhash_lsh_pairs
    "dedup.minhash_band_table",  # banding stage, persisted per corpus
    # version by the streaming gate (r12)
    "similarity.suggest_lsh_params",  # driver-side (bits, tables)
    # arithmetic — no DataFrame surface to grade (r12)
    "similarity.suggest_ivf_nprobe",  # driver-side nprobe arithmetic,
    # the IVF twin of suggest_lsh_params (r14)
    "dedup.simhash",  # signature stage of simhash_pairs
    "dedup.word_shingles",  # shingling helper for minhash/jaccard
    "multimodal.byte_histogram_features",  # codec-free feature helper
    "similarity.bucket_keys",  # LSH hyperplane bucketing helper
    "similarity.with_unit_vectors",  # normalization pre-pass
    "splits.hash_bucket",  # hash-split primitive
    "text.tokens",  # tokenizer expression helper
}


def test_every_public_operator_registered_or_excluded():
    """Every public function in k8stream_spark/analytics is either
    referenced by __spark_entry__.py (i.e. reachable from a ``queries()``
    entry) or explicitly listed in NOT_OPERATORS above."""
    import importlib
    import inspect
    import pkgutil
    import re

    import k8stream_spark.analytics as pkg

    with open("__spark_entry__.py", encoding="utf-8") as fh:
        entry_src = fh.read()
    missing = []
    for m in pkgutil.iter_modules(pkg.__path__):
        if m.name.startswith("_"):  # private helpers (_cache), not operators
            continue
        mod = importlib.import_module(f"k8stream_spark.analytics.{m.name}")
        for name, fn in vars(mod).items():
            if name.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != mod.__name__:
                continue
            short = f"{m.name}.{name}"
            if short in NOT_OPERATORS:
                continue
            if not re.search(rf"\b{re.escape(name)}\b", entry_src):
                missing.append(short)
    assert not missing, (
        f"public analytics operators with no __spark_entry__.py "
        f"registration (register them or add to NOT_OPERATORS): {missing}"
    )


def test_all_queries_run_at_sf0001(spark):
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        assert df.columns, name
        n = df.count()
        assert n >= 0, name


# Every driver hash-red row ever recorded except one traced back to an
# oracle output column whose DuckDB type has no Spark twin: a bare
# SUM(BIGINT) is HUGEINT (int128), and DECIMAL survives ROUND/means —
# both canonicalize differently from Spark's bigint/double in the
# driver's value hash even when the values are identical (4 false
# negatives in r7 alone).  Guard the whole class: bind every oracle
# through DuckDB and reject the types at test time, not grading time.
FORBIDDEN_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "DECIMAL")


def test_oracle_output_types_have_spark_twins():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = []
    for name, sql in entrymod.oracle_sql().items():
        rel = con.sql(sql)  # lazy bind — types come from the plan
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ).upper()
            if any(f in t for f in FORBIDDEN_ORACLE_TYPES):
                bad.append(f"{name}.{col}: {t}")
    assert not bad, (
        "oracle output columns with driver-hash-unsafe DuckDB types "
        f"(wrap in CAST(... AS BIGINT/DOUBLE)): {bad}"
    )


def test_queries_is_a_pure_registry(monkeypatch):
    """``queries()`` returns its registration literal as it is: it spawns
    no process (no git), and two calls give the same names in the same
    order.  A name written twice in the literal would silently drop one
    query from the dict, so the uniqueness check reads the source."""
    import inspect
    import re
    import subprocess

    spawned = []

    def record(*args, **kwargs):
        spawned.append(args)

    monkeypatch.setattr(subprocess, "run", record)
    monkeypatch.setattr(subprocess, "Popen", record)
    first = list(entrymod.queries())
    second = list(entrymod.queries())
    assert spawned == []
    assert first == second
    written = re.findall(
        r'^\s+"(\w+)": _q_\w+,$', inspect.getsource(entrymod.queries), re.M
    )
    assert len(written) == len(set(written))
    assert written == first
