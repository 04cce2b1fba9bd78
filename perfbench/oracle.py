"""Compute DuckDB expected results for the named queries, cached.

Usage: python3 perfbench/oracle.py CACHE_DIR SF_DIR SEED QUERY...

Writes ``<query>.parquet`` from ``oracle_sql()[query]`` over the parquet
tables in SF_DIR into a directory under CACHE_DIR keyed on SF_DIR's name
and the oracle SQL of the named queries, unless it is already there, and
prints that directory as its last line.  Runs as a child process of
``run.py`` so the query module's import cost stays inside the
benchmark's timed set-up.
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    cache, sf_dir, seed, *names = sys.argv[1:]
    sys.path.insert(0, os.getcwd())
    import __spark_entry__ as entrymod
    from perfbench import inputs

    oracles = entrymod.oracle_sql()
    key = inputs.digest(os.path.basename(os.path.normpath(sf_dir)),
                        *(f"{n}\n{oracles[n]}" for n in names))
    out = os.path.join(cache, f"expected-{key}-seed{seed}")
    if not inputs.done(out):
        write(oracles, sf_dir, out, names)
        inputs.mark(out)
    print(out)


def write(oracles: dict, sf_dir: str, out: str, names) -> None:
    import duckdb

    from k8stream_spark.schemas import FIXTURE_TABLES

    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{os.path.join(out, '.spill')}'")
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
    for name in names:
        con.execute(oracles[name]).fetchdf().to_parquet(
            os.path.join(out, f"{name}.parquet")
        )


if __name__ == "__main__":
    main()
