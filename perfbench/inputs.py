"""Seeded inputs, cached per seed under ``.perfbench/cache``.

Batch tables come from the repository's own fixture generator,
``scripts/gen_scale_data.py``, driven by ``PCG64(seed)`` with its
distributions unchanged.  The generator sizes every table as
``base_rows * mult`` with sf0.1 bases; ``Scale`` is an integer ``mult``
of 1 whose products are a fixed fraction of that, so the tables come out
at sf0.01 size (the size the oracle gate runs at).  Tables at mult 1
(sf0.1) would not fit a run of about a minute.

Expected query results come from DuckDB over the same parquet, through
``oracle_sql()``, in a child process (``oracle.py``), so that importing
the query module is not paid before the timed set-up.  The k8s inputs
come from ``k8sgen.py``, also a child process.  Nothing here is timed.

Each cache key holds a digest of the code that makes the entry (the
generator script and the scales here, the oracle SQL of the chosen
queries, ``k8sgen.py``), so a checkout whose generator or oracles differ
never reuses another's inputs or expected results.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(".perfbench", "cache")


class Scale(int):
    """``mult`` for gen_scale_data: int 1, but ``base * Scale(f)`` is
    ``round(base * f)`` rows."""

    def __new__(cls, fraction: float):
        obj = super().__new__(cls, 1)
        obj.fraction = fraction
        return obj

    def __rmul__(self, base):
        return int(round(base * self.fraction))


#: Row-count fractions of the sf0.1 bases: sf0.01 for every table; the
#: embeddings at 500 rows, the count the sf0.01 fixture has.
TABLE_SCALE = 0.1
EMBEDDING_SCALE = 0.25


def digest(*parts: str | bytes) -> str:
    """Short hex digest of ``parts``, for cache keys."""
    h = hashlib.sha1()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
        h.update(b"\0")
    return h.hexdigest()[:10]


def _file_bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def done(path: str) -> bool:
    return os.path.exists(os.path.join(path, ".done"))


def mark(path: str) -> None:
    with open(os.path.join(path, ".done"), "w") as f:
        f.write("ok\n")


def _gen_module():
    path = os.path.join("scripts", "gen_scale_data.py")
    spec = importlib.util.spec_from_file_location("gen_scale_data", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def batch_tables(seed: int) -> str:
    """Directory of the seeded fixture tables (generated on first use)."""
    key = digest(_file_bytes(os.path.join("scripts", "gen_scale_data.py")),
                 f"{TABLE_SCALE} {EMBEDDING_SCALE}")
    out = os.path.join(CACHE, f"tables-{key}-seed{seed}")
    if done(out):
        return out
    os.makedirs(out, exist_ok=True)
    gen = _gen_module()
    rng = np.random.Generator(np.random.PCG64(seed))
    scale = Scale(TABLE_SCALE)
    with contextlib.redirect_stdout(sys.stderr):  # its per-table lines
        gen.gen_dims(out)
        gen.gen_tpch(rng, out, scale)
        gen.gen_events(rng, out, scale)
        gen.gen_documents(rng, out, scale)
        gen.gen_embeddings(rng, out, Scale(EMBEDDING_SCALE))
    mark(out)
    return out


def expected(seed: int, sf_dir: str, names) -> str:
    """Directory of DuckDB expected results, one parquet per query.

    ``oracle.py`` keys it on the tables and the queries' oracle SQL."""
    got = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle.py"), CACHE, sf_dir,
         str(seed), *names],
        check=True, stdout=subprocess.PIPE, text=True,
    )
    return got.stdout.strip().splitlines()[-1]


def k8s_inputs(seed: int, backlog: int, watch: int) -> str:
    key = digest(_file_bytes(os.path.join(HERE, "k8sgen.py")))
    out = os.path.join(CACHE, f"k8s-{key}-seed{seed}-b{backlog}-w{watch}")
    if done(out):
        return out
    os.makedirs(out, exist_ok=True)
    subprocess.run(
        [sys.executable, os.path.join(HERE, "k8sgen.py"), "inputs",
         "--seed", str(seed), "--out", out,
         "--backlog", str(backlog), "--watch", str(watch)],
        check=True,
    )
    mark(out)
    return out
