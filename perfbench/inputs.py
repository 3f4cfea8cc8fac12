"""Seeded input generator.

Derives an input directory from the vendored base fixture
(`fixture/`, a copy of the engine's sf0.01 test tables) and a seed, outside
any timed region:

- a seeded choice of 2% of the rows of the leaf tables (lineitem, events,
  documents) is dropped, the same count for every seed;
- every table except the fixed reference tables gets a seeded row order,
  so file layout and partition contents differ by seed.

The same (seed, base fixture) always yields the same files; results are
cached under that key. Every workload reads the same generated directory.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FIXED = ("region", "nation")
DROP_SHARE = 0.02
DROPPABLE = ("lineitem", "events", "documents")


def fixture_fingerprint() -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(FIXTURE, f"{name}.parquet"), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


def _perturb(tbl: pa.Table, name: str, rng: np.random.Generator) -> pa.Table:
    if name in DROPPABLE:
        keep = np.ones(tbl.num_rows, dtype=bool)
        keep[rng.choice(tbl.num_rows, int(tbl.num_rows * DROP_SHARE), replace=False)] = False
        tbl = tbl.filter(pa.array(keep))
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def _generate(out: str, seed: int) -> None:
    for i, name in enumerate(TABLES):
        tbl = pq.read_table(os.path.join(FIXTURE, f"{name}.parquet"))
        if name not in FIXED:
            tbl = _perturb(tbl, name, np.random.default_rng([seed, i]))
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def generated_input(work: str, seed: int) -> str:
    """Return the directory holding the input for `seed`, generating it
    first unless a cached copy exists."""
    root = os.path.join(work, "inputs")
    out = os.path.join(root, f"s{seed}-{fixture_fingerprint()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _generate(tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
