#!/usr/bin/env python
"""Replicate the external driver's CANONICALIZATION step on every op.

tools/parity_sweep.py proves cross-engine value equality, but its
row-wise canon() is more forgiving than the driver's: the driver
converts each result to pandas and runs `sort_values` over all columns
before hashing, and pandas lexsort cannot factorize container-typed
cells (`TypeError: unhashable type: 'list'` — the exact failure that
red-rowed agg_collect_sorted in round 5 even though its VALUES
matched). This probe runs the pandas-sort step itself on BOTH engines'
outputs for every registry op — then value-hashes the sorted frame
(`pd.util.hash_pandas_object`), covering BOTH halves of the driver's
canonicalization — so any column pandas cannot sort OR hash —
containers, mixed-type objects, anything future — fails HERE before
the external driver red-rows it.

Usage: python tools/driver_canon_probe.py [sf_dir] [op ...]
       (default sf_dir /root/testdata/sf0.001 — type shapes are
        SF-independent, so the smallest fixture suffices)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def _driver_canon(pdf) -> None:
    # the driver's canonicalizer: sort by every column, THEN value-hash
    # the sorted frame. Both halves must succeed — a column can sort
    # fine yet hash non-reproducibly (e.g. object dtype holding
    # unhashable cells), so probing sort_values alone under-covers
    # (round-6 ADVICE item).
    import pandas as pd

    s = pdf.sort_values(by=sorted(pdf.columns), kind="mergesort")
    pd.util.hash_pandas_object(s, index=False)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.001"
    # A path-like first arg is ALWAYS an sf_dir: a typo'd fixture path
    # must fail loudly as "no such directory", not be silently
    # reinterpreted as an unknown op name (round-6 ADVICE item).
    if args and (os.sep in args[0] or args[0].startswith(".")):
        if not os.path.isdir(args[0]):
            print(f"no such directory: {args[0]}", file=sys.stderr)
            sys.exit(2)
        sf_dir, args = args[0], args[1:]
    elif args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    only = set(args) or None

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("driver-canon-probe")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    if only:
        unknown = sorted(only - set(qs))
        if unknown:
            # a typo'd op name must not exit 0 as "0/0 sortable"; a
            # bare misspelled fixture dir (e.g. 'sf001', no os.sep)
            # also lands here — name that possibility (r7 ADVICE)
            hint = (
                " (if one of these was meant as a fixture directory,"
                " it does not exist)"
            )
            print(f"unknown op names: {unknown}{hint}", file=sys.stderr)
            sys.exit(2)
    names = [x for x in qs if not only or x in only]
    fails: list[tuple[str, str, str]] = []
    for i, op in enumerate(names):
        for engine, get in (
            ("spark", lambda: qs[op](spark, sf_dir).toPandas()),
            ("duckdb", lambda: con.sql(oracles[op]).df()),
        ):
            try:
                _driver_canon(get())
            except Exception as exc:  # noqa: BLE001 — report, don't die
                fails.append((op, engine, f"{type(exc).__name__}: {exc}"))
        status = "OK" if not any(f[0] == op for f in fails) else "FAIL"
        print(f"[{i + 1}/{len(names)}] {op}: {status}", flush=True)

    print()
    if fails:
        for op, engine, msg in fails:
            print(f"FAIL {op} [{engine}]: {msg}")
        sys.exit(1)
    print(f"{len(names)}/{len(names)} driver-sortable at {sf_dir}")


if __name__ == "__main__":
    main()
