"""Time named contract queries from one checkout, in one process.

    python tools/contract_timing.py <checkout> <sf_dir> <query>... [--rounds N]

Imports the package from ``<checkout>`` (driver and Python workers
both), so the repo's copy of this tool can time any checkout. Each
round runs every named query once, in the order given, materialized
through pandas (the path the contract gate hashes). Prints one JSON
line per query: the seconds of every round, the median of the rounds
after the first (round 1 pays plan compilation and a cold page cache),
the row count and a hash of the canonicalized, sorted rows. Equal
hashes across two checkouts mean row-identical results.

A/B recipe: one process per checkout and round set, alternating which
checkout runs first from pair to pair.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import sys
import time


def _canon(v) -> str:
    # type-tagged like tests/test_contract.py: 666 and 666.0 differ
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ""
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if hasattr(v, "tolist"):  # numpy array (array columns)
        v = v.tolist()
    return f"s:{v}"


def row_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    rows = sorted("|".join(_canon(v) for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))
    return hashlib.sha256("\n".join([",".join(cols)] + rows).encode()).hexdigest()[:16]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("checkout")
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--rounds", type=int, default=5)
    args = ap.parse_args()

    checkout = os.path.abspath(args.checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = checkout  # Python workers import the same package
    from assetdatavalidationtool_spark.contract import QUERIES
    from assetdatavalidationtool_spark.session import get_spark

    unknown = [q for q in args.queries if q not in QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark(app_name="contract_timing", driver_memory="2g")
    secs = {q: [] for q in args.queries}
    hashes = {q: set() for q in args.queries}
    rows = {}
    for _ in range(args.rounds):
        for q in args.queries:
            t = time.perf_counter()
            pdf = QUERIES[q].fn(spark, args.sf_dir).toPandas()
            secs[q].append(round(time.perf_counter() - t, 3))
            hashes[q].add(row_hash(pdf))
            rows[q] = len(pdf)
    for q in args.queries:
        later = secs[q][1:] or secs[q]
        print(json.dumps({
            "checkout": checkout, "query": q, "seconds": secs[q],
            "median_s": round(statistics.median(later), 3), "rows": rows[q],
            "hash": sorted(hashes[q])[0] if len(hashes[q]) == 1 else sorted(hashes[q]),
        }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
