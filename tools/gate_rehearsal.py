"""Rehearse the driver's correctness gate with a VANILLA session.

The local parity suite (tests/test_parity.py) runs under the test
session, which sets UTC timezone / Arrow / shuffle configs the grading
driver does not set.  This script replicates the driver environment:
a bare ``SparkSession.builder.master("local[8]")`` (every per-query
requirement must be satisfied by ``configure_session`` inside the
query path, not by harness configs), then runs the FIRST ``GATE_WINDOW``
registered queries — exactly the driver's gate membership — against
their DuckDB oracles with the order-insensitive sorted-column multiset
compare from ``tests/parity_util.py``.

The order is derived when ``relational`` is imported
(``relational.gate_order``): queries with no green row in any
``CORRECTNESS_r*.json`` or no source pin in ``GATE_PINS.json`` come
first, then the rest by ascending last-green round; ties keep
registration order.

  python tools/gate_rehearsal.py [sf_dir]        # default sf0.01 (gate SF)
  python tools/gate_rehearsal.py [sf_dir] --all  # the whole catalog, not
                                                 # just the gate window —
                                                 # pinned queries too

Exit code 0 = every rehearsed query matches; nonzero prints the failures.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    run_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    from pyspark.sql import SparkSession

    # vanilla on purpose: no timezone, no Arrow, no shuffle config —
    # the driver's session looks like this
    spark = SparkSession.builder.master("local[8]").appName(
        "gate-rehearsal"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from parity_util import compare_query

    from wikihadoop_spark.relational import GATE_WINDOW, ORACLE, QUERIES

    gated = list(QUERIES) if run_all else list(QUERIES)[:GATE_WINDOW]
    failures: list[tuple[str, str]] = []
    for i, name in enumerate(gated, 1):
        try:
            ok, msg = compare_query(spark, name, QUERIES[name], ORACLE[name], sf_dir)
        except Exception as exc:  # a raise is a failure, not an abort
            ok, msg = False, f"raised {type(exc).__name__}: {exc}"
        status = "ok" if ok else "FAIL"
        print(f"[{i:2d}/{len(gated)}] {name}: {status}", flush=True)
        if not ok:
            failures.append((name, msg))
    spark.stop()
    scope = "catalog" if run_all else "gated"
    if failures:
        print(f"\n{len(failures)} {scope} queries FAILED under a vanilla session:")
        for name, msg in failures:
            print(f"  {name}: {msg[:500]}")
        return 1
    print(f"\nall {len(gated)} {scope} queries match their oracles (vanilla session)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
