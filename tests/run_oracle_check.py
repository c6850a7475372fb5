"""Standalone replica of the driver's correctness gate.

Runs every `__spark_entry__.queries()` entry and value-hash compares it
against its `oracle_sql()` twin in DuckDB on the same parquet dir (row
count, column names, order-insensitive multiset of stringified values
with columns sorted by name).

    python tests/run_oracle_check.py [sf_dir] [query ...]  # default sf0.01, all

Exit code 0 iff no comparison fails.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
for p in (_REPO, _HERE):
    if p not in sys.path:
        sys.path.insert(0, p)


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from oracle_harness import compare_query

    import __spark_entry__ as entry
    from osm_pt_validator_spark.session import ensure_py_files, get_spark

    spark = get_spark("oracle-check")
    ensure_py_files(spark)
    spark.sparkContext.setLogLevel("ERROR")

    qs, oracles = entry.queries(), entry.oracle_sql()
    ok, bad = [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            problems, n = compare_query(spark, sf, name, fn, oracles[name])
            (bad if problems else ok).append((name, problems or n))
        except Exception as exc:  # noqa: BLE001 - report and continue
            bad.append((name, str(exc)[:2000]))
        print(
            f"{'BAD ' if bad and bad[-1][0] == name else 'ok  '}{name} "
            f"({time.time() - t0:.1f}s)",
            flush=True,
        )

    print(
        json.dumps(
            {
                "oracle_matched": len(ok),
                "failed": [{"query": n, "detail": d} for n, d in bad],
                "sf_dir": sf,
            }
        )
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
