"""Row-count parity sweep: Spark vs DuckDB on every contract key.

A lighter-weight companion to tests/run_oracle_check.py for scales
where collecting full results for the value-hash CHECK is infeasible
(the ENGINES are fine at these scales; the comparator's driver-side
collect is not). For each `queries()` key, runs the Spark query's
.count() and DuckDB's COUNT(*) over the oracle SQL and compares. Row-count parity is a weaker check than the value
hash — the sf0.01/sf0.1 sweeps carry the value-level evidence — but it
exercises every operator end-to-end at the target scale.

    python scripts/count_parity_sweep.py [sf_dir] [per_key_timeout_s] [key ...]

Prints one line per key and a JSON summary; exit 0 iff no mismatch
(timeouts are reported separately and do not fail the sweep).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
for p in (_REPO, os.path.join(_REPO, "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)


def _duck_count(sql: str, sf: str, q: "mp.Queue") -> None:
    from oracle_harness import duck_connection

    con = duck_connection(sf)
    q.put(con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0])


def duck_count_with_timeout(sql: str, sf: str, timeout_s: float):
    """DuckDB in a child process so a pathological oracle can be killed
    without taking the Spark session down."""
    q: mp.Queue = mp.Queue()
    proc = mp.Process(target=_duck_count, args=(sql, sf, q), daemon=True)
    proc.start()
    proc.join(timeout_s)
    if proc.is_alive():
        proc.terminate()
        proc.join(5)
        return None
    return q.get() if not q.empty() else None


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO, "testdata_sf1")
    per_key_timeout = float(sys.argv[2]) if len(sys.argv) > 2 else 240.0
    only = set(sys.argv[3:])

    import __spark_entry__ as entry
    from osm_pt_validator_spark.session import ensure_py_files, get_spark

    spark = get_spark("count-parity")
    ensure_py_files(spark)
    spark.sparkContext.setLogLevel("ERROR")

    qs, oracles = entry.queries(), entry.oracle_sql()
    ok, bad, timeouts = [], [], []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            s_n = fn(spark, sf).count()
            t_spark = time.time() - t0
            d_n = duck_count_with_timeout(
                oracles[name], sf, max(10.0, per_key_timeout - t_spark)
            )
        except Exception as exc:  # noqa: BLE001 - report and continue
            bad.append((name, str(exc)[:500]))
            print(f"BAD {name} ({time.time() - t0:.1f}s) {str(exc)[:200]}", flush=True)
            continue
        dt = time.time() - t0
        if d_n is None:
            timeouts.append(name)
            print(f"t/o {name} spark={s_n} duck=TIMEOUT ({dt:.1f}s)", flush=True)
        elif s_n == d_n:
            ok.append(name)
            print(f"ok  {name} n={s_n} ({dt:.1f}s)", flush=True)
        else:
            bad.append((name, f"spark={s_n} duck={d_n}"))
            print(f"BAD {name} spark={s_n} duck={d_n} ({dt:.1f}s)", flush=True)

    print(
        json.dumps(
            {
                "count_matched": len(ok),
                "failed": [{"query": n, "detail": d} for n, d in bad],
                "duck_timeouts": timeouts,
                "sf_dir": sf,
            }
        )
    )
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
