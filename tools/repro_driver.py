"""Replay the driver's verify protocol as exactly as we can locally.

The driver: builds its OWN vanilla SparkSession (none of our
get_spark conf — default shuffle partitions, default session
timezone = host TZ, Spark 4 defaults), imports __spark_entry__,
iterates the first N names of queries() (the oracle rotation), runs
each DataFrame, and hashes rows against the DuckDB oracle_sql().

Differences from tools/selfcheck.py (which passed while the driver
failed 4 queries in round 12): vanilla session, host-TZ (pass
TZ=America/New_York env to simulate a non-UTC driver host), driver
rotation order, and optionally the TIMESTAMP(NANOS) events fixture
(tools/make_nanos_fixture.py).

Kept as the only local replay of the vanilla-session verify protocol.

Usage:
  TZ=America/New_York python tools/repro_driver.py <sf_dir> [n_queries]
"""

import math  # noqa: F401 (normalize uses it via selfcheck import)
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata_nanos/sf0.01"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from pyspark.sql import SparkSession

    # Vanilla, driver-style: master + UI off only. No timezone pin, no
    # shuffle-partition pin, no AQE overrides, no Arrow conf.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("repro_driver")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("session tz conf:", spark.conf.get("spark.sql.session.timeZone"))
    try:
        print("ansi:", spark.conf.get("spark.sql.ansi.enabled"))
    except Exception:
        print("ansi: <unset>")

    import __spark_entry__ as entry
    from selfcheck import duck_connect, normalize

    con = duck_connect(sf_dir)
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = list(qs)[:n]
    fails, errs = [], []
    for i, name in enumerate(names):
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            errs.append((name, f"SPARK_ERROR {type(e).__name__}: {e}"))
            print(f"{i:3d} {name:28s} SPARK_ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        if name not in oracles:
            print(f"{i:3d} {name:28s} NO_ORACLE ({len(s_rows)} rows)")
            continue
        try:
            cur = con.execute(oracles[name])
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            errs.append((name, f"ORACLE_ERROR {type(e).__name__}: {e}"))
            print(f"{i:3d} {name:28s} ORACLE_ERROR {type(e).__name__}: {str(e)[:200]}")
            continue
        status = "OK"
        detail = ""
        if sorted(s_cols) != sorted(d_cols):
            status = "SCHEMA_MISMATCH"
        elif len(s_rows) != len(d_rows):
            status, detail = "ROWCOUNT", f"spark={len(s_rows)} duck={len(d_rows)}"
        else:
            ns_, nd_ = normalize(s_rows, s_cols), normalize(d_rows, d_cols)
            if ns_ != nd_:
                n_diff = sum(1 for a, b in zip(ns_, nd_) if a != b)
                diffs = [(a, b) for a, b in zip(ns_, nd_) if a != b][:2]
                status, detail = "VALUE_MISMATCH", f"{n_diff} rows; {diffs}"
        if status != "OK":
            fails.append((name, status, detail))
        print(f"{i:3d} {name:28s} {status} {detail[:300]} [{time.time()-t0:.1f}s]")

    print(f"\n=== {len(fails)} mismatches, {len(errs)} errors of {len(names)} ===")
    for f in fails:
        print("FAIL:", f)
    for e in errs:
        print("ERR:", e)
    spark.stop()
    return 1 if (fails or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
