"""Benchmark harness: runs the headline __spark_entry__ queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed as plan-build + execute-to-driver (collect), the
same work the driver's correctness gate does. A warm-up action runs
first so JVM/codegen startup is not attributed to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.sampler import cpu_times, steal_pct  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_REPS (round 9): executions per query per
    # engine. Round 10: default raised 2 -> 3. The shared host's
    # 1-min load average was observed swinging 4 -> 26 within a
    # single bench run, and a steal spike taxes the 32-way Spark
    # stages far more than the single-threaded oracle (two same-tree
    # runs: 55.7 s/1.20 vs 73.0 s/1.44) - min-of-3 costs ~100 s more
    # wall but caps the odds that every rep of a query lands inside a
    # spike. The sf1 headline runs reps=2 via env (BENCH_sf1.json);
    # the JSON records the reps used.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    import __spark_entry__ as entry
    from seqtables_spark import get_spark

    spark = get_spark(app_name="bench")

    # warm-up: JVM, codegen, parquet footer reads, and the Python
    # worker pool (otherwise the daemon spin-up lands on whichever
    # UDF-bearing query happens to run first and reads as a per-query
    # regression)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    # Per-query scheduling floor (round 8): Spark pays a fixed
    # driver/scheduler cost per job that an in-process engine does
    # not; publishing it lets a reader separate fixed overhead from
    # real compute gap when comparing sub-second queries against the
    # DuckDB oracle. Two floors, median of 5 warm reps each:
    #   floor_noop_s    - one stage, one task, 1-row collect
    #   floor_shuffle_s - one exchange + final agg (the minimal
    #                     2-stage job most relational queries pay)
    def _median_of(fn, reps=5):
        ts = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        return round(ts[len(ts) // 2], 4)

    floor_noop_s = _median_of(lambda: spark.range(1).collect())
    floor_shuffle_s = _median_of(
        lambda: spark.range(1000)
        .selectExpr("id % 7 AS k")
        .groupBy("k")
        .count()
        .collect()
    )

    # min of two executions per query: the host is a shared sandbox
    # with multi-second scheduling stalls unrelated to the plan, so a
    # single cold sample conflates host noise with query cost; the min
    # is the steady-state number a cluster would see.
    #
    # Honesty of the warm number (round-5 fix): each run builds a
    # FRESH plan (queries(cached=False)) - re-collecting one cached
    # DataFrame reuses its shuffle map outputs, which measures reuse,
    # not execution. Driver-side plan build (Catalyst + py4j tree
    # construction, data-independent, amortized per prepared
    # statement on a real cluster - see SCALING.md) is forced BEFORE
    # the clock starts, so the timing is execute-to-driver of a real
    # re-execution: every shuffle re-runs, the optimizer does not.
    try:
        qfns = entry.queries(cached=False)
    except TypeError:  # older entry without the kwarg
        qfns = entry.queries()

    # One-session oracle (round 6): the engine/oracle ratio is only
    # trustworthy when both engines are timed under the SAME host
    # load, so each query's DuckDB oracle is timed immediately after
    # its Spark runs (interleaved per query, not a separate phase -
    # a loaded shared host drifts ~20% between phases). Spark runs
    # first within each query so fixture-writing queries (the
    # roundtrips) have materialized their temp files before the
    # oracle reads them.
    oracles = entry.oracle_sql()
    try:
        from tools.selfcheck import duck_connect

        con = duck_connect(sf_dir)
    except Exception as e:  # duckdb genuinely absent: spark-only bench
        print(f"# no duck oracle ({e})", file=sys.stderr)
        con = None

    # Hypervisor steal sampling (round 10): the sandbox shares its
    # host, and a steal spike taxes 32-way stages invisibly - the
    # in-VM load average stays low while wall times triple (observed:
    # same-tree totals 55.7 s vs 73.0 s; a 0.9 s query reading 4.5 s).
    # Recording the per-query steal share lets a reader (and the
    # sf1 ledger) adjudicate outliers with data instead of rerunning.
    def _measure_spark(fn) -> tuple[float, int, float]:
        """min-of-reps execute-to-driver + the steal share sampled
        around exactly these reps -> (best_s, rows, steal_pct)."""
        best, n = None, 0
        q0 = cpu_times()
        for _ in range(reps):
            df = fn(spark, sf_dir)
            df._jdf.queryExecution().executedPlan()  # plan build off-clock
            t0 = time.perf_counter()
            n = len(df.collect())
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best, n, round(steal_pct(q0, cpu_times()), 2)

    def _measure_duck(name) -> float | None:
        if con is None or name not in oracles:
            return None
        try:
            if reps > 1:
                con.execute(oracles[name]).fetchall()  # warm (I/O cache, plan)
            d_best = None
            for _ in range(reps):
                t0 = time.perf_counter()
                con.execute(oracles[name]).fetchall()
                dt = time.perf_counter() - t0
                d_best = dt if d_best is None else min(d_best, dt)
            return d_best
        except Exception as e:
            print(f"# duck {name} failed: {e}", file=sys.stderr)
            return None

    timings: dict[str, float] = {}
    duck_timings: dict[str, float] = {}
    steal_pcts: dict[str, float] = {}
    run0 = cpu_times()
    for name, fn in qfns.items():
        best, n, stl = _measure_spark(fn)
        steal_pcts[name] = stl
        timings[name] = round(best, 3)
        d_best = _measure_duck(name)
        if d_best is not None:
            duck_timings[name] = round(d_best, 3)
        print(
            f"# {name}: {best:.3f}s ({n} rows)"
            + (f" | duck {d_best:.3f}s" if d_best is not None else ""),
            file=sys.stderr,
        )

    # Anti-flap steal retry (round 12, verdict item #1 — the
    # PERFCHECK retry ported to the artifact that prices every other
    # number): a query whose sampled steal share spikes well above
    # the run average was taxed by the hypervisor, not by its plan
    # (observed: session_overlap at 16.5% steal read 4.5x the oracle
    # while the quiet-host protocol run measured 1.29x). Re-measure
    # the WHOLE per-query block — Spark reps AND the interleaved
    # oracle, so the pair stays same-load-window honest — and keep
    # the quietest-steal measurement. Both samples + the steal
    # receipt land in the artifact (`steal_retries`), so a reader
    # can audit every adopted number.
    avg_steal = (
        sum(steal_pcts.values()) / len(steal_pcts) if steal_pcts else 0.0
    )
    steal_bar = max(3.0 * avg_steal, 5.0)
    steal_retries: dict[str, dict] = {}
    for name in [q for q, s in steal_pcts.items() if s > steal_bar]:
        rec = {
            "first_s": timings[name],
            "first_steal_pct": steal_pcts[name],
            "attempts": [],
        }
        for _ in range(2):  # at most two quiet-window attempts
            r_best, _, r_stl = _measure_spark(qfns[name])
            r_duck = _measure_duck(name)
            rec["attempts"].append(
                {"spark_s": round(r_best, 3), "steal_pct": r_stl,
                 "duck_s": round(r_duck, 3) if r_duck is not None else None}
            )
            # steal can only INFLATE a wall time (it is time the vCPU
            # was not running), so the minimum across samples is the
            # quietest effective measurement — adopt the retry pair
            # only when its wall is actually better; a retry that is
            # quieter-but-slower (warm-cache loss, a different noise
            # source) must not replace a faster sample.
            if r_best < timings[name]:
                timings[name] = round(r_best, 3)
                steal_pcts[name] = r_stl
            if r_duck is not None and (
                name not in duck_timings or r_duck < duck_timings[name]
            ):
                duck_timings[name] = round(r_duck, 3)
            if r_stl <= steal_bar:
                break
        rec["kept_s"] = timings[name]
        rec["kept_steal_pct"] = steal_pcts[name]
        steal_retries[name] = rec
        print(
            f"# steal-retry {name}: {rec['first_s']:.3f}s @"
            f"{rec['first_steal_pct']}% -> {rec['kept_s']:.3f}s @"
            f"{rec['kept_steal_pct']}% (bar {steal_bar:.2f}%)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "entry_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # r1-r4 benches timed re-collects of CACHED DataFrames, which
        # reuse shuffle map outputs - that measured reuse, not
        # execution (r4 total 15.6 s). From round 5 every run builds a
        # fresh plan and re-executes all shuffles (plan build
        # off-clock); totals are directly comparable to the DuckDB
        # oracle's warm re-execution. See SCALING.md "Measurement
        # protocol".
        "protocol": "fresh-plan warm min-of-N, driver plan build off-clock, duck oracle interleaved per query, steal-spiked queries re-measured (min adopted; receipts in steal_retries)",
        # fixed per-job scheduler cost (see comment above): a query at
        # ~floor_shuffle_s is Spark's dispatch floor, not a compute
        # gap vs the in-process oracle
        "floor_noop_s": floor_noop_s,
        "floor_shuffle_s": floor_shuffle_s,
        "reps": reps,
    }
    run1 = cpu_times()
    # The on-disk artifact carries everything; the STDOUT line stays
    # bounded (round-13, verdict item #2): the r11 driver capture
    # truncated mid-line inside the auxiliary per-query maps and the
    # whole round-over-round comparison was lost (`BENCH_r11.json`
    # parsed: null). The contract keys (metric/value/unit/queries/sf)
    # plus scalars stay on stdout; the three bulky diagnostic maps
    # (duck_queries, query_steal_pct, steal_retries) now live ONLY in
    # BENCH.json. No timing methodology changed.
    artifact = dict(payload)
    if run1[0] > run0[0]:
        # hypervisor steal share over the whole run + per-query map
        # (sampled around each query's SPARK reps - the parallel side
        # steal actually taxes; >~5% on a row means that wall number
        # is host-noise suspect)
        payload["steal_pct"] = round(steal_pct(run0, run1), 2)
        artifact["steal_pct"] = payload["steal_pct"]
        artifact["query_steal_pct"] = steal_pcts
    if steal_retries:
        payload["steal_retry_bar_pct"] = round(steal_bar, 2)
        artifact["steal_retry_bar_pct"] = payload["steal_retry_bar_pct"]
        artifact["steal_retries"] = steal_retries
    if duck_timings:
        duck_total = round(sum(duck_timings.values()), 3)
        # ratio over the PAIRED set only, so NO_ORACLE queries don't
        # inflate the engine side of a self-interpreting number
        spark_paired = sum(t for q, t in timings.items() if q in duck_timings)
        payload["duck_total"] = duck_total
        payload["vs_oracle_ratio"] = (
            round(spark_paired / duck_total, 3) if duck_total > 0 else None
        )
        artifact["duck_queries"] = duck_timings
        artifact["duck_total"] = duck_total
        artifact["vs_oracle_ratio"] = payload["vs_oracle_ratio"]
    print(json.dumps(payload))
    # also persist as a parseable artifact at the repo root: the
    # driver's BENCH_r0N.json keeps only a truncated stdout tail, so
    # per-round regression tracking needs the full per-query map on
    # disk
    # sf-suffixed name off the default sf so an sf1 run cannot
    # clobber the sf0.1 artifact the ledger joins against (round-11
    # fix: the sf1 bench silently overwrote BENCH.json and the ledger
    # compared sf1 to itself, growth_x=1.0 everywhere)
    name = "BENCH.json" if sf == 0.1 else f"BENCH_sf{sf:g}.json"
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), name)
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
