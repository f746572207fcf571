"""Per-query isolation profiler (round 12 optimization).

For each named query: build the DataFrame fresh per rep, time BOTH
the noop-sink execution (guide §1.4 — computes every column, no
driver Row materialization) and the execute-to-driver collect the
bench/driver protocol uses, count plan nodes (Exchange / *EvalPython
/ join strategies), and write `plans/r12/<query>_<tag>.txt` with the
full `.explain("formatted")` text.

Usage:
    python tools/qprof.py [--tag before|after] [--reps 3] [--round r13] q1 q2 ...
    python tools/qprof.py --tag before --all-over 0.5   # from BENCH baseline
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the same steal sampler as bench.py and perfbench, so a qprof number
# carries the same hypervisor-steal receipt
from perfbench.sampler import cpu_times, steal_pct  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    tag = "before"
    reps = 3
    rnd = "r13"
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--tag":
            tag = args[i + 1]; i += 2
        elif a == "--round":
            rnd = args[i + 1]; i += 2
        elif a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--all-over":
            thr = float(args[i + 1]); i += 2
            b = json.load(open(os.path.join(REPO, "BENCH.json")))
            names.extend(q for q, t in b["queries"].items() if t >= thr)
        else:
            names.append(a); i += 1
    if not names:
        print("no queries given"); return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entry
    from seqtables_spark import get_spark

    spark = get_spark(app_name="qprof")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(32).repartition(32).mapInPandas(lambda it: it, "id long").collect()

    qfns = entry.queries(cached=False)
    plans_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(plans_dir, exist_ok=True)

    out = {}
    for name in names:
        if name not in qfns:
            print(f"!! unknown query {name}"); continue
        fn = qfns[name]
        spark.sparkContext.setJobDescription(f"qprof:{name}")
        # plan text + node census (one build)
        df = fn(spark, sf_dir)
        plan_txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n_exch = len(re.findall(r"\bExchange\b", plan_txt))
        n_py = len(re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas", plan_txt))
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", plan_txt)
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan_txt)

        # timings: fresh plan per rep, plan-build off-clock (bench protocol)
        noop_best = coll_best = None
        rows = 0
        q0 = cpu_times()
        for _ in range(reps):
            d1 = fn(spark, sf_dir)
            d1._jdf.queryExecution().executedPlan()
            t0 = time.perf_counter()
            d1.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            noop_best = dt if noop_best is None else min(noop_best, dt)
        for _ in range(reps):
            d2 = fn(spark, sf_dir)
            d2._jdf.queryExecution().executedPlan()
            t0 = time.perf_counter()
            rows = len(d2.collect())
            dt = time.perf_counter() - t0
            coll_best = dt if coll_best is None else min(coll_best, dt)
        stl = round(steal_pct(q0, cpu_times()), 2)
        out[name] = {
            "noop_s": round(noop_best, 3),
            "collect_s": round(coll_best, 3),
            "rows": rows,
            "exchanges": n_exch,
            "py_nodes": n_py,
            "joins": joins,
            "steal_pct": stl,
        }
        print(
            f"{name:28s} noop={noop_best:6.3f} collect={coll_best:6.3f} "
            f"rows={rows:>8d} exch={n_exch} py={n_py} steal={stl}% "
            f"joins={joins}",
            flush=True,
        )
    # merge into the existing census so successive optimization passes
    # accumulate per-query rows instead of clobbering each other
    census_path = os.path.join(plans_dir, f"_qprof_{tag}.json")
    merged = {}
    if os.path.exists(census_path):
        merged = json.load(open(census_path))
    merged.update(out)
    with open(census_path, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
