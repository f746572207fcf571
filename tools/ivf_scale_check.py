"""IVF-family scaling check BEYOND sf1 (round 10).

Round 10 replaced the fixed k=8 IVF configuration (42x growth on 10x
data) with corpus-derived k (ivf_k_for: fixed ~250-vector expected
cell). This script extends the measurement past sf1: replicate the
sf1 embeddings x2 / x4 with the make_sf1 recipe (vec_id shift +
per-replica circular rotation — norm-preserving, no cross-replica
identical vectors) and time the three IVF-index consumers
(semantic_dedup, ann_ivf, cluster_mix) with fresh plans at each
scale. Expectation under the fix: ~linear wall growth, k growing
with N (sf1: 20k vecs -> k=79; x2: k=159; x4: k=319).

Usage: python tools/ivf_scale_check.py [mults ...]   # default 1 2 4
Writes IVF_SCALE.json and prints a table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF1 = "/root/repo/testdata_sf1"
QUERIES = ["semantic_dedup", "ann_ivf", "cluster_mix"]


def build_emb_replica(dst: str, mult: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    dim = con.execute(
        f"SELECT len(embedding) FROM parquet_scan('{SF1}/embeddings.parquet') LIMIT 1"
    ).fetchone()[0]
    # the rotation offset below repeats with period `dim`, so a
    # multiplier past dim would emit cross-replica DUPLICATE vectors
    # and break the docstring's no-duplicates claim (round-11 ADVICE
    # fix); the harness's purpose is x1-x8 sweeps, so fail loud
    if mult > dim:
        raise ValueError(
            f"mult={mult} exceeds embedding dim={dim}: rotations would"
            " repeat and replicas would duplicate vectors"
        )
    selects = []
    for i in range(mult):
        if i == 0:
            emb = "embedding"
        else:
            k = i % dim or 1
            emb = f"list_concat(embedding[{k + 1}:{dim}], embedding[1:{k}])"
        selects.append(
            f"SELECT vec_id + {i * 100_000_000} AS vec_id, "
            f"CAST({emb} AS FLOAT[]) AS embedding, label "
            f"FROM parquet_scan('{SF1}/embeddings.parquet')"
        )
    con.execute(
        f"COPY ({' UNION ALL '.join(selects)}) TO "
        f"'{dst}/embeddings.parquet' (FORMAT PARQUET)"
    )


def main() -> int:
    mults = [int(m) for m in (sys.argv[1:] or ["1", "2", "4"])]
    from seqtables_spark import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="ivf_scale")
    spark.range(1000).selectExpr("sum(id)").collect()
    # spin up the Python/Arrow worker pool off-clock (bench.py
    # protocol) - otherwise the daemon start lands on the first
    # mult's index build and reads as superlinear-in-reverse
    spark.range(32).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).collect()

    results: dict[int, dict] = {}
    tmp_roots = []
    try:
        for mult in mults:
            if mult == 1:
                sf_dir = SF1
            else:
                sf_dir = tempfile.mkdtemp(prefix=f"ivfscale_x{mult}_")
                tmp_roots.append(sf_dir)
                build_emb_replica(sf_dir, mult)
            # index build (eager: seed collect + count + Lloyd) timed
            # separately from the per-query search/prune cost, the
            # same split a real deployment has (build once, query many).
            # min-of-2 with the index rebuilt between: the shared host
            # carries multi-second scheduling stalls (load avg >10
            # observed), and the first build additionally first-touches
            # the parquet footers - one cold sample conflates both.
            qs = entry.queries(cached=False)
            build_s = None
            for _ in range(2):
                entry._memo.pop(("_ivf_index", sf_dir), None)
                t0 = time.perf_counter()
                cents, assigned, k, nprobe = entry._ivf_index(spark, sf_dir)
                n_assigned = assigned.count()  # force the checkpointed assignment
                dt = time.perf_counter() - t0
                build_s = dt if build_s is None else min(build_s, dt)
            per = {"_index_build_s": round(build_s, 3), "_k": k,
                   "_nprobe": nprobe, "_n_vecs": n_assigned}
            for name in QUERIES:
                times = []
                for _ in range(2):
                    df = qs[name](spark, sf_dir)
                    df._jdf.queryExecution().executedPlan()
                    t0 = time.perf_counter()
                    n = len(df.collect())
                    times.append(time.perf_counter() - t0)
                per[name] = round(min(times), 3)
                print(f"# x{mult} {name}: {min(times):.3f}s ({n} rows, k={k})",
                      file=sys.stderr, flush=True)
            results[mult] = per
        base = results[mults[0]]
        print(f"{'query':16s}" + "".join(f"  x{m}".rjust(9) for m in mults)
              + "  growth(last/first)")
        for name in QUERIES + ["_index_build_s"]:
            row = f"{name:16s}"
            for m in mults:
                row += f"  {results[m][name]:7.3f}"
            row += f"  {results[mults[-1]][name] / max(base[name], 1e-9):5.1f}x"
            print(row)
        print("k per scale:", {m: results[m]["_k"] for m in mults})
        out = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "IVF_SCALE.json")
        json.dump({"mults": mults, "base": "testdata_sf1 embeddings",
                   "results": {str(m): results[m] for m in mults}},
                  open(out, "w"), indent=1)
        print(f"artifact -> {out}")
    finally:
        for d in tmp_roots:
            shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
