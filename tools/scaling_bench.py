"""Data-scaling harness: replicate the sf0.1 tables at xN with
SHIFTED keys (so key cardinality grows with the data - the honest
scale-up; same-key replication would only deepen groups) into a temp
dir shaped like an sf dir, then time a representative query subset
through the normal __spark_entry__ surface.

Usage:
    python tools/scaling_bench.py [mults ...]      # default: 1 8

Replication rules keep every query's derivation laws intact:
  - documents: doc_id += i * 10_000_000 (a multiple of every modulus
    the queries use - %50 twins, %100 eval split - so each replica
    contributes proportionally);
  - events: event_id += i * 10**8, user_id += i * 10**6 (new user
    population per replica), ts/value untouched;
  - orders: o_orderkey += i * 10**8, o_custkey += i * 10**7 (new
    customer population; only orders-local queries are timed);
  - lineitem: l_orderkey += i * 10**8.

Streaming queries are excluded (their fixed micro-batch cost is
measured separately in SCALING.md).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # documents family (md5-heavy row-local + shuffle variety)
    "fingerprint", "exact_dedup", "minhash_signatures", "contamination",
    "duplicate_spans", "classifier_score", "curate_corpus",
    # events family (temporal operators, round 4)
    "asof_purchase_click", "asof_nearest", "click_attribution",
    "events_hourly", "event_quantiles", "kmv_users",
    # fact-table relational
    "pricing_summary", "customer_deciles",
    # round-6 additions: map-heavy multimodal decode, anti-join
    # boilerplate removal, 2-phase cumsum, sketch-pair overlap
    "video_frames", "image_resize", "segment_dedup", "token_budget",
    "zipf_slope", "source_overlap", "temperature_mix",
    # round-6 continuation: row-local intra-doc dedup, rule filter,
    # banded A-vs-B decontamination, BPE encode (train runs eagerly
    # off-clock - its corpus-size scaling is in SCALING.md "BPE
    # **training**"), WARC write+parse roundtrip
    "intra_doc_dedup", "gopher_filter", "fuzzy_contamination",
    "bpe_tokens", "warc_roundtrip",
    # composed curation (train/checkpoint run eagerly at plan build;
    # the timed part is encode + accounting) and the funnel report
    "curate_llm", "curate_funnel",
    # binned interval-overlap self-join over per-user sessions;
    # final-vocab aggregation
    "session_overlap", "bpe_vocab",
    # round-8 additions: .csi-indexed fetch, real WAV container decode
    "bam_region_csi", "audio_features",
]

SHIFTS = {
    "documents": ("doc_id", 10_000_000),
    "events": ("event_id", 10**8, "user_id", 10**6),
    "orders": ("o_orderkey", 10**8, "o_custkey", 10**7),
    "lineitem": ("l_orderkey", 10**8),
}
COPY_TABLES = ["region", "nation", "customer", "supplier", "part", "embeddings"]


def build_replica(spark, src: str, dst: str, mult: int) -> None:
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    for t in COPY_TABLES:
        s = os.path.join(src, f"{t}.parquet")
        if os.path.exists(s):
            d = os.path.join(dst, f"{t}.parquet")
            if os.path.isdir(s):
                shutil.copytree(s, d)
            else:
                shutil.copy(s, d)
    for t, shift in SHIFTS.items():
        base = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        parts = []
        for i in range(mult):
            r = base
            for c_idx in range(0, len(shift), 2):
                col, step = shift[c_idx], shift[c_idx + 1]
                r = r.withColumn(col, F.col(col) + F.lit(i * step))
            parts.append(r)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(dst, f"{t}.parquet"))


def main() -> int:
    mults = [int(m) for m in (sys.argv[1:] or ["1", "8"])]
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = os.environ.get("SCALE_QUERIES")
    queries = [q for q in (only.split(",") if only else QUERIES) if q]

    from seqtables_spark import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="scaling_bench")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000).selectExpr("sum(id)").collect()

    results: dict[int, dict[str, float]] = {}
    tmp_roots = []
    try:
        for mult in mults:
            if mult == 1:
                sf_dir = src
            else:
                sf_dir = tempfile.mkdtemp(prefix=f"scale_x{mult}_")
                tmp_roots.append(sf_dir)
                build_replica(spark, src, sf_dir, mult)
            # honest protocol (round 5, same as bench.py): every run
            # builds a FRESH plan so all shuffles re-execute - the old
            # warm column re-collected one DataFrame and measured
            # Spark's shuffle-map-output reuse, which understates the
            # data-dependent cost exactly where it matters. Driver
            # plan build is forced off-clock.
            qs = entry.queries(cached=False)
            per = {}
            for name in queries:
                times = []
                for _ in range(3):
                    df = qs[name](spark, sf_dir)
                    df._jdf.queryExecution().executedPlan()
                    t0 = time.perf_counter()
                    n = len(df.collect())
                    times.append(time.perf_counter() - t0)
                per[name] = (times[0], min(times))
                print(f"# x{mult} {name}: cold {times[0]:.3f}s warm "
                      f"{min(times):.3f}s ({n} rows)", file=sys.stderr)
            results[mult] = per
        base = results[mults[0]]
        hdr = f"{'query':26s}"
        for m in mults:
            hdr += f"  x{m}cold".rjust(10) + f"  x{m}warm".rjust(10)
        print(hdr + "  cold-ratio")
        for name in queries:
            row = f"{name:26s}"
            for m in mults:
                c, w = results[m][name]
                row += f"  {c:8.3f}  {w:8.3f}"
            ratio = results[mults[-1]][name][0] / max(base[name][0], 1e-9)
            row += f"  {ratio:5.1f}x"
            print(row)
    finally:
        for d in tmp_roots:
            shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
