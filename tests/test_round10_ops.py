"""Round 10: scale-correct IVF sizing + vectorized Arrow cosine
kernels (bit-equality pins vs the HOF reference expressions), plan-
build purity containment, sharded BAM output, bai/csi cross-index
equivalence.

Reference parity notes: the IVF/semantic-dedup family models the
SemDeDup pipeline (Abbas et al. 2023); the reference repo's
comparable kernels are the pairwise ops in
seqtables/core/utils/numpy_ops.py (dense vector math re-expressed
Spark-first here).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _rand_emb(spark, n=400, dim=16, seed=7, n_parts=4):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)])
        for i in range(1, n + 1)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(n_parts)


class TestIvfSizing:
    def test_k_grows_with_corpus_fixed_cell(self):
        from seqtables_spark.pipeline.similarity import ivf_k_for

        assert ivf_k_for(499) == 8          # floor stays at min_k
        assert ivf_k_for(1999) == 8
        assert ivf_k_for(19999) == 79       # sf1: 19999 // 250
        assert ivf_k_for(2_000_000) == 8000  # expected cell stays 250
        # floor division, matching GREATEST(8, n // 250) in the oracle
        assert ivf_k_for(2249) == 8 and ivf_k_for(2250) == 9

    def test_nprobe_keeps_probe_fraction(self):
        from seqtables_spark.pipeline.similarity import ivf_nprobe_for

        assert ivf_nprobe_for(8) == 3       # the shipped 3/8 ratio
        assert ivf_nprobe_for(79) == 29
        assert ivf_nprobe_for(5) == 3       # min_probe floor


class TestArrowKernelBitEquality:
    """The Arrow kernels MUST produce bit-identical values to the HOF
    reference expressions (same sequential IEEE fold) - that identity
    is what lets the DuckDB oracle keep checking the fast path."""

    def test_assign_arrow_equals_sql(self, spark):
        from seqtables_spark.pipeline.similarity import (
            ivf_assign, ivf_centroids,
        )

        emb = _rand_emb(spark).persist()
        cents = ivf_centroids(emb, k=6, n_iters=1, dim=16)
        a = {r["vec_id"]: r["_c"]
             for r in ivf_assign(emb, cents, kernel="arrow").collect()}
        s = {r["vec_id"]: r["_c"]
             for r in ivf_assign(emb, cents, kernel="sql").collect()}
        assert a == s
        emb.unpersist()

    def test_centroids_arrow_equals_sql(self, spark):
        from seqtables_spark.pipeline.similarity import ivf_centroids

        emb = _rand_emb(spark, n=300, seed=11).persist()
        ca = ivf_centroids(emb, k=5, n_iters=2, dim=16, kernel="arrow")
        cs = ivf_centroids(emb, k=5, n_iters=2, dim=16, kernel="sql")
        assert ca == cs  # exact float equality: fixed-point Lloyd
        emb.unpersist()

    def test_semantic_dedup_arrow_equals_sql(self, spark):
        from seqtables_spark.pipeline.similarity import (
            ivf_assign, ivf_centroids, semantic_dedup,
        )

        emb = _rand_emb(spark, n=500, seed=3).persist()
        cents = ivf_centroids(emb, k=4, n_iters=1, dim=16)
        asg = ivf_assign(emb, cents).persist()
        asg.count()
        a = sorted(map(tuple, semantic_dedup(asg, tau=0.1, kernel="arrow").collect()))
        s = sorted(map(tuple, semantic_dedup(asg, tau=0.1, kernel="sql").collect()))
        assert a == s and len(a) > 0  # exact doubles incl. max_sim
        asg.unpersist()
        emb.unpersist()

    def test_pair_cosine_tau_filter_and_passthrough(self, spark):
        from seqtables_spark.pipeline.similarity import pair_cosine

        emb = _rand_emb(spark, n=60, seed=5)
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", "va", "vb"
        )
        out = pair_cosine(pairs, "va", "vb", tau=0.3)
        assert out.columns == ["id_a", "id_b", "sim"]
        rows = out.collect()
        assert all(r["sim"] >= 0.3 for r in rows)
        # unfiltered kernel scores every pair
        n_all = pair_cosine(pairs, "va", "vb").count()
        assert n_all == pairs.count()

    def test_pair_cosine_empty_input(self, spark):
        from seqtables_spark.pipeline.similarity import pair_cosine

        emb = _rand_emb(spark, n=4, seed=9)
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        pairs = a.join(b, (F.col("id_a") < F.col("id_b")) & (F.col("id_a") > 99)).select(
            "id_a", "id_b", "va", "vb"
        )
        assert pair_cosine(pairs, "va", "vb", tau=0.0).count() == 0


REFS = [("ref1", 100), ("phiX174", 5386)]
_BAM_ROW_SCHEMA = (
    "header string, flag int, rname string, pos int, mapq int,"
    " cigar string, seq string, qual string"
)


def _bam_rows(n=257):
    return [
        (f"r{i}", (i % 2) * 16, "ref1" if i % 3 else "phiX174",
         i % 90 + 1, 60, "4M", "ACGT", "IIII")
        for i in range(n)
    ]


class TestShardedWriteBam:
    def test_sharded_roundtrip_value_exact(self, spark, tmp_path):
        """single_file=False writes independent EOF-terminated BAM
        shards; read_bam on the directory returns the exact rows -
        and NO driver-side byte assembly happens (no merged file, no
        .parts dir)."""
        import gzip
        import json
        import os

        from seqtables_spark.sources.bam import (
            BGZF_EOF, read_bam, write_bam,
        )

        rows = _bam_rows()
        df = spark.createDataFrame(rows, _BAM_ROW_SCHEMA).repartition(7)
        path = str(tmp_path / "sharded_out")
        manifest = write_bam(df, path, REFS, single_file=False).collect()
        assert sum(r["n_records"] for r in manifest) == 257
        assert 1 < len(manifest) <= 7

        shards = sorted(
            f for f in os.listdir(path) if f.startswith("shard-")
        )
        assert len(shards) == len(manifest)
        # every shard is a complete standalone BAM: magic + EOF marker
        for s in shards:
            blob = open(os.path.join(path, s), "rb").read()
            assert blob.endswith(BGZF_EOF), s
            assert gzip.decompress(blob)[:4] == b"BAM\x01", s
        # manifest metadata matches the files, ordered by partition id
        meta = json.load(open(os.path.join(path, "_manifest.json")))
        assert [m["path"] for m in meta] == shards
        # no attempt temps survive the atomic rename
        assert not [f for f in os.listdir(path) if ".attempt-" in f]

        got = sorted(
            (r["header"], r["flag"], r["rname"], r["pos"], r["mapq"],
             r["cigar"], r["seq"], r["qual"])
            for r in read_bam(spark, path).collect()
        )
        assert got == sorted(rows)

    def test_sharded_overwrite_removes_stale_shards(self, spark, tmp_path):
        from seqtables_spark.sources.bam import read_bam, write_bam

        path = str(tmp_path / "out")
        wide = spark.createDataFrame(_bam_rows(64), _BAM_ROW_SCHEMA).repartition(8)
        write_bam(wide, path, REFS, single_file=False)
        narrow = spark.createDataFrame(_bam_rows(10), _BAM_ROW_SCHEMA).repartition(2)
        write_bam(narrow, path, REFS, single_file=False)
        assert read_bam(spark, path).count() == 10  # no stale shards

    def test_index_with_sharded_mode_writes_per_shard_indexes(
        self, spark, tmp_path
    ):
        """Round 10 rejected index= with single_file=False; round 11
        supports it (per-shard .bai, each shard an independent valid
        BAM with self-contained virtual offsets) — the full contract
        is pinned in tests/test_round11_ops.py."""
        import os

        from seqtables_spark.sources.bam import write_bam

        path = str(tmp_path / "x")
        df = spark.createDataFrame(_bam_rows(4), _BAM_ROW_SCHEMA)
        write_bam(df, path, REFS, index="bai", single_file=False)
        names = os.listdir(path)
        shards = [n for n in names if n.endswith(".bam")]
        assert shards and all(s + ".bai" in names for s in shards)

    def test_manifest_sorted_numerically(self):
        """Lexicographic part ordering breaks at >=100000 partitions
        (part-100000 < part-99999 as strings); the assembler must sort
        by the parsed partition id."""
        import os
        import re

        names = [f"part-{pid:05d}" for pid in (99999, 100000, 100001, 7)]

        def pid_of(name):
            return int(re.search(r"(?:shard|part)-(\d+)", os.path.basename(name)).group(1))

        assert sorted(names, key=pid_of) == [
            "part-00007", "part-99999", "part-100000", "part-100001"
        ]
        assert sorted(names) != sorted(names, key=pid_of)


class TestBaiCsiCrossIndex:
    """Internal htslib-free interop evidence. The .bai and .csi
    writers share one BGZF reader and one record-span walk
    (bam._record_spans), so this class does NOT cross-check how record
    spans are read. What stays INDEPENDENT, and is compared here:
    binning (reg2bin/reg2bins vs reg2bin_csi/reg2bins_csi), the lower
    bound (the 16 kb linear index vs per-bin loffsets), serialization
    (the two writers' and the two parsers' layouts), and candidate-
    range selection (bai_candidate_ranges vs csi_candidate_ranges).
    For the BAI-equivalent CSI geometry (min_shift=14, depth=5) they
    must agree bin-for-bin, chunk-for-chunk, and region-for-region
    (pysam unavailable here; see TESTDATA.md)."""

    def _indexes(self):
        import random as _r

        from seqtables_spark.sources.bai import build_bai, parse_bai
        from seqtables_spark.sources.bam import encode_bam
        from seqtables_spark.sources.csi import build_csi, parse_csi

        rng = _r.Random(42)
        recs = []
        for i in range(5000):
            contig = rng.choice(["c1", "c2"])
            pos = rng.randrange(1, 40000)
            ln = rng.choice([8, 24, 64])
            recs.append(
                (f"r{i}", 0, contig, pos, 60, f"{ln}M", "A" * ln, "I" * ln)
            )
        recs.sort(key=lambda r: (r[2], r[3]))
        blob = encode_bam(recs, [("c1", 50000), ("c2", 50000)])
        per_bai, _ = parse_bai(build_bai(blob))
        per_csi, ms, dp, _ = parse_csi(build_csi(blob))
        assert (ms, dp) == (14, 5)  # BAI-equivalent default geometry
        return per_bai, per_csi, ms, dp

    def test_bins_and_chunks_identical(self):
        per_bai, per_csi, _, _ = self._indexes()
        for rid in range(2):
            bins_bai, _io = per_bai[rid]
            bins_csi = per_csi[rid]
            assert set(bins_bai) == set(bins_csi), f"ref{rid} bin ids"
            for bid in bins_bai:
                assert bins_bai[bid] == bins_csi[bid][1], (rid, bid)

    def test_candidate_ranges_agree_for_any_region(self):
        """Two invariants, both spec-derived:
        1. BAI's candidates are always COVERED by CSI's (BAI's 16kb
           linear index is a >= tight lower bound vs CSI's loffset
           walk, which falls back to a parent bin when the start's
           leaf bin is empty - so CSI may keep extra chunks, never
           drop ones BAI keeps).
        2. When the start's leaf bin IS populated (the overwhelmingly
           common case), the two prune identically - merged ranges
           STRICTLY EQUAL. Measured 1969/1969 across 5 corpora."""
        import random as _r

        from seqtables_spark.sources.bai import bai_candidate_ranges
        from seqtables_spark.sources.csi import (
            csi_candidate_ranges, reg2bin_csi,
        )

        per_bai, per_csi, ms, dp = self._indexes()
        rng = _r.Random(1)
        regions = [(0, 0, 50000), (1, 0, 50000), (0, 0, 100),
                   (0, 39990, 50000), (1, 49999, 50000)]
        for _ in range(300):
            rid = rng.randrange(2)
            s = rng.randrange(0, 45000)
            regions.append((rid, s, s + rng.randrange(1, 20000)))
        n_eq = 0
        for rid, s, e in regions:
            rb = bai_candidate_ranges(per_bai, rid, s, e)
            rc = csi_candidate_ranges(per_csi, ms, dp, rid, s, e)
            for cb, ce in rb:  # invariant 1: containment
                assert any(b <= cb and ce <= en for b, en in rc), (rid, s, e)
            if reg2bin_csi(s, s + 1, ms, dp) in per_csi[rid]:
                assert rb == rc, (rid, s, e)  # invariant 2: equality
                n_eq += 1
        assert n_eq > len(regions) * 0.9  # equality path dominates


class TestPlanBuildPurity:
    """Round-10 containment of the plan-build side-effect family:
    every eager helper has (a) a lazy escape hatch that provably runs
    NO jobs during plan construction and (b) a loud error on
    streaming inputs instead of an obscure downstream failure."""

    def _assert_no_jobs(self, spark, build):
        group = f"purity-{id(build)}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "plan-build purity pin")
        try:
            df = build()
            jobs = sc.statusTracker().getJobIdsForGroup(group)
            assert jobs == [], f"plan build ran jobs: {jobs}"
            assert df.schema is not None  # plan resolves without jobs
        finally:
            sc.setJobGroup("", "")

    def test_interval_overlap_join_int_width_is_pure(self, spark):
        from seqtables_spark.operators.ranges import interval_overlap_join

        left = spark.range(100).select(
            F.col("id").alias("s"), (F.col("id") + 5).alias("e")
        )
        right = spark.range(100).select(
            F.col("id").alias("s"), (F.col("id") + 3).alias("e")
        )
        self._assert_no_jobs(
            spark, lambda: interval_overlap_join(left, right, "s", "e", 10)
        )

    def test_bigram_logprob_model_df_is_pure(self, spark):
        from seqtables_spark.pipeline.text import bigram_logprob, bigram_model

        docs = spark.createDataFrame(
            [(1, "a b a c"), (2, "b a b")], "doc_id long, text string"
        )
        model = bigram_model(docs)  # lazy relation
        self._assert_no_jobs(
            spark, lambda: bigram_logprob(docs, model_df=model)
        )

    def test_bigram_logprob_model_df_matches_inline(self, spark):
        from seqtables_spark.pipeline.text import bigram_logprob, bigram_model

        docs = spark.createDataFrame(
            [(i, f"tok{i % 3} tok{(i + 1) % 4} tok{i % 2} x")
             for i in range(40)],
            "doc_id long, text string",
        )
        inline = sorted(map(tuple, bigram_logprob(docs).collect()))
        via_model = sorted(
            map(tuple, bigram_logprob(docs, model_df=bigram_model(docs)).collect())
        )
        assert inline == via_model

    def _stream(self, spark):
        return (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .selectExpr("value AS doc_id", "CAST(value AS STRING) AS text",
                        "value AS s", "value + 1 AS e",
                        "value AS id_a", "value + 1 AS id_b")
        )

    def test_streaming_inputs_raise_clearly(self, spark):
        from seqtables_spark.operators.ranges import interval_overlap_join
        from seqtables_spark.pipeline.dedup import connected_components
        from seqtables_spark.pipeline.text import bigram_logprob

        stream = self._stream(spark)
        batch = spark.range(10).selectExpr("id AS s", "id + 1 AS e")
        with pytest.raises(ValueError, match="streaming"):
            interval_overlap_join(stream, batch, "s", "e", "auto")
        with pytest.raises(ValueError, match="streaming"):
            interval_overlap_join(batch, stream, "s", "e", "auto")
        with pytest.raises(ValueError, match="streaming"):
            bigram_logprob(stream)  # default broadcast_model is eager
        with pytest.raises(ValueError, match="streaming"):
            connected_components(stream.select("id_a", "id_b"))

    def test_streaming_overlap_join_with_int_width_builds(self, spark):
        from seqtables_spark.operators.ranges import interval_overlap_join

        stream = self._stream(spark)
        batch = spark.range(10).selectExpr("id AS s", "id + 1 AS e")
        out = interval_overlap_join(stream, batch, "s", "e", 10)
        assert out.isStreaming  # lazy form composes into a stream plan

    def _quality_table(self, spark):
        from seqtables_spark.model import SeqTable

        return SeqTable(spark.createDataFrame(
            [(f"r{i}", "ACGT" * 5, "".join(chr(34 + (i + j) % 40) for j in range(20)), 1 + i % 3)
             for i in range(30)],
            "read_id string, seq string, qual string, pos_start int",
        ))

    @pytest.mark.parametrize("preset", ["even", "fastqc"])
    def test_get_quality_dist_preset_is_pure(self, spark, preset):
        st = self._quality_table(spark)
        self._assert_no_jobs(spark, lambda: st.get_quality_dist(bins=preset))

    def test_quality_filter_is_pure(self, spark):
        st = self._quality_table(spark)
        self._assert_no_jobs(spark, lambda: st.quality_filter(20, 90).reads)


class TestAutoBinWidthSkewClamp:
    def test_zero_length_skew_bounds_replication(self, spark):
        """Mostly zero-length intervals + one long one: the old 2x-avg
        width collapsed toward 1 and replicated the long interval to
        ~duration rows; the max_len/64 clamp bounds it to <= 65 bins."""
        from seqtables_spark.operators.ranges import auto_bin_width

        rows = [(i * 10, i * 10) for i in range(5000)] + [(0, 640_000)]
        df = spark.createDataFrame(rows, "s long, e long")
        w = auto_bin_width(df, None, "s", "e")
        assert w >= 640_000 // 64
        # non-degenerate distributions keep the measured 2x-avg knee
        even = spark.createDataFrame(
            [(i, i + 100) for i in range(1000)], "s long, e long"
        )
        assert auto_bin_width(even, None, "s", "e") == 200
