"""Round-2 operators: pairwise hamming (J4), A1 insertion-count
pseudo-letter, tf-idf, and the filter_reads stats path — all on
hand-computed fixtures."""

import pytest
from pyspark.sql import functions as F

from seqtables_spark import from_list
from seqtables_spark.operators.compare import pairwise_hamming
from seqtables_spark.operators.distribution import seq_dist_with_insertions
from seqtables_spark.pipeline.text import tfidf_terms
from seqtables_spark.sources.sam import filter_reads


def test_pairwise_hamming(spark):
    reads = spark.createDataFrame(
        [(1, "ACGT"), (2, "ACGA"), (3, "TCGA")], "read_id long, seq string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in pairwise_hamming(reads).collect()
    }
    # ACGT vs ACGA: 1; ACGT vs TCGA: 2; ACGA vs TCGA: 1
    assert got == {(1, 2): 1, (1, 3): 2, (2, 3): 1}


def test_pairwise_hamming_normalized(spark):
    reads = spark.createDataFrame(
        [(1, "AAAA"), (2, "AATT")], "read_id long, seq string"
    )
    [row] = pairwise_hamming(reads, normalized=True).collect()
    assert row["dist"] == 0.5


def test_pairwise_hamming_normalized_zero_width_is_zero(spark):
    # 0/0 must be guarded to 0.0, not Spark's NULL
    reads = spark.createDataFrame(
        [(1, ""), (2, "ACGT")], "read_id long, seq string"
    )
    [row] = pairwise_hamming(reads, normalized=True).collect()
    assert row["dist"] == 0.0


def test_seq_dist_with_insertions(spark):
    st = from_list(spark, ["AC", "AG"])
    ins = spark.createDataFrame(
        [("1", 2, -1, "T", 30), ("1", 2, -2, "T", 30), ("2", 1, -1, "G", 20)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    rows = {
        (r["position"], r["base"]): r["cnt"]
        for r in seq_dist_with_insertions(st.cells(), ins).collect()
    }
    # read 1 has TWO insertions at position 2 but counts ONCE (events
    # count reads, not bases — reference seqtables.py:1396-1420)
    assert rows[(2, "^")] == 1
    assert rows[(1, "^")] == 1
    assert rows[(1, "A")] == 2
    assert rows[(2, "C")] == 1
    assert rows[(2, "G")] == 1


def test_tfidf_terms(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "alpha gamma")],
        "doc_id long, text string",
    )
    t = {r["term"]: r for r in tfidf_terms(docs).collect()}
    # alpha appears in both docs -> idf = ln(3/3) = 0 -> tfidf 0
    assert t["alpha"]["df"] == 2 and t["alpha"]["tfidf"] == 0.0
    assert t["beta"]["df"] == 1 and t["beta"]["tf"] == 2
    assert t["beta"]["tfidf"] > t["gamma"]["tfidf"] > 0


def test_filter_reads_first_reason_wins(spark):
    # a read that is unmapped AND has indels reports 'unmapped'
    sam = spark.createDataFrame(
        [
            ("r1", 0, "*", 1, "10M2I3M", "ACGT", "IIII"),
            ("r2", 0, "phiX174", 1, "4M", "ACGT", "IIII"),
            ("r3", 512, "ref1", 1, "4M", "ACGT", "IIII"),
            ("r4", 0, "ref1", 1, "2M1D2M", "ACGT", "IIII"),
            ("r5", 0, "ref1", 1, "4M", "ACGT", "IIII"),
        ],
        "read_id string, flag int, rname string, pos long, cigar string, seq string, qual string",
    )
    good, bad, stats = filter_reads(sam)
    reasons = {r["read_id"]: r["error"] for r in bad.collect()}
    assert reasons == {"r1": "unmapped", "r2": "phix", "r3": "flag", "r4": "indels"}
    assert [r["read_id"] for r in good.collect()] == ["r5"]
    assert {r["error"]: r["n"] for r in stats.collect()} == {
        "unmapped": 1, "phix": 1, "flag": 1, "indels": 1,
    }


def test_salted_join_matches_plain_join(spark):
    from seqtables_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], "row_id long, k int"
    )
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k int, label string"
    )
    got = sorted(
        (r["row_id"], r["label"])
        for r in salted_join(
            big, dim, ["k"], n_salts=4, max_broadcast_rows=None
        ).collect()
    )
    want = sorted(
        (r["row_id"], r["label"]) for r in big.join(dim, "k").collect()
    )
    assert got == want


def test_salted_join_salt_cols_spreads_identical_rows(spark):
    from seqtables_spark.operators.skew import salted_join

    # byte-identical payload rows: default salt (hash of all columns)
    # cannot spread them, an explicit unique id can — and either way
    # the join result matches the plain join
    big = spark.createDataFrame(
        [(i, 0, "same payload") for i in range(50)],
        "row_id long, k int, payload string",
    )
    dim = spark.createDataFrame([(0, "a")], "k int, label string")
    got = sorted(
        (r["row_id"], r["label"])
        for r in salted_join(
            big, dim, ["k"], n_salts=4, salt_cols=["row_id"],
            max_broadcast_rows=None,
        ).collect()
    )
    want = sorted((r["row_id"], r["label"]) for r in big.join(dim, "k").collect())
    assert got == want


def test_salted_join_widens_the_shuffle_key(spark):
    from seqtables_spark.operators.skew import salted_join

    big = spark.createDataFrame([(i, 0) for i in range(10)], "row_id long, k int")
    dim = spark.createDataFrame([(0, "a")], "k int, label string")
    plan = (
        salted_join(big, dim, ["k"], n_salts=4, max_broadcast_rows=None)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "_salt" in plan  # the join key carries the salt


def test_salted_join_broadcast_bypass_guard(spark):
    """Round-6 guard: salting fixes a SHUFFLE problem, and a
    broadcastable small side means there is no shuffle to fix — the
    guard must plan a plain broadcast join (no salt column, no
    big-side exchange), while max_broadcast_rows=None must force the
    salted shuffle plan. Both modes return identical rows."""
    from seqtables_spark.operators.skew import salted_join

    big = spark.createDataFrame([(i, i % 3) for i in range(60)], "row_id long, k int")
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "k int, label string"
    )

    bypass = salted_join(big, dim, ["k"], n_salts=4, max_broadcast_rows=1000)
    plan_b = bypass._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_b
    assert "_salt" not in plan_b

    forced = salted_join(big, dim, ["k"], n_salts=4, max_broadcast_rows=None)
    plan_f = forced._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan_f

    key = lambda r: (r["row_id"], r["label"])  # noqa: E731
    assert sorted(map(key, bypass.collect())) == sorted(map(key, forced.collect()))


def test_streaming_dedup_keeps_first_per_key(spark, tmp_path):
    from seqtables_spark.streaming.ingest import streaming_dedup

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "y"), (5, "z")],
        "row_id long, key string",
    )
    path = str(tmp_path / "dedup_in")
    df.write.parquet(path)
    stream = spark.readStream.schema("row_id long, key string").parquet(path)
    q = (
        streaming_dedup(stream, ["key"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("t_dedup_stream").collect()
    assert len(rows) == 3  # one survivor per distinct key
    assert sorted(r["key"] for r in rows) == ["x", "y", "z"]


def test_consensus_with_insertions(spark):
    from seqtables_spark import from_list
    from seqtables_spark.operators.insertions import consensus_with_insertions

    # 3 reads; all share base consensus 'AC'; 2 of 3 carry a 'T'
    # insertion left of position 2 -> insertion slot consensus 'T';
    # a second slot (-2) exists on only 1 read -> gap consensus, dropped
    st = from_list(spark, ["AC", "AC", "AC"])
    ins = spark.createDataFrame(
        [("1", 2, -1, "T", 30), ("2", 2, -1, "T", 30), ("1", 2, -2, "G", 30)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    got = {
        (r["position"], r["loc_ins"]): r["consensus_base"]
        for r in consensus_with_insertions(st.cells(), ins).collect()
    }
    assert got == {(1, 0): "A", (2, 0): "C", (2, -1): "T"}


def test_repetition_features(spark):
    from seqtables_spark.pipeline.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "a b a\na b a"), (2, "x y z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert got[1]["n_lines"] == 2 and got[1]["n_dup_lines"] == 1
    assert got[1]["n_tokens"] == 6 and got[1]["n_dup_tokens"] == 4
    assert got[2]["n_dup_lines"] == 0 and got[2]["n_dup_tokens"] == 0


def test_pii_scan_and_redact(spark):
    from seqtables_spark.pipeline.text import pii_counts, redact_pii

    docs = spark.createDataFrame(
        [(1, "mail me at a.b@x.org or visit https://x.org?q=1 tel 12345678")],
        "doc_id long, text string",
    )
    [c] = pii_counts(docs).collect()
    assert (c["n_email"], c["n_url"], c["n_long_digits"]) == (1, 1, 1)
    [r] = redact_pii(docs).collect()
    assert "<EMAIL>" in r["text"] and "<URL>" in r["text"] and "<LONG_DIGITS>" in r["text"]
    assert "a.b@x.org" not in r["text"] and "12345678" not in r["text"]


def test_view_with_insertions_quality_channel(spark):
    from seqtables_spark import from_list
    from seqtables_spark.operators.insertions import view_with_insertions

    st = from_list(spark, ["AC", "AG"], quals=["IG", "I!"])
    ins = spark.createDataFrame(
        [("1", 2, -1, "T", 30)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    v = view_with_insertions(st.cells(with_qual=True), ins, include_quality=True)
    got = {
        (r["read_id"], r["position"], r["loc_ins"]): (r["base"], r["qual"])
        for r in v.collect()
    }
    assert got[("1", 2, -1)] == ("t", 30)  # real insertion, lowercased
    assert got[("2", 2, -1)] == ("-", 0)   # gap slot -> null quality 0
    assert got[("1", 1, 0)][1] == 40       # matrix qual ('I' = phred 40)


def test_simhash_near_dups_banding_is_exact(spark):
    """With bands=4 chunks and max_hamming=3, any qualifying pair must
    share a chunk (pigeonhole) - the banded join finds exactly the
    pairs a brute-force hamming scan finds."""
    from seqtables_spark.pipeline.dedup import simhash, simhash_near_dups

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma tok{i} tok{i % 4} delta") for i in range(30)],
        "doc_id long, text string",
    )
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=3).collect()
    }
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    assert banded == brute


def test_pairwise_hamming_zero_width(spark):
    import pytest as _pytest

    from seqtables_spark.operators.skew import salted_join

    reads = spark.createDataFrame(
        [(1, ""), (2, "ACGT")], "read_id long, seq string"
    )
    from seqtables_spark.operators.compare import pairwise_hamming

    [row] = pairwise_hamming(reads).collect()
    assert row["dist"] == 0  # no common width -> no mismatches

    dim = spark.createDataFrame([(0, "a")], "k int, label string")
    big = spark.createDataFrame([(1, 0)], "row_id long, k int")
    with _pytest.raises(ValueError):
        salted_join(big, dim, ["k"], how="right")


def test_pairwise_hamming_consistent_with_reference_hamming(spark):
    """J4 (all-pairs, row-local fold) must agree with J3 (cells vs
    broadcast reference) when the 'reference' is another read - two
    independent implementations of the same distance."""
    from seqtables_spark import from_list
    from seqtables_spark.operators.compare import hamming_distance, pairwise_hamming

    seqs = ["ACGTAC", "ACCTAC", "TTGTAA", "ACGTAC"]
    reads = spark.createDataFrame(
        [(i + 1, s) for i, s in enumerate(seqs)], "read_id long, seq string"
    )
    pw = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in pairwise_hamming(reads).collect()
    }
    st = from_list(spark, seqs)
    for j, ref in enumerate(seqs, start=1):
        j3 = {
            int(r["read_id"]): r["dist"]
            for r in hamming_distance(st.cells(with_qual=False), {"r": ref}).collect()
        }
        for i in range(1, len(seqs) + 1):
            if i < j:
                assert pw[(i, j)] == j3[i], (i, j)


def test_pack_sequences(spark):
    from seqtables_spark.pipeline.text import pack_sequences

    docs = spark.createDataFrame(
        [(1, "en", "a " * 5), (2, "en", "b " * 4), (3, "en", "c " * 3), (4, "de", "x " * 2)],
        "doc_id long, lang string, text string",
    )
    # budget 8: doc1 starts at 0 (bin 0), doc2 at 5 (bin 0, straddles
    # into 9..), doc3 at 9 (bin 1); de packs independently
    got = {
        (r["lang"], r["seq_id"]): (r["n_docs"], r["total_tokens"], r["straddles"])
        for r in pack_sequences(docs, budget=8).collect()
    }
    assert got[("en", 0)] == (2, 9, 1)
    assert got[("en", 1)] == (1, 3, 0)
    assert got[("de", 0)] == (1, 2, 0)


def test_chunk_documents(spark):
    from seqtables_spark.pipeline.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string"
    )
    rows = {r["chunk_idx"]: r for r in chunk_documents(docs, max_tokens=4).collect()}
    assert len(rows) == 3
    assert rows[0]["chunk_text"] == "t0 t1 t2 t3"
    assert rows[2]["chunk_text"] == "t8 t9" and rows[2]["n_chunk_tokens"] == 2


def test_stratified_sample_and_mix_deterministic(spark):
    from seqtables_spark.pipeline.sampling import mix_sources, stratified_sample

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", f"src{i % 3}") for i in range(100)],
        "doc_id long, lang string, source string",
    )
    s1 = sorted(r["doc_id"] for r in stratified_sample(docs, 10).collect())
    s2 = sorted(
        r["doc_id"] for r in stratified_sample(docs.repartition(7), 10).collect()
    )
    assert s1 == s2 and len(s1) == 20  # partitioning-independent, 10 per lang

    kept = mix_sources(docs, {"src0": 1.0, "src1": 0.0}, default_weight=0.5)
    rows = kept.collect()
    assert all(r["source"] != "src1" for r in rows)          # weight 0 drops all
    assert sum(r["source"] == "src0" for r in rows) == 34    # weight 1 keeps all


def test_chunk_rejoin_and_pack_conservation(spark):
    from pyspark.sql import functions as F

    from seqtables_spark.pipeline.text import chunk_documents, pack_sequences, token_count

    docs = spark.createDataFrame(
        [(i, "en", " ".join(f"w{i}_{j}" for j in range(i % 7 + 1))) for i in range(30)],
        "doc_id long, lang string, text string",
    )
    # invariant 1: concatenating a doc's chunks in order restores the
    # token stream exactly
    chunks = chunk_documents(docs, max_tokens=3)
    rejoined = chunks.orderBy("doc_id", "chunk_idx").groupBy("doc_id").agg(
        F.concat_ws(" ", F.collect_list("chunk_text")).alias("txt")
    )
    orig = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in rejoined.collect():
        assert r["txt"] == orig[r["doc_id"]]
    # invariant 2: packing conserves tokens - bin totals sum to the
    # corpus token count
    packed = pack_sequences(docs, budget=10)
    total = packed.agg(F.sum("total_tokens")).first()[0]
    corpus = token_count(docs).agg(F.sum("n_tokens")).first()[0]
    assert total == corpus


def test_pwm_zero_weight_scores_zero(spark):
    """A 0.0 PWM weight must zero the product (reference numpy:
    exp(sum(log)) with log(0) = -inf), not silently drop out of the
    log-sum."""
    from seqtables_spark.operators.pwm import calculate_pwm

    cells = spark.createDataFrame(
        [("r1", 1, "A"), ("r1", 2, "C")],
        "read_id string, position long, base string",
    )
    pwm = spark.createDataFrame(
        [(1, "A", 0.0), (2, "C", 0.9)],
        "position long, letter string, weight double",
    )
    [row] = calculate_pwm(cells, pwm).collect()
    assert row["pwm_score"] == 0.0


def test_pwm_seq_fold_matches_join_path(spark):
    """Round 9: the row-local string fold (calculate_pwm_seq) must
    reproduce the explode->join->groupBy formulation exactly - both
    score paths, positions filter, null_score, per-read pos_start
    offsets, and off-read positions (missing cells contribute nothing,
    never null_score)."""
    from seqtables_spark.model import explode_chars
    from seqtables_spark.operators.pwm import calculate_pwm, calculate_pwm_seq

    reads = spark.createDataFrame(
        # r3 starts at ref position 3 -> PWM pos 1..2 are off-read;
        # r4 is short -> PWM pos 4 off-read
        [("r1", "ACGT", 1), ("r2", "TTAA", 1), ("r3", "GGCC", 3), ("r4", "AC", 1)],
        "read_id string, seq string, pos_start long",
    )
    cells = explode_chars(reads, qual_col=None)
    pwm = [(p, c, w) for p in range(1, 5)
           for c, w in (("A", 2.0), ("C", 0.5), ("G", 4.0), ("T", 0.0))]
    pwm_df = spark.createDataFrame(
        pwm, "position long, letter string, weight double"
    )
    for use_log, null_score, positions in [
        (True, 1.0, None), (False, 0.0, None),
        (True, 0.25, [2, 3]), (False, 7.0, [1, 4]),
    ]:
        want = {
            r["read_id"]: r["pwm_score"]
            for r in calculate_pwm(
                cells, pwm_df, positions=positions,
                null_score=null_score, use_log_before_sum=use_log,
            ).collect()
        }
        got = {
            r["read_id"]: r["pwm_score"]
            for r in calculate_pwm_seq(
                reads, pwm, positions=positions,
                null_score=null_score, use_log_before_sum=use_log,
            ).collect()
        }
        for rid, w in want.items():
            assert got[rid] == pytest.approx(w, abs=1e-12), (
                rid, use_log, null_score, positions)
        # the fold keeps zero-scored-position reads (empty-fold score);
        # the join path drops them - the only documented divergence
        extra = set(got) - set(want)
        empty = 1.0 if use_log else 0.0
        assert all(got[rid] == empty for rid in extra)


def test_slice_sequences_out_of_range_returns_all_reads_padded(spark):
    """Reference behavior (seqtables.py:598-616): every read comes
    back even when NO requested position exists - as the pad string."""
    from seqtables_spark.constructors import from_list

    st = from_list(spark, ["ACGT", "AAAA"])
    out = {r["read_id"]: r["seqs"] for r in st.slice_sequences([500, 501]).collect()}
    assert out == {"1": "NN", "2": "NN"}


def test_subsample_filters_insertions_to_survivors(spark):
    from seqtables_spark.model import SeqTable

    reads = spark.createDataFrame(
        [(str(i), "ACGT", 1) for i in range(20)],
        "read_id string, seq string, pos_start long",
    )
    ins = spark.createDataFrame(
        [(str(i), 2, -1, "T", 30) for i in range(20)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    st = SeqTable(reads, ins)
    sub = st.subsample(n=5)
    kept = {r["read_id"] for r in sub.reads.collect()}
    ins_ids = {r["read_id"] for r in sub.insertions.collect()}
    assert ins_ids <= kept and len(ins_ids) == 5


def test_merge_renumber_keeps_insertions_attached(spark):
    from seqtables_spark.model import SeqTable
    from seqtables_spark.operators.merge import merge_seqtables

    def mk():
        reads = spark.createDataFrame(
            [("r1", "ACGT", 1)], "read_id string, seq string, pos_start long"
        )
        ins = spark.createDataFrame(
            [("r1", 2, -1, "G", 30)],
            "read_id string, position long, loc_ins int, base string, qual int",
        )
        return SeqTable(reads, ins)

    merged = merge_seqtables([mk(), mk()], renumber_reads=True)
    read_ids = {r["read_id"] for r in merged.reads.collect()}
    ins_ids = {r["read_id"] for r in merged.insertions.collect()}
    assert read_ids == {"0#r1", "1#r1"}
    assert ins_ids == read_ids  # renumbered in lockstep, not orphaned


def test_cells_honors_phred_adjust(spark):
    from seqtables_spark.model import SeqTable

    reads = spark.createDataFrame(
        [("r1", "AC", "AB", 1)],
        "read_id string, seq string, qual string, pos_start long",
    )
    q33 = {r["position"]: r["qual"] for r in SeqTable(reads).cells().collect()}
    q64 = {
        r["position"]: r["qual"]
        for r in SeqTable(reads, phred_adjust=64).cells().collect()
    }
    assert q33[1] == ord("A") - 33 and q64[1] == ord("A") - 64


def test_decode_audio_real_wav(spark):
    """decode_audio_features really parses RIFF/WAVE PCM: 16-bit mono
    and 8-bit mono (unsigned, centred at 128) with a known constant
    amplitude give exact window energies at the file's OWN sample
    rate; stereo down-mixes by mean; an empty data chunk gives one
    zero window; compressed formats raise the documented error."""
    import numpy as np

    from seqtables_spark.pipeline.multimodal import decode_audio_features

    def wav(rate, samples, n_ch=1, bits=16):
        dt = "<i2" if bits == 16 else np.uint8
        data = np.asarray(samples, dt).tobytes()
        width = bits // 8
        fmt = (
            (1).to_bytes(2, "little") + n_ch.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * n_ch * width).to_bytes(4, "little")
            + (n_ch * width).to_bytes(2, "little")
            + bits.to_bytes(2, "little")
        )
        body = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        body += b"data" + len(data).to_bytes(4, "little") + data
        return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body

    rate = 8  # 8 samples/s -> window_s=1.0 means 8-sample windows
    # 12 samples of constant +16384 (= 0.5 amplitude): windows of 8+4
    mono = wav(rate, [16384] * 12)
    # stereo: L=+16384, R=-16384 -> mean 0 everywhere
    stereo = wav(rate, [16384, -16384] * 8, n_ch=2)
    # 8-bit: 192 and 64 are +-0.5 around the 128 midpoint
    pcm8 = wav(rate, [192, 64] * 10, bits=8)
    empty = wav(rate, [], bits=8)
    df = spark.createDataFrame(
        [(1, bytearray(mono)), (2, bytearray(stereo)), (3, bytearray(pcm8)),
         (4, bytearray(empty))],
        "media_id long, payload binary",
    )
    got = {r.media_id: r for r in decode_audio_features(df).collect()}
    assert abs(got[1].duration_s - 12 / 8) < 1e-12
    assert got[1].n_windows == 2
    assert all(abs(e - 0.5) < 1e-6 for e in got[1].window_energy)
    assert got[2].n_windows == 1 and abs(got[2].window_energy[0]) < 1e-6
    assert got[3].duration_s == 20 / 8 and got[3].n_windows == 3
    assert got[3].window_energy == [0.5, 0.5, 0.5]
    assert got[4].duration_s == 0.0 and got[4].window_energy == [0.0]

    import pytest as _pytest

    flac = spark.createDataFrame(
        [(3, bytearray(b"fLaC....."))], "media_id long, payload binary"
    )
    with _pytest.raises(Exception, match="soundfile|NotImplemented"):
        decode_audio_features(flac).collect()
