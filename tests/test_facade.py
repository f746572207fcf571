"""Reference-parity facade: the SeqTable methods mirror the
reference's call surface and delegate to the operator modules."""

import pytest

from seqtables_spark import from_list


@pytest.fixture(scope="module")
def st(spark, golden_seqs):
    return from_list(spark, golden_seqs)


def test_get_seq_dist(st):
    d = {(r["position"], r["base"]): r["cnt"] for r in st.get_seq_dist().collect()}
    assert d[(1, "A")] == 4


def test_get_consensus(st):
    rows = {r["position"]: r["consensus_base"] for r in st.get_consensus().collect()}
    assert rows[1] == "A"


def test_hamming(st, golden_seqs):
    rows = st.hamming_distance(golden_seqs[:1]).collect()
    d = {r["read_id"]: r["dist"] for r in rows}
    assert d["1"] == 0 and d["2"] == 3


def test_mutation_profile(st, golden_seqs):
    rows = st.mutation_profile(golden_seqs[:1]).collect()
    total = sum(r["cnt"] for r in rows)
    assert total == 14  # sum of mismatches vs read 1


def test_ts_tv(st, golden_seqs):
    r = st.mutation_TS_TV_profile(golden_seqs[:1]).first()
    assert r["transitions"] + r["transversions"] == 14


def test_entropy_and_bits(st):
    assert st.pos_entropy().count() == 4
    assert st.get_bits().count() > 0
    assert st.relative_entropy().count() == 4


def test_plogo_facade(st):
    assert st.get_plogo().count() > 0


def test_pwm_nested_list(st):
    pwm = [[1.0, 1.0, 1.0, 1.0]] * 4  # uniform ACTG weights, 4 positions
    rows = st.calculate_pwm(pwm).collect()
    assert all(abs(r["pwm_score"] - 1.0) < 1e-12 for r in rows)


def test_substrings_and_slices(st):
    assert st.get_substrings(2, positions=[1, 2]).count() > 0
    assert st.slice_sequences([1, 2]).count() == 6


def test_quality_ops(spark):
    st = from_list(spark, ["ACGT"], quals=["II#!"])
    assert st.get_quality_dist(bins=[(1, 4)]).count() == 1
    masked = st.convert_low_bases_to_null(q=20)
    assert masked.filter("base = 'N'").count() == 1  # pos3 low; pos4 null-qual kept
    assert st.quality_filter(q=20, p=50.0).reads.count() == 1


def test_merge_facade(spark):
    a = from_list(spark, ["AA", "AC"])
    b = from_list(spark, ["TT"])
    assert a.merge_seqs([b]).reads.count() == 3


def test_view_with_ins_empty(st):
    # no insertion table -> only loc_ins=0 rows
    v = st.view_with_ins(positions=[1])
    assert v.filter("loc_ins < 0").count() == 0
    assert v.filter("loc_ins = 0").count() == 6


def test_facade_insertion_aggs_and_seq_logo(spark):
    from seqtables_spark import from_list
    from seqtables_spark.model import SeqTable

    st = from_list(spark, ["AC", "AC", "AG"])
    ins = spark.createDataFrame(
        [("1", 2, -1, "T", 30), ("2", 2, -1, "T", 20)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    st2 = SeqTable(st.reads, insertions=ins)
    avgq = {(r["position"], r["loc_ins"]): r["avg_qual"]
            for r in st2.get_average_insertion_quality().collect()}
    assert avgq[(2, -1)] == 25.0
    exp = {r["position"]: r["mean_len"] for r in st2.get_insertion_expectations().collect()}
    assert exp[2] == 1.0
    dist = {(r["position"], r["loc_ins"], r["base"]): r["cnt"]
            for r in st2.get_insertion_seq_dist().collect()}
    assert dist[(2, -1, "T")] == 2
    assert dist[(2, -1, "-")] == 1  # implicit gap row: 3 reads - 2 with ins
    logo = {(r["position"], r["loc_ins"], r["base"]): r["freq"]
            for r in st2.seq_logo().collect()}
    # matrix slots (loc_ins=0): freq over matrix letters only
    assert logo[(1, 0, "A")] == 1.0
    assert abs(logo[(2, 0, "C")] - 2 / 3) < 1e-12
    # insertion slot (2,-1): per-slot distribution over all N=3 reads,
    # incl the implicit '-' gap row (reference seqtables.py:1047-1051)
    assert abs(logo[(2, -1, "T")] - 2 / 3) < 1e-12
    assert abs(logo[(2, -1, "-")] - 1 / 3) < 1e-12
    # counts shape matches: gap row = N - ins reads
    logo_cnt = {(r["position"], r["loc_ins"], r["base"]): r["cnt"]
                for r in st2.seq_logo(method="counts").collect()}
    assert logo_cnt[(2, -1, "T")] == 2
    assert logo_cnt[(2, -1, "-")] == 1
    assert logo_cnt[(2, 0, "G")] == 1


def test_insertion_seq_dist_freq_and_bits(spark):
    import math

    from seqtables_spark.model import SeqTable
    from seqtables_spark import from_list

    n = 30
    reads = ["AC"] * n
    st = from_list(spark, reads)
    # 20 reads carry T at slot (2,-1), 10 do not -> gap cnt 10
    ins = spark.createDataFrame(
        [(str(i + 1), 2, -1, "T", 30) for i in range(20)],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    st2 = SeqTable(st.reads, insertions=ins)

    freq = {(r["base"]): r["freq"]
            for r in st2.get_insertion_seq_dist(method="freq").collect()}
    assert abs(freq["T"] - 20 / n) < 1e-12
    assert abs(freq["-"] - 10 / n) < 1e-12

    bits = {r["base"]: r["bits"]
            for r in st2.get_insertion_seq_dist(method="bits").collect()}
    # reference get_bits with alphabet={T,-}: per-slot entropy +
    # small-sample correction, negative heights clamped
    p_t, p_g = 20 / n, 10 / n
    ent = -(p_t * math.log2(p_t) + p_g * math.log2(p_g))
    corr = (1 / math.log(2)) * (2 - 1) / (2 * n)
    total = math.log2(2) - (ent + corr / 2)
    assert abs(bits["T"] - max(p_t * total, 0.0)) < 1e-12
    assert abs(bits["-"] - max(p_g * total, 0.0)) < 1e-12

    with pytest.raises(ValueError):
        from seqtables_spark.operators.insertions import get_insertion_seq_dist
        get_insertion_seq_dist(ins, method="freq")


def test_classmethod_constructor_surface(spark, tmp_path):
    """Reference call sites SeqTable.from_list / from_df / from_sam /
    from_pysam work unchanged on the facade (seqtables.py:92,168,214,
    226) and agree with each other on the same alignments."""
    from seqtables_spark.model import SeqTable
    from seqtables_spark.sources.bam import encode_bam

    st = SeqTable.from_list(spark, ["ACGT", "AC"], quals=["IIII", "II"])
    seqs = {r["read_id"]: r["seq"] for r in st.reads.collect()}
    assert seqs["2"] == "ACNN"  # ragged tail filled

    sam_df = spark.createDataFrame(
        [("r1", "ref1", 3, "4M", "ACGT", "IIII")],
        "header string, rname string, pos long, cigar string, seq string, qual string",
    )
    st2 = SeqTable.from_df(sam_df)  # cigar column -> realignment path
    assert {r["seq"] for r in st2.reads.collect()} == {"ACGT"}

    refs = [("ref1", 100)]
    recs = [
        ("a1", 0, "ref1", 2, 60, "4M", "ACGT", "IIII"),
        ("a2", 0, "ref1", 4, 60, "2M1I1M", "TGCA", "IIII"),
    ]
    (tmp_path / "x.bam").write_bytes(encode_bam(recs, refs))
    sam_text = "@HD\tVN:1.6\n@SQ\tSN:ref1\tLN:100\n" + "".join(
        f"{n}\t{f}\t{r}\t{p}\t{m}\t{c}\t*\t0\t0\t{s}\t{q}\n"
        for n, f, r, p, m, c, s, q in recs
    )
    (tmp_path / "x.sam").write_text(sam_text)
    st_bam = SeqTable.from_pysam(spark, str(tmp_path / "x.bam"))
    st_sam = SeqTable.from_sam(spark, str(tmp_path / "x.sam"))
    get = lambda t: sorted(
        (r["read_id"], r["seq"]) for r in t.reads.collect()
    )
    assert get(st_bam) == get(st_sam)
    assert st_bam.insertions.count() == st_sam.insertions.count() == 1


def test_create_views_sql_surface(spark):
    """spark.sql over the registered views reproduces an operator
    result (seq_dist as plain GROUP BY) - the SQL face works."""
    from seqtables_spark.constructors import from_list

    st = from_list(spark, ["ACGT", "ACGA", "ACGT"])
    views = st.create_views("t_sql")
    assert views == ["t_sql_reads", "t_sql_cells", "t_sql_insertions"]
    got = {
        (r["position"], r["base"]): r["cnt"]
        for r in spark.sql(
            "SELECT position, base, count(*) AS cnt FROM t_sql_cells "
            "GROUP BY position, base"
        ).collect()
    }
    assert got[(4, "T")] == 2 and got[(4, "A")] == 1 and got[(1, "A")] == 3
    assert spark.sql("SELECT count(*) n FROM t_sql_reads").first()["n"] == 3


def test_from_sam_df_leaves_the_cache_manager_empty(spark):
    """from_df(cigar) shares one realignment pass between reads and
    insertions through a checkpoint boundary, not a persisted relation
    that would outlive the table in the session CacheManager."""
    from seqtables_spark.model import SeqTable

    spark.catalog.clearCache()
    sam_df = spark.createDataFrame(
        [("r1", "ref1", 3, "2M1I2M", "ACGTA", "IIIII")],
        "header string, rname string, pos long, cigar string, seq string, qual string",
    )
    st = SeqTable.from_df(sam_df)
    assert len(st.reads.collect()) == 1
    assert len(st.insertions.collect()) == 1
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
