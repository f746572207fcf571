"""Quality operators against a pure-Python model of the reference.

The model scores each qual character as ``ord(c) - 33`` at position
``pos_start + offset`` (an empty or null qual scores nothing), bins
positions with the reference's preset tables (``fastqc_bins`` /
``even_bins`` restricted to ``min <= bin_lo <= max``), and takes
numpy-style linearly interpolated percentiles. quality_filter keeps a
read when ``n_good / n_considered * 100 >= p``.
"""

import math

import pytest

from seqtables_spark import SeqTable
from seqtables_spark.operators.quality import (
    even_bins,
    fastqc_bins,
    quality_dist,
    quality_filter,
)

READS_SCHEMA = "read_id string, seq string, qual string, pos_start int"
PCTS = (0, 10, 25, 50, 75, 90, 100)


def _qual(rng_state: int, n: int) -> str:
    # deterministic phred spread 0..41, including '!' (phred 0)
    return "".join(chr(33 + (rng_state * 7 + i * 13) % 42) for i in range(n))


def _scored(reads, exclude_null_quality=True):
    out = []
    for _, _, qual, pos_start in reads:
        for off, ch in enumerate(qual or ""):
            ph = ord(ch) - 33
            if ph > 0 or not exclude_null_quality:
                out.append((pos_start + off, ph))
    return out


def _percentile(vals, p):
    rk = (len(vals) - 1) * p / 100.0
    lo, hi = math.floor(rk), math.ceil(rk)
    return vals[lo] + (rk - lo) * (vals[hi] - vals[lo])


def _dist_model(reads, preset):
    cells = _scored(reads)
    if not cells:
        return {}
    lo_all = min(p for p, _ in cells)
    hi_all = max(p for p, _ in cells)
    table = fastqc_bins(hi_all) if preset == "fastqc" else even_bins(lo_all, hi_all)
    out = {}
    for lo, hi in table:
        if not lo_all <= lo <= hi_all:
            continue
        vals = sorted(q for p, q in cells if lo <= p <= hi)
        if not vals:
            continue
        name = f"{lo}-{hi}" if lo != hi else str(lo)
        pct = [_percentile(vals, p) for p in PCTS]
        out[(name, lo, hi)] = (sum(vals) / len(vals), pct[3], vals[0], vals[-1], *pct)
    return out


def _dist_rows(df):
    cols = ("mean", "median", "min", "max", *(f"p{p}" for p in PCTS))
    return {
        (r["bin_name"], r["bin_lo"], r["bin_hi"]): tuple(r[c] for c in cols)
        for r in df.collect()
    }


def _assert_dist_equal(got, want):
    assert got.keys() == want.keys()
    for k, exp in want.items():
        for a, b in zip(got[k], exp):
            assert math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12), (k, got[k], exp)


def _reads_min_pos_gt_1():
    # every read starts at 5: the preset bins start at min position 5
    return [(f"r{i}", "A" * 40, _qual(i, 40), 5) for i in range(30)]


def _reads_pos_start_offsets():
    # staggered starts, quals shorter and longer than seq, empty/null qual
    reads = [(f"r{i}", "C" * 60, _qual(i, 50 + i % 15), 1 + i % 7) for i in range(40)]
    reads += [("e1", "ACGT", "", 3), ("n1", "ACGT", None, 2)]
    return reads


def _reads_max_ge_300():
    return [(f"r{i}", "G" * 340, _qual(i, 320 + i % 17), 1 + i % 3) for i in range(12)]


def _reads_max_mod_10():
    # max position 310 exactly: range(300, 310, 10) has no (310, 319) bin
    return [(f"r{i}", "T" * 310, _qual(i, 300 + i % 11), 1) for i in range(12)]


def _reads_min_pos_12():
    # the fastqc (10,14) bin starts below min 12 and is dropped
    return [(f"r{i}", "A" * 80, _qual(i, 80), 12) for i in range(10)]


CASES = {
    "min_pos_gt_1": _reads_min_pos_gt_1,
    "min_pos_12": _reads_min_pos_12,
    "pos_start_offsets": _reads_pos_start_offsets,
    "max_ge_300": _reads_max_ge_300,
    "max_mod_10": _reads_max_mod_10,
}


@pytest.mark.parametrize("preset", ["even", "fastqc"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_quality_dist_preset_matches_model(spark, case, preset):
    reads = CASES[case]()
    st = SeqTable(spark.createDataFrame(reads, READS_SCHEMA))
    want = _dist_model(reads, preset)
    assert want, "fixture must score some cells"
    _assert_dist_equal(_dist_rows(st.get_quality_dist(bins=preset)), want)
    # the free function over the full seq x qual cells view agrees
    _assert_dist_equal(_dist_rows(quality_dist(st.cells(), bins=preset)), want)


def test_quality_dist_fixtures_hit_fastqc_rules():
    """The model comparison above only proves the preset rules if the
    fixtures reach them: the 310 tail, the (75,79) gap and the
    bin_lo >= min rule."""
    tail = _dist_model(_reads_max_mod_10(), "fastqc")
    assert ("300-309", 300, 309) in tail
    assert not any(lo == 310 for _, lo, _ in tail)
    los = {lo for _, lo, _ in _dist_model(_reads_min_pos_12(), "fastqc")}
    assert 10 not in los and 15 in los and 75 not in los and 80 in los


def _filter_model(reads, q, p, ignore_null_qual):
    keep = []
    for rid, _, qual, _ in reads:
        ph = [ord(c) - 33 for c in (qual or "")]
        considered = [x for x in ph if x > 0] if ignore_null_qual else ph
        if considered and sum(x >= q for x in considered) / len(considered) * 100 >= p:
            keep.append(rid)
    return sorted(keep)


FILTER_READS = [
    ("short", "ACGTACGT", "II5", 1),          # qual shorter than seq
    ("long", "AC", "I5#+I", 1),               # qual longer than seq
    ("empty", "ACGT", "", 1),
    ("null", "ACGT", None, 1),
    ("bangs", "ACGTA", "!!I#!", 1),           # phred 0 bases
    ("all_bang", "ACG", "!!!", 1),
    ("edge", "ACGTACG", "IIII###", 1),        # 4/7 exactly at p=400/7
    ("mixed", "ACGTACGTAC", "I!5+#I!?5I", 1),
]


@pytest.mark.parametrize("ignore_null_qual", [True, False])
@pytest.mark.parametrize("q,p", [(20, 50.0), (20, 4 / 7 * 100), (30, 60.0), (0, 100.0), (41, 1.0)])
def test_quality_filter_matches_model(spark, q, p, ignore_null_qual):
    st = SeqTable(spark.createDataFrame(FILTER_READS, READS_SCHEMA))
    got = sorted(
        r["read_id"]
        for r in quality_filter(st, q, p, ignore_null_qual=ignore_null_qual).reads.collect()
    )
    assert got == _filter_model(FILTER_READS, q, p, ignore_null_qual)


def test_quality_filter_shrinks_insertions(spark):
    reads = spark.createDataFrame(FILTER_READS, READS_SCHEMA)
    ins = spark.createDataFrame(
        [(rid, 2, 1, "A", 30) for rid, *_ in FILTER_READS],
        "read_id string, position long, loc_ins int, base string, qual int",
    )
    out = SeqTable(reads, ins).quality_filter(20, 50.0)
    kept = sorted(r["read_id"] for r in out.reads.collect())
    assert kept == _filter_model(FILTER_READS, 20, 50.0, True)
    assert sorted(r["read_id"] for r in out.insertions.collect()) == kept


def test_quality_filter_plan_has_no_shuffle(spark):
    st = SeqTable(spark.createDataFrame(FILTER_READS, READS_SCHEMA))
    plan = st.quality_filter(20, 50.0).reads._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan
