"""session.local_relation, the JVM-born table for bounded driver-side
metadata, and the operators that use it instead of a Python-RDD
createDataFrame."""

from collections import Counter

import pytest

from seqtables_spark.constructors import from_df
from seqtables_spark.operators.kmers import contiguous_kmers
from seqtables_spark.session import local_relation


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_values_round_trip_exactly(spark):
    texts = ["'", "\\", "\\'", "--", "naïve ДНК 🧬", "", None, "a'); DROP TABLE t; --"]
    ints = [0, 1, -1, 2**31, 2**62, -(2**63), 2**63 - 1, None]
    rows = list(zip(range(len(texts)), texts, ints))
    df = local_relation(spark, rows, "i int, s string, n long")
    assert df.schema.simpleString() == "struct<i:int,s:string,n:bigint>"
    assert sorted(tuple(r) for r in df.collect()) == rows


def test_empty_rows_give_a_typed_empty_relation(spark):
    df = local_relation(spark, [], "path string, n_records long, flag int")
    assert df.schema.simpleString() == "struct<path:string,n_records:bigint,flag:int>"
    assert df.collect() == []
    assert "LocalTableScan" in _plan(df)


def test_executed_plan_is_a_local_table_scan(spark):
    df = local_relation(spark, [("a", 1), ("b", 2)], "k string, v long")
    plan = _plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


@pytest.mark.parametrize("value", [1.5, True, b"x", [1]])
def test_unsupported_value_types_raise(spark, value):
    with pytest.raises(TypeError):
        local_relation(spark, [(value,)], "x string")


def test_facade_compare_and_quality_plans_scan_no_python_rdd(spark):
    """The reference cells and the overlapping-bin table are
    LocalRelations: over a JVM-born input, no executed plan holds a
    Python-RDD scan (which would run a Python-worker task)."""
    reads = local_relation(
        spark,
        [(f"r{i}", seq, "I#I5I?I+") for i, seq in enumerate(["ACGTACGT", "ACGAACGA", "TCGTACGA"] * 4)],
        "read_id string, seq string, qual string",
    )
    st = from_df(reads, max_len=8)
    ref = "ACGTACGT"
    ops = {
        "hamming_distance": st.hamming_distance(ref),
        "mutation_profile": st.mutation_profile(ref),
        "mutation_TS_TV_profile": st.mutation_TS_TV_profile(ref),
        "get_quality_dist": st.get_quality_dist(bins=[(1, 4), (3, 6)]),
    }
    for name, df in ops.items():
        plan = _plan(df)
        assert "ExistingRDD" not in plan, name
        assert "LocalTableScan" in plan, name
        assert df.collect(), name


def _kmer_model(rows, k, with_id):
    out = Counter()
    for rid, text in rows:
        if text is None:
            continue
        for i in range(len(text) - k + 1):
            out[(rid, text[i : i + k]) if with_id else text[i : i + k]] += 1
    return out


@pytest.mark.parametrize("k", [1, 3, 6, 7])
@pytest.mark.parametrize("with_id", [False, True])
def test_contiguous_kmers_matches_python_model(spark, k, with_id):
    """k = 1, k = the longest text's length (6) and k beyond it, over
    empty and null texts, with and without an id column; the window
    substrings are a compiled projection, not a lambda."""
    rows = [("a", "ACGTAC"), ("b", "AAA"), ("c", ""), ("d", None), ("e", "ACG"), ("a", "CGT")]
    df = local_relation(spark, rows, "rid string, seq string")
    out = contiguous_kmers(df, k, id_col="rid" if with_id else None)
    got = Counter(
        {((r["rid"], r["kmer"]) if with_id else r["kmer"]): r["cnt"] for r in out.collect()}
    )
    assert got == _kmer_model(rows, k, with_id)
    assert "lambdafunction" not in _plan(out)
