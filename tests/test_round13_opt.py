"""Round-13 regression pins for the four round-12 driver-red queries.

Root cause (CORRECTNESS_r12.json): the four hash-failing oracles —
partitioned_prune, bucketed_join, corpus_stats, leakage_split — were
EXACTLY the four (of 163) whose DuckDB result carried a HUGEINT
column (DuckDB's sum(BIGINT) widens to int128). selfcheck's
normalize() canonicalizes ints so the mismatch was invisible locally,
but the driver's hasher is type-sensitive. The repo-wide convention
is CAST(sum(..) AS BIGINT); these pins keep the invariant from
regressing, and pin the session-hermeticity fixes that came with it
(no session-global timeZone mutation at plan build; integer-exact
day derivation on the TIMESTAMP(NANOS) driver data shape; PID-scoped
bucket database so stale catalog state can never alias).
"""

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"

# The canonical DuckDB output types the driver's hasher has been
# proven green on (every other type below appears in at least one
# driver-verified oracle; HUGEINT appeared ONLY in the four r12
# failures).
_ALLOWED_DUCK_TYPES = {
    "BIGINT", "INTEGER", "VARCHAR", "DOUBLE", "BOOLEAN", "DECIMAL(38,2)",
}


def test_no_hugeint_in_any_oracle():
    """Planning-only type audit of all 163 oracle SQLs: no column may
    come back HUGEINT (or any type outside the driver-proven set).
    DuckDB binds the relation without executing it, so this covers
    the full suite in seconds."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"parquet_scan('{SF_DIR}/{t}.parquet')"
        )
    bad = []
    for name, sql in sorted(entry.oracle_sql().items()):
        rel = con.sql(sql)
        for c, ty in zip(rel.columns, rel.types):
            if str(ty) not in _ALLOWED_DUCK_TYPES:
                bad.append((name, c, str(ty)))
    assert bad == [], (
        "oracle columns with non-canonical DuckDB types (the r12 "
        f"driver-red signature): {bad}"
    )


def test_partitioned_prune_does_not_mutate_session_timezone(spark):
    """r12 leaked spark.sql.session.timeZone=UTC into the calling
    session at plan-build time; the day derivation is now integer-
    exact and tz-independent, so the query must leave the session
    timezone alone."""
    from __spark_entry__ import q_partitioned_prune

    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rows = q_partitioned_prune(spark, SF_DIR).collect()
        assert len(rows) > 0
        assert (
            spark.conf.get("spark.sql.session.timeZone")
            == "America/New_York"
        ), "q_partitioned_prune mutated the session timezone"
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


@pytest.fixture
def nanos_dir(tmp_path):
    """A replica of SF_DIR whose events.parquet stores ts as
    TIMESTAMP(NANOS), which Spark reads only under nanosAsLong."""
    pytest.importorskip("pyarrow")
    from tools.make_nanos_fixture import make

    d = str(tmp_path / "sf_nanos")
    make(SF_DIR, d)
    return d


def test_partitioned_prune_nanos_shape_matches_micros_shape(spark, nanos_dir):
    """The driver's events.parquet is TIMESTAMP(NANOS), which Spark
    reads as BIGINT under nanosAsLong — a completely different day-
    derivation branch from the local TIMESTAMP(MICROS) one. Same
    instants through both branches must give identical results."""
    from __spark_entry__ import q_partitioned_prune

    # sanity: the nanos copy really takes the bigint branch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dt = dict(spark.read.parquet(f"{nanos_dir}/events.parquet").dtypes)["ts"]
    assert dt == "bigint", f"nanos fixture read as {dt}, expected bigint"

    base = {
        tuple(r) for r in q_partitioned_prune(spark, SF_DIR).collect()
    }
    nanos = {tuple(r) for r in q_partitioned_prune(spark, nanos_dir).collect()}
    assert base == nanos


def test_events_read_sets_nanos_as_long(spark, nanos_dir):
    """_t owns the events read conf: with nanosAsLong unset, reading
    the TIMESTAMP(NANOS) events table still works and gives a bigint
    ts (without the conf Spark rejects the file as an illegal
    Parquet type)."""
    from __spark_entry__ import _t

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert dict(_t(spark, nanos_dir, "events").dtypes)["ts"] == "bigint"


@pytest.mark.parametrize("ts_type", ["nanos", "ltz"])
def test_events_by_day_floors_pre_1970_instants(spark, tmp_path, ts_type):
    """One tick before the epoch is on 1969-12-31, as DuckDB's
    CAST(ts AS DATE) has it; truncating division would put it on
    1970-01-01. Covers the bigint-nanos branch and the ltz one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import _events_by_day

    arrow_type = (
        pa.timestamp("ns") if ts_type == "nanos" else pa.timestamp("us", tz="UTC")
    )
    t = pa.table({"ts": pa.array([-1], arrow_type), "value": [1.0]})
    pq.write_table(t, str(tmp_path / "events.parquet"), store_schema=False)
    days = spark.read.parquet(_events_by_day(spark, str(tmp_path))).select(
        F.col("day").cast("string")
    )
    assert [r[0] for r in days.collect()] == ["1969-12-31"]


def test_memo_is_per_session_and_per_arguments(spark):
    """One build per (session, builder, arguments); another session
    rebuilds."""
    import __spark_entry__ as entry

    docs = entry._t(spark, SF_DIR, "documents")
    assert entry._t(spark, SF_DIR, "documents") is docs
    assert entry._t(spark, SF_DIR, "customer") is not docs
    other = entry._t(spark.newSession(), SF_DIR, "documents")
    assert other is not docs
    assert other.sparkSession is not spark
    assert entry._t(spark, SF_DIR, "documents") is not other


def test_queries_plan_cache_survives_and_bare_queries_rebuild(spark):
    """queries() memoizes each built plan across calls to queries();
    queries(cached=False) hands out the bare builders, which build a
    fresh DataFrame every time."""
    import __spark_entry__ as entry

    first = entry.queries()["seq_dist"](spark, SF_DIR)
    assert entry.queries()["seq_dist"](spark, SF_DIR) is first
    bare = entry.queries(cached=False)["seq_dist"]
    assert bare(spark, SF_DIR) is not bare(spark, SF_DIR)


def test_ranks_boundary_none_is_value_identical(spark):
    """r12 ADVICE: the O(N) localCheckpoint of the ranged relation is
    unsafe under executor loss / dynamic allocation; the
    spark.seqtables.ranks.boundary=none escape hatch re-executes the
    branches instead — results must be identical either way."""
    from pyspark.sql import functions as F

    from seqtables_spark.operators.ranks import (
        global_ntile, global_row_number, global_running_sum,
    )

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") * 37 % 101).alias("k"),
        (F.col("id") % 13).alias("v"),
    )
    order = [F.col("k").asc(), F.col("id").asc()]

    def run():
        rn = global_row_number(df, order, num_partitions=7)
        nt = global_ntile(df, order, 10, num_partitions=7)
        rs = global_running_sum(df, order, "v", num_partitions=7)
        return (
            sorted(map(tuple, rn.collect())),
            sorted(map(tuple, nt.collect())),
            sorted(map(tuple, rs.collect())),
        )

    base = run()
    spark.conf.set("spark.seqtables.ranks.boundary", "none")
    try:
        none_mode = run()
    finally:
        spark.conf.unset("spark.seqtables.ranks.boundary")
    assert base == none_mode


def test_quality_dist_empty_bins_returns_empty(spark):
    """r12 ADVICE: bins=[] raised ValueError in the literal-lookup
    path; the range-join path it replaced returned an empty result."""
    from seqtables_spark.operators.quality import _attach_bins

    cells = spark.createDataFrame(
        [("r1", 1, 30), ("r2", 2, 20)],
        "read_id string, position long, qual long",
    )
    out = _attach_bins(spark, cells, [])
    assert out.count() == 0
    assert {"bin_name", "bin_lo", "bin_hi"} <= set(out.columns)


def test_quality_dist_preset_without_scored_cells_returns_empty(spark):
    """Preset bins over a table with no scored cells (every qual '!',
    or a filtered-empty table) raised TypeError on the eager min/max;
    the lazy preset returns an empty frame with the usual schema."""
    from seqtables_spark.model import SeqTable
    from seqtables_spark.operators.quality import quality_dist

    st = SeqTable(
        spark.createDataFrame(
            [("r1", "ACGT", "!!!!", 1), ("r2", "AC", None, 1)],
            "read_id string, seq string, qual string, pos_start int",
        )
    )
    for preset in ("even", "fastqc"):
        out = st.get_quality_dist(bins=preset)
        assert out.collect() == []
        assert {"bin_name", "bin_lo", "bin_hi", "mean", "p50"} <= set(out.columns)
        filtered = st.quality_filter(20, 50.0).cells()
        assert quality_dist(filtered, bins=preset).collect() == []


def test_bucketed_join_database_is_pid_scoped(spark):
    """A persistent metastore in the calling session's cwd must never
    resolve the bucket database to a stale location from a dead
    process: the database name carries this PID."""
    from __spark_entry__ import q_bucketed_join

    q_bucketed_join(spark, SF_DIR).collect()
    pid = str(os.getpid())
    dbs = [d.name for d in spark.catalog.listDatabases()]
    ours = [d for d in dbs if d.startswith("seqtables_bucket_")]
    assert ours, f"no bucket database found in {dbs}"
    assert all(d.endswith(f"_{pid}") for d in ours), (
        f"bucket databases not PID-scoped: {ours}"
    )
