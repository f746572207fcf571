"""Cross-comparison operators: read-set vs reference-set.

Parity targets (file:line in /root/reference):
  - compare_sequence_matrices: seqtables/core/numpy_ops.py:21-104.
    Semantics order matters and is preserved exactly:
      1. match = (base == ref_base) OR either side in treat_as_match
      2. flip inverts the result of (1)
      3. either side in ignore_characters -> NULL (reference: NaN)
    The golden cases in /root/reference/tests/tests_to_make.txt pin
    this precedence.
  - compare_to_references: seqtables/core/seqtables.py:757-833
  - hamming_distance:      seqtables/core/seqtables.py:835-872
  - mutation_profile:      seqtables/core/seqtables.py:1055-1118
  - mutation_TS_TV_profile: seqtables/core/seqtables.py:1170-1221

Scale notes. The reference broadcasts an N x P x M boolean tensor in
RAM. Here it is an equi-join of `cells` (huge) against `ref_cells`
(tiny: M references x P positions) ON position - Catalyst picks a
broadcast hash join, so no shuffle of the big side at all; the
downstream groupBy(read_id, ref_id) is the only shuffle and its
cardinality is N x M rows. That plan survives 100 TB: the big side
streams once, map-side partial aggregation compresses before the
exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..session import local_relation

# NT transitions (purine<->purine, pyrimidine<->pyrimidine); all other
# substitutions are transversions (reference seqtables.py:1170-1221).
TRANSITIONS = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}


def ref_cells_from_strings(
    spark: SparkSession,
    refs: Sequence[str] | dict[str, str],
    pos_start: int = 1,
) -> DataFrame:
    """Build the reference-side cells table (ref_id, position, ref_base)
    from literal strings; mirrors _align_ref_seqs (seqtables.py:688-709).

    References are by definition tiny (M refs x P positions), so the
    cells are exploded driver-side into a JVM-born LocalRelation
    (session.local_relation): building it runs no job, and the
    broadcast side of every downstream join is a LocalTableScan with
    no Python-worker task (vs re-entering the from_list constructor,
    which would add a width-discovery action + an explode stage)."""
    if isinstance(refs, dict):
        items = list(refs.items())
    else:
        items = [(str(i), s) for i, s in enumerate(refs, start=1)]
    width = max((len(s) for _, s in items), default=0)
    fill = "N"
    rows = [
        (rid, pos_start + off, (s[off] if off < len(s) else fill).upper())
        for rid, s in items
        for off in range(width)
    ]
    return local_relation(spark, rows, "ref_id string, position long, ref_base string")


def _match_expr(
    flip: bool,
    treat_as_match: Sequence[str],
    ignore_characters: Sequence[str],
) -> Column:
    """The three-valued match expression; see module docstring for the
    precedence contract."""
    b, r = F.col("base"), F.col("ref_base")
    matched = b == r
    if treat_as_match:
        tam = list(treat_as_match)
        matched = matched | b.isin(tam) | r.isin(tam)
    if flip:
        matched = ~matched
    if ignore_characters:
        ign = list(ignore_characters)
        matched = F.when(b.isin(ign) | r.isin(ign), F.lit(None)).otherwise(matched)
    return matched


def compare_cells(
    cells: DataFrame,
    ref_cells: DataFrame,
    flip: bool = False,
    treat_as_match: Sequence[str] = (),
    ignore_characters: Sequence[str] = (),
    positions: Sequence[int] | None = None,
) -> DataFrame:
    """Position-wise compare of every read against every reference.

    Returns DF(read_id, ref_id, position, match) with match in
    {true, false, NULL}; NULL plays the reference's NaN role and is
    skipped by SQL aggregates exactly as nansum-style reductions skip
    NaN.
    """
    if positions is not None:
        cells = cells.filter(F.col("position").isin(list(positions)))
        ref_cells = ref_cells.filter(F.col("position").isin(list(positions)))
    joined = cells.join(F.broadcast(ref_cells), "position")
    return joined.select(
        "read_id",
        "ref_id",
        "position",
        _match_expr(flip, treat_as_match, ignore_characters).alias("match"),
    )


def compare_to_references(
    cells: DataFrame,
    refs: DataFrame | Sequence[str] | dict[str, str],
    flip: bool = False,
    treat_as_match: Sequence[str] = (),
    ignore_characters: Sequence[str] = (),
    positions: Sequence[int] | None = None,
    set_diff: bool = False,
) -> DataFrame:
    """User-facing wrapper (reference compare_to_references). `refs`
    may be literal strings or a prebuilt ref_cells DF. set_diff=True
    analyzes the complement of `positions` (reference _get_positions,
    seqtables.py:711-727)."""
    if not isinstance(refs, DataFrame):
        spark = SparkSession.getActiveSession()
        refs = ref_cells_from_strings(spark, refs)
    if set_diff:
        if positions is None:
            raise ValueError("set_diff requires positions")
        all_pos = [r[0] for r in refs.select("position").distinct().collect()]
        positions = sorted(set(all_pos) - set(positions))
    return compare_cells(cells, refs, flip, treat_as_match, ignore_characters, positions)


def hamming_distance(
    cells: DataFrame,
    refs: DataFrame | Sequence[str] | dict[str, str],
    normalized: bool = False,
    treat_as_match: Sequence[str] = (),
    ignore_characters: Sequence[str] = (),
    positions: Sequence[int] | None = None,
) -> DataFrame:
    """Per (read, ref) mismatch count (flip=True sum), optionally
    normalized by the number of non-NULL compared positions
    (reference seqtables.py:855-867). Returns
    DF(read_id, ref_id, dist) with dist bigint, or double when
    normalized."""
    cmp = compare_to_references(
        cells, refs, flip=True,
        treat_as_match=treat_as_match, ignore_characters=ignore_characters,
        positions=positions,
    )
    agg = cmp.groupBy("read_id", "ref_id").agg(
        F.sum(F.col("match").cast("long")).alias("mismatches"),
        F.count("match").alias("bases"),  # count() skips NULLs
    )
    if normalized:
        return agg.select(
            "read_id", "ref_id",
            (F.col("mismatches") / F.col("bases")).alias("dist"),
        )
    return agg.select("read_id", "ref_id", F.col("mismatches").alias("dist"))


def pairwise_hamming(
    reads: DataFrame,
    id_col: str = "read_id",
    seq_col: str = "seq",
    normalized: bool = False,
) -> DataFrame:
    """All-pairs hamming distance WITHIN one read set (reference J4:
    pairwise_tensor_dot / pairwise_einsum_dot / pairwise_base_comparison
    / pairwise_scipy_cdist, numpy_ops.py:408-459 — four physical
    kernels for one logical op; Spark picks the plan here).

    Row-local formulation: the self-join carries whole fixed-width
    strings and each pair's distance is a per-row fold over character
    positions — no explode to cells, so the join output is N*(N-1)/2
    rows instead of N^2*P cells. At scale the all-pairs product is
    inherently quadratic; the engine's LSH/banding pipeline
    (pipeline/dedup.py) is the documented candidate-pruning path, and
    this exact kernel is what verifies its candidates.

    Returns DF(id_a, id_b, dist) with id_a < id_b; dist = count of
    differing positions over the common prefix width (double fraction
    of width when normalized).
    """
    a = reads.select(F.col(id_col).alias("id_a"), F.col(seq_col).alias("_sa"))
    b = reads.select(F.col(id_col).alias("id_b"), F.col(seq_col).alias("_sb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    width = F.least(F.length("_sa"), F.length("_sb"))
    sa, sb = F.col("_sa"), F.col("_sb")
    # sequence(1, 0) would auto-step DOWN to [1, 0] - guard zero-width
    # pairs (empty string vs anything) to distance 0
    mismatches = F.when(width <= 0, F.lit(0)).otherwise(
        F.size(
            F.filter(
                F.sequence(F.lit(1), width),
                lambda i: sa.substr(i, F.lit(1)) != sb.substr(i, F.lit(1)),
            )
        )
    ).cast("long")
    if normalized:
        # 0/0 is NULL in Spark, so re-apply the zero-width guard to the
        # ratio: zero-width pairs have distance 0.0, not NULL
        dist = (
            F.when(width <= 0, F.lit(0.0))
            .otherwise(mismatches / width)
            .alias("dist")
        )
    else:
        dist = mismatches.alias("dist")
    return pairs.select("id_a", "id_b", dist)


def mutation_profile(
    cells: DataFrame,
    refs: DataFrame | Sequence[str] | dict[str, str],
    positions: Sequence[int] | None = None,
    normalized: bool = False,
    aggregate_positions: bool = True,
    ignore_characters: Sequence[str] = (),
    treat_as_match: Sequence[str] = (),
) -> DataFrame:
    """Counts (or freqs) of substitution types ref_base -> read_base
    (reference seqtables.py:1055-1118): join cells to the reference
    letters on position, keep mismatching, non-ignored pairs, count.

    Returns DF(ref_base, read_base, cnt|freq[, position]).
    """
    if not isinstance(refs, DataFrame):
        spark = SparkSession.getActiveSession()
        refs = ref_cells_from_strings(spark, refs)
    if positions is not None:
        cells = cells.filter(F.col("position").isin(list(positions)))
    joined = cells.join(F.broadcast(refs), "position")
    mismatch = joined.filter(F.col("base") != F.col("ref_base"))
    if treat_as_match:
        tam = list(treat_as_match)
        mismatch = mismatch.filter(
            ~F.col("base").isin(tam) & ~F.col("ref_base").isin(tam)
        )
    if ignore_characters:
        ign = list(ignore_characters)
        mismatch = mismatch.filter(
            ~F.col("base").isin(ign) & ~F.col("ref_base").isin(ign)
        )
    keys = ["ref_base", "read_base"] if aggregate_positions else ["position", "ref_base", "read_base"]
    counted = (
        mismatch.select(
            *(["position"] if not aggregate_positions else []),
            F.col("ref_base"),
            F.col("base").alias("read_base"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    if normalized:
        total = counted.groupBy().agg(F.sum("cnt").alias("_t"))
        return counted.crossJoin(F.broadcast(total)).select(
            *keys, (F.col("cnt") / F.col("_t")).alias("freq")
        )
    return counted


def mutation_ts_tv_profile(
    cells: DataFrame,
    refs: DataFrame | Sequence[str] | dict[str, str],
    positions: Sequence[int] | None = None,
) -> DataFrame:
    """Transition/transversion rates and their ratio (NT only;
    reference raises for AA, seqtables.py:1170-1221). Returns a
    one-row DF(transitions, transversions, ts_tv_ratio)."""
    prof = mutation_profile(cells, refs, positions=positions, aggregate_positions=True)
    is_ts = F.concat(F.col("ref_base"), F.col("read_base")).isin(
        ["".join(p) for p in sorted(TRANSITIONS)]
    )
    classified = prof.select(
        F.when(is_ts, F.col("cnt")).otherwise(F.lit(0)).alias("ts"),
        F.when(~is_ts, F.col("cnt")).otherwise(F.lit(0)).alias("tv"),
    )
    return classified.groupBy().agg(
        F.sum("ts").alias("transitions"),
        F.sum("tv").alias("transversions"),
        (F.sum("ts") / F.sum("tv")).alias("ts_tv_ratio"),
    )
