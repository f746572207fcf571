"""Position-weight-matrix scoring.

Parity target: calculate_pwm /root/reference/seqtables/core/
seqtables.py:874-880; kernel seq_pwm_ascii_map_and_score
numpy_ops.py:462-516 (the 256-wide ASCII-indexed lookup is the
reference's perfect-hash trick; relationally it is just a broadcast
map join on (position, letter)).

Scale: the PWM is |positions| x |alphabet| rows - always broadcast.
One groupBy(read_id) shuffle whose payload is a single double.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F


def pwm_entries(
    pwm: Sequence[Sequence[float]],
    positions: Sequence[int] | None = None,
    column_names: str = "ACTG",
) -> list[tuple[int, str, float]]:
    """Nested-list matrix -> [(position, letter, weight)] tuples. Rows =
    positions, columns ordered like `column_names` (reference default
    'ACTG', seqtables.py:874)."""
    rows = []
    for i, weights in enumerate(pwm):
        pos = positions[i] if positions is not None else i + 1
        for letter, w in zip(column_names, weights):
            rows.append((int(pos), letter, float(w)))
    return rows


def calculate_pwm(
    cells: DataFrame,
    pwm_df: DataFrame,
    positions: Sequence[int] | None = None,
    null_score: float = 1.0,
    use_log_before_sum: bool = True,
) -> DataFrame:
    """Score each read against the PWM: product of per-position letter
    weights computed as exp(sum(log w)) (reference
    use_log_before_sum=True path); letters absent from the PWM get
    null_score. Returns DF(read_id, pwm_score)."""
    if positions is not None:
        cells = cells.filter(F.col("position").isin(list(positions)))
        pwm_df = pwm_df.filter(F.col("position").isin(list(positions)))
    joined = cells.join(
        F.broadcast(pwm_df),
        (cells["position"] == pwm_df["position"]) & (cells["base"] == pwm_df["letter"]),
        "left",
    ).select(
        "read_id",
        F.coalesce(pwm_df["weight"], F.lit(float(null_score))).alias("w"),
    )
    if use_log_before_sum:
        # Spark's log(w<=0) is NULL and sum() SKIPS nulls - a 0.0 PWM
        # weight would silently drop out and leave a confidently wrong
        # nonzero product. The reference's numpy path gives
        # log(0) = -inf -> sum = -inf -> exp = 0; reproduce that.
        log_w = F.when(F.col("w") > 0, F.log("w")).otherwise(
            F.lit(float("-inf"))
        )
        score = F.exp(F.sum(log_w))
    else:
        score = F.sum("w")
    return joined.groupBy("read_id").agg(score.alias("pwm_score"))


def calculate_pwm_seq(
    reads: DataFrame,
    pwm: DataFrame | Sequence[tuple[int, str, float]] | Mapping[tuple[int, str], float],
    id_col: str = "read_id",
    seq_col: str = "seq",
    pos_start_col: str | None = "pos_start",
    positions: Sequence[int] | None = None,
    null_score: float = 1.0,
    use_log_before_sum: bool = True,
) -> DataFrame:
    """Row-local PWM scoring over the intact seq STRING - the zero-
    shuffle fast path of `calculate_pwm`.

    The reference's kernel is itself a row-local ASCII-indexed lookup
    (seq_pwm_ascii_map_and_score, /root/reference/seqtables/core/
    numpy_ops.py:462-516): each read is scored independently against an
    in-memory matrix. Relationally that is a per-row fold, not a join -
    `calculate_pwm` (above) expresses it as explode -> broadcast join
    -> groupBy(read_id), which shuffles N*P cells to reassemble what
    was already one row. This variant keeps the read row intact and
    folds the literal (position, letter) -> weight map over the string
    with `transform`+`aggregate`: zero Exchange, one projection, scales
    as pure map work at any data size (same pattern as
    `pairwise_hamming`, operators/compare.py:168).

    `pwm` may be the same DataFrame(position, letter, weight) the join
    path takes (collected here - it is |positions| x |alphabet| rows by
    construction, the reference holds the whole matrix in one numpy
    array), a sequence of (position, letter, weight) tuples, or a
    {(position, letter): weight} mapping.

    PWM position p maps to string index p - pos_start + 1 (cells'
    1-based reference coordinate, model.explode_chars). Positions that
    fall outside the read's string contribute nothing - identical to
    the cells formulation where the cell simply does not exist. One
    deliberate edge difference: a read with ZERO scored positions still
    appears here with the empty-fold score (exp(0)=1.0 log path, 0.0
    sum path) where the groupBy formulation would drop the read; and
    bases NULLed by convert_low_bases_to_null are not visible in the
    string plane - use the cells path when masked cells must score as
    null_score.

    Returns DF(id_col, pwm_score) with no aggregation - per-read rows.
    """
    if isinstance(pwm, DataFrame):
        entries = [
            (int(r["position"]), str(r["letter"]), float(r["weight"]))
            for r in pwm.collect()  # bounded: |positions| x |alphabet|
        ]
    elif isinstance(pwm, Mapping):
        entries = [(int(p), str(c), float(w)) for (p, c), w in pwm.items()]
    else:
        entries = [(int(p), str(c), float(w)) for p, c, w in pwm]
    if positions is not None:
        pset = {int(p) for p in positions}
        entries = [e for e in entries if e[0] in pset]
        pos_list = sorted(pset)
    else:
        pos_list = sorted({p for p, _, _ in entries})
    if not pos_list:
        return reads.select(
            F.col(id_col).alias(id_col),
            (F.lit(1.0) if use_log_before_sum else F.lit(0.0)).alias("pwm_score"),
        )

    # literal map keyed "pos:letter" -> raw weight; the log happens
    # JVM-side per lookup so the log path is numerically identical to
    # the join formulation (same Math.log, same doubles)
    map_args: list[Column] = []
    for p, letter, w in entries:
        map_args.append(F.lit(f"{p}:{letter}"))
        map_args.append(F.lit(float(w)))
    weight_map = F.create_map(*map_args)

    seq = F.col(seq_col)
    ps = (
        F.col(pos_start_col)
        if pos_start_col and pos_start_col in reads.columns
        else F.lit(1)
    )
    neg_inf = F.lit(float("-inf"))
    ns = F.lit(float(null_score))

    def term(p: Column) -> Column:
        idx = p - ps + F.lit(1)
        # substr(0/negative) has from-the-end semantics in Spark - a
        # position left of the read must be "missing", never a wrap
        ch = F.when(idx >= 1, seq.substr(idx, F.lit(1))).otherwise(F.lit(""))
        w = F.coalesce(
            F.element_at(weight_map, F.concat(p.cast("string"), F.lit(":"), ch)),
            ns,
        )
        val = (
            F.when(w > 0, F.log(w)).otherwise(neg_inf)
            if use_log_before_sum
            else w
        )
        # off-read position -> NULL, filtered before the fold (coalesce:
        # a NULL seq must read as missing-everywhere, like the explode
        # path where split(NULL) yields no cells)
        missing = F.coalesce(F.length(ch), F.lit(0)) == 0
        return F.when(missing, F.lit(None).cast("double")).otherwise(val)

    pos_arr = F.array(*[F.lit(int(p)) for p in pos_list])
    total = F.aggregate(
        F.filter(F.transform(pos_arr, term), lambda x: x.isNotNull()),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    score = F.exp(total) if use_log_before_sum else total
    return reads.select(F.col(id_col), score.alias("pwm_score"))
