"""Quality-score operators.

Parity targets (file:line in /root/reference):
  - get_quality_dist:  seqtables/core/seqtables.py:1328-1377; kernel
    numpy_ops.py:137-371 (fastqc preset at :203-210 deliberately skips
    the (75,79) bin - replicated verbatim for parity)
  - quality_filter:    seqtables/core/seqtables.py:1223-1258
  - convert_low_bases_to_null: seqtables/core/seqtables.py:1260-1303

Scale notes. Both operators are one lazy pass over the reads; building
either plan runs no Spark job.

quality_dist aggregates the scored cells once into a (position x qual)
count histogram. Partial aggregation collapses each map partition
before the exchange, so the shuffle carries at most P x |phred| rows
per partition, never cells. Everything else derives from that
histogram:
  - preset bins ("even", "fastqc") take min/max position from an
    unpartitioned window over the histogram (one single-partition
    task over <= P x |phred| rows) and assign bins by arithmetic;
  - an explicit bin list is attached to the histogram rows by
    _attach_bins (a literal-array lookup, or a broadcast range join
    against a LocalRelation bin table when bins overlap);
  - one aggregate per bin over the histogram rows gives mean, min,
    max and the EXACT percentiles: percentile() weighted by the row
    counts, so its buffer holds at most |phred| values per bin (phred
    is a small integer domain, ~0..45) and it never sees a cell.
At 100 TB the shuffles carry kilobytes.

quality_filter is a row-local predicate on reads: it counts the
considered and passing phred values of each qual string in place. No
explode, no shuffle, no join on reads; only the insertion table is
semi-joined to the surviving read ids.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..model import SeqTable
from ..session import local_relation


def fastqc_bins(max_position: int) -> list[tuple[int, int]]:
    """The FASTQC-style preset bin table (numpy_ops.py:203-210),
    including its (75,79) gap."""
    bins: list[tuple[int, int]] = [(i, i) for i in range(1, 10)]
    bins += [(p, p + 4) for p in range(10, 75, 5)]
    bins += [(p, p + 4) for p in range(80, 300, 5)]  # note: no (75,79)
    bins += [(p, p + 9) for p in range(300, max_position, 10)]
    return bins


def even_bins(min_position: int, max_position: int, n: int = 10) -> list[tuple[int, int]]:
    width = max_position - min_position + 1
    binsize = max(int(width / n), 1)
    out = []
    lo = min_position
    while lo <= max_position:
        out.append((lo, min(lo + binsize - 1, max_position)))
        lo += binsize
    return out


#: positions spanned beyond which the literal-array bin lookup would
#: bloat the plan; such bin tables fall back to the broadcast range join
_BIN_LOOKUP_MAX_SPAN = 8192


def _attach_bins(spark, qcells: DataFrame, bin_list) -> DataFrame:
    """Attach (bin_name, bin_lo, bin_hi) to each row of ``qcells``
    (cells or (position, qual) histogram rows) and drop rows covered
    by no bin (inner-join semantics, e.g. the fastqc (75,79) gap).

    Fast path (round 12, guide §3): when the bins are non-overlapping
    and span a bounded position domain — always true for the
    even/fastqc presets, whose positions are read offsets — the
    assignment is a row-local ``element_at`` on literal arrays
    indexed by position. The previous broadcast range join planned as
    a BroadcastNestedLoopJoin that evaluated every bin's BETWEEN
    predicate against every cell row (|bins| ~ 60 comparisons/cell);
    the lookup is O(1) per row and removes the join node entirely.
    Overlapping or unbounded bin tables keep the range join (a
    position matching several bins must emit one row per match)."""
    if not bin_list:
        # r12 ADVICE: min() over an empty bin list raised ValueError
        # where the range-join path it replaced returned an empty
        # DataFrame; preserve the old contract.
        return qcells.withColumns(
            {
                "bin_name": F.lit(None).cast("string"),
                "bin_lo": F.lit(None).cast("long"),
                "bin_hi": F.lit(None).cast("long"),
            }
        ).filter(F.lit(False))
    lo_all = min(lo for lo, _ in bin_list)
    hi_all = max(hi for _, hi in bin_list)
    span = hi_all - lo_all + 1
    non_overlapping = all(
        a[1] < b[0] for a, b in zip(sorted(bin_list), sorted(bin_list)[1:])
    )
    if non_overlapping and 0 < span <= _BIN_LOOKUP_MAX_SPAN:
        names: list[str | None] = [None] * span
        los: list[int | None] = [None] * span
        his: list[int | None] = [None] * span
        for lo, hi in bin_list:
            nm = f"{lo}-{hi}" if lo != hi else str(lo)
            for p in range(lo, hi + 1):
                names[p - lo_all] = nm
                los[p - lo_all] = lo
                his[p - lo_all] = hi
        name_arr = F.array(*[F.lit(n).cast("string") for n in names])
        lo_arr = F.array(*[F.lit(v).cast("long") for v in los])
        hi_arr = F.array(*[F.lit(v).cast("long") for v in his])
        idx = (F.col("position") - F.lit(lo_all) + 1).cast("int")
        return (
            qcells.filter(
                F.col("position").between(F.lit(lo_all), F.lit(hi_all))
            )
            .withColumns(
                {
                    "bin_name": F.element_at(name_arr, idx),
                    "bin_lo": F.element_at(lo_arr, idx),
                    "bin_hi": F.element_at(hi_arr, idx),
                }
            )
            .filter(F.col("bin_name").isNotNull())
        )
    bins_df = local_relation(
        spark,
        [(f"{lo}-{hi}" if lo != hi else str(lo), lo, hi) for lo, hi in bin_list],
        "bin_name string, bin_lo long, bin_hi long",
    )
    return qcells.join(
        F.broadcast(bins_df),
        (F.col("position") >= F.col("bin_lo")) & (F.col("position") <= F.col("bin_hi")),
    )


def _preset_bins(hist: DataFrame, preset: str) -> DataFrame:
    """Attach (bin_name, bin_lo, bin_hi) to each histogram row by
    arithmetic on its position, with the presets' min/max taken from
    an unpartitioned window over the histogram (at most P x |phred|
    rows). Rows covered by no bin are dropped, as in _attach_bins.

    ``even`` is even_bins(min, max): lo + floor((p-lo)/size)*size,
    capped at max. ``fastqc`` is fastqc_bins(max) restricted to
    min <= bin_lo <= max: singletons below 10, width 5 below 300 with
    no (75,79) bin, width 10 from 300 on, where range(300, max, 10)
    keeps only tails with bin_lo < max."""
    whole = Window.partitionBy()
    hist = hist.withColumns(
        {"_lo": F.min("position").over(whole), "_hi": F.max("position").over(whole)}
    )
    lo, hi = F.col("_lo"), F.col("_hi")
    p = F.col("position")
    if preset == "fastqc":
        step = F.when(p < 10, 1).when(p < 300, 5).otherwise(10)
        b_lo = p - p % step
        b_hi = b_lo + step - 1
        keep = (
            (p >= 1)
            & ~p.between(75, 79)
            & (b_lo >= lo)
            & ((p < 300) | (b_lo < hi))
        )
    else:
        size = F.greatest(F.floor((hi - lo + 1) / 10), F.lit(1))
        b_lo = p - (p - lo) % size
        b_hi = F.least(b_lo + size - 1, hi)
        keep = F.lit(True)
    name = F.when(b_lo == b_hi, b_lo.cast("string")).otherwise(
        F.concat(b_lo.cast("string"), F.lit("-"), b_hi.cast("string"))
    )
    return hist.filter(keep).select(
        name.alias("bin_name"),
        b_lo.cast("long").alias("bin_lo"),
        b_hi.cast("long").alias("bin_hi"),
        "qual",
        "c",
    )


def quality_dist(
    cells: DataFrame,
    bins: str | Sequence[tuple[int, int]] = "even",
    exclude_null_quality: bool = True,
    percentiles: Sequence[int] = (10, 25, 50, 75, 90),
    sample_fraction: float | None = None,
    seed: int = 42,
) -> DataFrame:
    """FASTQC-style binned quality distribution.

    Returns one row per bin: (bin_name, bin_lo, bin_hi, mean, median,
    min, max, p0, p10, p25, p50, p75, p90, p100, ... user percentiles).
    The percentile set always includes {0,10,25,50,75,90,100} like the
    reference (numpy_ops.py:251-257). Percentiles are exact with
    linear interpolation (numpy/Spark `percentile` semantics: rank =
    p*(n-1), interpolated between the values at floor and ceil of the
    rank), computed from the per-bin quality histogram - see module
    docstring.
    Building the plan runs no Spark job; a table with no scored cells
    gives an empty result.
    """
    qcells = cells.filter(F.col("qual").isNotNull())
    if exclude_null_quality:
        qcells = qcells.filter(F.col("qual") > 0)
    if sample_fraction:
        qcells = qcells.sample(fraction=sample_fraction, seed=seed)

    # (position x qual) histogram: the ONLY aggregation that sees the
    # raw cells; partial aggregation bounds its shuffle at P*|phred|
    hist = qcells.groupBy("position", "qual").agg(F.count(F.lit(1)).alias("c"))
    spark = SparkSession.getActiveSession()
    if isinstance(bins, str):
        binned = _preset_bins(hist, bins)
    else:
        binned = _attach_bins(spark, hist, [(int(lo), int(hi)) for lo, hi in bins])
    pset = sorted(set(int(p) for p in percentiles) | {0, 10, 25, 50, 75, 90, 100})
    # one aggregate over the histogram rows: percentile() with the
    # count as frequency is exact and interpolates at rank (n-1)*p
    pct = F.percentile("qual", F.array(*[F.lit(p / 100.0) for p in pset]), frequency=F.col("c"))
    out = binned.groupBy("bin_name", "bin_lo", "bin_hi").agg(
        (F.sum(F.col("qual") * F.col("c")).cast("double") / F.sum("c")).alias("mean"),
        pct.alias("_pct"),
        F.min("qual").alias("min"),
        F.max("qual").alias("max"),
    )
    return out.select(
        "bin_name",
        "bin_lo",
        "bin_hi",
        "mean",
        F.col("_pct")[pset.index(50)].alias("median"),
        "min",
        "max",
        *[F.col("_pct")[i].alias(f"p{p}") for i, p in enumerate(pset)],
    )


def _n_codes_at_least(qual: Column, code: int) -> Column:
    """Number of characters of ``qual`` whose code point is >= code:
    a codegen'd string scan, no split into an array."""
    if code <= 0:
        return F.length(qual)
    return F.length(F.regexp_replace(qual, f"[\\x{{0}}-\\x{{{code - 1:x}}}]", ""))


def quality_filter(
    st: SeqTable,
    q: int,
    p: float,
    ignore_null_qual: bool = True,
) -> SeqTable:
    """Keep reads where >= p% of (non-null-quality) bases have
    phred >= q; the insertion table is filtered to survivors too
    (reference seqtables.py:1223-1258).

    A row-local predicate on ``reads``: each read is judged on its own
    qual string, so ``read_id`` is the row key and must be unique.
    A base's phred is its qual character's code point minus
    phred_adjust; bases past the end of qual, and an empty or null
    qual, score null and are never considered, and a read with nothing
    considered is dropped. ``n_good / n_considered * 100`` is the
    double arithmetic of an avg over 0/1 flags, so the cut is exact."""
    qual = F.coalesce(F.col("qual"), F.lit(""))
    # lowest considered code point: phred > 0, or any scored base
    lowest = st.phred_adjust + 1 if ignore_null_qual else 0
    n_considered = _n_codes_at_least(qual, lowest)
    n_good = _n_codes_at_least(qual, max(math.ceil(q) + st.phred_adjust, lowest))
    reads = st.reads.filter(
        F.when(n_considered > 0, n_good / n_considered * 100 >= p)
    )
    ins = (
        st.insertions.join(reads.select("read_id"), "read_id", "left_semi")
        if st._insertions is not None
        else None
    )
    return SeqTable(reads, ins, st.seq_type, st.phred_adjust, st.fillna_val)


def convert_low_bases_to_null(
    cells: DataFrame,
    q: int,
    replace_with: str = "N",
    ignore_null_qual: bool = True,
) -> DataFrame:
    """Masked update on the cells view: base -> fill letter where
    qual < q (and qual > 0 when ignoring null quality), mirroring
    reference seqtables.py:1260-1303. Pure projection - no shuffle."""
    low = F.col("qual") < q
    if ignore_null_qual:
        low = low & (F.col("qual") > 0)
    return cells.withColumn(
        "base", F.when(low, F.lit(replace_with)).otherwise(F.col("base"))
    )
