"""SAM text reader and QC filter.

Parity targets (file:line in /root/reference):
  - read_sam: seqtables/core/utils/custom_sam_utils.py:228-362
    (pandas read_csv tab parser, optional-field extraction XN/XM/MD)
  - filter_reads: custom_sam_utils.py:138-225 (drop '*'/ignored refs,
    phiX hits, disallowed FLAG bits, indel reads, unsupported CIGAR
    ops; derive soft-clip lengths and pos_end; return good df, bad df
    with reason, stats)

Spark-first: the SAM body is `spark.read.csv(sep='\t', comment='@')`
- a real distributed scan (splittable, predicate-pushable once
converted to parquet). Optional fields (tag:type:value triples in
columns 12+) are re-parsed with str_to_map-style expressions, not
python. The good/bad split is ONE tagged projection filtered twice -
Spark scans once per consumer, or cache the tagged frame.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.sam import cigar_event_total, cterminal_softclip, nterminal_softclip

SAM_STD_COLS = [
    "header", "flag", "rname", "pos", "mapq", "cigar",
    "rnext", "pnext", "tlen", "seq", "qual",
]


def read_sam(
    spark: SparkSession,
    path: str,
    opt_fields_keep: Sequence[str] = ("XN", "XM", "MD"),
    limit: int | None = None,
) -> DataFrame:
    """Read a SAM text file into the standard 11 columns + requested
    optional tag columns."""
    raw = (
        spark.read.option("sep", "\t")
        .option("comment", "@")
        .option("mode", "PERMISSIVE")
        # SAM is raw tab-separated text: phred+33 quality strings
        # legitimately contain '"', which CSV quote handling would
        # swallow and merge fields across tabs (the reference's
        # ignore_quotes=True, custom_sam_utils.py:299-362). Empty
        # quote disables quoting entirely.
        .option("quote", "")
        .csv(path)
    )
    cols = raw.columns
    std = cols[:11]
    renamed = raw.select(
        *[F.col(c).alias(n) for c, n in zip(std, SAM_STD_COLS)],
        *[F.col(c) for c in cols[11:]],
    )
    extra_cols = [c for c in renamed.columns if c not in SAM_STD_COLS]
    if extra_cols and opt_fields_keep:
        # each optional field is 'TAG:TYPE:VALUE'; collect them into a
        # map and project the requested tags
        tag_map = F.map_filter(
            F.map_from_entries(
                F.filter(
                    F.array(*[
                        F.struct(
                            F.split(F.col(c), ":").getItem(0).alias("k"),
                            F.substring_index(F.col(c), ":", -1).alias("v"),
                        )
                        for c in extra_cols
                    ]),
                    lambda s: s["k"].isNotNull(),
                )
            ),
            lambda k, v: k.isNotNull(),
        )
        renamed = renamed.select(
            *SAM_STD_COLS,
            *[F.element_at(tag_map, tag).alias(tag) for tag in opt_fields_keep],
        )
    else:
        renamed = renamed.select(*SAM_STD_COLS)
    out = renamed.withColumn("flag", F.col("flag").cast("int")).withColumn(
        "pos", F.col("pos").cast("long")
    ).withColumn("mapq", F.col("mapq").cast("int"))
    if limit:
        out = out.limit(limit)
    return out


def filter_reads(
    df: DataFrame,
    ignore_hits: Sequence[str] = (),
    phix_filter: bool = True,
    remove_indels: bool = True,
    bits_not_allowed: Sequence[int] = (4, 512),
    allowed_cigar_ops: str = "MIDNS=X",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """QC split: returns (good, bad_with_reason, stats).

    Reasons mirror the reference's sequential checks; a read's reason
    is the FIRST failing check (unmapped ref -> ignored ref -> phiX ->
    flag bits -> unsupported cigar op -> indels).
    """
    bad_bits = 0
    for b in bits_not_allowed:
        bad_bits |= int(b)

    unsupported = F.length(
        F.regexp_replace(F.regexp_replace(F.col("cigar"), r"[0-9]", ""), f"[{allowed_cigar_ops}]", "")
    ) > 0
    reason = (
        F.when(
            (F.col("rname").isNull()) | (F.col("rname") == "*")
            | (F.col("cigar").isNull()) | (F.col("cigar") == "*"),
            "unmapped",
        )
        .when(F.col("rname").isin(list(ignore_hits)) if ignore_hits else F.lit(False), "ignored_reference")
        .when(F.lower(F.col("rname")).contains("phix") if phix_filter else F.lit(False), "phix")
        .when((F.col("flag").bitwiseAND(F.lit(bad_bits))) != 0, "flag")
        .when(unsupported, "unsupported_cigar")
        .when(
            F.col("cigar").rlike(r"\d+[ID]") if remove_indels else F.lit(False),
            "indels",
        )
    )
    tagged = df.withColumn("error", reason).withColumn(
        "nterm_clip", nterminal_softclip("cigar")
    ).withColumn("cterm_clip", cterminal_softclip("cigar")).withColumn(
        "pos_end",
        F.col("pos")
        + F.length("seq")
        + cigar_event_total("cigar", "DN")
        - cigar_event_total("cigar", "I")
        - cigar_event_total("cigar", "S")
        - F.lit(1),
    )
    good = tagged.filter(F.col("error").isNull()).drop("error")
    bad = tagged.filter(F.col("error").isNotNull())
    stats = bad.groupBy("error").agg(F.count(F.lit(1)).alias("n"))
    return good, bad, stats
