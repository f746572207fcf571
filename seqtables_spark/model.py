"""Canonical data model: the SeqTable.

The reference stores an N-reads x P-positions x {seq,quality} dense
character tensor (xarray DataArray, /root/reference/seqtables/core/
seqtables.py:121). Spark-first, that becomes two canonical DataFrames
(SURVEY.md section 1.4):

  reads:      read_id string, seq string, qual string?, pos_start int,
              ... arbitrary metadata columns
  cells:      read_id string, position bigint, base string(1),
              qual int?   (numeric phred, NULL when no quality)
  insertions: read_id string, position bigint, loc_ins int,
              base string(1), qual int?

``cells`` is derived lazily from ``reads`` by a single
zip-explode projection - pure Catalyst expressions, no UDF, so it
whole-stage-codegens and the parquet scan under it still prunes
columns/predicates. At 100 TB the cells view is never materialized
unless an operator needs repeated passes; aggregations over it reduce
map-side (partial hash agg) before any shuffle, so the exploded width
(x P rows) never crosses the network.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .alphabets import FILL_CHAR, PHRED_ADJUST
from .session import local_relation

#: split pattern that never produces a trailing empty element
_CHAR_SPLIT = "(?!$)"


def explode_chars(
    df: DataFrame,
    id_col: str = "read_id",
    seq_col: str = "seq",
    qual_col: str | None = "qual",
    pos_start_col: str | None = "pos_start",
    keep_cols: tuple[str, ...] = (),
    phred_adjust: int = PHRED_ADJUST,
) -> DataFrame:
    """Long/exploded per-character view of a string column.

    Returns (id_col, position, base[, qual][, keep_cols...]). Position is
    1-based reference coordinate: pos_start + offset (reference shifts
    pysam 0-based to 1-based, seqtables.py:266).
    """
    has_qual = qual_col is not None and qual_col in df.columns
    seq_arr = F.split(F.col(seq_col), _CHAR_SPLIT)
    if has_qual:
        zipped = F.arrays_zip(
            seq_arr.alias("b"),
            F.split(F.coalesce(F.col(qual_col), F.lit("")), _CHAR_SPLIT).alias("q"),
        )
        exploded = df.select(
            F.col(id_col),
            *[F.col(c) for c in keep_cols],
            (F.col(pos_start_col) if pos_start_col and pos_start_col in df.columns else F.lit(1)).alias("_ps"),
            F.posexplode(zipped).alias("_off", "_cell"),
        )
        out = exploded.select(
            id_col,
            *keep_cols,
            (F.col("_ps").cast("long") + F.col("_off")).alias("position"),
            F.col("_cell.b").alias("base"),
            F.when(
                F.col("_cell.q").isNotNull() & (F.col("_cell.q") != ""),
                F.ascii("_cell.q") - F.lit(phred_adjust),
            ).alias("qual"),
        )
    else:
        exploded = df.select(
            F.col(id_col),
            *[F.col(c) for c in keep_cols],
            (F.col(pos_start_col) if pos_start_col and pos_start_col in df.columns else F.lit(1)).alias("_ps"),
            F.posexplode(seq_arr).alias("_off", "base"),
        )
        out = exploded.select(
            id_col,
            *keep_cols,
            (F.col("_ps").cast("long") + F.col("_off")).alias("position"),
            "base",
        )
    return out


class SeqTable:
    """A set of aligned sequences as Spark DataFrames.

    Parity target: class SeqTable, /root/reference/seqtables/core/
    seqtables.py:121 (xarray DataArray subclass). Here it is a thin
    handle over the `reads` DataFrame plus metadata; all analysis
    operators are free functions over the derived `cells` view so they
    also run on any relational table shaped (read_id, position, base).
    """

    def __init__(
        self,
        reads: DataFrame,
        insertions: DataFrame | None = None,
        seq_type: str = "NT",
        phred_adjust: int = PHRED_ADJUST,
        fillna_val: str | None = None,
    ):
        self.reads = reads
        self._insertions = insertions
        self.seq_type = seq_type
        self.phred_adjust = phred_adjust
        self.fillna_val = fillna_val or FILL_CHAR.get(seq_type, "N")
        self._n_reads: int | None = None  # lazy, cached after first use

    # -- constructors (reference classmethod surface, seqtables.py:92,
    # 168, 214, 226): thin delegates so a reference user's
    # SeqTable.from_* call sites work unchanged -----------------------
    @classmethod
    def from_list(cls, spark, seqs, quals=None, index=None, pos=1,
                  seq_type=None) -> "SeqTable":
        """Reference SeqTable.from_list (seqtables.py:92-111)."""
        from .constructors import from_list

        return from_list(spark, seqs, quals=quals, index=index, pos=pos,
                         seq_type=seq_type)

    @classmethod
    def from_df(cls, df, seq_type: str = "NT", min_pos=None, max_pos=None,
                **kwargs) -> "SeqTable":
        """Reference SeqTable.from_df (seqtables.py:24-89): SAM-shaped
        frames route through the CIGAR realignment; plain seq frames
        through the pad/normalize path. Arguments that the selected
        path cannot honor raise instead of being silently dropped."""
        from .constructors import from_df, from_sam_df

        if "cigar" in df.columns:
            if kwargs:
                raise TypeError(
                    "from_df: SAM-shaped input (cigar column) routes through "
                    f"the realignment path, which does not take {sorted(kwargs)}; "
                    "rename/select columns to the SAM schema or drop `cigar` "
                    "to use the plain path"
                )
            return from_sam_df(df, seq_type=seq_type, min_pos=min_pos,
                               max_pos=max_pos)
        if min_pos is not None or max_pos is not None:
            raise TypeError(
                "from_df: min_pos/max_pos windowing applies to the CIGAR "
                "realignment path only (no `cigar` column found); use "
                ".filter_positions(...) on the constructed table instead"
            )
        return from_df(df, seq_type=seq_type, **kwargs)

    @classmethod
    def from_sam(cls, spark, path, seq_type: str = "NT", limit=None,
                 min_pos=None, max_pos=None) -> "SeqTable":
        """Reference SeqTable.from_sam (seqtables.py:214-224)."""
        from .constructors import from_sam_df
        from .sources.sam import read_sam

        return from_sam_df(read_sam(spark, path, limit=limit),
                           seq_type=seq_type, min_pos=min_pos, max_pos=max_pos)

    @classmethod
    def from_pysam(cls, spark, path, seq_type: str = "NT",
                   min_mapping_quality=None, min_pos=None,
                   max_pos=None) -> "SeqTable":
        """Reference SeqTable.from_pysam (seqtables.py:226-283), over
        the pure-Python BGZF/BAM codec (no pysam in-container)."""
        from .constructors import from_sam_df
        from .sources.bam import read_bam

        return from_sam_df(
            read_bam(spark, path, min_mapping_quality=min_mapping_quality),
            seq_type=seq_type, min_pos=min_pos, max_pos=max_pos,
        )

    @property
    def n_reads(self) -> int:
        """Row count of `reads`, computed once per SeqTable (a count
        is a full scan - don't re-pay it per facade call)."""
        if self._n_reads is None:
            self._n_reads = self.reads.count()
        return self._n_reads

    # -- metadata ------------------------------------------------------
    @property
    def has_quality(self) -> bool:
        return "qual" in self.reads.columns

    @property
    def insertions(self) -> DataFrame:
        if self._insertions is None:
            self._insertions = local_relation(
                SparkSession.getActiveSession(),
                [],
                "read_id string, position long, loc_ins int, base string, qual int",
            )
        return self._insertions

    # -- views ---------------------------------------------------------
    def cells(self, with_qual: bool = True) -> DataFrame:
        """The long per-(read, position) view; see module docstring."""
        return explode_chars(
            self.reads,
            qual_col="qual" if (with_qual and self.has_quality) else None,
            phred_adjust=self.phred_adjust,
        )

    def get_sequences(self) -> DataFrame:
        """Project the seq plane (reference get_sequences seqtables.py:380)."""
        return self.reads.select("read_id", "seq")

    def get_quality(self, as_num: bool = True) -> DataFrame:
        """Project quality; numeric decode = ascii - phred_adjust
        (reference get_quality seqtables.py:399-404)."""
        if not self.has_quality:
            raise ValueError("table has no quality data")
        if not as_num:
            return self.reads.select("read_id", "qual")
        # an empty qual splits to one "" char: a null score, as in cells()
        return explode_chars(self.reads, seq_col="qual", qual_col=None).select(
            "read_id",
            "position",
            F.when(F.col("base") != "", F.ascii("base") - F.lit(self.phred_adjust)).alias("qual"),
        )

    # -- simple transforms (thin wrappers; heavy ops live in operators/)
    def subsample(self, fraction: float | None = None, n: int | None = None, seed: int = 42) -> "SeqTable":
        """Uniform random read sample (reference subsample seqtables.py:675-686).
        fraction-based is the scalable path (no global shuffle); exact-n
        does a distributed sort by rand which is acceptable for small n."""
        if fraction is not None:
            reads = self.reads.sample(fraction=fraction, seed=seed)
        elif n is not None:
            reads = self.reads.orderBy(F.rand(seed)).limit(n)
        else:
            raise ValueError("pass fraction or n")
        # insertions must shrink WITH the reads (quality_filter does
        # the same semi-join): carrying the full insertion table makes
        # n_reads-normalized insertion stats on the sample nonsense
        # (negative gap counts, freq > 1)
        ins = self._insertions
        if ins is not None:
            ins = ins.join(reads.select("read_id"), "read_id", "left_semi")
        return SeqTable(reads, ins, self.seq_type, self.phred_adjust, self.fillna_val)

    def filter_positions(self, min_pos: int | None = None, max_pos: int | None = None) -> DataFrame:
        """Position-window slice over cells == reference .loc position
        slicing (seqtables.py:320-340); becomes a pushable predicate."""
        c = self.cells()
        if min_pos is not None:
            c = c.filter(F.col("position") >= min_pos)
        if max_pos is not None:
            c = c.filter(F.col("position") <= max_pos)
        return c

    # -- reference-parity analysis facade --------------------------------
    # Thin delegations to the operator modules under the reference's
    # method names (seqtables.py), so a user of the reference can port
    # call sites 1:1. Each returns a DataFrame (long form).

    def get_seq_dist(self, method: str = "counts", positions=None,
                     ignore_characters=(), weight_by=None) -> DataFrame:
        """Reference get_seq_dist (seqtables.py:882-934)."""
        from .operators.distribution import seq_dist

        return seq_dist(
            self.cells(with_qual=False), method=method, positions=positions,
            ignore_characters=ignore_characters, weights=weight_by,
            seq_type=self.seq_type,
        )

    def get_consensus(self, positions=None, modecutoff: float = 0.5) -> DataFrame:
        """Reference get_consensus (seqtables.py:1512-1553)."""
        from .operators.distribution import consensus

        return consensus(
            self.cells(with_qual=False), modecutoff=modecutoff,
            positions=positions, fill=self.fillna_val,
        )

    def compare_to_references(self, reference_seqs, positions_to_compare=None,
                              flip=False, set_diff=False,
                              ignore_characters=(), treat_as_match=()) -> DataFrame:
        """Reference compare_to_references (seqtables.py:757-833)."""
        from .operators.compare import compare_to_references

        return compare_to_references(
            self.cells(with_qual=False), reference_seqs,
            flip=flip, treat_as_match=treat_as_match,
            ignore_characters=ignore_characters,
            positions=positions_to_compare, set_diff=set_diff,
        )

    def hamming_distance(self, reference_seqs, positions_to_compare=None,
                         normalized=False, ignore_characters=(),
                         treat_as_match=()) -> DataFrame:
        """Reference hamming_distance (seqtables.py:835-872)."""
        from .operators.compare import hamming_distance

        return hamming_distance(
            self.cells(with_qual=False), reference_seqs,
            normalized=normalized, treat_as_match=treat_as_match,
            ignore_characters=ignore_characters,
            positions=positions_to_compare,
        )

    def mutation_profile(self, reference_seqs, positions_to_compare=None,
                         normalized=False, aggregate_positions=True,
                         ignore_characters=(), treat_as_match=()) -> DataFrame:
        """Reference mutation_profile (seqtables.py:1055-1118)."""
        from .operators.compare import mutation_profile

        return mutation_profile(
            self.cells(with_qual=False), reference_seqs,
            positions=positions_to_compare, normalized=normalized,
            aggregate_positions=aggregate_positions,
            ignore_characters=ignore_characters, treat_as_match=treat_as_match,
        )

    def mutation_TS_TV_profile(self, reference_seqs,
                               positions_to_compare=None) -> DataFrame:
        """Reference mutation_TS_TV_profile (seqtables.py:1170-1221)."""
        from .operators.compare import mutation_ts_tv_profile

        if self.seq_type != "NT":
            raise ValueError("TS/TV profile requires NT sequences")
        return mutation_ts_tv_profile(
            self.cells(with_qual=False), reference_seqs,
            positions=positions_to_compare,
        )

    def get_quality_dist(self, positions=None, bins="even",
                         exclude_null_quality=True, sample=None,
                         percentiles=(10, 25, 50, 75, 90)) -> DataFrame:
        """Reference get_quality_dist (seqtables.py:1328-1377)."""
        from .operators.quality import quality_dist

        # only qual is scored: exploding seq too adds nothing that
        # survives quality_dist's non-null qual filter
        cells = self.get_quality()
        if positions is not None:
            cells = cells.filter(F.col("position").isin(list(positions)))
        return quality_dist(
            cells, bins=bins, exclude_null_quality=exclude_null_quality,
            percentiles=percentiles, sample_fraction=sample,
        )

    def pos_entropy(self, positions=None, ignore_characters=(), nbit=2) -> DataFrame:
        """Reference pos_entropy (seqtables.py:1315-1317)."""
        from .operators.distribution import pos_entropy

        return pos_entropy(
            self.cells(with_qual=False), positions=positions,
            ignore_characters=ignore_characters, nbit=nbit,
        )

    def get_bits(self, positions=None, ignore_characters=()) -> DataFrame:
        """Reference get_bits / seq-logo heights (seq_logo.py:297-311)."""
        from .operators.distribution import seq_bits

        return seq_bits(
            self.cells(with_qual=False), positions=positions,
            ignore_characters=ignore_characters, seq_type=self.seq_type,
        )

    def relative_entropy(self, background_seqs=None, positions=None) -> DataFrame:
        """Reference relative_entropy (seqtables.py:1319-1326)."""
        from .operators.distribution import relative_entropy

        bg = background_seqs.cells(with_qual=False) if isinstance(
            background_seqs, SeqTable) else background_seqs
        return relative_entropy(
            self.cells(with_qual=False), background_cells=bg,
            positions=positions, seq_type=self.seq_type,
        )

    def get_plogo(self, background_freq=None, positions=None, alpha=0.01) -> DataFrame:
        """Reference get_plogo (seqtables.py:1305-1313)."""
        from .operators.plogo import get_plogo

        return get_plogo(
            self.cells(with_qual=False), background_freq=background_freq,
            positions=positions, alpha=alpha, seq_type=self.seq_type,
        )

    def calculate_pwm(self, pwm, positions=None, pwm_column_names="ACTG",
                      null_scores=1.0) -> DataFrame:
        """Reference calculate_pwm (seqtables.py:874-880); `pwm` may be
        a DataFrame(position, letter, weight) or a nested list shaped
        like the reference's positions x letters matrix.

        Round 9: routed through the row-local string fold
        (operators.pwm.calculate_pwm_seq) - cells() here is a pure
        derivation of self.reads, so folding over the intact seq string
        is equivalent to the explode->join->groupBy formulation minus
        two shuffles (the reference kernel, numpy_ops.py:462-516, is
        row-local too).

        SEMANTIC NOTE (differs from the retired join formulation in
        two edge cases, matching the reference's dense-matrix kernel):
        (1) null_scores applies to read positions whose LETTER is
        absent from the PWM at a position the PWM COVERS; positions
        the PWM does not mention at all are ignored (the join path
        used to score every uncovered cell with null_scores too -
        with the default null_scores=1.0 the results are identical).
        (2) reads with NULL/empty seq score 1.0 (the empty product)
        instead of being dropped by the join. Use
        operators.pwm.calculate_pwm (the join path, retained) for
        masked/exploded inputs or the old uncovered-cell semantics."""
        from .operators.pwm import calculate_pwm_seq, pwm_entries

        if not isinstance(pwm, DataFrame):
            pwm = pwm_entries(pwm, positions=positions,
                              column_names=pwm_column_names)
        return calculate_pwm_seq(
            self.reads, pwm, positions=positions,
            null_score=null_scores,
        )

    def get_substrings(self, word_length, positions=None, weights=None,
                       include_insertions=False, min_ins_count=0,
                       subsample_seqs=None) -> DataFrame:
        """Reference get_substrings / gapped k-mers (seqtables.py:936-1034).
        Forwards the table's reference-coordinate origin (pos_start) so
        aligned tables (from_sam/from_pysam windows starting past 1)
        slot positions correctly."""
        from .operators.kmers import get_substrings

        if "pos_start" in self.reads.columns:
            lo, hi = self.reads.agg(
                F.min("pos_start"), F.max("pos_start")
            ).first()
            if lo is not None and lo != hi:
                raise ValueError(
                    "get_substrings: table has heterogeneous pos_start "
                    f"({lo}..{hi}); kmer slot offsets assume one shared "
                    "origin - re-align (from_sam window) or slice to a "
                    "uniform window first"
                )
            pos_start = int(lo) if lo is not None else 1
        else:
            pos_start = 1
        return get_substrings(
            self.reads, word_length, positions=positions, weights=weights,
            pos_start=pos_start, include_insertions=include_insertions,
            insertions=self._insertions if include_insertions else None,
            min_ins_count=min_ins_count, subsample_seqs=subsample_seqs,
        )

    def slice_sequences(self, positions, name="seqs",
                        return_quality=False, empty_chars=None) -> DataFrame:
        """Reference slice_sequences (seqtables.py:566-673)."""
        from .operators.slices import slice_sequences

        return slice_sequences(
            self.cells(), positions, name=name, return_quality=return_quality,
            empty_char=empty_chars or self.fillna_val,
            all_read_ids=self.reads,
        )

    def view_with_ins(self, positions=None, min_ins_count=0, ins_gap="-",
                      lowercase_insertions=True) -> DataFrame:
        """Reference view_with_ins (seqtables.py:408-564)."""
        from .operators.insertions import view_with_insertions

        return view_with_insertions(
            self.cells(with_qual=False), self.insertions, positions=positions,
            min_ins_count=min_ins_count, ins_gap=ins_gap,
            lowercase_insertions=lowercase_insertions,
        )

    def quality_filter(self, q, p, ignore_null_qual=True) -> "SeqTable":
        """Reference quality_filter (seqtables.py:1223-1258)."""
        from .operators.quality import quality_filter

        return quality_filter(self, q, p, ignore_null_qual=ignore_null_qual)

    def convert_low_bases_to_null(self, q, replace_with=None,
                                  ignore_null_qual=True) -> DataFrame:
        """Reference convert_low_bases_to_null (seqtables.py:1260-1303)."""
        from .operators.quality import convert_low_bases_to_null

        return convert_low_bases_to_null(
            self.cells(), q, replace_with=replace_with or self.fillna_val,
            ignore_null_qual=ignore_null_qual,
        )

    def get_insertion_events(self, positions=None, min_quality=0) -> DataFrame:
        """Reference get_insertion_events (seqtables.py:1452-1485)."""
        from .operators.insertions import get_insertion_events

        return get_insertion_events(self.insertions, positions, min_quality)

    def get_insertion_distribution(self, positions=None) -> DataFrame:
        """Reference get_insertion_distribution (seqtables.py:1422-1435)."""
        from .operators.insertions import get_insertion_distribution

        return get_insertion_distribution(self.insertions, positions)

    def get_average_insertion_quality(self, positions=None) -> DataFrame:
        """Reference get_average_insertion_quality (seqtables.py:1437-1450)."""
        from .operators.insertions import get_average_insertion_quality

        return get_average_insertion_quality(self.insertions, positions)

    def get_insertion_expectations(self, positions=None) -> DataFrame:
        """Reference get_insertion_expectations (seqtables.py:1452-1485)."""
        from .operators.insertions import get_insertion_expectations

        return get_insertion_expectations(self.insertions, positions)

    def get_insertion_seq_dist(self, positions=None, min_ins_count=0,
                               method: str = "counts") -> DataFrame:
        """Reference get_insertion_seq_dist (seqtables.py:1036-1053)."""
        from .operators.insertions import get_insertion_seq_dist

        return get_insertion_seq_dist(
            self.insertions, self.n_reads, positions=positions,
            min_ins_count=min_ins_count, method=method,
        )

    def seq_logo(self, positions=None, method: str = "freq",
                 include_insertions: bool = True,
                 ignore_characters=(), weights=None,
                 min_ins_count: int = 0) -> DataFrame:
        """Reference seq_logo compute side (seqtables.py:1379-1394):
        the stacked-bar letter distribution — ``get_seq_dist`` over the
        matrix positions (emitted as loc_ins=0 slots, freq normalized
        over the matrix letters at that position) concatenated with
        ``get_insertion_seq_dist``'s per-(position, loc_ins) slot
        distributions, including the implicit '-' gap row, each slot
        normalized over all N reads (the reference's per-column
        normalize after the gap row tops the column up to N,
        seqtables.py:1047-1051). Rendering itself is out of engine
        scope. Returns DF(position, loc_ins, base, cnt|freq); the
        (position, loc_ins) pair is the reference's sorted multiindex
        column key (seqtables.py:730-731), in long form.

        For reads with >=1 insertion counted as a single '^'
        pseudo-letter inside the per-position distribution instead,
        use get_seq_dist-with-insertion-counts
        (operators.distribution.seq_dist_with_insertions).

        Parity note: like the reference (seqtables.py:1380-1382),
        ``weights`` and ``ignore_characters`` shape ONLY the matrix
        (loc_ins=0) slots — get_insertion_seq_dist takes neither, so
        insertion slots are always unweighted counts over all N reads.
        A weighted logo therefore mixes weighted matrix columns with
        unweighted insertion columns, faithfully to the reference."""
        from .operators.distribution import seq_dist
        from .operators.insertions import get_insertion_seq_dist

        if include_insertions and method not in ("counts", "freq"):
            raise ValueError(
                f"seq_logo(include_insertions=True) supports method='counts'|'freq', got {method!r}"
            )
        val = {"counts": "cnt", "freq": "freq", "bits": "bits"}[method]
        base_dist = seq_dist(
            self.cells(with_qual=False), method, positions=positions,
            ignore_characters=ignore_characters, weights=weights,
            seq_type=self.seq_type,  # bits heights need |alphabet|
        )
        has_ins = include_insertions and self.insertions is not None
        loc_ins_type = (
            self.insertions.schema["loc_ins"].dataType if has_ins else "int"
        )
        base_dist = base_dist.select(
            "position", F.lit(0).cast(loc_ins_type).alias("loc_ins"), "base", val
        )
        if not has_ins:
            return base_dist
        ins = get_insertion_seq_dist(
            self.insertions, self.n_reads, positions=positions,
            min_ins_count=min_ins_count,
        )
        if method == "freq":
            ins = ins.withColumn(
                "freq", F.col("cnt") / F.lit(float(self.n_reads))
            )
        ins = ins.select(
            "position", "loc_ins", "base",
            F.col(val).cast(base_dist.schema[val].dataType).alias(val),
        )
        return base_dist.unionByName(ins)

    def merge_seqs(self, others: list["SeqTable"], axis: int = 0) -> "SeqTable":
        """Reference merge_seqs / st_merge_arrays (st_merge.py:63-138)."""
        from .operators.merge import merge_seqtables

        return merge_seqtables([self, *others], axis=axis)

    def create_views(self, prefix: str = "seqtable") -> list[str]:
        """Register the table's three relations as session temp views
        (`<prefix>_reads`, `<prefix>_cells`, `<prefix>_insertions`) so
        everything here is queryable straight from `spark.sql` - the
        SQL face of the engine. The cells view stays a LAZY projection
        over reads (no materialization); returns the view names."""
        names = []
        for name, df in (
            ("reads", self.reads),
            ("cells", self.cells()),
            ("insertions", self.insertions),
        ):
            vname = f"{prefix}_{name}"
            df.createOrReplaceTempView(vname)
            names.append(vname)
        return names
