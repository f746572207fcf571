"""Deduplication operators for large-scale text pipelines.

These extend the reference's surface (its filter_by_count /
dropDuplicates-style count filtering, numpy_ops.py:374-405, is the
closest native analog) with the standard large-corpus dedup toolbox:

  - exact_dedup:            hash-groupBy on content digest
  - minhash_signatures +    shingle -> universal-hash min-agg ->
    minhash_candidate_pairs banded LSH self-join
  - simhash / simhash_near_dups: sign-aggregated token hashes,
    hamming-ball matching via banding
  - ngram_jaccard_pairs:    exact n-gram Jaccard

Scale design. Exact dedup is one hash aggregate (map-side partial on
the digest). MinHash: the shingle explode is the wide step, but it
feeds straight into a groupBy(doc) min-agg - partial aggregation
collapses each partition to one row per doc before the shuffle. The
LSH band join is an equi-join on (band_idx, band_hash): uniform by
construction, no skew; candidate verification stays per-bucket.
Nothing here ever self-joins the full corpus - that is the entire
point of LSH at 100 TB.

Every near-duplicate operator is filter-then-verify: derive bucket
keys, pair the rows that share one, verify the pair. `_key_pairs` is
the one statement of the bucket self-join (pair orientation
id_a < id_b, one row per shared key) and `_drop_hot_keys` the one
statement of the hot-key cap; sketch.kmv_pairwise_jaccard_banded
uses both. `_band_collisions` is the corpus-vs-eval band join behind
the count guard.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from ..session import boundary
from .hashing import HASH_PRIME, minhash_params, portable_string_hash, universal_hash


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """One surviving row id per distinct text content: digest ->
    groupBy -> min(id) (deterministic survivor). Returns
    DF(digest, keep_id, n_dups)."""
    if keep not in ("min", "max"):
        raise ValueError(f"exact_dedup: keep must be 'min' or 'max', got {keep!r}")
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(agg.alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_array(
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = True,
    distinct: bool = True,
):
    """Column expr: the document's character k-shingles as an array.
    Dedup happens INSIDE the row (array_distinct) - a shingle's home is
    its own row, so per-doc distinctness never needs a shuffle. Only
    valid where length(text) >= k (callers filter).

    Implementation: overlapping windows via a lookahead-capture regex
    ((?=(.{k})) matches at every position, capturing the k chars) -
    regexp_extract_all runs JVM-side in whole-stage codegen. The
    obvious transform(sequence(...), substr) formulation is a
    higher-order function, which Catalyst evaluates INTERPRETED per
    element: measured 5.6-8.6 s vs 0.7-0.9 s for the regex on 1M
    shingles at sf0.1 (8x) with identical output. (?s) keeps '.'
    matching newlines so documents with line breaks shingle whole."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    arr = F.regexp_extract_all(
        txt, F.lit(f"(?s)(?=(.{{{int(k)}}}))"), 1
    )
    return F.array_distinct(arr) if distinct else arr


def shingles(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lowercase: bool = True,
    distinct: bool = True,
) -> DataFrame:
    """Character k-shingles per document: DF(id, shingle). One explode,
    map-side only: per-doc dedup is row-local (array_distinct before
    the explode), so there is NO distinct() shuffle of the exploded
    width at any scale."""
    txt = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    return df.filter(F.length(txt) >= k).select(
        F.col(id_col),
        F.explode(shingle_array(text_col, k, lowercase, distinct)).alias("shingle"),
    )


def minhash_signature_cols(
    text_col: str = "text",
    n_hashes: int = 16,
    k: int = 5,
    seed: int = 42,
) -> list:
    """The mh_0..mh_{n-1} signature columns as bare expressions (the
    row-local fold of minhash_signatures, exposed so a caller that is
    already making a pass over the text — e.g. a quality-annotate
    stage — can ride the signatures on the SAME scan instead of
    paying a second one; guide §2.3 'shuffle keys and metadata
    instead of payloads' / §8 'decide with small rows'). Only
    meaningful where length(text) >= k — callers carry their own
    validity flag; rows below k fold over an empty shingle array and
    keep the HASH_PRIME sentinel accumulator."""
    arr = shingle_array(text_col, k, lowercase=True, distinct=True)
    hashes = F.transform(arr, lambda t: portable_string_hash(t))
    params = minhash_params(n_hashes, seed)
    acc0 = F.array_repeat(F.lit(HASH_PRIME).cast("long"), n_hashes)
    cand = lambda h: F.array(  # noqa: E731
        *[universal_hash(h, a, b) for a, b in params]
    )
    mins = F.aggregate(
        hashes, acc0,
        lambda acc, h: F.zip_with(acc, cand(h), lambda x, y: F.least(x, y)),
    )
    return [
        F.element_at(mins, j + 1).alias(f"mh_{j}") for j in range(n_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 16,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """MinHash signature per document: mh_j = min over shingles of
    (a_j * h(shingle) + b_j) % p. Returns DF(id[, carry_cols...],
    mh_0..mh_{n-1}).

    Fully ROW-LOCAL: one fold over the document's shingle-hash array
    carries an n-wide running-min accumulator (zip_with against the
    n universal-hash candidates per shingle), so a signature is a
    pure projection - no explode, no aggregation, NO shuffle at any
    scale. The md5 runs exactly once per shingle: the hash array is
    one transform() feeding one aggregate(). (The naive row-local
    formulation - n separate array_min(transform(...)) columns - was
    measured 6x slower because repeated higher-order-function
    subtrees are not subexpression-eliminated and the md5 re-ran per
    hash function; the single fold is ~2x FASTER than the
    explode+groupBy plan it replaces, on top of dropping its
    exchange.)"""
    txt = F.lower(F.col(text_col))
    return df.filter(F.length(txt) >= k).select(
        F.col(id_col),
        *[F.col(c) for c in carry_cols],
        *minhash_signature_cols(text_col, n_hashes, k, seed),
    )


def minhash_band_keys(
    df: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Banded LSH keys per document: DF(id[, carry_cols...], band_idx,
    band_hash) with one row per (doc, band); band_hash = md5 of the
    band's signature rows. Entirely ROW-LOCAL (signature fold + band
    struct explode, no shuffle), which is what lets the same stage run
    unchanged on a STREAMING DataFrame - the streaming near-dup
    detector (streaming/ingest.streaming_near_dup_buckets) feeds its
    stateful bucket aggregation from exactly this relation.
    `carry_cols` rides extra columns through the projection (e.g. the
    event-time column a TTL'd streaming aggregation groups on)."""
    assert n_hashes % bands == 0
    sigs = minhash_signatures(
        df, n_hashes, k, text_col, id_col, seed, carry_cols=carry_cols
    )
    return band_keys_from_signatures(
        sigs, n_hashes, bands, id_col, carry_cols
    )


def band_keys_from_signatures(
    sigs: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """minhash_band_keys' banding stage over an ALREADY-computed
    signature relation DF(id[, carry...], mh_0..mh_{n-1}): band_hash
    = md5 of the band's comma-joined signature rows, one output row
    per (doc, band). Split out (round 13) so a caller that derived
    signatures on a shared scan (minhash_signature_cols) can band
    them without re-touching the text."""
    assert n_hashes % bands == 0
    rows = n_hashes // bands
    carry = [F.col(c) for c in carry_cols]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), *carry, F.explode(band_structs).alias("b")
    ).select(
        F.col(id_col), *carry, F.col("b.band_idx"), F.col("b.band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Banded-LSH candidate near-duplicate pairs: docs agreeing on ALL
    rows of at least one band. Returns DF(id_a, id_b) with id_a < id_b.
    """
    banded = minhash_band_keys(df, n_hashes, bands, k, text_col, id_col, seed)
    return _key_pairs(banded, ("band_idx", "band_hash"), id_col).distinct()


def _key_pairs(
    rel: DataFrame,
    keys: Sequence[str],
    id_col: str,
    carry: Sequence[str] = (),
) -> DataFrame:
    """The bucket self equi-join of every near-duplicate operator:
    rows of `rel` that share all of `keys` pair up, oriented
    id_a < id_b inside the join condition (so each unordered pair is
    produced once per shared key and a row never pairs with itself).
    Returns DF(id_a, id_b[, <c>_a, <c>_b for c in carry]) with one row
    per shared key; callers that want one row per pair take
    .distinct(). The join is never all-pairs: its cost is
    sum over keys of C(m_key, 2), which `_drop_hot_keys` bounds."""
    on = [F.col(f"l.{key}") == F.col(f"r.{key}") for key in keys]
    on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    return rel.alias("l").join(rel.alias("r"), on).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
        *[F.col(f"l.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"r.{c}").alias(f"{c}_b") for c in carry],
    )


def _drop_hot_keys(
    rel: DataFrame, key: str, max_rows: int | None
) -> DataFrame:
    """The hot-key cap ahead of a `_key_pairs` self-join: drop every
    row whose `key` value occurs in more than `max_rows` rows of
    `rel` (a stop-shingle shared by d rows would add d*(d-1)/2 join
    rows on its own). None returns `rel` unchanged. The hot list is
    bounded only by rows/(max_rows+1), so the anti-join carries no
    broadcast hint; AQE broadcasts it when it is measured small."""
    if max_rows is None:
        return rel
    hot = (
        rel.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n__"))
        .filter(F.col("__n__") > int(max_rows))
        .select(key)
    )
    return rel.join(hot, key, "left_anti")


def _band_bucket(bucket_bits: int):
    """Partition bucket for a hex band_hash: the first ceil(bits/4)
    hex chars parsed base-16, mod 2^bucket_bits — computed identically
    at index build and probe time (the join silently matches nothing
    if the two sides ever disagree). Kept in LONG the whole way:
    conv() of up to 8 hex chars spans 32 bits, and an int cast
    overflows to NULL for bucket_bits >= 29 — NULL buckets on both
    sides would drop every duplicate without an error. bucket_bits is
    validated to 1..28 (28 = 7 hex chars, always int64-safe, and more
    than enough directories: 2^28 partitions per band is already far
    past any sane file count)."""
    bits = int(bucket_bits)
    if not 1 <= bits <= 28:
        raise ValueError(f"bucket_bits must be in 1..28, got {bucket_bits}")
    return (
        F.conv(F.substring("band_hash", 1, (bits + 3) // 4), 16, 10).cast("long")
        % (1 << bits)
    )


def save_minhash_index(
    df: DataFrame,
    path: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    mode: str = "overwrite",
    bucket_bits: int = 8,
) -> None:
    """Materialize the corpus's LSH band keys as a REUSABLE index:
    DF(id, band_idx, band_hash) written partitioned by (band_idx,
    a bucket_bits-wide prefix of band_hash), so an incremental probe
    reads only the partitions its own band keys fall in (directory-
    level pruning) instead of rescanning the corpus.

    This is the 100 TB incremental-ingest contract: fingerprint the
    corpus ONCE; every new crawl dedups against the saved keys
    (incremental_near_dup_pairs) - the corpus text is never
    re-shingled. The index is append-able: after accepting a batch,
    write its band keys with mode='append' and the next batch probes
    corpus+accepted alike. Hash params (n_hashes/bands/k/seed) must
    match between build and probe - they define the key space.

    SIZE bucket_bits TO THE CORPUS: the probe scans every bucket the
    batch touches, and a bucket holds ~n_docs * bands / 2^bucket_bits
    band keys - fixed bits make probe cost grow linearly with the
    corpus (measured in SCALING.md "Incremental index"). Pick
    bucket_bits ~ log2(n_docs * bands / target_rows_per_bucket)
    (target ~1-10k rows) and the probe stays flat as the corpus
    grows; the helper validates up to 28 bits (268M buckets per
    band). Growing bits on an EXISTING index requires a rebuild -
    the directory layout is the hash table."""
    banded = minhash_band_keys(
        df, n_hashes, bands, k, text_col, id_col, seed
    ).withColumn("band_bucket", _band_bucket(bucket_bits))
    # repartition on the partition columns BEFORE partitionBy: without
    # it every write task opens a file in every partition dir it sees
    # a row for, producing O(tasks x partitions) small files (measured
    # 32k files for a 160k-doc index - footer opens then dominate the
    # pruned probe scan). With it, each (band_idx, bucket) is owned by
    # one task -> one file, at the cost of one extra build-time
    # shuffle (the build is the one-time ingest pass; the probe is
    # the steady state being protected). sortWithinPartitions on
    # band_hash gives each file monotone min/max row-group stats for
    # free, so engines that push join-side runtime filters (Spark's
    # runtime bloom filter / any literal band_hash lookup) can skip
    # row groups.
    (
        banded.repartition("band_idx", "band_bucket")
        .sortWithinPartitions("band_hash")
        .write.mode(mode)
        .partitionBy("band_idx", "band_bucket")
        .parquet(path)
    )


def compact_partitioned_parquet(
    spark,
    path: str,
    partition_cols: Sequence[str],
    max_files_per_partition: int = 8,
) -> int:
    """Compact any partitionBy-written parquet directory in place:
    every append batch adds its own files to each leaf partition it
    touches, so after N appends a pruned read opens O(N) small files
    per partition - footer reads start to dominate. This helper
    rewrites ONLY the partitions whose file count exceeds
    ``max_files_per_partition`` (each into one file), leaving cold
    partitions untouched, and returns the number of partitions
    rewritten. Used by compact_minhash_index (band_idx, band_bucket)
    and directly applicable to similarity.save_ivf_index cells
    (partition_cols=["_c"]).

    Scale shape: TWO Spark jobs total, not one per partition (a
    per-directory driver loop pays job-launch overhead x hot
    partitions - measured 117 s for 622 partitions of a 5k-doc
    index). Job 1 reads ONLY the hot partitions (an IN filter on the
    partition columns - directory pruning, never a corpus scan) and
    stages their rows in a temp dir; job 2 reads the stage and
    dynamic-partition-overwrites exactly those partitions back into
    the index, repartitioned so each gets ONE file (the staging hop
    exists because Spark refuses to overwrite a path it is reading
    from - lineage is lazy). Cold partitions are untouched. Rows,
    schema, and probe results are identical before/after (pinned in
    tests).

    Not concurrency-safe: run it from the ingest scheduler between
    append and probe, never while another writer/reader holds the
    index (partition-dir replacement is not transactional - the same
    contract as any filesystem-level parquet compaction).

    Local filesystem paths only, like the BAM reader's contract; a
    lakehouse deployment would use its table format's native
    compaction (OPTIMIZE) instead."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile

    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            "compact_partitioned_parquet operates on local paths; use "
            "your table format's native compaction for object stores"
        )
    root = path[len("file://"):] if path.startswith("file://") else path
    cols = list(partition_cols)
    hot_dirs = []
    for leaf in _glob.glob(_os.path.join(root, *(f"{c}=*" for c in cols))):
        n = sum(1 for f in _os.listdir(leaf) if f.endswith(".parquet"))
        if n > int(max_files_per_partition):
            hot_dirs.append(leaf)
    if not hot_dirs:
        return 0

    # read ONLY the hot partition dirs; basePath keeps the partition
    # columns in the schema (directory pruning by construction - no
    # filter expression over the partition value space to plan)
    hot_rows = spark.read.option("basePath", root).parquet(*hot_dirs)
    stage = _tempfile.mkdtemp(prefix="compact_stage_")
    try:
        hot_rows.write.mode("overwrite").parquet(stage)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                spark.read.parquet(stage)
                .repartition(*cols)
                .write.mode("overwrite")
                .partitionBy(*cols)
                .parquet(root)
            )
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", prev
                )
            else:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    finally:
        _shutil.rmtree(stage, ignore_errors=True)
    return len(hot_dirs)


def compact_minhash_index(
    spark,
    path: str,
    max_files_per_partition: int = 8,
) -> int:
    """Compact a save_minhash_index directory in place - the MinHash
    instantiation of compact_partitioned_parquet; see that docstring
    for the 2-job shape, concurrency contract, and local-path rule."""
    return compact_partitioned_parquet(
        spark, path, ["band_idx", "band_bucket"], max_files_per_partition
    )


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    index_path: str,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    bucket_bits: int = 8,
) -> DataFrame:
    """LSH candidate pairs between a NEW batch and a SAVED corpus
    index (save_minhash_index): DF(id_new, id_corpus) - every new doc
    that lands in a band bucket some corpus doc occupies. Cost scales
    with the BATCH, never the corpus: the batch's band keys are an
    equi-join against the index on (band_idx, band_bucket, band_hash),
    where the partition columns prune the index scan to the buckets
    the batch actually touches. Feed the pairs to ngram_jaccard_pairs
    (candidates=...) for exact verification, exactly like the batch
    pipeline. Self-duplicates WITHIN the batch are a separate
    minhash_candidate_pairs call on the batch alone."""
    spark = new_docs.sparkSession
    idx = spark.read.parquet(index_path)
    probe = minhash_band_keys(
        new_docs, n_hashes, bands, k, text_col, id_col, seed
    ).withColumn("band_bucket", _band_bucket(bucket_bits))
    return (
        probe.alias("n")
        .join(
            idx.alias("c"),
            ["band_idx", "band_bucket", "band_hash"],
        )
        .filter(F.col(f"n.{id_col}") != F.col(f"c.{id_col}"))
        .select(
            F.col(f"n.{id_col}").alias("id_new"),
            F.col(f"c.{id_col}").alias("id_corpus"),
        )
        .distinct()
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 28,
) -> DataFrame:
    """SimHash over whitespace tokens: bit i of the fingerprint is the
    sign of sum over tokens of (+1 if bit i of h(token) else -1).
    Returns DF(id, simhash bigint).

    bits defaults to 28 (not 32): portable_string_hash is 31-bit
    (md5 mod 2^31-1), so bits above 30 would be constant-zero and the
    top banding chunk would silently carry no information; 28 divides
    evenly into the default 4 bands at 7 meaningful bits each.

    One explode + one groupBy with `bits` conditional sums - partial
    aggregation keeps the shuffle at one row per doc, and the 32
    conditional sums run inside whole-stage codegen. (A row-local
    single-fold variant - like the minhash one above - was measured
    ~1.7x SLOWER here: higher-order functions evaluate interpreted,
    and a 32-wide zip_with per token costs more than the codegen'd
    aggregate it saves; the fold only wins at minhash's 8-wide
    accumulator. The exchange it would save carries one row per doc
    and is not the bottleneck at any scale.)"""
    tok = F.explode(F.expr(f"regexp_extract_all(lower({text_col}), '\\\\S+', 0)")).alias(
        "token"
    )
    base = df.select(F.col(id_col), tok).withColumn(
        "h", portable_string_hash("token")
    )
    bit_sums = base.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s_{i}")
            for i in range(bits)
        ]
    )
    fingerprint = None
    for i in range(bits):
        bit = F.when(F.col(f"s_{i}") > 0, F.lit(2 ** i).cast("long")).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return bit_sums.select(F.col(id_col), fingerprint.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 28,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by simhash hamming distance <= max_hamming.

    Pigeonhole banding: split the fingerprint into `bands` chunks; any
    pair within distance < bands must agree on >= 1 chunk, so the join
    is an equi-join on (chunk_idx, chunk_value), never all-pairs.
    Returns DF(id_a, id_b, hamming)."""
    if max_hamming >= bands:
        # the pigeonhole guarantee only covers distance < bands: a
        # pair at distance == bands can differ in every chunk and
        # would be SILENTLY dropped. Raise instead of losing recall.
        raise ValueError(
            f"simhash_near_dups: max_hamming={max_hamming} needs bands > "
            f"max_hamming (got bands={bands}); raise bands to keep the "
            "pigeonhole recall guarantee"
        )
    if bits % bands:
        raise ValueError(
            f"simhash_near_dups: bits={bits} must divide evenly into "
            f"bands={bands} (chunking would drop the top {bits % bands} bits)"
        )
    sh = simhash(df, text_col, id_col, bits)
    chunk = bits // bands
    mask = (1 << chunk) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("chunk_idx"),
                F.shiftright(F.col("simhash"), b * chunk)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for b in range(bands)
        ]
    )
    expanded = sh.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("c")).select(
        id_col, "simhash", "c.chunk_idx", "c.chunk_val"
    )
    return (
        _key_pairs(expanded, ("chunk_idx", "chunk_val"), id_col, ("simhash",))
        .select(
            "id_a",
            "id_b",
            F.bit_count(
                F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
    driver_edge_limit: int = 5_000_000,
    algorithm: str = "star",
    on_round=None,
    auto_label_rounds: int = 4,
) -> DataFrame:
    """Connected components over an undirected pair list
    DF(id_a, id_b) -> DF(doc_id, cluster_id) for every endpoint, with
    cluster_id = the smallest member id (deterministic canonical
    label). This is the step that turns near-duplicate PAIRS into
    dedup GROUPS.

    Two physical paths behind one API:

    * **Driver union-find** (edge list <= ``driver_edge_limit``): the
      verified near-dup pair list is the output of LSH banding + a
      Jaccard verify, i.e. orders of magnitude smaller than the
      corpus — at 100 TB of documents it is typically millions of
      rows, not billions. Collecting ONLY the pair list (never the
      corpus) and running path-compressed union-find is O(E alpha(E))
      in one Spark job, versus diameter-many join+agg jobs. 5M edges
      is ~80 MB on the driver.
    * **Distributed** (bigger edge lists): ``algorithm`` picks the
      iteration scheme —

      - ``"star"`` (default): alternating large-star / small-star
        contractions (Kiveris et al., "Connected Components in
        MapReduce and Beyond"). O(log n) rounds even on adversarial
        long-chain graphs, each round two shuffles over the edge
        list only.
      - ``"label"``: min-label propagation — every node adopts the
        min of its own and its neighbors' labels; converges in
        graph-diameter rounds. Cheapest per-round for the typical
        near-dup graph (forests of tiny cliques, diameter 2-3).
      - ``"auto"`` (round 9): probe with ``auto_label_rounds`` label
        rounds, keep the answer if it reached a fixed point (label
        measured ~20% faster than star on clique forests in the
        round-8 soak), else restart with star (whose O(log n) bound
        covers the long-chain graphs label can't finish).

      Both paths truncate lineage every iteration with
      ``localCheckpoint(eager=True)`` — without it the nested
      union/groupBy plan grows per round and plan compilation + AQE
      blow the driver heap long before the data does (the round-2
      OOM on a 7-node path graph).

    ``on_round(round_idx, edge_count, seconds)`` (star path only) is
    the measurement hook the SCALING.md 10M-edge soak uses: per-round
    surviving edge count (the shuffle volume of the NEXT round) and
    wall time.

    Batch only: every path (driver union-find, star, label, auto's
    probe) runs jobs while constructing the answer - a streaming pair
    list raises here; for continuous near-dup clustering use the
    incremental index path (streaming/ingest.py), which confines
    state to the probe window.
    """
    if pairs.isStreaming:
        raise ValueError(
            "connected_components runs iterative jobs and cannot"
            " consume a streaming DataFrame; drain the stream to a"
            " batch table first or use the incremental dedup path"
            " (streaming/ingest.py)"
        )
    if driver_edge_limit > 0:
        head = pairs.select("id_a", "id_b").limit(driver_edge_limit + 1).collect()
        if len(head) <= driver_edge_limit:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for row in head:
                a, b = row[0], row[1]
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:  # union by min label keeps canonical roots
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            rows = [(x, find(x)) for x in parent]
            schema = pairs.select(
                F.col("id_a").alias("doc_id"), F.col("id_a").alias("cluster_id")
            ).schema
            return pairs.sparkSession.createDataFrame(rows, schema)

    if algorithm == "label":
        return _cc_label_propagation(pairs, max_iter)
    if algorithm == "star":
        return _cc_star(pairs, max_iter, on_round=on_round)
    if algorithm == "auto":
        # Round 9 (round-8 measurement): label propagation beat star
        # ~20% on the low-diameter clique forests dedup actually
        # produces, while star's O(log n) bound wins on adversarial
        # long chains. Auto = run a few cheap label rounds; if the
        # graph converges within them (diameter <= auto_label_rounds,
        # the common case) keep that answer, else RESTART with star -
        # the wasted label rounds are each one join+agg over the edge
        # list, a bounded premium over star's from-scratch cost on
        # exactly the graphs star is needed for.
        labels = _cc_label_propagation(
            pairs, min(auto_label_rounds, max_iter), require_convergence=True
        )
        if labels is not None:
            return labels
        return _cc_star(pairs, max_iter, on_round=on_round)
    raise ValueError(f"unknown connected_components algorithm: {algorithm!r}")


def _cc_label_propagation(
    pairs: DataFrame, max_iter: int, require_convergence: bool = False
) -> DataFrame | None:
    """Min-label propagation; one join+agg per round, diameter rounds.
    require_convergence=True returns None instead of a possibly-stale
    labeling when max_iter rounds pass without a fixed point (the
    auto-mode probe)."""
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .union(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lab"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        # each node hears its neighbors' current labels
        nbr = edges.join(labels, edges["d"] == labels["id"]).select(
            F.col("s").alias("id"), F.col("lab")
        )
        # localCheckpoint: materialize AND cut lineage, else the plan
        # nests one union+groupBy deeper per round and the driver dies
        # compiling it, not executing it
        new_labels = (
            labels.select("id", "lab")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if require_convergence and not converged:
        return None
    return labels.select(F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id"))


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star contraction round.

    large-star: every node u connects its strictly-larger neighbors to
    m(u) = min(N(u) + {u}); small-star: after orienting edges
    high -> low, every node connects its smaller neighbors (and
    itself) to the minimum. Each is a groupBy + equi-join on the edge
    list — two shuffles per round, O(log n) rounds total.
    """
    sym = (
        edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("m"))
    )
    large = (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    oriented = (
        large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    small_mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    small = (
        oriented.join(small_mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(small_mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return small


def _cc_star(pairs: DataFrame, max_iter: int, on_round=None) -> DataFrame:
    """Alternating large-star/small-star: O(log n) rounds on any graph."""
    import time as _time
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_cnt = edges.count()
    for it in range(max_iter):
        _t0 = _time.perf_counter()
        # localCheckpoint each round: cut lineage so plan size stays O(1)
        new_edges = _star_round(edges).localCheckpoint(eager=True)
        new_cnt = new_edges.count()
        converged = (
            new_cnt == prev_cnt
            and new_edges.subtract(edges).limit(1).count() == 0
        )
        edges, prev_cnt = new_edges, new_cnt
        if on_round is not None:
            on_round(it + 1, new_cnt, _time.perf_counter() - _t0)
        if converged:
            break
    # at convergence edges are star edges (member -> root); roots and
    # isolated nodes label themselves
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("lab"))
    return (
        nodes.join(labels, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("lab"), F.col("id")).alias("cluster_id"),
        )
    )


def dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    prefer_col: str | None = None,
    descending: bool = True,
) -> DataFrame:
    """The end of the fuzzy-dedup pipeline: cluster the near-dup
    pairs, keep ONE canonical member per cluster, and return the
    corpus with the other cluster members removed (docs in no pair
    always survive).

    Keep policy: by default the smallest id (stable, cheap — the
    cluster label IS the survivor). With `prefer_col`, the member
    with the best score survives (descending=True keeps the max —
    e.g. quality_score, length, recency; ties break by smallest id).
    Real curation keeps the best cluster member, not an arbitrary
    one: near-dup clusters usually contain one complete document and
    several truncated/boilerplate-damaged copies. Scale shape: the
    ranking window partitions by cluster_id — clusters are small by
    construction, and only CLUSTERED docs (a tiny fraction of the
    corpus) enter the window; the corpus itself is touched once by
    the final anti-join."""
    comp = connected_components(pairs)
    if prefer_col is None:
        losers = comp.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias(id_col)
        )
    else:
        from pyspark.sql import Window

        scored = comp.join(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.col(prefer_col).alias("_pref"),
            ),
            "doc_id",
        )
        order = F.desc("_pref") if descending else F.asc("_pref")
        w = Window.partitionBy("cluster_id").orderBy(order, F.asc("doc_id"))
        losers = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") > 1)
            .select(F.col("doc_id").alias(id_col))
        )
        # when `df` is a union, the anti-join is pushed below it and
        # every union branch reads `losers`
        losers = boundary(losers)
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    min_jaccard: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = 256,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Without `candidates`: inverted-index join - docs sharing an n-gram
    meet in that n-gram's posting list; |intersection| falls out of a
    groupBy over the join, |union| = |A| + |B| - |A n B|. Quadratic in
    posting-list length: a shingle shared by d docs contributes
    d*(d-1)/2 join rows, so one stop-gram shared by 10k docs is a
    5*10^7-row hot key. `max_doc_freq` is the standard inverted-index
    guard (`_drop_hot_keys`) and is ON BY DEFAULT (256): shingles whose
    GLOBAL document frequency exceeds it are dropped from the universe
    before the self-join (sizes |A|,|B| are recomputed over the kept
    shingles, so the score is exact
    Jaccard over the informative-shingle universe - ultra-common grams
    carry no similarity signal, the same reasoning as stopword
    removal), bounding every posting list's join fan-out at
    d*(d-1)/2 <= ~32k rows. Pass `max_doc_freq=None` ONLY when you
    explicitly want raw all-shingle Jaccard on a corpus known to be
    small. At corpus scale pass
    `candidates` (DF(id_a, id_b), e.g. from minhash_candidate_pairs)
    instead: verification is then fully ROW-LOCAL - each pair joins to
    its two shingle arrays and the Jaccard is one array_intersect
    inside the row, with no explode, no aggregation, and cost
    proportional to the candidate set - the standard LSH-then-verify
    pipeline. Returns DF(id_a, id_b, jaccard).
    """
    if candidates is not None:
        # Verify cost must scale with the CANDIDATE set, not the
        # corpus: semi-join the corpus down to ids that appear in a
        # candidate pair BEFORE shingling, so only those docs are ever
        # materialized. (AQE broadcasts the id list when small.)
        cand = candidates.select("id_a", "id_b")
        ids = (
            cand.select(F.col("id_a").alias(id_col))
            .union(cand.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        arr = shingle_array(text_col, k, lowercase=True, distinct=True)
        docs = df.join(ids, id_col, "left_semi").select(
            F.col(id_col),
            F.when(F.length(F.col(text_col)) >= k, arr)
            .otherwise(F.array().cast("array<string>"))
            .alias("sh"),
        )
        a = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
        b = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
        inter = (
            cand.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("n_common"),
                F.size("sh_a").alias("n_a"),
                F.size("sh_b").alias("n_b"),
            )
        )
        jac = (
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        ).alias("jaccard")
        return inter.select(
            "id_a",
            "id_b",
            jac,
        ).filter(F.col("jaccard") >= min_jaccard)
    # rows are distinct per (doc, shingle) by construction, so a
    # shingle's row count IS its document frequency; the sizes below
    # are taken over the capped universe
    sh = _drop_hot_keys(
        shingles(df, k=k, text_col=text_col, id_col=id_col),
        "shingle",
        max_doc_freq,
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        _key_pairs(sh, ("shingle",), id_col)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


DEFAULT_MAX_BROADCAST_ROWS = 1_000_000


def count_guarded_broadcast(small: DataFrame, max_rows: int) -> DataFrame:
    """Join-strategy guard for a side that is small by construction
    (an eval set's grams or band keys): broadcast it when an explicit
    count finds <= max_rows rows, else force shuffle-merge.

    The count and the join build both read `small`, so it sits behind
    a session.boundary; the relation is bounded by the guard itself
    (<= max_rows rows on the fast path, else it is the join's shuffle
    input anyway)."""
    small = boundary(small)
    if small.count() <= int(max_rows):
        return F.broadcast(small)
    return small.hint("shuffle_merge")


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int | None = 500_000,
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    character k-grams appear ANYWHERE in the eval set (the standard
    13-gram-overlap contamination test run before training on a
    scraped corpus).

    Scale shape: the eval set's distinct grams form the small side -
    exploded and deduped; the corpus side stays row-local until a
    semi-style left join per exploded gram, then partial-aggs back to
    one row per doc. The corpus is the big side and is streamed once;
    nothing quadratic, no corpus-side shuffle beyond the per-doc
    re-aggregation. Join strategy is guarded by an EXPLICIT count of
    the distinct eval grams (one cheap action over the EVAL side only,
    never the corpus): <= max_broadcast_grams broadcasts (the fast
    path for benchmark-sized sets), above it the join is forced to
    shuffle-merge. Why not 'let AQE decide': measured on this Spark,
    a ~25 MB gram set still compile-planned as BroadcastHashJoin
    under a 1 MB autoBroadcastJoinThreshold - Catalyst's static size
    estimate after the distinct aggregate does not see the gram
    explosion, and AQE never demotes an already-planned broadcast
    (no shuffle-stage stats exist for it). The unconditional hint was
    the round-3 'what's wrong' item; the count-guard is the fix that
    actually holds at scale. Pass max_broadcast_grams=None to skip
    the count and keep the plan fully lazy (builder semantics).

    Returns DF(id, n_grams bigint, n_contaminated bigint,
    contamination double in [0,1]).
    """
    eval_grams = (
        eval_set.filter(F.length(F.col(text_col)) >= k)
        .select(F.explode(shingle_array(text_col, k)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    doc_grams = corpus.filter(F.length(F.col(text_col)) >= k).select(
        F.col(id_col),
        F.explode(shingle_array(text_col, k)).alias("gram"),
    )
    if max_broadcast_grams is not None:
        eval_grams = count_guarded_broadcast(eval_grams, max_broadcast_grams)
    marked = doc_grams.join(eval_grams, "gram", "left")
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
    ).select(
        id_col,
        "n_grams",
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        (F.col("n_contaminated") / F.col("n_grams")).alias("contamination"),
    )


def near_dup_contamination(
    corpus: DataFrame,
    eval_set: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """FUZZY benchmark decontamination: corpus documents that are
    MinHash-band near-duplicates of any eval-set document.

    `contamination_check` (above) is the exact 13-gram-overlap test;
    this is its near-duplicate complement — a paraphrased or
    truncated benchmark item won't share long exact grams with its
    source, but still collides with it in an LSH band (the GPT-3
    appendix-A style fuzzy decontamination).

    Scale shape: both sides reduce to their banded-key relations
    first — ROW-LOCAL signature folds, no explode of shingles into a
    shuffle (see minhash_band_keys) — so the join input is
    (docs x bands) rows, not (docs x shingles). The eval side is
    tiny by construction (a benchmark); a count guard (same pattern
    and rationale as contamination_check's) broadcasts it when it
    fits, else forces shuffle-merge. Output aggregates back to one
    row per flagged corpus doc.

    Returns DF(id, n_eval_matches bigint, first_eval_id) — corpus
    docs with at least one banded collision; drop them (or route to
    human review) before training.
    """
    hits = _band_collisions(
        minhash_band_keys(corpus, n_hashes, bands, k, text_col, id_col, seed),
        minhash_band_keys(eval_set, n_hashes, bands, k, text_col, id_col, seed),
        id_col,
        max_broadcast_rows,
    )
    return hits.groupBy(id_col).agg(
        F.countDistinct("_eval_id").cast("long").alias("n_eval_matches"),
        F.min("_eval_id").alias("first_eval_id"),
    )


def _band_collisions(
    corpus_bands: DataFrame,
    eval_bands: DataFrame,
    id_col: str,
    max_broadcast_rows: int | None = DEFAULT_MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Corpus band keys joined to an eval set's band keys on
    (band_idx, band_hash): one row per (corpus row, colliding eval
    row, shared band), with the eval id renamed `_eval_id`. The eval
    side is small by construction, so it goes through
    count_guarded_broadcast; None skips the count and leaves the
    strategy to the planner."""
    eb = eval_bands.withColumnRenamed(id_col, "_eval_id")
    if max_broadcast_rows is not None:
        eb = count_guarded_broadcast(eb, max_broadcast_rows)
    return corpus_bands.join(eb, ["band_idx", "band_hash"])


def duplicate_spans(
    df: DataFrame,
    span_tokens: int = 15,
    stride: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplicate-span detection (the span-level dedup
    of Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better", re-expressed relationally): token-aligned windows
    of `span_tokens` whitespace tokens sampled every `stride` tokens;
    a span occurrence is DUPLICATED when its exact text occurs in >=2
    distinct documents. Where the paper builds a giant suffix array,
    the relational formulation is a fingerprint group-by - the scale
    cost is two hash shuffles keyed by span hash (uniform keys: the
    hash IS the key), then one per-doc rollup. Nothing quadratic,
    nothing driver-side; span generation itself is row-local
    (tokenize -> slice -> explode, one Generate).

    Returns DF(id, n_spans, n_dup_spans, max_span_docs): per doc, the
    number of sampled spans, how many of them are duplicated across
    the corpus, and the widest fan-out (how many docs share its most
    widely shared span; 0 when none).

    SKEW LIMIT (documented trade, like curate_documents' survivor
    window): the per-span window cannot be split, so one span text
    occurring in millions of documents (a boilerplate footer) pulls
    all its occurrences into one task, where the old groupBy
    formulation collapsed map-side. The single-subtree window was
    still chosen because it halves the span-generation work (the
    dominant cost) and the hot-span ceiling is bounded by docs
    containing the SAME 15-token string - if your corpus has that,
    run exact_dedup (a groupBy, which collapses map-side) first; the
    boilerplate collapses to one doc before spans are sampled.
    """
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), 0)
    n = F.size(toks)
    spans = F.transform(
        F.sequence(F.lit(1), n - F.lit(span_tokens - 1), F.lit(stride)),
        lambda i: F.array_join(F.slice(toks, i, span_tokens), " "),
    )
    # full 128-bit digest, not the 31-bit banding hash: "exact
    # substring" is the claim, and at corpus scale a 31-bit space
    # collides by the birthday bound (~50% at 65k distinct spans) -
    # md5 keeps the group-by key collision-free for any real corpus
    from pyspark.sql import Window

    doc_spans = (
        df.filter(n >= span_tokens)
        .select(F.col(id_col), F.explode(spans).alias("span"))
        .select(F.col(id_col), F.md5(F.col("span")).alias("h"))
    )
    # per-span distinct-doc count via a window over the span hash, not
    # groupBy + self-join: the join formulation references the
    # tokenize->slice->explode->md5 subtree twice (Catalyst does not
    # dedupe common subtrees) and pays an extra exchange for the join;
    # the window computes span generation ONCE and shares the single
    # hash shuffle (1.46 s -> ~0.9 s at sf0.1). Per-group state is the
    # span's distinct doc-id set - the same state the count_distinct
    # aggregate held.
    w = Window.partitionBy("h")
    n_docs = F.size(F.collect_set(F.col(id_col)).over(w))
    marked = doc_spans.withColumn("__nd__", n_docs)
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(
            F.when(F.col("__nd__") >= 2, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_dup_spans"),
        F.coalesce(
            F.max(F.when(F.col("__nd__") >= 2, F.col("__nd__"))), F.lit(0)
        ).cast("long").alias("max_span_docs"),
    )
