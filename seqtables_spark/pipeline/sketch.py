"""Mergeable sketches over the portable hash family: KMV distinct
count and a Bloom membership filter.

Why not Spark's built-ins: `approx_count_distinct` (HLL++) and
`DataFrameStatFunctions.bloomFilter` hash with Spark-private seeds -
no external engine reproduces them, so they cannot carry a value
oracle, and the bloom builder collects to the driver. These versions
are built from `pipeline.hashing.portable_string_hash` (md5-derived
31-bit ints), so DuckDB replays them bit-for-bit, and both stay fully
distributed.

KMV (k minimum values, Bar-Yossef et al. 2002): keep the k smallest
distinct hash values of a set; with the k-th smallest = R on a hash
space of size P, |distinct| ~= (k-1) * P / R. The sketch is a
k-element sorted array - MERGEABLE: union of sets = k smallest of
the concatenated sketches, so per-partition / per-day sketches roll
up without touching raw data again (the property that matters when
the raw data is 100 TB).

Bloom: m-bit filter as the DISTINCT SET of bit positions lit by j
universal hashes per key. Build = explode j positions per key ->
distinct (bounded by m, not by corpus size); probe = all-j-present
semi-probe against the broadcast position set. False positives are
the real Bloom semantics (position collisions), false negatives are
impossible - same guarantees, engine-reproducible.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..session import boundary
from .dedup import _drop_hot_keys, _key_pairs
from .hashing import HASH_PRIME, minhash_params, portable_string_hash


# --------------------------------------------------------------- KMV

def _kmv_top_k(hashes: DataFrame, k: int, gb: list[str]) -> DataFrame:
    """Bounded fold: (group, __h__) distinct rows -> k smallest per
    group as a sorted array. Window row_number + filter, THEN the
    array agg - the sort spills through the external sorter and the
    collect_list buffer never holds more than k values per group, so
    per-group state is O(k) regardless of group cardinality (the
    property the collect_set formulation lacked at 100 TB).

    Ungrouped case (gb = []): an unpartitioned `row_number <= k`
    window LOOKS like the single-task global-sort anti-pattern, but
    Catalyst's InferWindowGroupLimit (Spark 3.5+) rewrites exactly
    this shape into TakeOrderedAndProject(limit=k) - a per-partition
    top-k followed by a k-row merge, the distributed selection a
    hand-rolled hierarchical pre-fold would compute with two EXTRA
    shuffles. No task ever sorts the full distinct-hash set; the
    plan is pinned in tests/test_plans.py
    (test_ungrouped_kmv_is_distributed_top_k)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*gb).orderBy(F.col("__h__").asc())
    ranked = hashes.withColumn("__rk__", F.row_number().over(w)).filter(
        F.col("__rk__") <= int(k)
    )
    return ranked.groupBy(*gb).agg(
        F.array_sort(F.collect_list("__h__")).alias("kmv")
    )


def kmv_sketch(
    df: DataFrame,
    col: str,
    k: int = 64,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Per-group KMV sketch: DF(group..., kmv: array<long>) holding
    the k smallest distinct portable hashes of `col`.

    Shape: distinct (group, hash) - a partial-aggregated shuffle on
    uniform keys - then a window-rank top-k whose per-group state is
    bounded by k (see _kmv_top_k), so an arbitrarily-high-cardinality
    group can never blow an agg buffer."""
    gb = list(group_by)
    h = portable_string_hash(F.col(col).cast("string"))
    hashes = df.select(*gb, h.alias("__h__")).dropDuplicates([*gb, "__h__"])
    return _kmv_top_k(hashes, k, gb)


def kmv_merge(sketches: DataFrame, k: int, group_by: Sequence[str] = ()) -> DataFrame:
    """Merge KMV sketches (column `kmv`) across rows into one sketch
    per `group_by` (global when empty) WITHOUT revisiting raw data:
    distinct-union the arrays, keep the k smallest. Bounded the same
    way as kmv_sketch: with S shards per group the exploded relation
    is S*k rows, and the rank-then-fold keeps agg state at O(k)."""
    gb = list(group_by)
    exploded = sketches.select(*gb, F.explode("kmv").alias("__h__")).dropDuplicates(
        [*gb, "__h__"]
    )
    return _kmv_top_k(exploded, k, gb)


def kmv_estimate(kmv: Column | str, k: int, prime: int = HASH_PRIME) -> Column:
    """Distinct-count estimate from a KMV array: exact size when the
    set had < k distinct hashes (the sketch IS the set), else
    (k-1) * P / R_k."""
    c = F.col(kmv) if isinstance(kmv, str) else kmv
    n = F.size(c)
    return F.when(n < int(k), n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(prime)) / F.element_at(c, int(k))
    )


# -------------------------------------------------------------- Bloom

def bloom_build(
    df: DataFrame,
    col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 4,
    seed: int = 97,
) -> DataFrame:
    """Build: DF(pos: int) - the distinct lit bit positions. Size is
    bounded by m_bits regardless of corpus size, so the result always
    broadcasts. Positions come from j Carter-Wegman hashes of the
    portable 31-bit key hash, mod m."""
    h = portable_string_hash(F.col(col).cast("string"))
    params = minhash_params(n_hashes, seed=seed)
    pos = F.explode(
        F.array(
            *[
                ((F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(int(m_bits)))
                for a, b in params
            ]
        )
    ).alias("pos")
    return df.select(pos).distinct()


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame,
    id_col: str,
    m_bits: int = 1 << 16,
    n_hashes: int = 4,
    seed: int = 97,
) -> DataFrame:
    """Probe: adds `bloom_hit` (true = maybe-member, with the usual
    false-positive rate; false = definitely absent). `id_col` must
    uniquely key `df` (a deterministic id - NOT
    monotonically_increasing_id, which changes under task retry).

    The filter (<= m_bits rows) broadcasts; the probe is j broadcast
    lookups per row (explode -> broadcast left join -> all-j-present),
    re-attached on the unique id; the only shuffle is that final
    equi-join on `id_col`."""
    h = portable_string_hash(F.col(col).cast("string"))
    params = minhash_params(n_hashes, seed=seed)
    pos = F.explode(
        F.array(
            *[
                ((F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(int(m_bits)))
                for a, b in params
            ]
        )
    ).alias("pos")
    cand = df.select(id_col, pos)
    hits = (
        cand.join(F.broadcast(bloom.withColumn("__in__", F.lit(1))), "pos", "left")
        .groupBy(id_col)
        .agg((F.count("__in__") == F.lit(n_hashes)).alias("bloom_hit"))
    )
    return df.join(hits, id_col, "left")


def kmv_pairwise_jaccard(
    sketches: DataFrame,
    k: int,
    group_col: str = "source",
    kmv_col: str = "kmv",
) -> DataFrame:
    """All-pairs Jaccard ESTIMATE between groups from their KMV
    sketches (k-min-values estimator, Bar-Yossef/Beyer et al.):
    X = the k smallest of A union B, j ~= |X n A n B| / |X|.

    The corpus-scale property: the pairwise comparison runs over the
    SKETCH relation (one <=k array per group), never the underlying
    data - estimating every source-vs-source overlap of a 100 TB
    corpus costs one sketch build plus set math on k-element sets.
    Deterministic given the portable hash, so a SQL oracle replays it
    exactly. Groups with empty sketches contribute no pairs; pairs
    are emitted once with src_a < src_b (string order).

    Shape: the sketch relation funnels into ONE task (repartition(1)
    of #groups rows - bounded by construction, like the P-row rank
    offsets) and a mapInPandas computes all pairs in plain python.
    This is deliberate, and three pure-DataFrame formulations were
    measured and rejected on source_overlap at sf0.1: a lazy
    self-join re-executes the entire sketch-build subtree twice
    (Catalyst never dedups common subtrees, ~2x build cost); routing
    the collected sketches back through createDataFrame rides the
    Python-RDD scan path where EVERY downstream action pays a
    per-partition python-worker roundtrip (coalesce(1) drained 32
    such partitions serially, ~5 s for 20 rows); and pyspark's
    F.array_sort is the comparator-lambda HOF, interpreted per
    comparison (~8 s for 190 pairs - use F.sort_array if you ever
    need sorted arrays in a hot path). The one-task stage does
    O(G^2 * k log k) python work: fine to thousands of groups; band
    the groups first if you have millions."""
    kk = int(k)

    def _pairs(batches):
        import pandas as pd

        sets: dict = {}
        for pdf in batches:
            for g, kmv in zip(pdf["__g__"], pdf["__kmv__"]):
                sets[str(g)] = frozenset(int(v) for v in kmv)
        out = {
            "src_a": [], "src_b": [], "n_union_sketch": [],
            "n_shared_sketch": [], "jaccard_est": [],
        }
        names = sorted(sets)
        for i, ga in enumerate(names):
            sa = sets[ga]
            for gb in names[i + 1 :]:
                sb = sets[gb]
                x = sorted(sa | sb)[:kk]
                if not x:
                    continue
                shared = sum(1 for h in x if h in sa and h in sb)
                out["src_a"].append(ga)
                out["src_b"].append(gb)
                out["n_union_sketch"].append(len(x))
                out["n_shared_sketch"].append(shared)
                out["jaccard_est"].append(shared / float(len(x)))
        yield pd.DataFrame(out)

    narrow = sketches.select(
        F.col(group_col).cast("string").alias("__g__"),
        F.col(kmv_col).alias("__kmv__"),
    )
    return narrow.repartition(1).mapInPandas(
        _pairs,
        "src_a string, src_b string, n_union_sketch int, "
        "n_shared_sketch int, jaccard_est double",
    )


def kmv_pairwise_jaccard_banded(
    sketches: DataFrame,
    k: int,
    group_col: str = "source",
    kmv_col: str = "kmv",
    min_shared: int = 1,
    max_groups_per_hash: int | None = None,
) -> DataFrame:
    """MILLION-GROUP variant of kmv_pairwise_jaccard: same estimator,
    but candidate pairs come from an INVERTED INDEX on sketch
    elements instead of enumerating all G^2 pairs — the banding path
    the all-pairs docstring prescribes for per-domain / per-shard
    group keys.

    EXACT semantics, not approximate-on-top-of-approximate: the
    output equals kmv_pairwise_jaccard filtered to
    ``n_shared_sketch >= min_shared`` (min_shared >= 1). Proof shape:
    every element of X = bottom-k(A u B) lies in sketch(A) u
    sketch(B), so a pair with estimator overlap >= 1 shares at least
    one sketch VALUE and the inverted index emits it as a candidate;
    pairs sharing no sketch value have estimator 0 and are exactly
    the rows min_shared >= 1 drops. (A candidate CAN still estimate
    0 — a shared hash above the union's k-th smallest — hence the
    estimator re-check, not trust-the-band.)

    Scale shape (G groups, k sketch size):
      1. explode sketches -> (hash, group): G*k rows, one narrow
         exchange on hash.
      2. self equi-join on hash with g_a < g_b, distinct pair:
         candidate count = sum_h C(m_h, 2) where m_h = #groups whose
         sketch contains hash h — the standard LSH candidate-cost
         bound; sparse cross-group overlap keeps it near-linear in G
         (vs G^2/2 always, for the all-pairs path).
      3. attach both sketches by two equi-joins on group (G-row
         relation — broadcast when small, shuffle join when not) and
         compute the estimator with built-in array ops
         (array_intersect / array_distinct / sort_array — no lambda
         HOF, no Python) entirely JVM-side.

    ``max_groups_per_hash`` (opt-in) drops hash values hotter than
    the cap BEFORE pairing through dedup._drop_hot_keys (an anti-join
    with no broadcast hint: the hot list is bounded only by
    G*k/(cap+1)) — the classic stop-shingle guard against a
    boilerplate hash shared by tens of thousands of groups turning
    step 2 quadratic. It trades RECALL: a pair whose only shared
    sketch values are hot loses its candidacy. Leave None unless the
    group count makes the candidate bound bite; pick the cap from the
    per-hash frequency histogram (one cheap agg over the exploded
    relation).
    """
    if int(min_shared) < 1:
        raise ValueError(
            "min_shared must be >= 1: pairs sharing no sketch value are "
            "unreachable by banding (use kmv_pairwise_jaccard for the "
            "all-pairs-including-zero report)"
        )
    kk = int(k)
    narrow = sketches.select(
        F.col(group_col).cast("string").alias("__g__"),
        F.col(kmv_col).alias("__kmv__"),
    )
    # the inverted-index explode and both sides of the candidate
    # self-join's sketch attach read `narrow` (the attach joins then
    # plan as sort-merge; AQE demotes them to broadcast when G is small)
    narrow = boundary(narrow)
    elems = narrow.select(
        F.col("__g__"), F.explode("__kmv__").alias("__h__")
    )
    elems = _drop_hot_keys(elems, "__h__", max_groups_per_hash)
    cand = (
        _key_pairs(elems, ("__h__",), "__g__")
        .select(F.col("id_a").alias("src_a"), F.col("id_b").alias("src_b"))
        .distinct()
    )
    ska = narrow.select(
        F.col("__g__").alias("src_a"), F.col("__kmv__").alias("__kmv_a__")
    )
    skb = narrow.select(
        F.col("__g__").alias("src_b"), F.col("__kmv__").alias("__kmv_b__")
    )
    paired = cand.join(ska, "src_a").join(skb, "src_b")
    x = F.slice(
        F.sort_array(F.array_distinct(F.concat("__kmv_a__", "__kmv_b__"))),
        1,
        kk,
    )
    shared = F.size(
        F.array_intersect(x, F.array_intersect("__kmv_a__", "__kmv_b__"))
    )
    out = paired.select(
        "src_a",
        "src_b",
        F.size(x).cast("int").alias("n_union_sketch"),
        shared.cast("int").alias("n_shared_sketch"),
        (shared.cast("double") / F.size(x)).alias("jaccard_est"),
    )
    return out.filter(F.col("n_shared_sketch") >= int(min_shared))


# -------------------------------------- deterministic uniform sample

def hash_sample(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Deterministic UNIFORM k-row sample per group: the rows whose
    portable key hash is among the k smallest — the bottom-k order
    statistics of a uniform hash ARE a uniform sample of the keys,
    which is the same principle the KMV sketch counts with, kept as
    ROWS (all columns survive) instead of a hash array.

    The properties that matter at 100 TB:
      - DETERMINISTIC: same keys -> same sample, on any engine, under
        task retry, across days — a SQL oracle replays it exactly
        (no rand(), no reservoir state).
      - MERGEABLE: bottom-k of a union == bottom-k of the per-shard
        bottom-k's, so per-partition / per-day samples fold without
        revisiting raw data — re-apply hash_sample to concatenated
        samples.
      - DISTRIBUTED: rank-by-hash is a per-group window that
        Catalyst's InferWindowGroupLimit rewrites to a group-limit
        (ungrouped: TakeOrderedAndProject) — no task holds more than
        its partition's top-k.

    Sampling is ROW-level under duplicate keys: n rows sharing a
    key_col value hash identically, so they occupy n ADJACENT rank
    slots (intra-tie order is whatever row_number assigns — stable
    within a run, not across engines), not one. Pass a unique id as
    key_col when rows may share keys and you want one-slot-per-key
    semantics, or dropDuplicates(key_col) first. 31-bit hash
    collisions (~n^2/2^32) only perturb tie order, never
    determinism."""
    from pyspark.sql import Window

    gb = list(group_by)
    h = portable_string_hash(F.col(key_col).cast("string"))
    w = Window.partitionBy(*gb).orderBy(
        h.asc(), F.col(key_col).cast("string").asc()
    )
    return (
        df.withColumn("__rk__", F.row_number().over(w))
        .filter(F.col("__rk__") <= int(k))
        .drop("__rk__")
    )


def sample_quantiles(
    df: DataFrame,
    value_col: str,
    probs: Sequence[float],
    group_by: Sequence[str] = (),
    k: int | None = None,
) -> DataFrame:
    """Quantiles of a (bounded) sample relation — the second half of
    the sketch-quantile pattern: hash_sample(k) -> sample_quantiles.
    Error vs the population quantile is the usual O(1/sqrt(k)) of a
    uniform sample; k=256 gives ~6% rank error, k=4096 ~1.5%.

    Computed with EXPLICIT nearest-rank-below arithmetic
    (sorted[floor(p*(n-1))+1], 1-indexed) rather than an engine
    quantile function, so any SQL engine replays it bit-for-bit —
    engine quantile implementations disagree on interpolation, this
    arithmetic cannot. collect_list is bounded by the sample size
    (pass k to enforce that contract: a group larger than k fails the
    query rather than silently holding unbounded agg state — the
    guard rides the sample_n output column, so it cannot be pruned).

    NULL semantics (round-7 review fix): NULL values are EXCLUDED
    explicitly before the fold — quantiles are over the group's
    non-NULL sampled values and sample_n counts only those, on both
    engines (collect_list's silent NULL-drop used to diverge from an
    oracle's NULL-keeping list()). A group with no non-NULL values
    still emits its row, with sample_n=0 and NULL quantiles (the old
    arithmetic raised INVALID_INDEX_OF_ZERO there)."""
    gb = list(group_by)
    nn = F.col(value_col).isNotNull()
    arr = F.sort_array(
        F.collect_list(F.when(nn, F.col(value_col)))
    )
    agg = df.groupBy(*gb).agg(arr.alias("__vals__"))
    n = F.size(F.col("__vals__"))
    n_out = n
    if k is not None:
        n_out = F.when(
            n > int(k),
            F.raise_error(
                F.concat(
                    F.lit(
                        "sample_quantiles: group exceeds declared "
                        f"sample bound k={int(k)}: n="
                    ),
                    n.cast("string"),
                )
            ).cast("int"),
        ).otherwise(n)
    cols = [
        F.when(
            n > 0,
            F.element_at(
                "__vals__",
                (F.floor(F.lit(float(p)) * (n - 1)) + 1).cast("int"),
            ),
        ).alias(f"p{int(round(p * 100)):02d}")
        for p in probs
    ]
    return agg.select(*gb, n_out.cast("int").alias("sample_n"), *cols)


# ---------------------------------------------------- Count-Min sketch

def cms_build(
    df: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 131,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) as a RELATION:
    DF(j, bucket, cnt) with depth x width cells — frequency estimates
    for any key with additive error <= e*N/width at confidence
    1-(1/2)^depth, in depth*width cells of state regardless of corpus
    size (the third leg of the sketch family: KMV counts distincts,
    Bloom answers membership, CMS answers frequency).

    Same portability contract as the rest of the family: buckets come
    from Carter-Wegman hashes of the portable 31-bit key hash, so the
    sketch is DETERMINISTIC and a SQL oracle replays every cell.
    MERGEABLE cell-wise: union corpora = sum cnt per (j, bucket) —
    see cms_merge. Build cost: one map-side explode (depth rows/key)
    into a (j, bucket) agg bounded by depth*width.

    weight_col: optional per-row increment (e.g. token counts already
    aggregated) instead of +1."""
    h = portable_string_hash(F.col(col).cast("string"))
    params = minhash_params(depth, seed=seed)
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (
                        (F.lit(a) * h + F.lit(b))
                        % F.lit(HASH_PRIME)
                        % F.lit(int(width))
                    ).alias("bucket"),
                )
                for j, (a, b) in enumerate(params)
            ]
        )
    ).alias("cell")
    return (
        df.select(pairs, w.alias("__w__"))
        .select(F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"), "__w__")
        .groupBy("j", "bucket")
        .agg(F.sum("__w__").alias("cnt"))
    )


def cms_merge(sketches: DataFrame) -> DataFrame:
    """Merge CMS relations built with the SAME (width, depth, seed):
    cell-wise sum. Per-day/per-shard sketches fold without touching
    raw data."""
    return sketches.groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    probes: DataFrame,
    cms: DataFrame,
    col: str,
    width: int = 1024,
    depth: int = 4,
    seed: int = 131,
) -> DataFrame:
    """Point-frequency estimates for the probe keys: est = min over
    the depth rows of the probed cells (never an undercount;
    overcounts by colliding keys' mass). The sketch (<= depth*width
    rows) broadcasts; per probe the plan is depth broadcast lookups +
    a min — probing a million keys against a 100 TB corpus's sketch
    is a map-side job."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    h = portable_string_hash(F.col(col).cast("string"))
    params = minhash_params(depth, seed=seed)
    cell = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    (
                        (F.lit(a) * h + F.lit(b))
                        % F.lit(HASH_PRIME)
                        % F.lit(int(width))
                    ).alias("bucket"),
                )
                for j, (a, b) in enumerate(params)
            ]
        )
    ).alias("cell")
    probed = probes.select(F.col(col), cell).select(
        col, F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket")
    )
    joined = probed.join(F.broadcast(cms), ["j", "bucket"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce("cnt", F.lit(0))).cast("long").alias("est_count")
    )
