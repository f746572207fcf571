"""Whole-suite physical-plan audit -> PLANAUDIT.json.

Builds every registered query's DataFrame (default sf0.01 — plan
SHAPE is what's audited and it is data-independent before AQE runtime
re-planning) and counts, from the initial physical plan string, the
operators that decide whether the plan survives a 100x scale-up:

  exchanges        Exchange hashpartitioning / rangepartitioning /
                   SinglePartition (shuffles; the dominant scale cost)
  single_part_exch Exchange SinglePartition specifically (global
                   funnels — only acceptable on bounded post-agg
                   relations). Reviewed 2026-08-16 over the full
                   sf0.01 artifact: all 24 sites across 20 queries
                   are final global aggregates (the exchange moves
                   partial-agg rows, one per upstream partition),
                   bounded post-agg relations (decile offsets: P
                   rows; per-source mixes: |sources| rows; ts_tv:
                   2 rows), or the 1-row scalar-threshold side of a
                   broadcast — never a data-scaled stream.
  single_part_window
                   Window operators with no PARTITION BY (Spark logs
                   "No Partition Defined for Window operation" for
                   each): the whole input funnels through one task,
                   so each site needs a bounded input. Proven bounds
                   are listed in SINGLE_PART_WINDOW_BOUNDED.
  broadcasts       BroadcastExchange (small-dim joins — good, as long
                   as the broadcast side is genuinely bounded)
  bhj / smj / shj  join strategies chosen
  bnlj             BroadcastNestedLoopJoin (theta joins — must be
                   bounded-side by construction)
  cartesian        CartesianProduct (all-pairs — never acceptable)
  py_row_udf       BatchEvalPython (row-at-a-time Python UDF — the
                   slow path; the suite bans it)
  arrow_eval       ArrowEvalPython / MapInPandas / FlatMapGroupsIn-
                   Pandas / MapInArrow (vectorized Python — allowed)
  wsc_spans        WholeStageCodegen span count — INFORMATIONAL and
                   an UNDERCOUNT: under AQE the initial plan only
                   annotates `*(n)` stars on already-prepared
                   subtrees (non-adaptive subplans, broadcast
                   fixture sides); most codegen happens inside query
                   stages prepared at runtime and is invisible here.
                   Zero does NOT mean interpreted execution.
  scans            parquet scans
  pushed_scans     parquet scans carrying a non-empty PushedFilters

Invariants the suite must hold (enforced by tests/test_plan_audit.py
on a representative subset, and checkable over the full artifact):
  * zero CartesianProduct anywhere
  * zero BatchEvalPython (row-at-a-time Python UDF) anywhere
  * every BroadcastNestedLoopJoin appears only in queries listed in
    BNLJ_ALLOWED (each adjudicated bounded-side in its docstring)

Fixture-writing queries (the *_roundtrip family) run their driver-side
fixture setup during plan build; at sf0.01 that costs seconds. The
audit runs each query's builder but never executes the plan. Before
each query it empties the entry module's fixture memo and the
session's cache, so a row never depends on the order queries ran in.

Usage: python tools/plan_audit.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# BroadcastNestedLoopJoin sites that are bounded-side by construction
# (the non-streamed side is a broadcast scalar / bounded grid, never a
# data-scaled relation) — plus the two EXACT quadratic kernels whose
# all-pairs semantics are the operator's spec (their DuckDB oracles
# grow identically; adjudicated in SCALING.md). The audit pins the SET
# so a new unbounded theta-join cannot slip in unnoticed. Verified
# against the sf0.01 plans 2026-08-16; each site cited:
BNLJ_ALLOWED = {
    "customers_without_orders",  # broadcast 1-row avg-balance threshold
    "customer_deciles",          # broadcast P-row partition offsets (ranks.py)
    "customer_setops",           # crossJoin of three 1-row aggregates
    "dsir_weights",              # crossJoin(broadcast 1-row normalizer)
    "curate_full",               # broadcast 1-row quantile threshold in the funnel
    "tfidf_terms",               # crossJoin(broadcast 1-row n_docs) (text.py:146)
    "view_with_ins",             # crossJoin(broadcast slot grid) (insertions.py:204)
    "consensus_ins",             # crossJoin(broadcast 1-row n_reads) (insertions.py:264)
    "pairwise_hamming",          # EXACT all-vs-all kernel by spec (J4)
    "embedding_near_dups",       # EXACT cosine all-pairs kernel by spec
}


# Single-partition Window sites whose input is bounded by construction,
# so the "No Partition Defined for Window" WARN each one logs is
# expected. The census counts every site; those not listed here are
# not yet classified (ROADMAP item 5). Each site cited:
SINGLE_PART_WINDOW_BOUNDED = {
    "quality_dist_fastqc",  # preset min/max position over the (position, qual)
                            # histogram: <= P x |phred| rows (quality.py _preset_bins)
}


def _first_arg(text: str, start: int) -> str:
    """The top-level argument of a call that starts at ``start``."""
    depth = 0
    for i in range(start, len(text)):
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")" and depth:
            depth -= 1
        elif ch in ",)" and not depth:
            return text[start:i].strip()
    return text[start:].strip()


def single_part_windows(plan: str) -> int:
    """Window nodes whose spec has no PARTITION BY: the spec's first
    argument is its frame, or a sort order when it is ordered."""
    spec = "windowspecdefinition("
    n = 0
    for line in plan.splitlines():
        at = line.find(spec)
        if at < 0 or not re.match(r"[\s:|+\-*()\d]*Window \[", line):
            continue
        first = _first_arg(line, at + len(spec))
        if first.startswith("specifiedwindowframe(") or re.search(
            r" (?:ASC|DESC) NULLS (?:FIRST|LAST)$", first
        ):
            n += 1
    return n


def audit_plan(plan: str) -> dict:
    def n(pat: str) -> int:
        return len(re.findall(pat, plan))

    scans = n(r"FileScan parquet|Scan parquet")
    pushed = len(
        re.findall(r"PushedFilters: \[(?!\])", plan)
    )
    return {
        "exchanges": n(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)"),
        "single_part_exch": n(r"Exchange SinglePartition"),
        "single_part_window": single_part_windows(plan),
        "broadcasts": n(r"BroadcastExchange"),
        "bhj": n(r"BroadcastHashJoin"),
        "smj": n(r"SortMergeJoin"),
        "shj": n(r"ShuffledHashJoin"),
        "bnlj": n(r"BroadcastNestedLoopJoin"),
        "cartesian": n(r"CartesianProduct"),
        "py_row_udf": n(r"BatchEvalPython"),
        "arrow_eval": n(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow|FlatMapGroupsInPandasWithState"),
        # executedPlan().toString() marks codegen stages as "*(id) Op";
        # count DISTINCT stage ids = compiled spans
        "wsc_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": scans,
        "pushed_scans": pushed,
    }


def build_audit(spark, sf_dir: str, names=None) -> dict:
    """Audit each query's initial physical plan, in `names` order (all
    queries by default). Every query builds its shared fixtures itself
    from an empty memo, so its row does not depend on which query ran
    first; no fixture persists, so emptying the memo is enough."""
    import __spark_entry__ as entry

    qs = entry.queries(cached=False)
    out = {}
    for name in names or qs:
        entry._memo.clear()
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # audit must report, not die
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
            continue
        out[name] = audit_plan(plan)
    return out


def violations(audit: dict) -> list[str]:
    bad = []
    for name, row in sorted(audit.items()):
        if "error" in row:
            bad.append(f"{name}: plan build failed: {row['error']}")
            continue
        if row["cartesian"]:
            bad.append(f"{name}: CartesianProduct in plan")
        if row["py_row_udf"]:
            bad.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
        if row["bnlj"] and name not in BNLJ_ALLOWED:
            bad.append(
                f"{name}: BroadcastNestedLoopJoin not in BNLJ_ALLOWED "
                "(adjudicate bounded-side or fix the join)"
            )
    return bad


# the canonical metric list — totals derive from HERE, never from the
# first audit row (round-11 ADVICE fix: an error first-row collapsed
# totals to {'error': 0}, and an empty audit raised StopIteration)
METRICS = tuple(audit_plan("").keys())

# join-strategy fingerprint: the fields whose cross-sf INVARIANCE is
# the "no size-gated flips between here and 100 TB" claim
STRATEGY_FIELDS = ("bhj", "smj", "shj", "bnlj", "cartesian", "broadcasts")


def strategy_deltas(audits_by_sf: dict) -> list[str]:
    """Compare every query's join-strategy fingerprint across the
    audited sf dirs; returns human-readable delta strings ([] = the
    invariance holds across all audited decades)."""
    labels = list(audits_by_sf)
    if len(labels) < 2:
        return []
    base_label = labels[0]
    base = audits_by_sf[base_label]
    deltas = []
    for label in labels[1:]:
        other = audits_by_sf[label]
        for name in sorted(set(base) & set(other)):
            a, b = base[name], other[name]
            if "error" in a or "error" in b:
                continue
            fa = tuple(a.get(f, 0) for f in STRATEGY_FIELDS)
            fb = tuple(b.get(f, 0) for f in STRATEGY_FIELDS)
            if fa != fb:
                deltas.append(
                    f"{name}: {base_label}={dict(zip(STRATEGY_FIELDS, fa))}"
                    f" vs {label}={dict(zip(STRATEGY_FIELDS, fb))}"
                )
    return deltas


def sources_sha256(repo_root: str) -> str:
    """sha256 over the sorted relative paths and bytes of
    __spark_entry__.py and seqtables_spark/**/*.py - the sources whose
    plans the artifact records. selfcheck.py recomputes it to tell a
    stale PLANAUDIT.json from a current one; git keeps no mtimes."""
    import hashlib

    rels = ["__spark_entry__.py"]
    for dirpath, _dirs, files in os.walk(os.path.join(repo_root, "seqtables_spark")):
        rels.extend(
            os.path.relpath(os.path.join(dirpath, f), repo_root).replace(os.sep, "/")
            for f in files if f.endswith(".py")
        )
    h = hashlib.sha256()
    for rel in sorted(rels):
        with open(os.path.join(repo_root, rel), "rb") as fh:
            data = fh.read()
        h.update(f"{rel}\0{len(data)}\0".encode())
        h.update(data)
    return h.hexdigest()


def main() -> int:
    # sf_dir may be a comma-separated list (round 11, verdict #5):
    # the FIRST is the primary audit (back-compat artifact shape),
    # the rest are compared for join-strategy invariance — running
    # with sf0.01,sf1 turns "no size-gated flips up to sf0.1" into
    # "none across four decades" (AQE sees the real 10x sizes at
    # plan build because fixture-writing queries materialize eagerly)
    sf_spec = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    sf_dirs = [s for s in sf_spec.split(",") if s]
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo_root, "PLANAUDIT.json"
    )
    from seqtables_spark import get_spark

    digest = sources_sha256(repo_root)  # the sources this run audits
    spark = get_spark(app_name="plan_audit", cores=8, shuffle_partitions=8)
    audits_by_sf = {d: build_audit(spark, d) for d in sf_dirs}
    audit = audits_by_sf[sf_dirs[0]]
    bad = violations(audit)
    for d in sf_dirs[1:]:
        bad.extend(
            f"[{d}] {v}" for v in violations(audits_by_sf[d])
        )
    deltas = strategy_deltas(audits_by_sf)
    totals = {
        k: sum(r.get(k, 0) for r in audit.values() if "error" not in r)
        for k in METRICS
    }
    artifact = {
        "sf_dir": sf_dirs[0],
        "sf_dirs": sf_dirs,
        "n_queries": len(audit),
        "totals": totals,
        "violations": bad,
        "strategy_fields": list(STRATEGY_FIELDS),
        "strategy_deltas": deltas,
        "bnlj_allowed": sorted(BNLJ_ALLOWED),
        "single_part_window_bounded": sorted(SINGLE_PART_WINDOW_BOUNDED),
        "sources_sha256": digest,
        "queries": audit,
        "queries_by_sf": {
            d: {
                name: {
                    f: row.get(f, 0) for f in STRATEGY_FIELDS
                } if "error" not in row else row
                for name, row in audits_by_sf[d].items()
            }
            for d in sf_dirs[1:]
        },
    }
    with open(out_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({
        "n": len(audit), "violations": bad, "totals": totals,
        "strategy_deltas": deltas,
    }))
    print(f"artifact -> {out_path}")
    return 1 if bad or deltas else 0


if __name__ == "__main__":
    raise SystemExit(main())
