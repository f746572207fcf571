"""The benchmark's workloads: inputs, op lists and reference results.

``amplicon`` runs SeqTable facade calls over the paper's error-prone
amplicon library and checks each against a numpy evaluation of the
same matrix op. ``curate`` and ``io`` run entry queries of
``__spark_entry__`` over a seeded documents table and check each
against its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import time
from collections import Counter
from pathlib import Path

import numpy as np

from inputs import write_amplicon, write_documents

AMPLICON_READS = 10_000
AMPLICON_LEN = 150
AMPLICON_SS = (40, 41, 42)  # one site-saturated codon
N_DOCS = 500

CURATE_OPS = (
    "curate_full", "curate_funnel", "contamination", "fuzzy_contamination",
    "dedup_clusters_star", "dedup_survivors_pref", "minhash_signatures",
    "streaming_dedup", "bpe_tokens", "gopher_filter",
)
IO_OPS = (
    "fastq_roundtrip", "sam_roundtrip", "bam_roundtrip", "bam_region_bai",
    "bam_region_csi", "bam_region_sharded", "warc_roundtrip",
    "warc_gz_roundtrip", "jsonl_roundtrip", "orc_roundtrip",
    "bowtie_distributed",
)


def _load_normalize(repo: Path):
    spec = importlib.util.spec_from_file_location(
        "perfbench_selfcheck", repo / "tools" / "selfcheck.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


class Workload:
    """Base: ``prepare`` writes the inputs, ``ops`` lists (name,
    build function) pairs, ``verify`` checks an op's first result against the
    reference and ``digest`` fingerprints any later result."""

    name = ""

    def __init__(self, repo: Path):
        self.normalize = _load_normalize(repo)
        self.reference_s: dict[str, float] = {}

    def prepare(self, spark, root: Path, seed: int) -> None:
        raise NotImplementedError

    def ops(self) -> list:
        raise NotImplementedError

    def verify(self, name: str, columns: list[str], rows: list) -> str | None:
        """None when the rows match the reference, else a message."""
        raise NotImplementedError

    def digest(self, columns: list[str], rows: list) -> str:
        norm = self.normalize([tuple(r) for r in rows], list(columns))
        return hashlib.sha256(repr(norm).encode()).hexdigest()


class EntryWorkload(Workload):
    """Entry queries over a seeded documents table, checked against
    their DuckDB oracles."""

    def __init__(self, repo: Path, name: str, names: tuple[str, ...]):
        super().__init__(repo)
        self.name = name
        self.names = names

    def prepare(self, spark, root: Path, seed: int) -> None:
        import duckdb

        import __spark_entry__ as entry

        sf = root / "sf"
        write_documents(sf, seed, N_DOCS)
        self.spark = spark
        self.sf_dir = str(sf)
        self.queries = entry.queries(cached=False)
        self.oracles = entry.oracle_sql()
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet')")

    def ops(self) -> list:
        return [(n, lambda n=n: self.queries[n](self.spark, self.sf_dir)) for n in self.names]

    def verify(self, name, columns, rows):
        t0 = time.perf_counter()
        cur = self.con.execute(self.oracles[name])
        d_rows = cur.fetchall()
        self.reference_s[name] = time.perf_counter() - t0
        d_cols = [c[0] for c in cur.description]
        if sorted(columns) != sorted(d_cols):
            return f"columns {sorted(columns)} != oracle {sorted(d_cols)}"
        if len(rows) != len(d_rows):
            return f"{len(rows)} rows != oracle {len(d_rows)}"
        ns = self.normalize([tuple(r) for r in rows], list(columns))
        nd = self.normalize(d_rows, d_cols)
        if ns != nd:
            bad = sum(a != b for a, b in zip(ns, nd))
            return f"{bad} rows differ from the oracle"
        return None


class AmpliconWorkload(Workload):
    """SeqTable facade calls over a generated amplicon library, checked
    against numpy over the same reads (the reference's own method)."""

    name = "amplicon"

    def prepare(self, spark, root: Path, seed: int) -> None:
        self.spark = spark
        self.path = str(root / "amplicon.parquet")
        self.wt = write_amplicon(spark, Path(self.path), seed, AMPLICON_READS,
                                 AMPLICON_LEN, AMPLICON_SS)
        self._matrix = None
        from seqtables_spark.model import SeqTable

        self.table = SeqTable(spark.read.parquet(self.path))

    def ops(self) -> list:
        from seqtables_spark import operators

        wt = [self.wt]
        return [
            ("get_seq_dist", lambda: self.table.get_seq_dist()),
            ("get_consensus", lambda: self.table.get_consensus()),
            ("pos_entropy", lambda: self.table.pos_entropy()),
            ("hamming_distance", lambda: self.table.hamming_distance(wt)),
            ("mutation_profile", lambda: self.table.mutation_profile(wt)),
            ("mutation_TS_TV_profile", lambda: self.table.mutation_TS_TV_profile(wt)),
            ("get_quality_dist", lambda: self.table.get_quality_dist()),
            # p is a percentage in this API: keep reads with >= 90% of
            # bases at phred >= 20
            ("quality_filter", lambda: self.table.quality_filter(20, 90).reads.groupBy().count()),
            ("contiguous_kmers", lambda: operators.contiguous_kmers(self.table.reads, 5)),
        ]

    # -- numpy reference ------------------------------------------------
    def _reads(self):
        """(read_ids, base matrix, phred matrix) from the written
        parquet, read without Spark."""
        if self._matrix is None:
            import pyarrow.parquet as pq

            t = pq.read_table(self.path, columns=["read_id", "seq", "qual"])
            ids = np.asarray(t.column("read_id").to_pylist(), dtype=np.int64)
            seqs = t.column("seq").to_pylist()
            quals = t.column("qual").to_pylist()
            bases = np.frombuffer("".join(seqs).encode(), np.uint8).reshape(len(seqs), -1)
            phred = np.frombuffer("".join(quals).encode(), np.uint8).reshape(len(quals), -1)
            self._matrix = (ids, seqs, bases, phred.astype(np.int64) - 33)
        return self._matrix

    def _reference(self, name: str) -> tuple[tuple[str, ...], dict]:
        """(key columns, {key: values}) for one op."""
        ids, seqs, bases, phred = self._reads()
        n, width = bases.shape
        letters = [chr(c) for c in np.unique(bases)]
        counts = {b: (bases == ord(b)).sum(axis=0) for b in letters}
        wt = np.frombuffer(self.wt.encode(), np.uint8)
        if name == "get_seq_dist":
            return ("position", "base"), {
                (p + 1, b): (int(c[p]),) for b, c in counts.items() for p in range(width) if c[p]}
        if name == "get_consensus":
            out = {}
            for p in range(width):
                best = max(letters, key=lambda b: (counts[b][p], -ord(b)))
                out[(p + 1,)] = (best if counts[best][p] > n * 0.5 else "N",)
            return ("position",), out
        if name == "pos_entropy":
            out = {}
            for p in range(width):
                f = np.array([counts[b][p] for b in letters if counts[b][p]], float) / n
                out[(p + 1,)] = (float(-(f * np.log(f)).sum() / math.log(2)),)
            return ("position",), out
        mism = bases != wt[None, :]
        if name == "hamming_distance":
            return ("read_id", "ref_id"), {
                (int(i), "1"): (int(d),) for i, d in zip(ids, mism.sum(axis=1))}
        pairs = Counter(zip(np.broadcast_to(wt, bases.shape)[mism].tobytes().decode(),
                            bases[mism].tobytes().decode()))
        if name == "mutation_profile":
            return ("ref_base", "read_base"), {k: (v,) for k, v in pairs.items()}
        if name == "mutation_TS_TV_profile":
            ts_set = {("A", "G"), ("G", "A"), ("C", "T"), ("T", "C")}
            ts = sum(v for k, v in pairs.items() if k in ts_set)
            tv = sum(v for k, v in pairs.items() if k not in ts_set)
            return (), {(): (ts, tv, ts / tv)}
        if name == "get_quality_dist":
            return self._quality_reference(phred)
        if name == "quality_filter":
            valid = phred > 0
            pct = (phred >= 20).sum(axis=1) / valid.sum(axis=1) * 100
            return (), {(): (int((pct >= 90).sum()),)}
        if name == "contiguous_kmers":
            return ("kmer",), {(k,): (v,) for k, v in Counter(
                s[i:i + 5] for s in seqs for i in range(len(s) - 4)).items()}
        raise KeyError(name)

    @staticmethod
    def _quality_reference(phred):
        width = phred.shape[1]
        size = max(width // 10, 1)
        pcts = (0, 10, 25, 50, 75, 90, 100)
        out = {}
        for lo in range(1, width + 1, size):
            hi = min(lo + size - 1, width)
            v = phred[:, lo - 1:hi].ravel()
            v = v[v > 0]
            ps = [float(np.percentile(v, p)) for p in pcts]
            out[(f"{lo}-{hi}", lo, hi)] = (
                float(v.mean()), ps[3], int(v.min()), int(v.max()), *ps)
        return ("bin_name", "bin_lo", "bin_hi"), out

    _VALUES = {
        "get_seq_dist": ("cnt",), "get_consensus": ("consensus_base",),
        "pos_entropy": ("entropy",), "hamming_distance": ("dist",),
        "mutation_profile": ("cnt",),
        "mutation_TS_TV_profile": ("transitions", "transversions", "ts_tv_ratio"),
        "get_quality_dist": ("mean", "median", "min", "max",
                             "p0", "p10", "p25", "p50", "p75", "p90", "p100"),
        "quality_filter": ("count",), "contiguous_kmers": ("cnt",),
    }

    def verify(self, name, columns, rows):
        t0 = time.perf_counter()
        keys, ref = self._reference(name)
        self.reference_s[name] = time.perf_counter() - t0
        vals = self._VALUES[name]
        want = set(keys) | set(vals)
        if set(columns) != want:
            return f"columns {sorted(columns)} != {sorted(want)}"
        got = {tuple(r[k] for k in keys): tuple(r[v] for v in vals) for r in rows}
        if len(got) != len(rows) or got.keys() != ref.keys():
            return f"{len(rows)} rows, {len(got.keys() ^ ref.keys())} keys differ from numpy"
        for k, exp in ref.items():
            for a, b in zip(got[k], exp):
                ok = (math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
                      if isinstance(b, float) else a == b)
                if not ok:
                    return f"{k}: {got[k]} != numpy {exp}"
        return None


def make(name: str, repo: Path) -> Workload:
    if name == "amplicon":
        return AmpliconWorkload(repo)
    if name == "curate":
        return EntryWorkload(repo, "curate", CURATE_OPS)
    if name == "io":
        return EntryWorkload(repo, "io", IO_OPS)
    raise SystemExit(f"unknown workload {name!r}")
