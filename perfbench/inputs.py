"""Seeded benchmark inputs, written under a run-scoped root.

Every input is a pure function of the seed, so the same seed gives the
same files. The run root is created fresh for each run and removed at
exit, so no fixture of an earlier run can be read and repeated runs do
not accumulate disk.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np

# The documents table of the sf test data (TESTDATA.md): words drawn uniformly from this
# 30-word vocabulary, 10-99 words per document, 5% near duplicates
# (a copy of another document plus " dup"), five languages and twenty
# sources keyed by doc_id.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_FRAC = 0.05


class RunRoot:
    """A directory that exists only for one run.

    ``create`` refuses a path that already exists, so nothing left by
    another run is ever read; ``remove`` deletes it and the parent
    directories that are left empty."""

    def __init__(self, parent: Path):
        self.parent = parent
        self.path = parent / f"{os.getpid()}-{time.time_ns()}"

    def create(self) -> Path:
        self.parent.mkdir(parents=True, exist_ok=True)
        self.path.mkdir()  # raises FileExistsError on a stale root
        for sub in ("tmp", "spark", "warehouse"):
            (self.path / sub).mkdir()
        return self.path

    def stale_files(self, since: float) -> list[str]:
        """Files under the root last written before ``since``."""
        out = []
        for dirpath, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    if os.stat(p).st_mtime < since:
                        out.append(p)
                except FileNotFoundError:
                    pass
        return out

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        for d in (self.parent, self.parent.parent):
            try:
                d.rmdir()
            except OSError:
                break


def documents(seed: int, n_docs: int) -> dict[str, list]:
    """The documents table as columns (doc_id, text, lang, source,
    n_chars)."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 100, size=n_docs)
    texts = [
        " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), size=k))
        for k in lengths
    ]
    for i in np.flatnonzero(rng.random(n_docs) < DUP_FRAC):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    langs = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": [LANGS[i] for i in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def write_documents(sf_dir: Path, seed: int, n_docs: int) -> None:
    """One parquet file, one row group: the layout of the sf test
    data directories."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = documents(seed, n_docs)
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    sf_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, sf_dir / "documents.parquet")


def write_amplicon(spark, path: Path, seed: int, n_reads: int, seq_len: int,
                   ss_pos: tuple[int, ...]) -> str:
    """The paper's error-prone amplicon library (wildtype, site
    saturation at ``ss_pos``, 1% error-prone mutations, r1 quality
    curve), written once as parquet. Returns the wildtype."""
    from seqtables_spark.sources.generate import create_scratch_data

    df, wt = create_scratch_data(
        spark, n_reads, seq_len=seq_len, ss_pos=list(ss_pos),
        error_prone_rate=0.01, seed=seed,
    )
    df.write.parquet(str(path))
    return wt
