"""Workload inputs: a fixed corpus plus seeded queries, merges and deletes.

The corpus is the same for every seed (``CORPUS_SEED``): the per-run work
of building and checking against it then differs between seeds only by
the queries and mutations, and the corpus (and the ``batch_fuzzy`` index)
can be prepared once per checkout. Everything a seed changes
-- query batches, merge batches, delete ids -- is a pure function of it.
The engine only receives the generated rows.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dts.corpus import make_corpus, make_queries

CORPUS_SEED = 42
SOURCE_COLS = ["repo", "path", "commit", "lang", "content"]
QUERY_SCHEMA = "query_id long, text string, fuzzy_k int"


def _sub_seed(seed: int, salt: int) -> int:
    """Independent stream per (seed, salt); stays inside numpy's 32 bits."""
    return (seed * 7919 + salt * 104729) % (2**31 - 2)


def with_doc_ids(pdf: pd.DataFrame) -> pd.DataFrame:
    """Source rows with the ``doc_id`` that ``dts.io.ingest`` assigns: the
    row's rank in (repo, path, commit) order. Computed without Spark so
    that preparing inputs leaves the engine's JVM untouched (the self-test
    checks the ids against ``ingest``)."""
    out = pdf.sort_values(["repo", "path", "commit"], kind="stable").reset_index(drop=True)
    out.insert(0, "doc_id", np.arange(len(out), dtype=np.int64))
    return out


def publish(tmp: Path, out: Path) -> Path:
    """Move a finished ``tmp`` directory to ``out`` in one rename."""
    (tmp / "_READY").touch()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def prepare_corpus(cache_dir: Path, n_docs: int) -> Path:
    """The corpus ``(doc_id, repo, path, commit, lang, content)`` as
    parquet: ``make_corpus(n_docs, CORPUS_SEED)`` with ingest's doc ids."""
    out = cache_dir / f"corpus-n{n_docs}"
    if (out / "_READY").is_file():
        return out
    tmp = cache_dir / f".corpus-n{n_docs}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    pdf = with_doc_ids(make_corpus(n_docs, CORPUS_SEED)[SOURCE_COLS])
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), tmp / "part-0.parquet"
    )
    return publish(tmp, out)


def read_docs(path: Path) -> dict[int, str]:
    """doc_id → content of an ingested corpus, read without Spark."""
    t = pq.read_table(path, columns=["doc_id", "content"])
    return dict(
        zip(t.column("doc_id").to_pylist(), t.column("content").to_pylist())
    )


def fuzzy_mix(seed: int, salt: int, n: int) -> pd.DataFrame:
    """``make_queries`` batch: 1/3 single-term, 1/3 multi-term, 1/3 fuzzy
    with k in {1, 2, 4}."""
    return make_queries(n, _sub_seed(seed, salt))[["query_id", "text", "fuzzy_k"]]


def exact_batch(seed: int, salt: int, n: int) -> pd.DataFrame:
    """``n`` exact-only queries (the non-fuzzy rows of ``make_queries``)."""
    q = make_queries(3 * n, _sub_seed(seed, salt))
    q = q[q["fuzzy_k"] == 0].head(n).reset_index(drop=True)
    q["query_id"] = np.arange(len(q), dtype=np.int64)
    return q[["query_id", "text", "fuzzy_k"]]


def merge_batch(seed: int, cycle: int, n: int) -> pd.DataFrame:
    """Fresh source rows for the ``cycle``-th merge. The repo prefix keeps
    their (repo, path, commit) keys apart from every other batch."""
    pdf = make_corpus(n, _sub_seed(seed, 1000 + cycle))
    pdf["repo"] = f"merge{cycle}/" + pdf["repo"]
    return pdf[SOURCE_COLS].reset_index(drop=True)


def merged_ids(batch: pd.DataFrame, base: int) -> np.ndarray:
    """doc_ids ``merge_index`` gives ``batch``: ``base`` plus the row's
    rank in (repo, path, commit) order (``dts.io.assign_doc_ids``)."""
    keys = list(zip(batch["repo"], batch["path"], batch["commit"]))
    order = sorted(range(len(keys)), key=keys.__getitem__)
    ids = np.empty(len(keys), dtype=np.int64)
    ids[order] = base + np.arange(len(keys), dtype=np.int64)
    return ids


def delete_ids(seed: int, cycle: int, live: list[int], frac: float) -> list[int]:
    """A seeded ``frac`` share (at least one) of the live doc ids."""
    rng = np.random.RandomState(_sub_seed(seed, 2000 + cycle))
    n = max(1, int(round(frac * len(live))))
    return sorted(int(d) for d in rng.choice(sorted(live), size=n, replace=False))


class ExpectationCache:
    """Oracle answers keyed by a string, persisted as one JSON file per
    (workload, seed, corpus size). They are pure functions of those keys
    and of the source fingerprint in the cache path, so runs of one seed
    share them; every returned row is still checked against them."""

    def __init__(self, path: Path):
        self.path = path
        self.data: dict = json.loads(path.read_text()) if path.is_file() else {}
        self.dirty = False

    def get(self, key: str, compute):
        if key not in self.data:
            self.data[key] = compute()
            self.dirty = True
        return self.data[key]

    def save(self) -> None:
        if self.dirty:
            tmp = self.path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(self.data))
            os.replace(tmp, self.path)
            self.dirty = False
