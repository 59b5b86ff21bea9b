from __future__ import annotations

import pandas as pd
import pytest

from dts.corpus import make_corpus, make_queries
from dts.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dts-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pd() -> pd.DataFrame:
    """Tiny deterministic corpus (FIXTURES.md §1, seed=42) with doc_id
    assigned the oracle way: row_number over (repo, path, commit)."""
    c = make_corpus(n_docs=200, seed=42)
    c = c.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    c["doc_id"] = c.index.astype("int64")
    return c


@pytest.fixture(scope="session")
def queries_pd() -> pd.DataFrame:
    return make_queries(n_queries=30, seed=42)


@pytest.fixture(scope="session")
def docs_sdf(spark, corpus_pd):
    return spark.createDataFrame(corpus_pd).cache()


@pytest.fixture
def force_distribute(monkeypatch):
    """``force_distribute(mode)`` pins the single-index scoring
    distribution ("query" or "bucket") for the rest of the test. The
    engine picks it in ``dts.score_index.auto_distribute``, which the
    scoring tail looks up at call time, so the patch reaches every entry
    point."""
    import dts.score_index as si

    def _force(mode: str) -> None:
        monkeypatch.setattr(si, "auto_distribute", lambda *_: mode)

    return _force


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn(), number of Spark jobs fn launched): the
    call runs under its own job group, whose jobs the status tracker
    lists. The previous group (if any) is restored afterwards."""
    import uuid

    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")

    def _count(fn):
        saved = [sc.getLocalProperty(k) for k in keys]
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for k, v in zip(keys, saved):
                sc.setLocalProperty(k, v)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return _count
