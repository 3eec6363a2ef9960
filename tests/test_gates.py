"""The four driver-local/distributed gates (ops/observe.py): CC, PageRank,
PQ training and BPE training.

Each gate materializes its input once, reads the size from that job,
and collects only after the size has chosen the local path; a limit of
0 forces the distributed path. For each gate: the local path equals the
forced distributed path, the local path's Spark jobs are pinned, and
(PQ, BPE) a limit below the input size brings no input row to the
driver.
"""

from __future__ import annotations

import pytest

from dbt_omnata_push_spark.llmops.bpe import bpe_train
from dbt_omnata_push_spark.llmops.dedup import (
    connected_components,
    pair_graph_pagerank,
)
from dbt_omnata_push_spark.llmops.pq import pq_train

from .conftest import job_budget


@pytest.fixture
def collected_fields(spark, monkeypatch):
    """Field names of every row any DataFrame.collect returns."""
    seen: list[set[str]] = []
    cls = type(spark.range(0))
    real = cls.collect

    def spy(self):
        rows = real(self)
        seen.extend(set(r.asDict()) for r in rows)
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    return seen


def _chain(spark, n_edges: int):
    """A path graph with ids in chain order: min-label propagation needs
    one round per hop."""
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n_edges)], "doc_a long, doc_b long"
    )


def _vectors(spark, n: int = 60):
    return spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(16)])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )


def _vocab(spark):
    return spark.createDataFrame(
        [("ab", 10), ("abc", 5), ("bcd", 2), ("cdab", 3)],
        "word string, freq long",
    )


def _pairs(df, a, b):
    return {(r[a], r[b]) for r in df.collect()}


def test_cc_distributed_deep_chain_equals_local(spark):
    """A 30-hop chain takes ~30 distributed rounds; the loop runs to its
    fixpoint instead of stopping at a cap."""
    edges = _chain(spark, 30)
    local = _pairs(connected_components(edges), "node", "component")
    dist = _pairs(
        connected_components(edges, local_edge_limit=0), "node", "component"
    )
    assert local == dist == {(i, 0) for i in range(31)}


def test_cc_distributed_raises_at_max_iter(spark):
    with pytest.raises(RuntimeError, match="still changing after 3 rounds"):
        connected_components(_chain(spark, 8), max_iter=3, local_edge_limit=0)


def test_cc_local_path_jobs(spark):
    edges = _chain(spark, 30)
    with job_budget(spark, 2):
        connected_components(edges).collect()


def test_pagerank_local_path_jobs(spark):
    edges = _chain(spark, 30)
    with job_budget(spark, 2):
        pair_graph_pagerank(edges, iters=3).collect()


def test_pq_local_equals_limit_below_input(spark, collected_fields):
    import numpy as np

    df = _vectors(spark)
    local = np.asarray(pq_train(df, m=4, k=8, max_iter=3))
    assert any("vec_id" in f for f in collected_fields)
    collected_fields.clear()
    dist = np.asarray(
        pq_train(df, m=4, k=8, max_iter=3, local_vector_limit=10)
    )
    # the distributed path collects the k init vectors and per-batch
    # partials, never the (id, vector) input rows
    assert not any("vec_id" in f for f in collected_fields)
    assert local.shape == dist.shape
    assert np.max(np.abs(local - dist)) < 1e-9


def test_pq_local_path_jobs(spark):
    df = _vectors(spark)
    with job_budget(spark, 2):
        pq_train(df, m=4, k=8, max_iter=3)


def test_bpe_local_equals_limit_below_input(spark, collected_fields):
    words = _vocab(spark)
    local = bpe_train(words, n_merges=4)
    assert any("word" in f for f in collected_fields)
    collected_fields.clear()
    dist = bpe_train(words, n_merges=4, local_vocab_limit=2)
    # the distributed rounds collect one (pair, count) row each, never
    # the (word, freq) input rows
    assert not any("word" in f for f in collected_fields)
    assert local == dist and len(local) == 4
    assert dist == bpe_train(words, n_merges=4, local_vocab_limit=0)


def test_bpe_local_path_jobs(spark):
    words = _vocab(spark)
    with job_budget(spark, 2):
        bpe_train(words, n_merges=4)
