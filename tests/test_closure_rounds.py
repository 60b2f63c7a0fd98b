"""``near_dup_groups`` round by round.

The closure is synchronous hash-min label propagation: after ``k``
rounds each doc holds the minimum id within ``k`` hops (its closed
``k``-neighborhood), and ``max_iter`` truncates at that round. These
tests compare it with a pure-Python run of the same rounds on small
graphs of every shape the pair relation takes, and pin how many
checkpoints a graph of stars costs.
"""

from __future__ import annotations

import random

import pytest

from mxene_coin_cell_data_pipeline_spark.functions import dedup


def _hash_min(pairs: list[tuple], rounds: int) -> dict:
    """``rounds`` synchronous hash-min rounds over ``pairs``. A NULL
    (``None``) endpoint is a doc of its own with a NULL group and no
    links, so its partner keeps only its other links."""
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set())
        nbrs.setdefault(b, set())
        if a is not None and b is not None:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in nbrs}
    for _ in range(max(rounds, 0)):
        label = {
            v: None if v is None else min([label[v]] + [label[u] for u in nbrs[v]])
            for v in nbrs
        }
    return label


def _graph(seed: int) -> list[tuple]:
    """A path of 7, a star of 5, a 4-clique, an isolated pair and one
    pair with a NULL endpoint, on shuffled ids so that no shape is
    labeled in id order."""
    rng = random.Random(seed)
    ids = rng.sample(range(1, 1000), 19)
    path, star, clique, iso = ids[:7], ids[7:12], ids[12:16], ids[16:18]
    pairs = [(path[i], path[i + 1]) for i in range(6)]
    pairs += [(star[0], leaf) for leaf in star[1:]]
    pairs += [(x, y) for i, x in enumerate(clique) for y in clique[i + 1:]]
    pairs += [tuple(iso), (ids[18], None)]
    # either orientation of a pair is the same link
    return [p if rng.random() < 0.5 else (p[1], p[0]) for p in pairs]


@pytest.mark.parametrize("seed", [1, 2])
def test_near_dup_groups_matches_python_rounds(spark, seed):
    pairs = _graph(seed)
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for max_iter in (0, 1, 2, 3, 25):
        got = {
            r["doc_id"]: r["group_id"]
            for r in dedup.near_dup_groups(df, max_iter=max_iter).collect()
        }
        assert got == _hash_min(pairs, max_iter), max_iter


def test_two_stars_cost_two_checkpoints(spark, monkeypatch):
    """Round 1 labels every star around its smallest doc, so the
    closure checkpoints its edges and one confirming round."""
    calls = []
    real = dedup.durable_checkpoint

    def counting(df, *args, **kwargs):
        calls.append(kwargs.get("eager", True))
        return real(df, *args, **kwargs)

    monkeypatch.setattr(dedup, "durable_checkpoint", counting)
    pairs = [(1, x) for x in (2, 3, 4, 5)] + [(10, x) for x in (11, 12, 13)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["group_id"] for r in dedup.near_dup_groups(df).collect()}
    assert got == {x: 1 for x in (1, 2, 3, 4, 5)} | {x: 10 for x in (10, 11, 12, 13)}
    assert len(calls) == 2, calls
