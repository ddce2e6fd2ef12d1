"""Connected-components stress test: a larger random graph checked
against a driver-side union-find oracle, on both CC paths (the one-task
local finish and the distributed star rounds) and the switch between
them, with string and bigint ids."""
import os
import random

import pytest

from bib_dedupe_spark.operators import cluster as cluster_mod
from bib_dedupe_spark.operators.cluster import connected_components


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {}
    for node in list(parent):
        comp.setdefault(find(node), set()).add(node)
    return {frozenset(v) for v in comp.values()}


def _random_graph(n_nodes=3000):
    rng = random.Random(99)
    edges = []
    # mixture: long chains (worst case for label propagation), random
    # edges, and a few hub stars
    for i in range(0, 900, 3):
        edges.append((i, i + 1))
        edges.append((i + 1, i + 2))
    for _ in range(2500):
        a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
        if a != b:
            edges.append((a, b))
    hub = 1
    for _ in range(300):
        edges.append((hub, rng.randrange(n_nodes)))
    return edges


def _typed(edges, id_type):
    if id_type == "bigint":
        return edges
    return [(f"n{a:05d}", f"n{b:05d}") for a, b in edges]


def _assert_components(rows, edges):
    got = {}
    for r in rows:
        got.setdefault(r["component"], set()).add(r["ID"])
    assert {frozenset(v) for v in got.values()} == _union_find_components(
        edges
    )
    # min-ID labeling invariant
    for comp, members in got.items():
        assert comp == min(members)


def _run(spark, monkeypatch, edges, id_type, bound, **kwargs):
    """Run CC with ``LOCAL_CC_MAX_EDGES = bound``; return the rows, the
    edge count seen at each check (before the first round, then after
    each round) and whether the local finish ran."""
    counts, finished_locally = [], []
    checkpoint_counted = cluster_mod._checkpoint_counted
    finish_locally = cluster_mod._finish_locally

    def spy_counted(df, path):
        out, n = checkpoint_counted(df, path)
        counts.append(n)
        return out, n

    def spy_finish(df, checkpoint_dir):
        finished_locally.append(True)
        return finish_locally(df, checkpoint_dir)

    monkeypatch.setattr(cluster_mod, "LOCAL_CC_MAX_EDGES", bound)
    monkeypatch.setattr(cluster_mod, "_checkpoint_counted", spy_counted)
    monkeypatch.setattr(cluster_mod, "_finish_locally", spy_finish)
    df = spark.createDataFrame(edges, f"src {id_type}, dst {id_type}")
    components = connected_components(df, **kwargs)
    assert components.schema["ID"].dataType == df.schema["src"].dataType
    rows = components.collect()
    monkeypatch.undo()
    return rows, counts, bool(finished_locally)


def test_cc_matches_union_find_on_random_graph(spark):
    edges = _typed(_random_graph(), "string")
    df = spark.createDataFrame(edges, ["src", "dst"])
    _assert_components(connected_components(df).collect(), edges)


@pytest.fixture(scope="module")
def star_counts(spark):
    """Edge count at each check of a star-only run (bound 0)."""
    mp = pytest.MonkeyPatch()
    _, counts, _ = _run(spark, mp, _random_graph(), "bigint", 0)
    # the switch case needs a round that shrinks the edge set
    assert len(counts) > 2 and counts[0] > counts[1] > counts[2]
    return counts


@pytest.mark.parametrize("id_type", ["string", "bigint"])
@pytest.mark.parametrize("path", ["local", "star", "switch"])
def test_cc_paths_match_union_find(
    spark, monkeypatch, star_counts, path, id_type
):
    edges = _typed(_random_graph(), id_type)
    bound = {
        "local": cluster_mod.LOCAL_CC_MAX_EDGES,
        "star": 0,
        # over the count after round 1, under the earlier ones: two star
        # rounds, then the local finish
        "switch": star_counts[2],
    }[path]
    rows, counts, finished_locally = _run(
        spark, monkeypatch, edges, id_type, bound
    )
    _assert_components(rows, edges)
    rounds = len(counts) - 1
    if path == "local":
        assert finished_locally and rounds == 0
    elif path == "star":
        assert not finished_locally and rounds == len(star_counts) - 1
    else:
        assert finished_locally and rounds == 2


@pytest.mark.parametrize("id_type", ["string", "bigint"])
@pytest.mark.parametrize("bound", [cluster_mod.LOCAL_CC_MAX_EDGES, 0])
def test_cc_empty_edge_set(spark, monkeypatch, bound, id_type):
    rows, counts, _ = _run(spark, monkeypatch, [], id_type, bound)
    assert rows == [] and counts == [0]


@pytest.mark.parametrize("path", ["local", "switch"])
def test_cc_checkpoint_dir(spark, monkeypatch, star_counts, tmp_path, path):
    edges = _typed(_random_graph(), "string")
    bound = {
        "local": cluster_mod.LOCAL_CC_MAX_EDGES,
        "switch": star_counts[2],
    }[path]
    rows, _, finished_locally = _run(
        spark, monkeypatch, edges, "string", bound, checkpoint_dir=tmp_path
    )
    _assert_components(rows, edges)
    assert finished_locally
    # the local result is a parquet checkpoint too, beside the rounds'
    written = sorted(os.listdir(tmp_path))
    rounds = ["cc_iter_0", "cc_iter_1"] if path == "switch" else []
    assert written == rounds + ["cc_local"]
