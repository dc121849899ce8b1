"""The connected-components kernel against a pure-Python union-find oracle,
on the one-task path and on the several-partition path."""

import random

import pytest

from finance_sc_relations_spark.operators import cc


def oracle(edges, labels, seeds):
    """Every labeled node's least label over its component; components are
    joined through labeled nodes only, and a seed offers its label to the
    components it touches without joining them."""
    parent = {k: k for k in labels}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a in labels and b in labels:
            parent[find(a)] = find(b)
    best = {}
    for k, lab in labels.items():
        r = find(k)
        best[r] = min(best.get(r, lab), lab)
    for a, b in edges:
        for s, n in ((a, b), (b, a)):
            if s in seeds and n in labels:
                r = find(n)
                best[r] = min(best[r], seeds[s])
    return {k: best[find(k)] for k in labels}


def random_graph(rng, n_nodes, n_edges):
    """Random edges plus a chain, over node indexes (some never labeled)."""
    edges = [(rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)]
    chain = rng.sample(range(n_nodes), 12)
    edges += list(zip(chain, chain[1:]))
    return edges


def dedup_case(spark, seed):
    rng = random.Random(seed)
    edges = random_graph(rng, 80, 45)
    ids = [i * 7 + 1000 for i in range(80)]
    labeled = set(rng.sample(range(80), 72))
    labels = {ids[i]: ids[i] for i in labeled}
    edge_rows = [(ids[a], ids[b]) for a, b in edges]
    return (
        spark.createDataFrame(edge_rows, "id_a long, id_b long"),
        spark.createDataFrame(list(labels.items()), "id long, label long"),
        None,
        "id",
        oracle(edge_rows, labels, {}),
    )


def linking_case(spark, seed):
    rng = random.Random(seed)
    edges = random_graph(rng, 70, 55)
    names = [f"S{i:03d}" for i in range(70)]
    roles = rng.choices(["label", "seed", "unknown"], [0.7, 0.2, 0.1], k=70)
    labels = {names[i]: (1, "".join(rng.choices("abc", k=3)))
              for i in range(70) if roles[i] == "label"}
    seeds = {names[i]: (0, f"LEI{rng.randrange(5)}")
             for i in range(70) if roles[i] == "seed"}
    edge_rows = [(names[a], names[b]) for a, b in edges]
    schema = "surface string, label struct<pri:int, val:string>"
    return (
        spark.createDataFrame(edge_rows, "target string, alias string"),
        spark.createDataFrame(list(labels.items()), schema),
        spark.createDataFrame(list(seeds.items()), schema),
        "surface",
        oracle(edge_rows, labels, seeds),
    )


@pytest.mark.parametrize("budget", [cc.EDGES_PER_TASK, 7], ids=["one_task", "partitions"])
@pytest.mark.parametrize("make_case", [dedup_case, linking_case], ids=["dedup", "linking"])
@pytest.mark.parametrize("seed", [1, 2])
def test_cc_min_label_matches_union_find(spark, monkeypatch, budget, make_case, seed):
    monkeypatch.setattr(cc, "EDGES_PER_TASK", budget)
    edges, labels, seeds, key, want = make_case(spark, seed)
    rows = cc.cc_min_label(edges, labels, key=key, seeds=seeds).collect()
    got = {r[key]: r["label"] for r in rows}
    assert len(rows) == len(got)  # one row per labeled node
    got = {k: tuple(v) if not isinstance(v, int) else v for k, v in got.items()}
    assert got == want
