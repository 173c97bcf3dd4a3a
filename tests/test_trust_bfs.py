"""TrustRank / spam mass / BFS crawl depth (operators/graph.py): exact
Python replays of the pinned iterations on randomized graphs, planted
link-farm structure, seed edge cases, and the reliable-checkpoint seam."""

import random

import pytest

from cord19_crawler_spark.operators.graph import (
    bfs_depth,
    opic,
    pagerank,
    spam_mass,
    trustrank,
)


def _py_trustrank(edges, seeds, iterations, d=0.85):
    edges = sorted({(s, t) for s, t in edges if s != t})
    nodes = sorted({n for e in edges for n in e})
    seeds = sorted(set(seeds) & set(nodes))
    sw = {n: (1.0 / len(seeds) if n in seeds else 0.0) for n in nodes}
    out = {n: 0 for n in nodes}
    for s, _ in edges:
        out[s] += 1
    trust = dict(sw)
    for _ in range(iterations):
        dm = sum(trust[n] for n in nodes if out[n] == 0)
        contrib = {n: 0.0 for n in nodes}
        for s, t in edges:
            contrib[t] += trust[s] / out[s]
        trust = {
            n: (1 - d) * sw[n] + d * (contrib[n] + dm * sw[n]) for n in nodes
        }
    return trust


def _py_bfs(edges, seeds, max_depth):
    adj = {}
    for s, t in {(s, t) for s, t in edges if s != t}:
        adj.setdefault(s, set()).add(t)
    depth = {n: 0 for n in set(seeds)}
    frontier = set(seeds)
    for d in range(1, max_depth + 1):
        nxt = set()
        for n in frontier:
            nxt |= adj.get(n, set())
        nxt -= depth.keys()
        if not nxt:
            break
        for n in nxt:
            depth[n] = d
        frontier = nxt
    return depth


def _edges_df(spark, edges):
    return spark.createDataFrame(sorted(edges), "src long, dst long")


def _seeds_df(spark, seeds):
    return spark.createDataFrame([(s,) for s in sorted(set(seeds))], "node long")


def test_trustrank_matches_python_replay_randomized(spark):
    rng = random.Random(41)
    edges = {(rng.randrange(30), rng.randrange(30)) for _ in range(120)}
    seeds = [0, 3, 7, 11]
    want = _py_trustrank(edges, seeds, iterations=6)
    got = {
        r["node"]: r["trust"]
        for r in trustrank(
            _edges_df(spark, edges), _seeds_df(spark, seeds), iterations=6
        ).collect()
    }
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], abs=1e-9)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_trustrank_zero_outside_seed_reach(spark):
    # Two disconnected clusters; seeds only in the first. The second
    # cluster (the "link farm" unreachable from trust) must score ~0.
    edges = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10)]
    got = {
        r["node"]: r["trust"]
        for r in trustrank(
            _edges_df(spark, edges), _seeds_df(spark, [1]), iterations=8
        ).collect()
    }
    assert got[10] == got[11] == got[12] == 0.0
    assert got[1] > got[2] > 0.0


def test_trustrank_seeds_outside_graph_carry_no_mass(spark):
    edges = [(1, 2), (2, 1)]
    # seed 99 is not a node: weight must normalize over {1} only,
    # bit-identically to passing [1] alone.
    a = trustrank(
        _edges_df(spark, edges), _seeds_df(spark, [1, 99]), iterations=4
    ).collect()
    b = trustrank(
        _edges_df(spark, edges), _seeds_df(spark, [1]), iterations=4
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    with pytest.raises(ValueError, match="no trusted seed"):
        trustrank(_edges_df(spark, edges), _seeds_df(spark, [99]), iterations=2)


def test_spam_mass_flags_the_farm(spark):
    # Trusted chain 1->2->3 plus a dense farm 20..24 all linking to 30.
    edges = [(1, 2), (2, 3)]
    farm = [20, 21, 22, 23, 24]
    for f in farm:
        edges += [(f, 30), (30, f)]
    sm = {
        r["node"]: r
        for r in spam_mass(
            _edges_df(spark, edges), _seeds_df(spark, [1]), iterations=8
        ).collect()
    }
    # Farm target: all rank, no trust -> spam mass ~1.
    assert sm[30]["trust"] == 0.0
    assert sm[30]["spam_mass"] == pytest.approx(1.0)
    # Trusted neighborhood: trust can exceed uniform-teleport rank.
    assert sm[2]["spam_mass"] < 0.5
    # Identity sm = (pr - tr) / pr holds row-by-row.
    for r in sm.values():
        assert r["spam_mass"] == pytest.approx(
            (r["rank"] - r["trust"]) / r["rank"], abs=1e-12
        )
    with pytest.raises(ValueError, match="damping"):
        spam_mass(_edges_df(spark, edges), _seeds_df(spark, [1]), damping=1.0)


def test_trustrank_consistent_with_pagerank_when_all_nodes_seeded(spark):
    # Seeding EVERY node makes s uniform = 1/N, but trustrank starts at s
    # while pagerank starts at 1/N too -> identical fixed iterations.
    rng = random.Random(7)
    edges = {(rng.randrange(12), rng.randrange(12)) for _ in range(40)}
    nodes = sorted({n for e in edges if e[0] != e[1] for n in e})
    tr = {
        r["node"]: r["trust"]
        for r in trustrank(
            _edges_df(spark, edges), _seeds_df(spark, nodes), iterations=5
        ).collect()
    }
    pr = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, edges), iterations=5).collect()
    }
    for n in pr:
        assert tr[n] == pytest.approx(pr[n], abs=1e-12)


def test_opic_cash_equals_pagerank_at_damping_one(spark):
    # a synchronous OPIC round is the PageRank step at damping 1: cash
    # starts at 1/N, spreads over out-links, dangling cash re-enters
    # uniformly — so cash after k rounds IS the undamped rank after k
    for seed, n, m, k in [(3, 10, 25, 4), (11, 25, 60, 7), (29, 8, 12, 3)]:
        rng = random.Random(seed)
        edges = {(rng.randrange(n), rng.randrange(n)) for _ in range(m)}
        cash = {
            r["node"]: r["cash"]
            for r in opic(_edges_df(spark, edges), iterations=k).collect()
        }
        rank = {
            r["node"]: r["rank"]
            for r in pagerank(
                _edges_df(spark, edges), iterations=k, damping=1.0
            ).collect()
        }
        assert cash.keys() == rank.keys()
        for node in rank:
            assert cash[node] == pytest.approx(rank[node], abs=1e-12)


def test_bfs_depth_matches_python_replay_randomized(spark):
    rng = random.Random(99)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(100)}
    seeds = [0, 5]
    want = _py_bfs(edges, seeds, max_depth=6)
    got = {
        r["node"]: r["depth"]
        for r in bfs_depth(
            _edges_df(spark, edges), _seeds_df(spark, seeds), max_depth=6
        ).collect()
    }
    assert got == want


def test_bfs_depth_chain_cap_and_isolated_seed(spark):
    edges = [(i, i + 1) for i in range(10)]  # chain 0..10
    got = {
        r["node"]: r["depth"]
        for r in bfs_depth(
            _edges_df(spark, edges), _seeds_df(spark, [0, 77]), max_depth=4
        ).collect()
    }
    # Seed 77 has no edges but is still depth 0; chain truncates at 4.
    assert got == {0: 0, 77: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_depth_seed_reachable_from_seed_stays_zero(spark):
    edges = [(0, 1), (1, 2)]
    got = {
        r["node"]: r["depth"]
        for r in bfs_depth(
            _edges_df(spark, edges), _seeds_df(spark, [0, 1]), max_depth=3
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1}


def test_reliable_checkpoint_equivalence(spark, tmp_path):
    rng = random.Random(13)
    edges = {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
    seeds = [0, 1]
    for fn, kw in [
        (trustrank, dict(iterations=4)),
        (bfs_depth, dict(max_depth=4)),
    ]:
        a = sorted(
            map(
                tuple,
                fn(_edges_df(spark, edges), _seeds_df(spark, seeds), **kw).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                fn(
                    _edges_df(spark, edges),
                    _seeds_df(spark, seeds),
                    checkpoint_dir=str(tmp_path / fn.__name__),
                    **kw,
                ).collect(),
            )
        )
        assert a == b
