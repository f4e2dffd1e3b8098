"""Random walks exactly reproduce the pure-Python hash-based oracle."""

from __future__ import annotations

import hashlib


def h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def oracle_walk(adj: dict, walk_id: int, start: int, length: int) -> list[int]:
    path, cur = [start], start
    for step in range(1, length + 1):
        nbrs = adj.get(cur)
        if not nbrs:
            break
        u = h64(f"{walk_id}#{step}") / float(1 << 60)
        cum, total = [], sum(w for _, w in nbrs)
        acc = 0.0
        for d, w in nbrs:
            acc += w
            cum.append(acc / total)
        idx = sum(1 for c in cum if c < u)
        cur = nbrs[idx][0]
        path.append(cur)
    return path


def test_walks_match_oracle(spark):
    from pybiodatafuse_spark.plans.walks import random_walks

    es = [(0, 1, 2.0), (0, 2, 1.0), (1, 2, 1.0), (2, 0, 1.0), (2, 3, 3.0), (3, 4, 1.0)]
    # vertex 4 is dangling; hub 5 has 1200 weighted out-links (a long CDF)
    es += [(5, 100 + i, float(i % 7 + 1)) for i in range(1200)]
    edges = spark.createDataFrame(
        [(a, b, w, 1) for a, b, w in es], "src long, dst long, weight double, etype int"
    )
    starts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    got = {
        r["walk_id"]: list(r["path"])
        for r in random_walks(spark, edges, starts, num_walks=3, walk_length=8).collect()
    }
    adj: dict = {}
    for a, b, w in es:
        adj.setdefault(a, []).append((b, w))
    for a in adj:
        adj[a].sort()  # Spark sorts neighbor structs by (dst, weight)
    assert len(got) == 18
    for start in range(6):
        for w in range(3):
            wid = start * 3 + w
            assert got[wid] == oracle_walk(adj, wid, start, 8), wid


def test_walks_deterministic_across_runs(spark):
    from pybiodatafuse_spark.plans.walks import random_walks

    es = [(i, (i + 1) % 10, 1.0, 1) for i in range(10)] + [(i, (i + 3) % 10, 2.0, 1) for i in range(10)]
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(i,) for i in range(10)], "id long")
    a = sorted(map(tuple, random_walks(spark, edges, starts, num_walks=2, walk_length=5)
                   .select("walk_id", "path").collect()))
    b = sorted(map(tuple, random_walks(spark, edges, starts, num_walks=2, walk_length=5)
                   .select("walk_id", "path").collect()))
    assert a == b


def oracle_biased_walk(
    adj, walk_id, start, length, M, teleport=0.0, targets=None
):
    """adj: src -> sorted list of (dst, weight, etype). Mirrors
    plans.walks.biased_random_walks exactly."""
    path, cur, pet = [start], start, -1
    for step in range(1, length + 1):
        u_tp = h64(f"{walk_id}#{step}#tp") / float(1 << 60)
        if targets and teleport > 0 and u_tp < teleport:
            cur = targets[int(u_tp / teleport * len(targets))]
            pet = -1
            path.append(cur)
            continue
        nbrs = adj.get(cur)
        if not nbrs:
            break
        bw = [w * (1.0 if pet < 0 else M[pet][t]) for _, w, t in nbrs]
        total = sum(bw)
        if total <= 0:
            break
        u = h64(f"{walk_id}#{step}") / float(1 << 60)
        acc, cum = 0.0, []
        for w in bw:
            acc += w
            cum.append(acc / total)
        idx = sum(1 for c in cum if c < u)
        cur, pet = nbrs[idx][0], nbrs[idx][2]
        path.append(cur)
    return path


def test_biased_walks_match_oracle(spark):
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    # two edge types; type-1->type-0 transitions suppressed by the matrix
    es = [
        (0, 1, 2.0, 0), (0, 2, 1.0, 1), (1, 2, 1.0, 0), (1, 3, 2.0, 1),
        (2, 0, 1.0, 1), (2, 3, 3.0, 0), (3, 4, 1.0, 0), (3, 0, 1.0, 1),
    ]
    M = [[0.7, 0.3], [0.1, 0.9]]
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(i,) for i in range(4)], "id long")
    got = {
        r["walk_id"]: list(r["path"])
        for r in biased_random_walks(
            spark, edges, starts, M, num_walks=2, walk_length=7,
            teleport=0.15, teleport_targets=[0, 1, 2, 3],
        ).collect()
    }
    adj = {}
    for a, b, w, t in es:
        adj.setdefault(a, []).append((b, w, t))
    for a in adj:
        adj[a].sort()
    assert len(got) == 8
    for start in range(4):
        for w in range(2):
            wid = start * 2 + w
            want = oracle_biased_walk(adj, wid, start, 7, M, 0.15, [0, 1, 2, 3])
            assert got[wid] == want, (wid, got[wid], want)


def test_biased_walks_zero_bias_row_ends_walk(spark):
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    # after a type-0 edge, all further transitions have zero probability
    es = [(0, 1, 1.0, 0), (1, 2, 1.0, 0), (1, 3, 1.0, 1)]
    M = [[0.0, 0.0], [1.0, 1.0]]
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(0,)], "id long")
    got = biased_random_walks(spark, edges, starts, M, num_walks=1, walk_length=5).collect()
    assert list(got[0]["path"]) == [0, 1]  # first hop unbiased, then stuck


def oracle_dreamwalk(
    adj, nbrsets, sim_adj, walk_id, start, length, M, p, q, teleport
):
    """Full DREAMwalk traversal oracle: node2vec p/q second-order weighting
    + weighted sim-graph teleport (reference generate_embeddings.py:210-263
    semantics, deterministic hash randomness). adj: src -> sorted
    (dst, weight, etype); sim_adj: src -> sorted (dst, weight)."""
    S = float(1 << 60)
    path, cur, prev, pet = [start], start, -1, -1
    for step in range(1, length + 1):
        nbrs = adj.get(cur)
        if not nbrs:
            break  # dead-end break BEFORE teleport (reference :316)
        u_tp = h64(f"{walk_id}#{step}#tp") / S
        sim = sim_adj.get(cur)
        if step >= 2 and teleport > 0 and u_tp < teleport and sim:
            u_sim = h64(f"{walk_id}#{step}#sim") / S
            total = sum(w for _, w in sim)
            acc, cum = 0.0, []
            for _, w in sim:
                acc += w
                cum.append(acc / total)
            idx = sum(1 for c in cum if c < u_sim)
            prev, cur = cur, sim[idx][0]  # pet KEPT (stale edge type)
            path.append(cur)
            continue
        if pet < 0:
            bw = [w for _, w, _ in nbrs]
        else:
            bw = []
            for d, w, t in nbrs:
                if d in nbrsets.get(prev, set()):
                    f = 1.0
                elif d == prev:
                    f = 1.0 / p
                else:
                    f = 1.0 / q
                bw.append(w * M[pet][t] * f)
        total = sum(bw)
        if total <= 0:
            break
        u = h64(f"{walk_id}#{step}") / S
        acc, cum = 0.0, []
        for w in bw:
            acc += w
            cum.append(acc / total)
        idx = sum(1 for c in cum if c < u)
        prev, cur, pet = cur, nbrs[idx][0], nbrs[idx][2]
        path.append(cur)
    return path


def _dreamwalk_fixture():
    es = [
        (0, 1, 2.0, 0), (0, 2, 1.0, 1), (1, 2, 1.0, 0), (1, 3, 2.0, 1),
        (2, 0, 1.0, 1), (2, 3, 3.0, 0), (3, 4, 1.0, 0), (3, 0, 1.0, 1),
        (4, 1, 2.0, 0), (4, 5, 1.0, 1), (5, 2, 1.0, 0),
    ]
    sim = [(0, 3, 1.0), (0, 4, 2.0), (2, 5, 1.5), (3, 1, 1.0), (4, 0, 3.0)]
    M = [[0.7, 0.3], [0.1, 0.9]]
    adj, nbrsets, sim_adj = {}, {}, {}
    for a, b, w, t in es:
        adj.setdefault(a, []).append((b, w, t))
        nbrsets.setdefault(a, set()).add(b)
        nbrsets.setdefault(b, set()).add(a)
    for a in adj:
        adj[a].sort()
    for a, b, w in sim:
        sim_adj.setdefault(a, []).append((b, w))
    for a in sim_adj:
        sim_adj[a].sort()
    return es, sim, M, adj, nbrsets, sim_adj


def test_node2vec_pq_walks_match_oracle(spark):
    """G7 second-order semantics: p/q weighting against the previous node's
    bidirectional neighbor set, exactly per the reference's order of checks
    (adjacent-to-prev first, then return/p, else in-out/q)."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    es, _, M, adj, nbrsets, _ = _dreamwalk_fixture()
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    for p, q in [(0.5, 2.0), (4.0, 0.25)]:
        got = {
            r["walk_id"]: list(r["path"])
            for r in biased_random_walks(
                spark, edges, starts, M, num_walks=2, walk_length=5, p=p, q=q
            ).collect()
        }
        assert len(got) == 12
        for start in range(6):
            for w in range(2):
                wid = start * 2 + w
                want = oracle_dreamwalk(
                    adj, nbrsets, {}, wid, start, 5, M, p, q, 0.0
                )
                assert got[wid] == want, (p, q, wid, got[wid], want)


def test_weighted_sim_teleport_matches_oracle(spark):
    """G7 teleport parity: jump to a similarity-graph neighbor sampled by
    edge weight; pet kept (the reference appends to walk but not edge_walk);
    nodes absent from g_sim never teleport; dead-end checked first."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    es, sim, M, adj, nbrsets, sim_adj = _dreamwalk_fixture()
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    sim_edges = spark.createDataFrame(sim, "src long, dst long, weight double")
    starts = spark.createDataFrame([(i,) for i in range(6)], "id long")
    got = {
        r["walk_id"]: list(r["path"])
        for r in biased_random_walks(
            spark, edges, starts, M, num_walks=3, walk_length=6,
            p=0.5, q=2.0, teleport=0.3, sim_edges=sim_edges,
        ).collect()
    }
    assert len(got) == 18
    n_tp = 0
    for start in range(6):
        for w in range(3):
            wid = start * 3 + w
            want = oracle_dreamwalk(
                adj, nbrsets, sim_adj, wid, start, 6, M, 0.5, 2.0, 0.3
            )
            assert got[wid] == want, (wid, got[wid], want)
            # count teleports the oracle takes so the test is known non-vacuous
            S = float(1 << 60)
            n_tp += sum(
                1 for k in range(2, 7) if h64(f"{wid}#{k}#tp") / S < 0.3
            )
    assert n_tp > 0


# ---------------------------------------------------------------------------
# Property assertions on larger fixtures (round-5 hardening): the exact-oracle
# tests above pin semantics on tiny graphs; these make sure the evidence does
# not rest on a single 5-vertex fixture — a 10x deterministic graph matched
# exactly, plus distributional (binomial-bound) checks that the hash-based
# randomness actually samples the intended transition distribution, which an
# exact-match test (sharing the same hash) can never establish.
# ---------------------------------------------------------------------------


def test_walk_first_step_frequencies_binomial(spark):
    """q36 distributional property: over N walks from a hub with 8 neighbors
    of weights 1..8, the first-step transition counts must sit within 4.5
    sigma of Binomial(N, w_d / sum(w)). Deterministic (hash randomness), so
    this either always passes or flags a real sampling-distribution bug."""
    from pybiodatafuse_spark.plans.walks import random_walks

    n_walks, weights = 4000, list(range(1, 9))
    total_w = float(sum(weights))
    edges = spark.createDataFrame(
        [(0, d, float(d), 1) for d in weights],
        "src long, dst long, weight double, etype int",
    )
    starts = spark.createDataFrame([(0,)], "id long")
    paths = random_walks(
        spark, edges, starts, num_walks=n_walks, walk_length=1
    ).collect()
    assert len(paths) == n_walks
    counts: dict[int, int] = {}
    for r in paths:
        counts[r["path"][1]] = counts.get(r["path"][1], 0) + 1
    for d in weights:
        p = d / total_w
        mean, sigma = n_walks * p, (n_walks * p * (1 - p)) ** 0.5
        assert abs(counts.get(d, 0) - mean) <= 4.5 * sigma, (
            d, counts.get(d, 0), mean, sigma,
        )


def test_biased_walk_matrix_frequencies_binomial(spark):
    """q44 distributional property: after a type-0 edge, the etype matrix
    M[0] = [0.8, 0.2] must steer equal-weight candidates 80/20 — second-step
    counts within 4.5 sigma of Binomial(N, 0.8)."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    es = [(0, 1, 1.0, 0), (1, 2, 1.0, 0), (1, 3, 1.0, 1)]
    M = [[0.8, 0.2], [0.5, 0.5]]
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(0,)], "id long")
    n_walks = 4000
    paths = biased_random_walks(
        spark, edges, starts, M, num_walks=n_walks, walk_length=2
    ).collect()
    assert len(paths) == n_walks
    n2 = sum(1 for r in paths if list(r["path"]) == [0, 1, 2])
    n3 = sum(1 for r in paths if list(r["path"]) == [0, 1, 3])
    assert n2 + n3 == n_walks
    mean, sigma = n_walks * 0.8, (n_walks * 0.8 * 0.2) ** 0.5
    assert abs(n2 - mean) <= 4.5 * sigma, (n2, mean, sigma)


def _graph_10x():
    """Deterministic 60-vertex / 240-edge graph (10x the oracle fixtures):
    v -> (7v+k) % 60 for k in 1..4, weight ((v+k) % 5)+1, etype (v+k) % 2.
    No self-loops (6v+k is never 0 mod 60 for k in 1..4), no duplicates."""
    es = []
    for v in range(60):
        for k in range(1, 5):
            es.append((v, (7 * v + k) % 60, float((v + k) % 5 + 1), (v + k) % 2))
    sim = [
        (v, (11 * v + 3) % 60, float(v % 3 + 1)) for v in range(0, 60, 4)
    ]
    return es, sim


def test_walks_match_oracle_10x_fixture(spark):
    """q36 at 10x: 120 walks of length 8 on the 60-vertex graph match the
    pure-Python oracle path-for-path."""
    from pybiodatafuse_spark.plans.walks import random_walks

    es, _ = _graph_10x()
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    starts = spark.createDataFrame([(i,) for i in range(60)], "id long")
    got = {
        r["walk_id"]: list(r["path"])
        for r in random_walks(spark, edges, starts, num_walks=2, walk_length=8).collect()
    }
    adj: dict = {}
    for a, b, w, _t in es:
        adj.setdefault(a, []).append((b, w))
    for a in adj:
        adj[a].sort()
    assert len(got) == 120
    for start in range(60):
        for w in range(2):
            wid = start * 2 + w
            assert got[wid] == oracle_walk(adj, wid, start, 8), wid


def test_biased_walks_match_oracle_10x_fixture(spark):
    """q44/q48 at 10x: 120 biased walks (p/q second-order + etype matrix +
    weighted sim-graph teleport) on the 60-vertex graph match the full
    DREAMwalk oracle path-for-path."""
    from pybiodatafuse_spark.plans.walks import biased_random_walks

    es, sim = _graph_10x()
    M = [[0.7, 0.3], [0.1, 0.9]]
    edges = spark.createDataFrame(es, "src long, dst long, weight double, etype int")
    sim_edges = spark.createDataFrame(sim, "src long, dst long, weight double")
    starts = spark.createDataFrame([(i,) for i in range(60)], "id long")
    got = {
        r["walk_id"]: list(r["path"])
        for r in biased_random_walks(
            spark, edges, starts, M, num_walks=2, walk_length=8,
            p=0.5, q=2.0, teleport=0.25, sim_edges=sim_edges,
        ).collect()
    }
    adj, nbrsets, sim_adj = {}, {}, {}
    for a, b, w, t in es:
        adj.setdefault(a, []).append((b, w, t))
        nbrsets.setdefault(a, set()).add(b)
        nbrsets.setdefault(b, set()).add(a)
    for a in adj:
        adj[a].sort()
    for a, b, w in sim:
        sim_adj.setdefault(a, []).append((b, w))
    for a in sim_adj:
        sim_adj[a].sort()
    assert len(got) == 120
    n_tp = 0
    for start in range(60):
        for w in range(2):
            wid = start * 2 + w
            want = oracle_dreamwalk(
                adj, nbrsets, sim_adj, wid, start, 8, M, 0.5, 2.0, 0.25
            )
            assert got[wid] == want, (wid, got[wid], want)
            S = float(1 << 60)
            n_tp += sum(
                1 for k in range(2, 9) if h64(f"{wid}#{k}#tp") / S < 0.25
            )
    assert n_tp > 0  # teleports actually exercised
