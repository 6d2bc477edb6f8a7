"""Round-12 operator tests: the weighted community tier (weighted
modularity + weighted Louvain local move), multi-level Louvain
(contraction, phase 2), the bounded Louvain local tail, and the two
ADVICE r11 contract fixes (weighted_pagerank node universe,
weighted_distances negative-weight enforcement).
"""

from __future__ import annotations

import itertools

import duckdb
import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions import graph as G


def _labels(df):
    return {r["id"]: r["community"] for r in df.collect()}


def _q(spark_edges, labels_df, weight_col=None):
    rows = G.modularity(spark_edges, labels_df,
                        weight_col=weight_col).collect()
    return [r for r in rows if r["community"] == "<all>"][0]["q_contrib"]


def _clique(ns):
    return list(itertools.combinations(ns, 2))


# ---------------------------------------------------------------- weighted


def test_weight_flips_move_decision(spark):
    """VERDICT r11 #1's done-criterion: an engineered graph where the
    WEIGHTED mover sends v to a different community than the
    unweighted mover — v has ONE heavy edge (w=10) into A and TWO
    light edges (w=1) into B, so edge-count argmax says B but weight
    argmax says A."""
    edges = [
        ("v", "a1", 10.0), ("v", "b1", 1.0), ("v", "b2", 1.0),
        ("a1", "a2", 5.0), ("b1", "b2", 5.0),
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    init = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B"), ("v", "V")],
        ["id", "lab"],
    )
    unw = _labels(G.louvain_local_move(
        e.select("src", "dst"), rounds=1, init_labels=init))
    wtd = _labels(G.louvain_local_move(
        e, rounds=1, init_labels=init, weight_col="w"))
    assert unw["v"] == "B"
    assert wtd["v"] == "A"


def test_weighted_modularity_closed_form(spark):
    """Hand-checked weighted Q: two uniform-weight triangles joined by
    a bridge — uniform scaling leaves Q at the unweighted value
    (modularity is scale-invariant), and a negative-weight edge is
    dropped per the weighted_pagerank convention."""
    tri = [("a", "b"), ("b", "c"), ("c", "a"),
           ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    e = spark.createDataFrame(tri, ["src", "dst"])
    ew = spark.createDataFrame(
        [(s, d, 2.0) for s, d in tri] + [("c", "d", -1.0)],
        ["src", "dst", "w"],
    )
    lab = G.louvain_local_move(e, rounds=4)
    assert _q(e, lab) == _q(ew, lab, weight_col="w") == 0.357142
    wrows = {r["community"]: r for r in
             G.modularity(ew, lab, weight_col="w").collect()}
    assert wrows["<all>"]["intra_weight"] == 12.0
    assert wrows["<all>"]["weight_sum"] == 28.0


def test_weighted_oracle_parity_random_graph(spark):
    """Engine vs DuckDB full string parity (the driver's comparison)
    for weighted louvain + weighted modularity on a seeded random
    integer-weighted multigraph — pins the weighted round CTEs."""
    import random

    random.seed(7)
    rows = [(f"n{random.randrange(40)}", f"n{random.randrange(40)}",
             float(random.randint(1, 5))) for _ in range(140)]
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    lab = G.louvain_local_move(e, rounds=3, weight_col="w")
    eng = sorted(
        tuple(str(v) for v in r)
        for r in G.modularity(e, lab, weight_col="w").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src VARCHAR, dst VARCHAR, w DOUBLE)")
    con.executemany("INSERT INTO edges VALUES (?,?,?)", rows)
    sql = G.modularity_oracle_sql(
        "SELECT src, dst, w FROM edges",
        "SELECT id, lab FROM " + G.louvain_labels_oracle_sql(
            "SELECT src, dst, w FROM edges", rounds=3, weighted=True
        ) + " q",
        weighted=True,
    )
    ora = sorted(
        tuple(str(v) for v in r) for r in con.execute(sql).fetchall()
    )
    assert eng == ora


# -------------------------------------------------------------- local tail


def test_louvain_local_tail_identical_to_distributed(spark, distributed):
    """VERDICT r11 #3's done-criterion: the bounded local tail is
    output-IDENTICAL to the all-distributed path, weighted and
    unweighted, on a seeded random graph."""
    import random

    random.seed(13)
    rows = [(f"n{random.randrange(50)}", f"n{random.randrange(50)}",
             float(random.randint(1, 4))) for _ in range(170)]
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    for wc in (None, "w"):
        src = e if wc else e.select("src", "dst")
        local = sorted(G.louvain_local_move(
            src, rounds=4, weight_col=wc).collect())
        with distributed():
            dist = sorted(G.louvain_local_move(
                src, rounds=4, weight_col=wc).collect())
        assert local == dist
    # multilevel too — every level routes through the same gate
    ml_local = sorted(G.louvain_multilevel(e, levels=2, rounds=3,
                                           weight_col="w").collect())
    with distributed():
        ml_dist = sorted(G.louvain_multilevel(e, levels=2, rounds=3,
                                              weight_col="w").collect())
    assert ml_local == ml_dist


def test_modularity_local_stats_identical_to_distributed(spark, distributed):
    """The bounded modularity stats pass (numpy integer-exact sums off
    one Arrow collect; final round/pow/÷ shared with the distributed
    Spark expressions) is output-identical at string level — weighted
    and unweighted, including edge-free labeled nodes and unlabeled
    endpoints."""
    import random

    random.seed(42)
    rows = [(f"n{random.randrange(60)}", f"n{random.randrange(60)}",
             float(random.randint(1, 5))) for _ in range(180)]
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    lab = G.louvain_local_move(e, rounds=3, weight_col="w")
    for wc in ("w", None):
        src = e if wc else e.select("src", "dst")
        loc = sorted(tuple(str(v) for v in r) for r in
                     G.modularity(src, lab, weight_col=wc).collect())
        with distributed():
            dist = sorted(tuple(str(v) for v in r) for r in
                          G.modularity(src, lab, weight_col=wc).collect())
        assert loc == dist
    lab2 = spark.createDataFrame(
        [("n0", "A"), ("n1", "A"), ("isolated", "B")], ["id", "community"]
    )
    e2 = spark.createDataFrame([("n0", "n1"), ("n0", "zz")],
                               ["src", "dst"])
    loc = sorted(tuple(str(v) for v in r) for r in
                 G.modularity(e2, lab2).collect())
    with distributed():
        dist = sorted(tuple(str(v) for v in r) for r in
                      G.modularity(e2, lab2).collect())
    assert loc == dist
    got = {r[0]: r for r in loc}
    assert got["B"][1] == "1" and got["B"][2] == "0"  # edge-free node
    assert got["<all>"][1] == "3"  # unlabeled 'zz' outside n_nodes


def test_lpa_full_local_identical_to_distributed(spark, distributed):
    """ADVICE r12: the LPA local fast path (``_lpa_full_local``) is
    output-IDENTICAL to the distributed rounds on heavily duplicated
    edges, including a self-loop-only node (must survive as a
    singleton community, the ADVICE r6 contract)."""
    base = [(f"n{i}", f"n{(i + 1) % 8}") for i in range(8)]
    base += [("a", "b"), ("b", "c"), ("n0", "a"), ("solo", "solo")]
    rows = base * 15  # heavy duplication: |sym0| ≪ |raw rows|
    e = spark.createDataFrame(rows, ["src", "dst"])
    with distributed():
        dist = sorted(G.label_propagation(e, iterations=4).collect())
    # raw-edge gate: default cap (2M) ≫ 2·|raw|
    raw_gate = sorted(G.label_propagation(e, iterations=4).collect())
    assert raw_gate == dist
    comm = {r["id"]: r["community"] for r in dist}
    assert comm["solo"] == "solo"


# -------------------------------------------------------------- multilevel


def test_multilevel_merges_planted_hierarchy(spark):
    """Planted two-level hierarchy (VERDICT r11 #2's done-criterion):
    a ring of 16 triangles — the classic resolution-limit graph where
    single-node moves stall at one community per triangle, while
    phase-2 contraction merges ADJACENT TRIANGLE PAIRS (supernode
    moves shift whole triangles at once). One-level: Q = 0.687504,
    16 communities; multi-level: Q = 0.75, 8 communities, each the
    union of exactly two ring-adjacent triangles."""
    tris = []
    for i in range(16):
        a, b, c = f"t{i:02d}a", f"t{i:02d}b", f"t{i:02d}c"
        tris += [(a, b), (b, c), (c, a), (c, f"t{(i + 1) % 16:02d}a")]
    e = spark.createDataFrame(tris, ["src", "dst"])
    one = G.louvain_local_move(e, rounds=12)
    ml = G.louvain_multilevel(e, levels=3, rounds=12)
    assert _q(e, one) == 0.687504
    assert _q(e, ml) == 0.75
    grp = _labels(ml)
    assert len(set(grp.values())) == 8
    # each community is a union of whole triangles, two per community
    for i in range(16):
        tri_nodes = [f"t{i:02d}{s}" for s in "abc"]
        assert len({grp[n] for n in tri_nodes}) == 1
    from collections import Counter

    assert sorted(Counter(grp.values()).values()) == [6] * 8


def test_multilevel_oracle_parity_unweighted(spark):
    """Engine vs DuckDB string parity for the 3-level multilevel
    labels fed through the modularity replica."""
    tris = []
    for i in range(10):
        a, b, c = f"t{i}a", f"t{i}b", f"t{i}c"
        tris += [(a, b), (b, c), (c, a), (c, f"t{(i + 1) % 10}a")]
    e = spark.createDataFrame(tris, ["src", "dst"])
    ml = G.louvain_multilevel(e, levels=3, rounds=4)
    eng = sorted(
        tuple(str(v) for v in r) for r in G.modularity(e, ml).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO edges VALUES (?,?)", tris)
    sql = G.modularity_oracle_sql(
        "SELECT src, dst FROM edges",
        "SELECT id, lab FROM " + G.louvain_multilevel_oracle_sql(
            "SELECT src, dst FROM edges", levels=3, rounds=4
        ) + " q",
    )
    ora = sorted(
        tuple(str(v) for v in r) for r in con.execute(sql).fetchall()
    )
    assert eng == ora


def test_multilevel_q_never_below_one_level(spark):
    """Q(multilevel, L levels) ≥ Q(one level at the same rounds): the
    extra levels start from level-1's exact partition (contraction is
    Q-invariant) and every move phase is non-decreasing."""
    import random

    random.seed(29)
    rows = [(f"n{random.randrange(60)}", f"n{random.randrange(60)}")
            for _ in range(200)]
    e = spark.createDataFrame(rows, ["src", "dst"])
    one = G.louvain_local_move(e, rounds=5)
    for lv in (2, 3):
        ml = G.louvain_multilevel(e, levels=lv, rounds=5)
        assert _q(e, ml) >= _q(e, one)
        # valid partition over the same node universe
        assert set(_labels(ml)) == set(_labels(one))


# ------------------------------------------------------------ ADVICE fixes


def test_mmr_rerank_skips_redundant_candidate(spark):
    """MMR's whole point: with two near-identical high-relevance
    vectors, rank 1 takes the best and rank 2 SKIPS its near-duplicate
    for a diverse lower-relevance candidate; λ=1 degenerates to pure
    relevance order."""
    from census_data_pipeline_spark.functions.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0]),      # top relevance
        (2, [0.995, 0.1, 0.0]),      # near-duplicate of 1
        (3, [0.7, 0.0, 0.71]),       # diverse, lower relevance
        (4, [0.6, 0.0, -0.8]),       # diverse, lowest
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0)
    out = mmr_rerank(emb, q, k=3, n_candidates=4, lam=0.5)
    got = [r["vec_id"] for r in sorted(out.collect(),
                                       key=lambda r: r["rank"])]
    assert got[0] == 2  # slightly higher qsim than 1
    assert got[1] == 3  # the near-duplicate 1 is penalized below 3
    pure = mmr_rerank(emb, q, k=3, n_candidates=4, lam=1.0)
    got_pure = [r["vec_id"] for r in sorted(pure.collect(),
                                            key=lambda r: r["rank"])]
    assert got_pure[:2] == [2, 1]  # relevance order when λ=1
    # rank-1 row is pure relevance: mmr_score == floor6(λ·qsim)
    r1 = [r for r in out.collect() if r["rank"] == 1][0]
    import math
    assert r1["mmr_score"] == math.floor(
        0.5 * r1["qsim"] * 1_000_000.0 + 0.5) / 1_000_000.0


def test_bh_fdr_reject_from_unrounded_q(spark):
    """ADVICE r11: a true q in (α, α+5e-7] rounds DOWN to α at 6 dp —
    the decision must come from the unrounded suffix-min q (the exact
    BH largest-k rule), in both engines."""
    from census_data_pipeline_spark.operators.rollup import (
        bh_fdr,
        bh_fdr_oracle_sql,
    )

    rows = [("a", 0.0500001), ("b", 0.02)]
    df = spark.createDataFrame(rows, ["grp", "p"])
    out = {r["grp"]: r for r in
           bh_fdr(df, "p", ["grp"], alpha=0.05).collect()}
    # q(a) = 0.0500001 → q_value reports 0.05 but reject must be False
    assert out["a"]["q_value"] == 0.05 and out["a"]["reject"] is False
    assert out["b"]["reject"] is True  # q(b) = 0.04 ≤ α
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t(grp VARCHAR, p DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?)", rows)
    sql = bh_fdr_oracle_sql("SELECT grp, p FROM t", "p", ["grp"],
                            ["grp", "p"], alpha=0.05)
    ora = {r[0]: r for r in con.execute(sql).fetchall()}
    eng = sorted(tuple(str(v) for v in r) for r in
                 bh_fdr(df, "p", ["grp"], alpha=0.05)
                 .select("grp", "p", "rank", "q_value", "reject")
                 .collect())
    orc = sorted(tuple(str(v) for v in r) for r in ora.values())
    assert eng == orc


def test_weighted_pagerank_keeps_weight_dropped_nodes(spark):
    """ADVICE r11: a node whose every incident edge is weight-dropped
    stays in the output as dangling with baseline rank — the node
    universe comes from the UNFILTERED edge list."""
    e = spark.createDataFrame(
        [("a", "b", 1.0), ("c", "d", -5.0), ("e", "f", None)],
        ["src", "dst", "w"],
    )
    pr = {r["id"]: r["rank"] for r in
          G.weighted_pagerank(e, weight_col="w", iterations=3).collect()}
    assert set(pr) == {"a", "b", "c", "d", "e", "f"}
    assert abs(sum(pr.values()) - 1.0) < 1e-9
    # c/d/e/f carry no surviving edge: all pure-dangling, equal rank
    assert len({round(pr[n], 12) for n in "cdef"}) == 1
    assert pr["b"] > pr["a"]  # b receives a's rank through the one edge


def test_weighted_distances_drops_negative_weights(spark):
    """ADVICE r11: the documented non-negative contract is enforced —
    a negative-weight shortcut is ignored, distance goes via the
    non-negative path."""
    e = spark.createDataFrame(
        [("s", "x", -10.0), ("s", "a", 1.0), ("a", "x", 1.0)],
        ["src", "dst", "w"],
    )
    seeds = spark.createDataFrame([("s",)], ["id"])
    d = {r["id"]: r["dist"] for r in
         G.weighted_distances(e, seeds, weight_col="w",
                              rounds=3).collect()}
    assert d["x"] == 2.0  # via a, not the dropped negative edge
    assert d["a"] == 1.0 and d["s"] == 0.0


def test_weighted_distances_rejects_nothing_silently(spark):
    """Zero-weight edges remain legal (non-negative contract)."""
    e = spark.createDataFrame(
        [("s", "a", 0.0), ("a", "b", 2.0)], ["src", "dst", "w"]
    )
    seeds = spark.createDataFrame([("s",)], ["id"])
    d = {r["id"]: r["dist"] for r in
         G.weighted_distances(e, seeds, weight_col="w",
                              rounds=2).collect()}
    assert d["a"] == 0.0 and d["b"] == 2.0
