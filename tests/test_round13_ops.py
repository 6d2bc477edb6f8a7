"""Round-13 operator tests — the ADVICE r12 hardening of the graph
tier's bounded local fast paths: null src/dst (np.unique/searchsorted
raise on None in object arrays) and duplicate-id label frames (the
distributed equi-join fans out; a searchsorted lookup cannot) must
route through the distributed dataflow, identically to a run with
``catalog.LOCAL_TAIL_ROWS`` at 0; plus the weighted_pagerank single-scan
rewrite's semantics pin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from census_data_pipeline_spark.functions import graph as G

_EDGE_SCHEMA = StructType([
    StructField("src", StringType(), True),
    StructField("dst", StringType(), True),
])


def _null_edges(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"),
            (None, "c"), ("d", None), (None, None), ("f", "f")]
    return spark.createDataFrame(rows, _EDGE_SCHEMA)


def _sorted_rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


# ------------------------------------------------------- null src/dst


def test_lpa_null_edges_match_distributed(spark, distributed):
    """ADVICE r12 #1: the local gates must not crash on null src/dst —
    they fall back, so gated output ≡ distributed output."""
    e = _null_edges(spark)
    gated = _sorted_rows(G.label_propagation(e, iterations=3))
    with distributed():
        dist = _sorted_rows(G.label_propagation(e, iterations=3))
    assert gated == dist


def test_louvain_null_edges_match_distributed(spark, distributed):
    e = _null_edges(spark)
    gated = _sorted_rows(G.louvain_local_move(e, rounds=3))
    with distributed():
        dist = _sorted_rows(G.louvain_local_move(e, rounds=3))
    assert gated == dist


def test_multilevel_null_edges_match_distributed(spark, distributed):
    e = _null_edges(spark)
    gated = _sorted_rows(G.louvain_multilevel(e, levels=2, rounds=2))
    with distributed():
        dist = _sorted_rows(G.louvain_multilevel(e, levels=2, rounds=2))
    assert gated == dist


def test_modularity_null_edges_match_distributed(spark, distributed):
    e = _null_edges(spark)
    lab = spark.createDataFrame(
        [("a", "X"), ("b", "X"), ("c", "X"), ("d", "Y"), ("e", "Y")],
        ["id", "community"],
    )
    gated = _sorted_rows(G.modularity(e, lab))
    with distributed():
        dist = _sorted_rows(G.modularity(e, lab))
    assert gated == dist


# -------------------------------------------------- duplicate label ids


def test_modularity_duplicate_label_ids_match_distributed(
        spark, distributed):
    """ADVICE r12 #2: a labels frame with duplicate ids fans each edge
    out per duplicate row in the distributed join; the gated path must
    produce the SAME (data-size-independent) answer."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    lab = spark.createDataFrame(
        [("a", "X"), ("a", "Y"), ("b", "X"), ("c", "Y")],
        ["id", "community"],
    )
    gated = _sorted_rows(G.modularity(e, lab))
    with distributed():
        dist = _sorted_rows(G.modularity(e, lab))
    assert gated == dist


def test_louvain_duplicate_init_ids_match_distributed(spark, distributed):
    """Duplicate ids in ``init_labels``: the distributed init join
    fans the degree frame out; the gated path must match it rather
    than silently last-write-win."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")],
        ["src", "dst"])
    init = spark.createDataFrame(
        [("a", "P"), ("a", "Q"), ("b", "P"), ("c", "Q"), ("d", "P")],
        ["id", "lab"],
    )
    gated = _sorted_rows(
        G.louvain_local_move(e, rounds=2, init_labels=init))
    with distributed():
        dist = _sorted_rows(
            G.louvain_local_move(e, rounds=2, init_labels=init))
    assert gated == dist


def test_louvain_null_init_labels_match_distributed(spark, distributed):
    """Null init ids/labels also bail to the distributed path."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"])
    init = spark.createDataFrame(
        [("a", "P"), ("b", None), (None, "Q")],
        StructType([StructField("id", StringType(), True),
                    StructField("lab", StringType(), True)]),
    )
    gated = _sorted_rows(
        G.louvain_local_move(e, rounds=2, init_labels=init))
    with distributed():
        dist = _sorted_rows(
            G.louvain_local_move(e, rounds=2, init_labels=init))
    assert gated == dist


# ------------------------------------------ weighted LPA / conductance


def test_weight_flips_lpa_adoption(spark):
    """VERDICT r12 #4 done-criterion for LPA: node v has ONE heavy
    edge (w=10) toward z9 and TWO light edges (w=1) toward b1/b2 —
    count argmax (ties → smallest label) says b1, weight argmax says
    z9."""
    rows = [("v", "z9", 10.0), ("v", "b1", 1.0), ("v", "b2", 1.0)]
    e = spark.createDataFrame(rows, "src string, dst string, w double")
    unw = {r["id"]: r["community"] for r in G.label_propagation(
        e.select("src", "dst"), iterations=1).collect()}
    wtd = {r["id"]: r["community"] for r in G.label_propagation(
        e, iterations=1, weight_col="w").collect()}
    assert unw["v"] == "b1"
    assert wtd["v"] == "z9"


def test_weighted_lpa_local_identical_to_distributed(spark, distributed):
    """The weighted local path reproduces the distributed
    weighted rounds exactly; NULL/non-positive rows drop before the
    node set forms (the _symmetrize_simple dialect)."""
    import random

    random.seed(17)
    rows = [(f"n{random.randrange(40)}", f"n{random.randrange(40)}",
             float(random.randint(1, 6))) for _ in range(150)]
    rows += [("gone", "n0", -3.0), ("alone", "alone", 2.0)]
    e = spark.createDataFrame(rows, "src string, dst string, w double")
    with distributed():
        dist = _sorted_rows(G.label_propagation(
            e, iterations=4, weight_col="w"))
    gated = _sorted_rows(G.label_propagation(
        e, iterations=4, weight_col="w"))
    assert gated == dist
    ids = {r[0] for r in dist}
    assert "gone" not in ids      # weight-dropped node leaves the set
    assert "alone" in ids         # positive self-loop keeps its node


def test_weighted_conductance_closed_form(spark):
    """Hand-checked weighted φ: uniform scaling leaves φ unchanged
    (cut/vol ratio is scale-invariant); skewing the bridge weight up
    raises φ for both sides. Also pins the gated-vs-oracle shape via
    duckdb string parity."""
    import duckdb

    tri = [("a", "b"), ("b", "c"), ("c", "a"),
           ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    lab = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"),
         ("d", "B"), ("e", "B"), ("f", "B")], ["id", "community"])
    e = spark.createDataFrame(tri, ["src", "dst"])
    ew = spark.createDataFrame([(s, d, 3.0) for s, d in tri],
                               "src string, dst string, w double")
    unw = {r["community"]: r["phi"]
           for r in G.conductance(e, lab).collect()}
    wtd = {r["community"]: r["phi"]
           for r in G.conductance(ew, lab, weight_col="w").collect()}
    assert unw == wtd  # uniform scaling cancels in cut/vol
    heavy = spark.createDataFrame(
        [(s, d, 1.0) for s, d in tri[:-1]] + [("c", "d", 5.0)],
        "src string, dst string, w double")
    hv = {r["community"]: r["phi"]
          for r in G.conductance(heavy, lab, weight_col="w").collect()}
    assert hv["A"] > wtd["A"] and hv["B"] > wtd["B"]
    # engine vs DuckDB full string parity for the weighted replica
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src VARCHAR, dst VARCHAR, w DOUBLE)")
    con.executemany("INSERT INTO edges VALUES (?,?,?)",
                    [(s, d, 1.0) for s, d in tri[:-1]]
                    + [("c", "d", 5.0)])
    con.execute("CREATE TABLE labs(id VARCHAR, lab VARCHAR)")
    con.executemany("INSERT INTO labs VALUES (?,?)",
                    [(r["id"], r["community"]) for r in lab.collect()])
    sql = G.conductance_oracle_sql(
        "SELECT src, dst, w FROM edges", "SELECT id, lab FROM labs",
        weighted=True)
    ora = sorted(tuple(str(v) for v in r)
                 for r in con.execute(sql).fetchall())
    eng = _sorted_rows(G.conductance(heavy, lab, weight_col="w"))
    assert eng == ora


# ------------------------------------------------------------- leiden


def _assert_communities_connected(edge_rows, labels):
    """BFS check: every community's induced subgraph is connected."""
    from collections import defaultdict, deque

    adj = defaultdict(set)
    for s, d in edge_rows:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    by_com = defaultdict(set)
    for node, com in labels.items():
        by_com[com].add(node)
    for com, members in by_com.items():
        seed = min(members)
        seen = {seed}
        dq = deque([seed])
        while dq:
            v = dq.popleft()
            for u in adj[v]:
                if u in members and u not in seen:
                    seen.add(u)
                    dq.append(u)
        assert seen == members, f"community {com} is disconnected"


def test_leiden_splits_disconnected_init_community(spark):
    """VERDICT r12 #6 done-criterion: an init partition gluing two
    FAR-APART triangles into one community — louvain keeps the
    disconnected community; leiden's refinement splits it, and every
    returned community is internally connected."""
    tri1 = [("a1", "a2"), ("a2", "a3"), ("a3", "a1")]
    tri2 = [("b1", "b2"), ("b2", "b3"), ("b3", "b1")]
    rows = tri1 + tri2
    e = spark.createDataFrame(rows, ["src", "dst"])
    init = spark.createDataFrame(
        [(n, "X") for n in ("a1", "a2", "a3", "b1", "b2", "b3")],
        ["id", "lab"])
    lv = {r["id"]: r["community"] for r in G.louvain_local_move(
        e, rounds=2, init_labels=init).collect()}
    assert len(set(lv.values())) == 1  # louvain keeps the glued pair
    ld = {r["id"]: r["community"] for r in G.leiden(
        e, levels=2, rounds=2, init_labels=init).collect()}
    assert len(set(ld.values())) == 2
    _assert_communities_connected(rows, ld)


def test_leiden_connected_and_q_not_below_one_level(spark):
    """On a seeded random graph: every leiden community is internally
    connected, Q ≥ the one-level mover's at the same rounds, and the
    engine matches the DuckDB unrolled replica string-for-string."""
    import random

    import duckdb

    def _q(e, lab):
        rows = G.modularity(e, lab).collect()
        return [r for r in rows
                if r["community"] == "<all>"][0]["q_contrib"]

    random.seed(23)
    rows = [(f"n{random.randrange(50)}", f"n{random.randrange(50)}")
            for _ in range(160)]
    e = spark.createDataFrame(rows, ["src", "dst"])
    ld = G.leiden(e, levels=3, rounds=4)
    labmap = {r["id"]: r["community"] for r in ld.collect()}
    _assert_communities_connected(rows, labmap)
    one = G.louvain_local_move(e, rounds=4)
    assert _q(e, ld) >= _q(e, one)
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src VARCHAR, dst VARCHAR)")
    con.executemany("INSERT INTO edges VALUES (?,?)", rows)
    sub = G.leiden_oracle_sql("SELECT src, dst FROM edges",
                              levels=3, rounds=4)
    ora = sorted(tuple(str(v) for v in r) for r in con.execute(
        "SELECT id, lab AS community FROM " + sub + " q").fetchall())
    assert _sorted_rows(ld) == ora


def test_leiden_local_gate_identical_to_distributed(spark, distributed):
    """The louvain local-tail gate inside each leiden move phase must
    not change output: gated run ≡ distributed run, weighted and
    unweighted."""
    import random

    random.seed(41)
    rows = [(f"n{random.randrange(30)}", f"n{random.randrange(30)}",
             float(random.randint(1, 3))) for _ in range(100)]
    e = spark.createDataFrame(rows, "src string, dst string, w double")
    for wc in (None, "w"):
        src = e if wc else e.select("src", "dst")
        gated = _sorted_rows(G.leiden(src, levels=2, rounds=3,
                                      weight_col=wc))
        with distributed():
            dist = _sorted_rows(G.leiden(src, levels=2, rounds=3,
                                         weight_col=wc))
        assert gated == dist
    # init-labels refinement mode through both paths
    init = spark.createDataFrame(
        [(f"n{i}", f"P{i % 4}") for i in range(30)], ["id", "lab"])
    gated = _sorted_rows(G.leiden(e.select("src", "dst"), levels=2,
                                  rounds=3, init_labels=init))
    with distributed():
        dist = _sorted_rows(G.leiden(e.select("src", "dst"), levels=2,
                                     rounds=3, init_labels=init))
    assert gated == dist


# --------------------------------------------- weighted_pagerank rewrite


def test_weighted_pagerank_single_scan_semantics(spark):
    """The r13 one-scan groupBy rewrite keeps the ADVICE r11 contract:
    weight-dropped nodes stay in the universe as dangling with
    baseline rank, parallel edges weight-sum, non-positive/NULL
    weights drop."""
    rows = [("a", "b", 2.0), ("a", "b", 3.0),  # parallel → 5.0
            ("b", "a", 1.0),
            ("x", "y", -4.0), ("x", "y", None)]  # fully dropped pair
    schema = "src string, dst string, weight double"
    e = spark.createDataFrame(rows, schema)
    out = {r["id"]: r["rank"] for r in
           G.weighted_pagerank(e, iterations=3).collect()}
    assert set(out) == {"a", "b", "x", "y"}
    # x/y have no surviving edges: both dangle at the same rank
    assert out["x"] == out["y"]
    assert abs(sum(out.values()) - 1.0) < 1e-12
    # a↔b dominate the mass; their ranks exceed the dangling pair's
    assert min(out["a"], out["b"]) > out["x"]


def test_mmr_distributed_greedy_identical_to_driver_path(spark,
                                                        distributed):
    """VERDICT r12 #2's done-criterion: the per-query applyInPandas
    greedy (forced by a local-tail cap of 0) is output-identical to
    the bounded driver fast path — same _mmr_select, same 6-dp scores,
    same smallest-id tie-break — and no n_queries ceiling exists: the
    distributed route takes every query."""
    import random

    from census_data_pipeline_spark.functions.similarity import mmr_rerank

    random.seed(31)
    emb = spark.createDataFrame(
        [(f"v{i:03d}", [random.gauss(0, 1) for _ in range(8)])
         for i in range(60)],
        "vec_id string, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(f"q{i}", [random.gauss(0, 1) for _ in range(8)])
         for i in range(5)],
        "vec_id string, embedding array<double>",
    )
    driver = _sorted_rows(mmr_rerank(emb, q, k=4, n_candidates=8,
                                     lam=0.6))
    with distributed():
        dist = _sorted_rows(mmr_rerank(emb, q, k=4, n_candidates=8,
                                       lam=0.6))
    assert driver == dist
    assert len(driver) == 5 * 4


def test_mmr_candidate_modes(spark):
    """candidates='ivf_seeded' routes through the cell-restricted
    candidate pull: same output contract, same rank-1-is-best-qsim
    property, and an unknown mode raises."""
    import random

    from census_data_pipeline_spark.functions.similarity import mmr_rerank

    random.seed(47)
    emb = spark.createDataFrame(
        [(i, [random.gauss(0, 1) for _ in range(8)]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter(F.col("vec_id") % 40 == 0)
    out = mmr_rerank(emb, q, k=3, n_candidates=6,
                     candidates="ivf_seeded", n_centroids=4, n_probes=2)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 40}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        # rank 1 is pure relevance: max qsim among the picks
        assert rs[0]["qsim"] == max(r["qsim"] for r in rs)
    with pytest.raises(ValueError):
        mmr_rerank(emb, q, k=3, n_candidates=6, candidates="nope")


def test_weighted_pagerank_mixed_sign_parallel_edges(spark):
    """A pair with BOTH a positive and a non-positive parallel edge
    keeps only the positive mass (the conditional-sum replication of
    filter-then-sum)."""
    rows = [("u", "v", 4.0), ("u", "v", -1.0), ("v", "u", 4.0)]
    e = spark.createDataFrame(rows, "src string, dst string, weight double")
    pos_only = spark.createDataFrame(
        [("u", "v", 4.0), ("v", "u", 4.0)],
        "src string, dst string, weight double")
    got = _sorted_rows(G.weighted_pagerank(e, iterations=3))
    want = _sorted_rows(G.weighted_pagerank(pos_only, iterations=3))
    assert got == want
