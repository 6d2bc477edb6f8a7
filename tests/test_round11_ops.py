"""Round-11 regression tests: the four ADVICE r10 hardening fixes
(sentinel-collision guard in Markov attribution, bootstrap empty-arm
row preservation, markov_stationary NULL hygiene, SQ8 mse precision).
New r11 operators get their own sections below as they land.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.operators.attribution import (
    markov_attribution_oracle_sql,
    markov_removal_attribution,
)
from census_data_pipeline_spark.operators.rollup import (
    bootstrap_mean_diff,
    bootstrap_mean_diff_oracle_sql,
    markov_stationary,
    markov_stationary_oracle_sql,
)


def _string_parity(spark_df, con, oracle_sql):
    srows = sorted(
        tuple(str(v) for v in r) for r in spark_df.collect()
    )
    orows = sorted(
        tuple(str(v) for v in r)
        for r in con.execute(oracle_sql).fetchall()
    )
    assert srows == orows, f"\nspark  {srows}\noracle {orows}"


def _ts(minute):
    return dt.datetime(2024, 1, 1, 10, minute)


# --- sentinel-collision guard (ADVICE r10 #1) -------------------------------


def test_markov_removal_sentinel_type_names(spark):
    """Event types literally named 'null', 'conv', and 'start' must
    behave as ordinary channels, not merge with the synthetic
    source/absorbing states: with identical symmetric journeys
    ('null' -> purchase, 'start' -> purchase, 'conv' -> no purchase
    twice over) the two converting channels split credit evenly."""
    rows = []
    uid = 0
    for ch, converts in [("null", True), ("start", True),
                         ("conv", False), ("conv", False)]:
        rows.append((uid, _ts(0), 2 * uid, ch))
        if converts:
            rows.append((uid, _ts(1), 2 * uid + 1, "purchase"))
        uid += 1
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "event_type string"
    )
    out = markov_removal_attribution(
        df, "ts", "user_id", "event_type", "event_id", "purchase"
    )
    got = {r.channel: r for r in out.collect()}
    assert set(got) == {"null", "start", "conv"}
    assert got["null"].attribution_share == pytest.approx(0.5, abs=1e-6)
    assert got["start"].attribution_share == pytest.approx(0.5, abs=1e-6)
    assert got["conv"].removal_effect == pytest.approx(0.0, abs=1e-6)

    con = duckdb.connect()
    con.register("mrs_ev", pd.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "event_type"]
    ))
    _string_parity(out, con, markov_attribution_oracle_sql(
        "mrs_ev", "ts", "user_id", "event_type", "event_id", "purchase"
    ))
    con.close()


# --- bootstrap empty-arm row preservation (ADVICE r10 #2) -------------------


def test_bootstrap_empty_arm_keeps_diagnostics_row(spark):
    """One cohort arm empty -> n_boot_effective = 0 must still emit
    ONE row carrying n_a/n_b with NULL CI, not collapse to zero rows."""
    rows = [(f"a{i}", True, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "id string, c boolean, v double")
    out = bootstrap_mean_diff(df, "id", F.col("c"), "v", n_boot=20)
    got = out.collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_a == 5 and r.n_b == 0
    assert r.ci_lo is None and r.ci_hi is None
    assert r.n_boot_effective == 0

    con = duckdb.connect()
    con.register("bse_t", pd.DataFrame(rows, columns=["id", "c", "v"]))
    _string_parity(out, con, bootstrap_mean_diff_oracle_sql(
        "bse_t", "id", "c", "v", n_boot=20
    ))
    con.close()


# --- markov_stationary NULL hygiene (ADVICE r10 #3) -------------------------


def test_markov_stationary_null_types_dropped(spark):
    """NULL event types must not splinter bigrams, seed a phantom
    NULL state, or leak initial mass: stationary_prob still sums to 1
    and parity with the (same-filtered) oracle holds."""
    rows = [
        (1, _ts(0), 0, "a"), (1, _ts(1), 1, None),
        (1, _ts(2), 2, "b"), (1, _ts(3), 3, "a"),
        (2, _ts(0), 4, "b"), (2, _ts(1), 5, "a"),
        (2, _ts(2), 6, "b"), (2, _ts(3), 7, None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, "
              "event_type string"
    )
    out = markov_stationary(df, "ts", "user_id", "event_type",
                            "event_id")
    got = out.collect()
    assert {r.event_type for r in got} == {"a", "b"}
    assert sum(r.stationary_prob for r in got) == pytest.approx(
        1.0, abs=1e-5
    )

    con = duckdb.connect()
    con.register("mkn_ev", pd.DataFrame(
        rows, columns=["user_id", "ts", "event_id", "event_type"]
    ))
    _string_parity(out, con, markov_stationary_oracle_sql(
        "mkn_ev", "ts", "user_id", "event_type", "event_id"
    ))
    con.close()


# --- SQ8 mse precision (ADVICE r10 #4) --------------------------------------


def test_sq8_mse_retains_signal_at_12dp(spark):
    """A unit-range uniform grid's mse ≈ step²/12 ≈ 1.28e-6 must come
    back with real significant digits, not round to 1e-6 or 0."""
    import math

    from census_data_pipeline_spark.functions.similarity import (
        quantize_sq8,
    )

    rows = [(i, [i / 999.0]) for i in range(1000)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    r = quantize_sq8(df, "embedding").collect()[0]
    expected = (1.0 / 255.0) ** 2 / 12.0
    assert r.mse == pytest.approx(expected, rel=0.2)
    # 6-dp rounding would have produced exactly 1e-6 or 0.0
    assert r.mse not in (0.0, 1e-6)


# --- coreness bounded local tail (VERDICT r10 #2) ----------------------------


def test_coreness_local_tail_equals_distributed(spark, distributed):
    """The bounded driver-local tail must be invisible in the output:
    same (id, coreness) multiset as the all-distributed peel on a
    seeded random graph (tail triggers immediately at this size)."""
    import random

    from census_data_pipeline_spark.functions.graph import coreness

    random.seed(7)
    edges = set()
    for _ in range(400):
        a, b = random.randrange(120), random.randrange(120)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    df = spark.createDataFrame(sorted(edges), "src string, dst string")
    with_tail = sorted(
        (r.id, r.coreness) for r in coreness(df).collect()
    )
    with distributed():
        pure = sorted((r.id, r.coreness) for r in coreness(df).collect())
    assert with_tail == pure and len(pure) > 100


def test_coreness_tail_switch_mid_peel(spark, monkeypatch, distributed):
    """Force the switch to happen AFTER some distributed rounds (cap
    sized between the full graph and the residue) — the k floor must
    carry over: a path pendant chain (core 1) hanging off a K5
    (core 4) peels the chain distributed, the clique locally."""
    from census_data_pipeline_spark.functions import graph
    from census_data_pipeline_spark.functions.graph import coreness

    k5 = [(f"k{i}", f"k{j}") for i in range(5) for j in range(i + 1, 5)]
    chain = [("k0", "p0")] + [(f"p{i}", f"p{i+1}") for i in range(30)]
    df = spark.createDataFrame(k5 + chain, "src string, dst string")
    from census_data_pipeline_spark.sources import catalog

    # The entry gate sees 2 * 41 raw edges > 60, and the first round's
    # n + sum_deg is 36 nodes + 82 > 60, so a cap of 60 keeps the first
    # rounds distributed until the chain has peeled down under it.
    with distributed():
        want = {r.id: r.coreness for r in coreness(df).collect()}
    monkeypatch.setattr(catalog, "LOCAL_TAIL_ROWS", 60)
    gate, levels = [], []
    peel = graph._coreness_peel

    def gate_spy(*args, **kwargs):
        gate.append(catalog.local_tail(*args, **kwargs))
        return gate[-1]

    def peel_spy(like, ids, es, ed, k):
        levels.append(k)
        return peel(like, ids, es, ed, k)

    monkeypatch.setattr(graph, "local_tail", gate_spy)
    monkeypatch.setattr(graph, "_coreness_peel", peel_spy)
    got = {r.id: r.coreness for r in coreness(df).collect()}
    assert gate == [None]  # the entry gate rejects the input
    assert len(levels) == 1 and levels[0] > 1  # handed off mid-peel
    assert got == want
    assert got["k1"] == 4 and got["p5"] == 1


# --- r11 weighted graph tier -------------------------------------------------


def test_weighted_pagerank_follows_weights(spark):
    """Rank must flow with edge weight: a->b carries 9x a->c, so b
    outranks c; ranks still sum to 1 (dangling redistribution)."""
    from census_data_pipeline_spark.functions.graph import (
        weighted_pagerank,
    )

    rows = [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0),
            ("c", "a", 1.0)]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    got = {r.id: r.rank for r in
           weighted_pagerank(df, "w", iterations=10).collect()}
    assert got["b"] > got["c"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_weighted_pagerank_drops_nonpositive_and_sums_parallel(spark):
    """Parallel edges weight-sum; zero/negative/NULL weights drop (a
    node left with no out-edge becomes dangling, not a crash)."""
    from census_data_pipeline_spark.functions.graph import (
        weighted_pagerank,
    )

    rows = [("a", "b", 2.0), ("a", "b", 3.0), ("b", "a", -1.0),
            ("b", "c", 0.0), ("b", "a", None), ("c", "a", 1.0)]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    got = {r.id: r.rank for r in
           weighted_pagerank(df, "w", iterations=5).collect()}
    assert set(got) == {"a", "b", "c"}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_weighted_distances_prefers_light_two_hop_path(spark):
    """A 2-edge path of total weight 3 must beat the direct weight-10
    edge once enough relaxation rounds run."""
    from census_data_pipeline_spark.functions.graph import (
        weighted_distances,
    )

    rows = [("s", "a", 10.0), ("s", "b", 1.0), ("b", "a", 2.0)]
    df = spark.createDataFrame(rows, "src string, dst string, w double")
    seeds = spark.createDataFrame([("s",)], "id string")
    one = {r.id: r.dist for r in
           weighted_distances(df, seeds, "w", rounds=1).collect()}
    assert one["a"] == 10.0  # only the direct edge after one round
    two = {r.id: r.dist for r in
           weighted_distances(df, seeds, "w", rounds=2).collect()}
    assert two["a"] == 3.0 and two["b"] == 1.0 and two["s"] == 0.0


def test_louvain_recovers_planted_cliques_and_matches_oracle(spark):
    """Two K4s joined by one bridge: from-singleton local moves must
    recover exactly the two cliques (Q = 0.423), and the unrolled
    DuckDB oracle must replay the identical trajectory."""
    from census_data_pipeline_spark.functions.graph import (
        louvain_labels_oracle_sql,
        louvain_local_move,
        modularity,
        modularity_oracle_sql,
    )

    k4a = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    k4b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = k4a + k4b + [("a0", "b0")]
    df = spark.createDataFrame(edges, "src string, dst string")
    lab = louvain_local_move(df, rounds=6)
    coms = {r.id: r.community for r in lab.collect()}
    assert len({coms[f"a{i}"] for i in range(4)}) == 1
    assert len({coms[f"b{i}"] for i in range(4)}) == 1
    assert coms["a0"] != coms["b0"]
    mod = modularity(df, lab, label_col="community")
    mrows = sorted(tuple(str(v) for v in r) for r in mod.collect())

    con = duckdb.connect()
    con.register("lv_e", pd.DataFrame(edges, columns=["src", "dst"]))
    osql = modularity_oracle_sql(
        "SELECT src, dst FROM lv_e",
        louvain_labels_oracle_sql("SELECT src, dst FROM lv_e", rounds=6),
    )
    orows = sorted(tuple(str(v) for v in r)
                   for r in con.execute(osql).fetchall())
    con.close()
    assert mrows == orows


def test_louvain_q_monotone_over_lpa_init(spark):
    """The disjoint-move rule makes Q non-decreasing, so refining any
    init can never score below it — checked on a seeded random graph
    with an LPA init."""
    import random

    from census_data_pipeline_spark.functions.graph import (
        label_propagation,
        louvain_local_move,
        modularity,
    )

    random.seed(11)
    edges = set()
    for _ in range(300):
        a, b = random.randrange(60), random.randrange(60)
        if a != b:
            edges.add((f"n{a}", f"n{b}"))
    df = spark.createDataFrame(sorted(edges), "src string, dst string")

    def q_of(labels):
        rows = modularity(df, labels, label_col="community").collect()
        return [r for r in rows if r.community == "<all>"][0].q_contrib

    lpa = label_propagation(df, iterations=3)
    q0 = q_of(lpa)
    q1 = q_of(louvain_local_move(df, rounds=4, init_labels=lpa))
    assert q1 >= q0


def test_hits_bipartite_roles_and_ordering(spark):
    """On a directed bipartite graph hubs and authorities separate
    exactly (sources have authority 0, sinks hub 0), and the supplier
    bought by more/better hubs out-scores the one-buyer supplier."""
    from census_data_pipeline_spark.functions.graph import hits_scores

    rows = [("c1", "s1"), ("c1", "s2"), ("c2", "s1"), ("c3", "s1")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r.id: r for r in hits_scores(df, iterations=5).collect()}
    for c in ("c1", "c2", "c3"):
        assert got[c].authority == 0.0 and got[c].hub > 0
    for s in ("s1", "s2"):
        assert got[s].hub == 0.0 and got[s].authority > 0
    assert got["s1"].authority > got["s2"].authority
    assert got["c1"].hub > got["c2"].hub  # buys from both
    # L2 norms: hub and authority vectors are each unit length
    h2 = sum(r.hub ** 2 for r in got.values())
    a2 = sum(r.authority ** 2 for r in got.values())
    assert h2 == pytest.approx(1.0, abs=1e-9)
    assert a2 == pytest.approx(1.0, abs=1e-9)


# --- BH-FDR multiple-comparisons layer ---------------------------------------


def test_bh_fdr_textbook_example(spark):
    """Classic worked example: m=8, alpha=0.05 — step-up rejects
    exactly the two smallest p-values, and the monotone q-values match
    hand arithmetic."""
    from census_data_pipeline_spark.operators.rollup import bh_fdr

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.24, 0.6]
    rows = [(f"h{i}", p) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "hyp string, p_value double")
    got = {r.hyp: r for r in
           bh_fdr(df, "p_value", ["hyp"], alpha=0.05).collect()}
    assert [got[f"h{i}"].reject for i in range(8)] == (
        [True, True] + [False] * 6
    )
    assert got["h0"].q_value == pytest.approx(0.008, abs=1e-9)
    assert got["h1"].q_value == pytest.approx(0.032, abs=1e-9)
    assert got["h2"].q_value == pytest.approx(0.0672, abs=1e-9)
    assert got["h7"].q_value == pytest.approx(0.6, abs=1e-9)
    # NULL p rows are not hypotheses
    df2 = df.unionByName(
        spark.createDataFrame([("hx", None)], "hyp string, p_value double")
    )
    assert bh_fdr(df2, "p_value", ["hyp"]).count() == 8


def test_normal_two_sided_p_matches_reference_points(spark):
    """The Abramowitz-Stegun polynomial hits the standard table:
    p(1.959964) = 0.05, p(2.575829) = 0.01, p(0) = 1."""
    from census_data_pipeline_spark.operators.rollup import (
        normal_two_sided_p,
    )

    df = spark.createDataFrame(
        [(1.959964,), (2.575829,), (0.0,), (-1.959964,)], "t double"
    )
    got = [r.p for r in df.select(
        normal_two_sided_p(F.col("t")).alias("p")).collect()]
    assert got[0] == pytest.approx(0.05, abs=2e-5)
    assert got[1] == pytest.approx(0.01, abs=2e-5)
    assert got[2] == pytest.approx(1.0, abs=2e-5)
    assert got[3] == got[0]  # symmetric in |t|


# --- truncation recall audit -------------------------------------------------


def test_truncation_recall_signal_prefix_holds(spark):
    """Vectors whose information lives entirely in the FIRST half must
    keep recall 1.0 when truncated to that half; full-dim 'truncation'
    is the identity check."""
    import random

    from census_data_pipeline_spark.functions.similarity import (
        truncation_recall,
    )

    random.seed(5)
    rows = [(i, [random.uniform(-1, 1) for _ in range(4)] + [0.0] * 4)
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = truncation_recall(
        df, F.col("vec_id") % 10 == 0, dims=(8, 4), k=5
    ).collect()
    by_dim = {}
    for r in got:
        by_dim.setdefault(r.dim, []).append(r.recall_at_k)
    assert all(v == 1.0 for v in by_dim[8])
    assert all(v == 1.0 for v in by_dim[4])
