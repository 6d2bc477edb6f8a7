"""Round-14 optimization tests: the ADVICE r13 markov degenerate-chain
fix, the dup_clusters bounded local tail, and the fused classifier
builds' equivalence hooks (the full value-level equivalence is pinned by
tests/test_oracle_parity.py over the quality_* queries)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions import classify, dedup
from census_data_pipeline_spark.operators import rollup


def _events(spark, seq):
    base = dt.datetime(2031, 1, 1)
    rows = [
        ("u1", base + dt.timedelta(hours=i), t, i)
        for i, t in enumerate(seq)
    ]
    return spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_type string, ord long"
    )


def test_markov_stationary_sink_only_source_does_not_crash(spark):
    """ADVICE r13 (medium): bigrams a->b, b->c make b a source whose
    every out-edge targets a non-source — the old local coding over
    pm's surviving sources mapped target b out of bounds. The chain's
    mass all drains (renormalized pm = {a->b}; after round 1 only b
    holds mass, and b is never a target of a surviving row), so BOTH
    engines converge to the empty frame."""
    df = _events(spark, ["a", "b", "c"])
    out = rollup.markov_stationary(
        df, "ts", "user_id", "event_type", "ord", iterations=30
    )
    assert out.count() == 0


def test_markov_stationary_cycle_hand_computed(spark):
    """a->b, b->a, a->c: c is sink-only, so the kept chain renormalizes
    to a->b (p=1), b->a (p=1); the uniform start r6(1/2) = 0.5 is a
    fixpoint. Empirical: a 2/4, b 1/4."""
    df = _events(spark, ["a", "b", "a", "c"])
    out = rollup.markov_stationary(
        df, "ts", "user_id", "event_type", "ord", iterations=30
    )
    rows = {r["event_type"]: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    assert rows["a"]["stationary_prob"] == pytest.approx(0.5, abs=1e-9)
    assert rows["b"]["stationary_prob"] == pytest.approx(0.5, abs=1e-9)
    assert rows["a"]["empirical_prob"] == pytest.approx(0.5, abs=1e-9)
    assert rows["b"]["empirical_prob"] == pytest.approx(0.25, abs=1e-9)


def test_dup_clusters_local_tail_matches_distributed(spark, distributed):
    """The r14 bounded local tail must return the identical
    (doc_id, cluster_id) multiset as the distributed min-label loop
    (forced with ``catalog.LOCAL_TAIL_ROWS`` at 0) — including a long path component
    (propagation depth) and a singleton pair."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)] + [(100, 101)],
        "id_a long, id_b long",
    )
    local = dedup.dup_clusters(pairs)
    with distributed():
        dist = dedup.dup_clusters(pairs)
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, dist.collect())
    )
    # the path 1..12 collapses to min id 1; the pair to 100
    got = dict(map(tuple, local.collect()))
    assert got[12] == 1 and got[101] == 100


def test_tree_route_predict_matches_assigned_leaves(spark):
    """The literal-CASE router must land every TRAIN row on the same
    leaf predict the builder's own assigned frame implies (routing the
    training rows through the model is the identity the join-chain
    replay guaranteed by construction)."""
    rows = [(float(i), float((i * 7) % 5), 1 if i % 3 == 0 else 0)
            for i in range(60)]
    df = spark.createDataFrame(rows, "x double, y double, lab int")
    feats = [("x", F.col("x")), ("y", F.col("y"))]
    tree, assigned, _st, _wl, pym = classify._decision_tree_build(
        df, F.col("lab"), feats, bins=4, depth=2
    )
    # leaf predicts from the model frame
    leaf_pred = {
        r["node"]: r["predict"]
        for r in tree.filter(F.col("kind") == "leaf").collect()
    }
    assert leaf_pred == pym["leaves"]
    routed = df.select(
        "lab",
        classify._tree_route_predict(["x", "y"], 4, pym).alias("p"),
    )
    # every routed prediction is a valid leaf predict and the overall
    # error count matches the tree frame's own n/pos bookkeeping
    total = sum(r["n"] for r in tree.collect() if r["node"] == 1)
    assert routed.count() == 60 and total == 60
    errs_tree = sum(
        min(r["pos"], r["n"] - r["pos"])
        for r in tree.filter(F.col("kind") == "leaf").collect()
    )
    errs_routed = routed.filter(F.col("p") != F.col("lab")).count()
    assert errs_routed == errs_tree


def test_multi_build_matches_single_build(spark):
    """_decision_tree_build_multi on k conditional slices must produce
    the IDENTICAL tree rows as k independent _decision_tree_build runs
    on the filtered frames (the fused-CV equivalence claim)."""
    rows = [
        (i % 4, float(i), float((i * 13) % 11), 1 if i % 2 == 0 else 0)
        for i in range(80)
    ]
    prep = spark.createDataFrame(
        rows, "fold int, x double, y double, lab int"
    ).persist()
    prep.count()
    names = ["x", "y"]
    specs = [(F.col("fold") != F.lit(f), names) for f in range(4)]
    built = classify._decision_tree_build_multi(
        prep, "lab", specs, bins=4, depth=2
    )
    for f in range(4):
        sub = prep.filter(F.col("fold") != F.lit(f))
        tree, _a, _st, _wl, pym = classify._decision_tree_build(
            sub, F.col("lab"), [(n, F.col(n)) for n in names],
            bins=4, depth=2, keep_assigned=False,
        )
        assert built[f][1]["leaves"] == pym["leaves"]
        assert built[f][1]["levels"] == pym["levels"]
        assert built[f][1]["mn"] == pym["mn"]
        assert built[f][1]["wd"] == pym["wd"]
    prep.unpersist()


def test_logreg_fit_multi_matches_single_fit(spark):
    """_logreg_fit_multi's per-model weights must equal the independent
    _logreg_fit trajectories on the filtered frames."""
    rows = [
        (i % 3, float(i % 7), float((i * 5) % 9),
         1.0 if (i * 11) % 4 == 0 else 0.0)
        for i in range(90)
    ]
    prep = spark.createDataFrame(
        rows, "fold int, x double, y double, lab double"
    ).persist()
    prep.count()
    names = ["x", "y"]
    conds = [F.col("fold") != F.lit(f) for f in range(3)]
    models = classify._logreg_fit_multi(
        prep, "lab", names, conds, iterations=4, lr=0.5
    )
    for f in range(3):
        sub = prep.filter(F.col("fold") != F.lit(f))
        _z, w, _n, _m, st = classify._logreg_fit(
            sub, F.col("lab"), [(n, F.col(n)) for n in names], 4, 0.5
        )
        wrow = w.collect()[0]
        strow = st.collect()[0]
        assert models[f]["wb"] == wrow["__b"]
        for n in names:
            assert models[f]["wf"][n] == wrow[f"__w_{n}"]
            assert models[f]["m"][n] == strow[f"__m_{n}"]
            assert models[f]["s"][n] == strow[f"__s_{n}"]
    prep.unpersist()
