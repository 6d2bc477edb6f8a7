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


def _duck_table(rows, schema: str):
    """A DuckDB connection holding ``rows`` as table ``t`` (``schema`` is
    a DuckDB column list)."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema})")
    marks = ", ".join("?" for _ in rows[0])
    con.executemany(f"INSERT INTO t VALUES ({marks})", rows)
    return con


def _r9(row):
    return tuple(round(v, 9) if isinstance(v, float) else v for v in row)


def test_tree_route_predict_matches_assigned_leaves(spark):
    """The literal-CASE router must land every TRAIN row on a leaf the
    builder created: routed predictions reproduce the tree frame's own
    leaf bookkeeping — per predicted class, the row count and positive
    count are the summed n/pos of the leaves with that predict, and the
    error count is the summed leaf minority."""
    rows = [(float(i), float((i * 7) % 5), 1 if i % 3 == 0 else 0)
            for i in range(60)]
    df = spark.createDataFrame(rows, "x double, y double, lab int")
    tree_rows, pym = classify._decision_tree_build_multi(
        df, "lab", [(F.lit(True), ["x", "y"])], bins=4, depth=2
    )[0]
    tree = classify._tree_frame_from_rows(spark, tree_rows).collect()
    leaves = [r for r in tree if r["kind"] == "leaf"]
    assert {r["node"]: r["predict"] for r in leaves} == pym["leaves"]
    routed = df.select(
        "lab",
        classify._tree_route_predict(["x", "y"], 4, pym).alias("p"),
    ).collect()
    total = sum(r["n"] for r in tree if r["node"] == 1)
    assert len(routed) == 60 and total == 60
    for cls in (0, 1):
        got = [r["lab"] for r in routed if r["p"] == cls]
        want = [r for r in leaves if r["predict"] == cls]
        assert len(got) == sum(r["n"] for r in want)
        assert sum(got) == sum(r["pos"] for r in want)
    errs_tree = sum(min(r["pos"], r["n"] - r["pos"]) for r in leaves)
    assert sum(r["p"] != r["lab"] for r in routed) == errs_tree


def test_multi_build_matches_single_build(spark):
    """Each tree of a fused k-slice _decision_tree_build_multi run must
    equal, on that slice's rows, both a one-spec build on the filtered
    frame (payload and node rows) and decision_tree_oracle_sql run in
    DuckDB (node rows) — the fused-CV equivalence claim. Features are
    not named ``y``: the oracle's CTEs use it for the label."""
    rows = [
        (i % 4, float(i), float((i * 13) % 11), 1 if i % 2 == 0 else 0)
        for i in range(80)
    ]
    prep = spark.createDataFrame(
        rows, "fold int, x1 double, x2 double, lab int"
    ).persist()
    prep.count()
    names = ["x1", "x2"]
    specs = [(F.col("fold") != F.lit(f), names) for f in range(4)]
    built = classify._decision_tree_build_multi(
        prep, "lab", specs, bins=4, depth=2
    )
    con = _duck_table(rows, "fold INTEGER, x1 DOUBLE, x2 DOUBLE, lab INTEGER")
    for f in range(4):
        sub = prep.filter(F.col("fold") != F.lit(f))
        one = classify._decision_tree_build_multi(
            sub, "lab", [(F.lit(True), names)], bins=4, depth=2
        )[0]
        assert built[f] == one
        got = sorted(
            _r9(tuple(r))
            for r in classify._tree_frame_from_rows(spark, built[f][0])
            .collect()
        )
        want = sorted(
            _r9(r) for r in con.execute(classify.decision_tree_oracle_sql(
                f"(SELECT * FROM t WHERE fold <> {f})", "lab",
                [(n, n) for n in names], bins=4, depth=2,
            )).fetchall()
        )
        assert got == want
    prep.unpersist()


def test_logreg_fit_multi_matches_single_fit(spark):
    """Each model of a fused k-slice _logreg_fit_multi run must equal,
    on that slice's rows, a one-spec fit on the filtered frame exactly,
    and logreg_oracle_sql's unrolled GD in DuckDB: the standardization
    means/stds of its ``st`` CTE exactly, the final weights to one 6-dp
    step. Spark's round() is HALF_UP on the double's shortest decimal,
    DuckDB's scales by 10^6 first, so an update just off a half tie
    (fold 2, round 4 here: -3e-05 - 0.5·4.9e-05 is the double
    -5.4499999999999997e-05, which scales to exactly -54.5) rounds one
    step apart on the two engines."""
    rows = [
        (i % 3, float(i % 7), float((i * 5) % 9),
         1.0 if (i * 11) % 4 == 0 else 0.0)
        for i in range(90)
    ]
    prep = spark.createDataFrame(
        rows, "fold int, x1 double, x2 double, lab double"
    ).persist()
    prep.count()
    names = ["x1", "x2"]
    conds = [F.col("fold") != F.lit(f) for f in range(3)]
    models = classify._logreg_fit_multi(
        prep, "lab", names, conds, iterations=4, lr=0.5
    )
    con = _duck_table(rows, "fold INTEGER, x1 DOUBLE, x2 DOUBLE, lab DOUBLE")
    feats_sql = [(n, n) for n in names]
    for f in range(3):
        sub = prep.filter(F.col("fold") != F.lit(f))
        one = classify._logreg_fit_multi(
            sub, "lab", names, [F.lit(True)], iterations=4, lr=0.5
        )[0]
        assert models[f] == one
        table = f"(SELECT * FROM t WHERE fold <> {f})"
        weights = {
            feat: w for feat, w, _acc in con.execute(
                classify.logreg_oracle_sql(table, "lab", feats_sql, 4, 0.5)
            ).fetchall()
        }
        step = 1e-6 + 1e-12
        assert abs(models[f]["wb"] - weights["bias"]) <= step
        ctes, _prev, _marg, _names = classify._logreg_oracle_parts(
            table, "lab", feats_sql, 4, 0.5
        )
        st = con.execute(
            "WITH " + ",\n    ".join(ctes) + "\n    SELECT * FROM st"
        ).fetchone()
        for j, n in enumerate(names):
            assert abs(models[f]["wf"][n] - weights[n]) <= step
            assert models[f]["m"][n] == st[2 * j]
            assert models[f]["s"][n] == st[2 * j + 1]
    prep.unpersist()
