"""The one local-tail gate (``catalog.local_tail``) and differential
tests of every gated operator: each one runs twice on the same input,
once with the default ``catalog.LOCAL_TAIL_ROWS`` (the driver-local
numpy replay fires at this size) and once with it at 0 (the distributed
rounds), and the two outputs must match — exactly, except the three
float power iterations (pagerank, HITS, weighted pagerank), whose
per-node sums accumulate in a different order and must match at 6 dp,
the rounding every query applies to them.

Inputs: one small adversarial edge frame (a self-loop, duplicate edges
in both directions, a 30-node chain, a star hub, an isolated pair and a
non-positive weight) and the same frame empty; the two Markov operators
run through their registry queries at the test lake. The LS booster's
local fit runs against its distributed rounds on small hostile frames.

The gate's own cost is pinned too: one count job and one collect that
reuses the count's shuffle stages, no job at a cap of 0, and no cache
left behind by an operator that returns from its local path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions import classify, dedup
from census_data_pipeline_spark.functions import graph as G
from census_data_pipeline_spark.plans import QUERIES
from census_data_pipeline_spark.sources import catalog

_EDGES = "src string, dst string, w double"


def _adversarial_rows():
    rows = [("loop", "loop", 1.0)]
    rows += [("hub", "d0", 2.0)] * 3 + [("d0", "hub", 1.0)]
    rows += [(f"c{i:02d}", f"c{i + 1:02d}", float(i % 3 + 1))
             for i in range(29)]
    rows += [("hub", f"leaf{i}", 1.0) for i in range(6)]
    rows += [("iso_a", "iso_b", 3.0), ("neg", "hub", -1.0)]
    return rows


@pytest.fixture(scope="module")
def frames(spark):
    """(edges, weighted edges, labels, pairs, seeds) per input. The
    labels are LPA output collected once, so both runs of a case read
    the same literal frame."""
    out = {}
    for name, rows in (("adversarial", _adversarial_rows()), ("empty", [])):
        ew = spark.createDataFrame(rows, _EDGES)
        e = ew.select("src", "dst")
        lpa = G.label_propagation(e, iterations=3)
        lab = spark.createDataFrame(lpa.toPandas(), lpa.schema)
        pairs = e.select(e["src"].alias("id_a"), e["dst"].alias("id_b"))
        seeds = spark.createDataFrame([("c00",), ("hub",)], "id string")
        out[name] = (e, ew, lab, pairs, seeds)
    return out


CASES = {
    "pagerank": lambda e, ew, lab, pairs, seeds: G.pagerank(
        e, iterations=2, broadcast_ranks=True),
    "hits": lambda e, ew, lab, pairs, seeds: G.hits_scores(
        e, iterations=2, broadcast_scores=True),
    "weighted_pagerank": lambda e, ew, lab, pairs, seeds: (
        G.weighted_pagerank(ew, weight_col="w", iterations=2)),
    "components": lambda e, ew, lab, pairs, seeds: (
        G.connected_components(e)),
    "label_propagation": lambda e, ew, lab, pairs, seeds: (
        G.label_propagation(e, iterations=2, broadcast_labels=True)),
    "lpa_weighted": lambda e, ew, lab, pairs, seeds: G.label_propagation(
        ew, iterations=2, weight_col="w"),
    "louvain_move": lambda e, ew, lab, pairs, seeds: G.louvain_local_move(
        e, rounds=1, init_labels=lab),
    "louvain_multilevel": lambda e, ew, lab, pairs, seeds: (
        G.louvain_multilevel(ew, levels=2, rounds=1, weight_col="w")),
    "leiden": lambda e, ew, lab, pairs, seeds: G.leiden(
        e, levels=2, rounds=1),
    "modularity": lambda e, ew, lab, pairs, seeds: G.modularity(e, lab),
    "conductance": lambda e, ew, lab, pairs, seeds: G.conductance(
        ew, lab, weight_col="w"),
    "coreness": lambda e, ew, lab, pairs, seeds: G.coreness(e),
    "weighted_distances": lambda e, ew, lab, pairs, seeds: (
        G.weighted_distances(ew, seeds, weight_col="w", rounds=2)),
    "dup_clusters_label": lambda e, ew, lab, pairs, seeds: (
        dedup.dup_clusters(pairs)),
    "dup_clusters_star": lambda e, ew, lab, pairs, seeds: (
        dedup.dup_clusters(pairs, algorithm="star")),
}

FLOAT_TAILS = {"pagerank", "hits", "weighted_pagerank"}


def _rows(df, dp=None):
    rows = [tuple(r) for r in df.collect()]
    if dp is not None:
        rows = [tuple(round(v, dp) if isinstance(v, float) else v
                      for v in r) for r in rows]
    return sorted(rows, key=repr)


@pytest.mark.parametrize("frame", ["adversarial", "empty"])
@pytest.mark.parametrize("case", list(CASES))
def test_gated_operator_matches_distributed(frames, distributed, case,
                                            frame):
    dp = 6 if case in FLOAT_TAILS else None
    gated = _rows(CASES[case](*frames[frame]), dp)
    with distributed():
        dist = _rows(CASES[case](*frames[frame]), dp)
    assert gated == dist
    if frame == "adversarial":
        assert gated  # the input really reaches the output


@pytest.mark.parametrize(
    "name", ["events_markov_stationary", "events_markov_attribution"])
def test_markov_query_matches_distributed(spark, sf_dir, distributed,
                                          name):
    gated = _rows(QUERIES[name](spark, sf_dir))
    with distributed():
        dist = _rows(QUERIES[name](spark, sf_dir))
    assert gated == dist and gated


_CORENESS_INPUTS = {
    # a node whose only edge is a self-loop has no coreness row
    "self_loop_only": ([("solo", "solo"), ("a", "b"), ("b", "c"),
                        ("c", "a"), ("a", "a")], "string"),
    "duplicates_both_ways": ([("a", "b")] * 3 + [("b", "a")] * 2
                             + [("b", "c"), ("c", "b"), ("c", "a"),
                                ("a", "d")], "string"),
    # ids beyond 2^31 must come back as bigint on both paths
    "bigint_ids": ([(2**40 + i, 2**40 + j) for i in range(5)
                    for j in range(i + 1, 5)] + [(2**40, 7)], "bigint"),
    "null_endpoint": ([("a", "b"), ("b", "c"), ("c", "a"), ("a", None),
                       (None, "d"), ("d", "a")], "string"),
    "empty": ([], "string"),
}


@pytest.mark.parametrize("case", list(_CORENESS_INPUTS))
def test_coreness_entry_gate_matches_distributed(spark, monkeypatch,
                                                 distributed, case):
    """``coreness`` gates once at entry through ``local_tail``: every
    input under the cap takes the whole numpy peel, a null endpoint
    keeps it distributed, and either way the (id, coreness) frame
    equals the all-distributed peel, id type included."""
    rows, id_type = _CORENESS_INPUTS[case]
    df = spark.createDataFrame(rows, f"src {id_type}, dst {id_type}")
    gate = []

    def spy(*args, **kwargs):
        gate.append(catalog.local_tail(*args, **kwargs))
        return gate[-1]

    monkeypatch.setattr(G, "local_tail", spy)
    got = G.coreness(df)
    assert len(gate) == 1
    assert (gate[0] is None) == (case == "null_endpoint")
    with distributed():
        want = G.coreness(df)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    if case != "empty":
        assert _rows(got)


# ------------------------------------------------------ the gate itself


class _NoJobs:
    """Stands in for a DataFrame that must not run a Spark job."""

    def count(self):
        raise AssertionError("the gate ran a count")

    def toPandas(self):
        raise AssertionError("the gate ran a collect")


@pytest.mark.parametrize("cap", [0, -1])
def test_cap_at_or_below_zero_runs_no_job(monkeypatch, cap):
    monkeypatch.setattr(catalog, "LOCAL_TAIL_ROWS", cap)
    assert catalog.local_tail(_NoJobs(), "src", fanout=2) is None


@pytest.mark.parametrize("fanout", [1, 2])
def test_cap_bounds_fanout_times_count(spark, monkeypatch, fanout):
    df = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                               "src string, dst string")
    monkeypatch.setattr(catalog, "LOCAL_TAIL_ROWS", 3 * fanout - 1)
    assert catalog.local_tail(df, "src", "dst", fanout=fanout) is None
    monkeypatch.setattr(catalog, "LOCAL_TAIL_ROWS", 3 * fanout)
    pdf = catalog.local_tail(df, "src", "dst", fanout=fanout)
    assert sorted(map(tuple, pdf.to_numpy().tolist())) == [
        ("a", "b"), ("b", "c"), ("c", "a")]


def test_null_key_stays_distributed(spark):
    df = spark.createDataFrame([("a", "b", None), ("b", None, 1.0)],
                               "src string, dst string, w double")
    assert catalog.local_tail(df, "src", "dst") is None
    pdf = catalog.local_tail(df.filter("dst IS NOT NULL"), "src", "dst")
    assert len(pdf) == 1  # a null in the non-key ``w`` column is kept
    assert pdf["w"].isna().all()


# ------------------------------------------------- the gate's job count


def _jobs(sc, group, fn):
    """``fn()``'s result and the ids of the Spark jobs it ran."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _stages_run(sc, jobs):
    """Stages of ``jobs`` that ran at least one task (a stage whose
    shuffle output already exists is listed but skipped)."""
    tracker = sc.statusTracker()
    ran = 0
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            ran += info is not None and info.numCompletedTasks > 0
    return ran


def test_gate_costs_one_count_and_one_collect(spark, monkeypatch):
    sc = spark.sparkContext
    df = spark.range(50).select(
        F.concat(F.lit("n"), F.col("id")).alias("src"),
        F.concat(F.lit("n"), F.col("id") + 1).alias("dst"),
    ).persist()
    try:
        pdf, jobs = _jobs(sc, "gate-persisted",
                          lambda: catalog.local_tail(df, "src", "dst"))
        assert len(pdf) == 50 and len(jobs) == 2
        monkeypatch.setattr(catalog, "LOCAL_TAIL_ROWS", 0)
        pdf, jobs = _jobs(sc, "gate-cap-0",
                          lambda: catalog.local_tail(df, "src", "dst"))
        assert pdf is None and jobs == []
    finally:
        df.unpersist()


def test_gate_collect_reruns_no_shuffle_stage(spark, monkeypatch):
    """On an unpersisted join+distinct frame the count runs the shuffle
    stages; the collect of the same object reads their output and runs
    only its result stage."""
    sc = spark.sparkContext
    a = spark.range(400).select((F.col("id") % 37).alias("k"),
                                (F.col("id") % 11).alias("v"))
    b = spark.range(100).select((F.col("id") % 37).alias("k2"),
                                (F.col("id") % 7).alias("w"))
    e = a.join(b, a["k"] == b["k2"]).select(
        F.col("v").cast("string").alias("src"),
        F.col("w").cast("string").alias("dst"),
    ).distinct()
    count = catalog.row_count

    def count_then_collect_group(df):
        n = count(df)
        sc.setJobGroup("gate-collect", "gate-collect")
        return n

    monkeypatch.setattr(catalog, "row_count", count_then_collect_group)
    pdf, count_jobs = _jobs(sc, "gate-count",
                            lambda: catalog.local_tail(e, "src", "dst"))
    collect_jobs = list(sc.statusTracker().getJobIdsForGroup("gate-collect"))
    assert len(pdf) == 77
    assert _stages_run(sc, count_jobs) >= 2  # a shuffle ran
    assert len(collect_jobs) == 1
    assert _stages_run(sc, collect_jobs) == 1


# ------------------------------------------- no cache outlives the gate


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


LOCAL_PATHS = {
    "label_propagation": lambda e, lab, pairs: G.label_propagation(
        e, iterations=2),
    "louvain_local_move": lambda e, lab, pairs: G.louvain_local_move(
        e, rounds=1, init_labels=lab),
    "modularity": lambda e, lab, pairs: G.modularity(e, lab),
    "coreness": lambda e, lab, pairs: G.coreness(e),
    "dup_clusters": lambda e, lab, pairs: dedup.dup_clusters(pairs),
    "boost_fit": lambda e, lab, pairs: classify._boost_fit(
        classify._boost_rows(
            e, F.length("src").cast("double"),
            [("f", F.length("dst"))],
        ),
        ["f"], rounds=2, bins=4,
    )[0],
}


@pytest.mark.parametrize("case", list(LOCAL_PATHS))
def test_local_path_leaves_no_cache(spark, frames, case):
    e, _ew, lab, pairs, _seeds = frames["adversarial"]
    before = _persisted(spark)
    out = LOCAL_PATHS[case](e, lab, pairs)
    assert _persisted(spark) == before
    assert out.collect()


# one operator per way a distributed branch starts from the counted
# frame: persisted projection, persisted eprep, a groupBy'd pair frame,
# a round_materialize, a persisted distinct and a bare checkpoint
REFUSED = ["pagerank", "label_propagation", "coreness", "modularity",
           "louvain_move", "weighted_pagerank", "weighted_distances",
           "dup_clusters_label", "dup_clusters_star"]


@pytest.mark.parametrize("case", REFUSED)
def test_refused_gate_matches_local(frames, monkeypatch, case):
    """A positive cap the input exceeds: the gate's count runs, then the
    distributed rounds start from the same counted frame — and must
    still produce the local result."""
    dp = 6 if case in FLOAT_TAILS else None
    gated = _rows(CASES[case](*frames["adversarial"]), dp)
    with monkeypatch.context() as m:
        m.setattr(catalog, "LOCAL_TAIL_ROWS", 1)
        refused = _rows(CASES[case](*frames["adversarial"]), dp)
    assert refused == gated


# -------------------------------------------- the LS booster's local fit

_BOOST_SCHEMA = "__y double, f_a double, f_b double"
_BOOST_INPUTS = {
    # y / 7: the mean and every leaf value need their 6-dp rounding
    "constant_feature": [(float(i % 3) / 7, 5.0, float(i % 4))
                         for i in range(12)],
    # Spark's max of a NaN is NaN: the fit must leave it to the rounds
    "nan_feature": [(float(i % 3), float("nan") if i == 4 else float(i),
                     float(i % 2)) for i in range(12)],
    "negative_zero": [(-0.0 if i % 2 else 0.0, -0.0 if i % 3 else 0.0,
                       -0.0 if i < 6 else float(i)) for i in range(12)],
    "single_row": [(1.5, 2.0, 3.0)],
    # identical features: every split's gain ties across them
    "tied_gains": [(float(i >= 6) + 0.25 * (i % 2), float(i % 6),
                    float(i % 6)) for i in range(12)],
    "empty": [],
}


def _nan_token(v):
    """``v`` with every float NaN replaced by a token, so a payload
    holding NaN stats compares equal to itself."""
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, dict):
        return {k: _nan_token(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return type(v)(_nan_token(x) for x in v)
    return v


@pytest.mark.parametrize("case", list(_BOOST_INPUTS))
def test_boost_fit_local_matches_distributed(spark, monkeypatch,
                                             distributed, case):
    raw = spark.createDataFrame(_BOOST_INPUTS[case], _BOOST_SCHEMA)
    rounds = []
    fit_rows = classify._fit_rows

    def spy(frame):
        rounds.append(frame)
        return fit_rows(frame)

    monkeypatch.setattr(classify, "_fit_rows", spy)

    def fit():
        resid, pym = classify._boost_fit(raw, ["f_a", "f_b"], rounds=3,
                                         bins=4, lr=0.5)
        loss = resid.agg(classify._rmse6(F.col("__r")).alias("__loss"))
        model = classify._stump_model(spark, pym, loss, "train_rmse")
        return _nan_token((pym, _rows(model), _rows(resid.select("__r"))))

    got = fit()
    assert bool(rounds) == (case in ("nan_feature", "empty"))
    with distributed():
        want = fit()
    assert got == want
    if case != "empty":
        assert got[1]


def test_boost_holdout_empty_train_fold_matches_distributed(spark,
                                                            distributed):
    df = spark.createDataFrame(_BOOST_INPUTS["tied_gains"], _BOOST_SCHEMA)

    def holdout():
        return _rows(classify.boost_stumps_holdout(
            df, F.col("__y"), [("f_a", F.col("f_a")), ("f_b", F.col("f_b"))],
            F.lit(True), rounds=2, bins=4,
        ))

    got = holdout()
    with distributed():
        want = holdout()
    assert got == want and got[0][0] == 0  # n_train
