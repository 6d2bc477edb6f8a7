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
reuses the count's shuffle stages, no job at a cap of 0, no cache left
behind by an operator that returns from its local path, and a
``dup_clusters`` gate on the one-way pair list (no ``Union``) whose
local result keeps the distributed path's id type.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def test_mmr_local_route_matches_distributed(spark, monkeypatch,
                                             distributed):
    """``mmr_rerank`` gates its one marker-and-pair frame through
    ``local_tail`` once, and the local greedy returns the rows and
    schema of the per-query ``applyInPandas`` greedy. Vectors 1 and 2
    are identical, so query 10 (equal to both) ties at rank 1 and the
    smallest id wins. The corpus is smaller than ``n_candidates``, and
    query 4, a corpus member, loses its self-match: it has one
    candidate fewer than query 10, and fewer than ``k``. Corpus ids are
    offset by 2⁵³, where a float64 id column could no longer tell them
    apart."""
    from census_data_pipeline_spark.functions import similarity as S

    big = 2**53
    schema = "vec_id bigint, embedding array<double>"
    corpus = spark.createDataFrame(
        [(big + i, v) for i, v in enumerate(
            [[1.0, 0.0, 0.0], [1.0, 0.0, 0.0], [0.9, 0.1, 0.0],
             [0.0, 1.0, 0.0], [0.0, 0.7, 0.7], [0.2, 0.2, 0.9]], start=1)],
        schema)
    queries = spark.createDataFrame(
        [(big + 4, [0.0, 1.0, 0.0]), (10, [1.0, 0.0, 0.0])], schema)
    gate = []

    def spy(*args, **kwargs):
        gate.append(catalog.local_tail(*args, **kwargs))
        return gate[-1]

    monkeypatch.setattr(S, "local_tail", spy)
    got = S.mmr_rerank(corpus, queries, k=6, n_candidates=8, lam=0.5)
    assert len(gate) == 1 and gate[0] is not None
    with distributed():
        want = S.mmr_rerank(corpus, queries, k=6, n_candidates=8, lam=0.5)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    picks = {}
    for r in sorted(got.collect(), key=lambda r: r["rank"]):
        picks.setdefault(r["query_id"], []).append(r["vec_id"])
    assert {q: len(p) for q, p in picks.items()} == {big + 4: 5, 10: 6}
    assert picks[10][0] == big + 1


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


def test_dup_clusters_gates_the_one_way_list(spark, frames, monkeypatch):
    """Under the cap ``dup_clusters`` counts and collects the one-way
    pair list — no ``Union`` in the plan, so the pair pipeline is
    planned once — in one count job and one collect."""
    sc = spark.sparkContext
    pairs = frames["adversarial"][3]
    counted = []
    count = catalog.row_count

    def spy(df):
        counted.append(df._jdf.queryExecution().optimizedPlan().toString())
        return count(df)

    monkeypatch.setattr(catalog, "row_count", spy)
    for algorithm in ("label", "star"):
        counted.clear()
        out, jobs = _jobs(sc, f"dup-gate-{algorithm}",
                          lambda: dedup.dup_clusters(pairs, algorithm))
        assert len(counted) == 1 and "Union" not in counted[0]
        assert len(jobs) == 2 and out.collect()


_ID_SCHEMAS = {
    "int_bigint": T.StructType([T.StructField("id_a", T.IntegerType()),
                                T.StructField("id_b", T.LongType())]),
    "bigint_string": T.StructType([T.StructField("id_a", T.LongType()),
                                   T.StructField("id_b", T.StringType())]),
    "nullability": T.StructType([
        T.StructField("id_a", T.LongType(), nullable=False),
        T.StructField("id_b", T.LongType(), nullable=True)]),
}


@pytest.mark.parametrize("types,algorithm", [
    (t, a) for t in _ID_SCHEMAS for a in ("label", "star")])
def test_dup_clusters_local_types_match_distributed(spark, distributed,
                                                     types, algorithm):
    """The local result takes the type and nullability the distributed
    union gives its ids: widened int/bigint, bigint/string ordered as
    strings ("10" < "9"), nullable when either side is."""
    conv = str if types == "bigint_string" else int
    rows = [(10, conv(9)), (9, conv(100)), (7, conv(7)), (3, conv(4))]
    pairs = spark.createDataFrame(rows, _ID_SCHEMAS[types])
    local = dedup.dup_clusters(pairs, algorithm)
    with distributed():
        dist = dedup.dup_clusters(pairs, algorithm)
    assert local.schema == dist.schema
    assert _rows(local) == _rows(dist)
    assert dict(_rows(local))[conv(100)] == conv(10 if conv is str else 9)


def test_dup_clusters_null_id_stays_distributed(spark, distributed,
                                                monkeypatch):
    """A NULL id keeps the label path distributed: the numpy replay
    cannot code a None key."""
    pairs = spark.createDataFrame([(1, 2), (2, None), (None, 5)],
                                  "id_a long, id_b long")
    with distributed():
        dist = _rows(dedup.dup_clusters(pairs))

    def refuse(*_):
        raise AssertionError("a NULL id reached the local tail")

    monkeypatch.setattr(dedup, "_dup_clusters_local", refuse)
    assert _rows(dedup.dup_clusters(pairs)) == dist


# a chain whose far end pairs with NULL: the NULL id's label is the
# chain's minimum, not a label one round stale
_STAR_LABEL_CASES = {
    "int_bigint": (_ID_SCHEMAS["int_bigint"],
                   [(10, 9), (9, 100), (7, 7), (3, 4), (4, 5), (5, 6)]),
    "bigint_string": (_ID_SCHEMAS["bigint_string"],
                      [(10, "9"), (9, "100"), (7, "7"), (3, "4"), (4, "30")]),
    "half_null": (_ID_SCHEMAS["int_bigint"],
                  [(1, 2), (2, 3), (3, None), (None, 5), (8, None),
                   (None, None), (7, 7)]),
}


@pytest.mark.parametrize("case", list(_STAR_LABEL_CASES))
def test_dup_clusters_star_agrees_with_label(spark, distributed, case):
    """The star and label resolvers give the same schema and rows, under
    the local tail and with ``LOCAL_TAIL_ROWS = 0``: ids widened to the
    union's type, a self-pair's id kept as a node, and the NULL id of
    half-NULL pairs labeled with its partners' least cluster id."""
    schema, rows = _STAR_LABEL_CASES[case]
    pairs = spark.createDataFrame(rows, schema)
    got = {}
    for forced in (False, True):
        for algorithm in ("label", "star"):
            if forced:
                with distributed():
                    df = dedup.dup_clusters(pairs, algorithm)
            else:
                df = dedup.dup_clusters(pairs, algorithm)
            got[forced, algorithm] = (df.schema, _rows(df))
    assert len({repr(v) for v in got.values()}) == 1, got
    if case == "half_null":
        assert dict(got[True, "star"][1]) == {
            1: 1, 2: 1, 3: 1, 5: 5, 7: 7, 8: 8, None: 1}


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


# ------------------- local results: modularity and the booster holdout


def _exact(df):
    """Schema and rows, each row by repr, so -0.0 and NULL stay distinct."""
    return df.schema, sorted(repr(tuple(r)) for r in df.collect())


_MOD_EDGES = [("a", "b", 1.0), ("b", "c", 2.0), ("c", "a", 1.0),
              ("c", "d", 3.0), ("d", "e", 1.0), ("e", "e", 4.0),
              ("a", "b", 2.0), ("f", "g", -1.0)]
# "lone" is a labelled node without edges, the only member of "w"
_MOD_LABELS = [("a", "x"), ("b", "x"), ("c", "y"), ("d", "y"), ("e", "z"),
               ("g", "q"), ("lone", "w")]
_MOD_CODES = {"x": 1, "y": 2, "z": 3, "q": 4, "w": 5}
# a one-edge community beside 1101 edges: q = −(1/2202)² rounds to −0.0
_CHAIN = [(f"n{i}", f"n{i + 1}", 1.0) for i in range(1100)]
_MOD_CASES = {
    "string": (_MOD_EDGES, _MOD_LABELS, "string"),
    "bigint": (_MOD_EDGES, [(i, _MOD_CODES[c]) for i, c in _MOD_LABELS],
               "bigint"),
    "self_loops_only": ([("a", "a", 1.0), ("b", "b", 2.0)], _MOD_LABELS,
                        "string"),
    "empty_labels": (_MOD_EDGES, [], "string"),
    "negative_zero": (_CHAIN + [("t", "n0", 1.0)],
                      [(f"n{i}", "big") for i in range(1101)]
                      + [("t", "tiny")], "string"),
    # the coded lookup resolves one label per id: stays distributed
    "duplicate_ids": (_MOD_EDGES, _MOD_LABELS + [("a", "y")], "string"),
    # the '<all>' union writes a double label in Spark's format
    "double_labels": (_MOD_EDGES,
                      [(i, float(_MOD_CODES[c])) for i, c in _MOD_LABELS],
                      "double"),
}
_MOD_DISTRIBUTED = {"duplicate_ids", "double_labels"}


@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("case", list(_MOD_CASES))
def test_modularity_local_result_matches_distributed(
        spark, monkeypatch, distributed, case, weighted):
    edges, labels, lab_type = _MOD_CASES[case]
    e = spark.createDataFrame(edges, _EDGES)
    lab = spark.createDataFrame(labels, f"id string, community {lab_type}")
    w = "w" if weighted else None
    calls = []
    local = G._modularity_local
    monkeypatch.setattr(G, "_modularity_local",
                        lambda *a: calls.append(a) or local(*a))
    got = _exact(G.modularity(e, lab, weight_col=w))
    assert bool(calls) == (case not in _MOD_DISTRIBUTED)
    with distributed():
        want = _exact(G.modularity(e, lab, weight_col=w))
    assert got == want
    if case == "negative_zero":
        assert any(r.startswith("('tiny',") and r.endswith(" 0.0)")
                   for r in got[1])


def test_modularity_q_twin_matches_spark(spark):
    """``_modularity_local``'s q_c arithmetic against Spark's own
    expression on random integer-valued (s, d, S) triples."""
    import random

    from census_data_pipeline_spark.functions.classify import _pyround

    rng = random.Random(11)
    cols = ([], [], [])
    for _ in range(12_000):
        big = rng.randint(1, 10 ** rng.randint(1, 7))
        d = rng.randint(0, big)
        for col, v in zip(cols, (rng.randint(0, d), d, big)):
            col.append(float(v))
    schema = T.StructType([T.StructField(n, T.DoubleType())
                           for n in ("s", "d", "tot")])
    df = catalog.local_frame(spark, schema, cols)
    s, d, tot = F.col("s"), F.col("d"), F.col("tot")
    q = F.round(s / tot - F.pow(d / tot, F.lit(2)), 6) + F.lit(0.0)
    got = [(r[0], r[1], r[2], repr(r[3]))
           for r in df.select(s, d, tot, q).collect()]
    want = [(a, b, c, repr(_pyround(a / c - (b / c) * (b / c), 6) + 0.0))
            for a, b, c in zip(*cols)]
    assert got == want


def _holdout_rows(*extra):
    return [(float(i % 5) / 7, float(i % 11), float(i % 3), i % 4)
            for i in range(24)] + list(extra)


_HOLDOUT_CASES = {
    # NULL-fold rows belong to neither fold; null label/feature drop
    "null_fold": (_holdout_rows((0.5, 3.0, 1.0, None), (0.25, 4.0, 2.0, None),
                                (None, 1.0, 1.0, 1), (0.3, None, 1.0, 0)), 1),
    "empty_test_fold": (_holdout_rows(), 9),
    # train f_a spans [0, 10], width 2.5: below, at floor = 2^31 (the
    # INT cast wraps to bin 0) and past BIGINT (saturates, wraps to 0)
    "outside_train_range": (_holdout_rows(
        (0.3, -50.0, 1.0, 1), (0.6, 5368709120.0, 7.0, 1),
        (0.1, 1e300, -3.0, 1)), 1),
    "constant_feature": ([(y, a, 5.0, f) for y, a, _b, f in _holdout_rows()],
                         1),
    # the null guard (na.drop) drops a NaN row on both paths
    "nan_feature": (_holdout_rows((0.2, float("nan"), 1.0, 1)), 1),
    # an infinite value survives the guard: Spark's inf arithmetic stays
    # with the distributed path
    "inf_feature": (_holdout_rows((0.2, float("inf"), 1.0, 1)), 1),
}


@pytest.mark.parametrize("case", list(_HOLDOUT_CASES))
def test_boost_holdout_local_result_matches_distributed(
        spark, monkeypatch, distributed, case):
    rows, test_fold = _HOLDOUT_CASES[case]
    df = spark.createDataFrame(rows, "y double, f_a double, f_b double, "
                                     "fold int")
    preps = []
    persist = classify.round_persist
    monkeypatch.setattr(classify, "round_persist",
                        lambda d: preps.append(d) or persist(d))

    def holdout():
        return _exact(classify.boost_stumps_holdout(
            df, F.col("y"), [("f_a", F.col("f_a")), ("f_b", F.col("f_b"))],
            F.col("fold") == F.lit(test_fold), rounds=3, bins=4))

    got = holdout()
    assert bool(preps) == (case == "inf_feature")
    with distributed():
        want = holdout()
    assert got == want
    if case == "empty_test_fold":
        assert got[1][0].endswith(", None)")


def test_handoffs_run_no_job_and_local_results_sink_in_one(spark, frames):
    """The label hand-offs of the LPA → Louvain → modularity chain read
    the driver-built frames back with no Spark job; modularity's and the
    holdout's local results run one job at the sink."""
    sc = spark.sparkContext
    e = frames["adversarial"][0]
    lpa = G.label_propagation(e, iterations=2)
    moved = G.louvain_local_move(e, rounds=1, init_labels=lpa)
    for name, handoff in (("lpa", lambda: G._label_frame(lpa)),
                          ("louvain", lambda: G._label_frame(
                              moved, "id", "community"))):
        lpdf, jobs = _jobs(sc, f"handoff-{name}", handoff)
        assert lpdf is not None and len(lpdf) and jobs == []
    holdout = classify.boost_stumps_holdout(
        e, F.length("src").cast("double"), [("f", F.length("dst"))],
        F.col("src") > F.lit("d"), rounds=2, bins=4)
    for name, out in (("modularity", G.modularity(e, moved)),
                      ("holdout", holdout)):
        _, jobs = _jobs(sc, f"sink-{name}", lambda: out.write.format(
            "noop").mode("overwrite").save())
        assert len(jobs) == 1


# ------------------------------------------ materialization at the call


def _single_file(spark, path, n):
    df = spark.range(n).select((F.col("id") % 13).alias("k"),
                               (F.col("id") % 5).alias("v"))
    df.coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_round_persist_runs_map_stages_at_the_call(spark, tmp_path):
    """``localCheckpoint(eager=False)`` builds its RDD from the executed
    plan, and under AQE that runs a shuffled plan's map stages where
    ``round_persist`` is called; a bare scan runs no job there."""
    sc = spark.sparkContext
    scan = _single_file(spark, str(tmp_path / "t.parquet"), 40)
    for name, df, ran in (("shuffled", scan.select("k").distinct(), True),
                          ("scan", scan, False)):
        out, jobs = _jobs(sc, f"persist-{name}",
                          lambda: catalog.round_persist(df))
        out.unpersist()
        assert bool(jobs) == ran

