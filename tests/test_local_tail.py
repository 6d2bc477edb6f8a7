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
run through their registry queries at the test lake.
"""

from __future__ import annotations

import pytest

from census_data_pipeline_spark.functions import dedup
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
