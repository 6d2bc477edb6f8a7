"""Adversarial parity for the classifier tier: every public evaluator of
functions/classify.py runs on one small hostile frame and must match its
DuckDB oracle, compared the way tests/test_oracle_parity.py compares the
registered queries (sorted columns, 9 dp, NaN token, -0.0 distinct).

The frame holds a constant feature (zero std: logreg z-scores are x/0.0,
NULL on both engines with ANSI off; zero bin width for trees and
boosters), a null-label row, a null-feature row, duplicate rows (tied
scores) and a fold (fold 3, also the holdout test side) whose rows are
all positive, so its AUC is undefined.
"""

from __future__ import annotations

import contextlib

import duckdb
import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions import classify
from test_oracle_parity import _canon_rows


def _rows():
    rows = []
    for i in range(36):
        fold = i % 4
        lab = 1.0 if fold == 3 or (i * 7) % 5 < 2 else 0.0
        f_b = None if i == 6 else float((i * 5) % 7)
        rows.append(
            (f"d{i}", fold, float((i * 13) % 17), f_b, 5.0, lab)
        )
    rows[9] = rows[9][:5] + (None,)  # null label, fold 1
    # duplicates of rows 0..3 (one per fold) under fresh ids: tied scores
    rows += [(f"dup{i}",) + rows[i][1:] for i in range(4)]
    return rows


SCHEMA = (
    "doc_id string, fold int, f_a double, f_b double, f_const double, "
    "lab double"
)
DUCK_SCHEMA = (
    "doc_id VARCHAR, fold INTEGER, f_a DOUBLE, f_b DOUBLE, "
    "f_const DOUBLE, lab DOUBLE"
)

# the logistic family standardizes by the std, so the constant feature
# turns every margin NULL: it runs once with it (logreg_train_const) and
# otherwise on the two varying features
LR = ["f_a", "f_b"]
ALL = ["f_a", "f_b", "f_const"]


def _feats(names):
    return [(n, F.col(n)) for n in names]


def _sql(names):
    return [(n, n) for n in names]


def _test():
    return F.col("fold") == F.lit(3)


TEST_SQL = "fold = 3"
TREE = {"bins": 4, "depth": 2}
BOOST = {"rounds": 3, "bins": 4, "lr": 0.5}
RF = {"n_trees": 3, "row_keep": 12, "bins": 4, "depth": 2}

CASES = {
    "logreg_train": (
        lambda df: classify.logreg_train(df, F.col("lab"), _feats(LR), 4),
        lambda: classify.logreg_oracle_sql("t", "lab", _sql(LR), 4),
    ),
    "logreg_train_const": (
        lambda df: classify.logreg_train(df, F.col("lab"), _feats(ALL), 4),
        lambda: classify.logreg_oracle_sql("t", "lab", _sql(ALL), 4),
    ),
    "logreg_calibration": (
        lambda df: classify.logreg_calibration(
            df, F.col("lab"), _feats(LR), 4
        ),
        lambda: classify.logreg_calibration_oracle_sql(
            "t", "lab", _sql(LR), 4
        ),
    ),
    "logreg_auc": (
        lambda df: classify.logreg_auc(df, F.col("lab"), _feats(LR), 4),
        lambda: classify.logreg_auc_oracle_sql("t", "lab", _sql(LR), 4),
    ),
    "logreg_pr_auc": (
        lambda df: classify.logreg_pr_auc(df, F.col("lab"), _feats(LR), 4),
        lambda: classify.logreg_pr_auc_oracle_sql("t", "lab", _sql(LR), 4),
    ),
    "logreg_holdout_eval": (
        lambda df: classify.logreg_holdout_eval(
            df, F.col("lab"), _feats(LR), _test(), 4
        ),
        lambda: classify.logreg_holdout_oracle_sql(
            "t", "lab", _sql(LR), TEST_SQL, 4
        ),
    ),
    "logreg_kfold_cv": (
        lambda df: classify.logreg_kfold_cv(
            df, F.col("lab"), _feats(LR), F.col("fold"), 4, 4
        ),
        lambda: classify.logreg_kfold_cv_oracle_sql(
            "t", "lab", _sql(LR), "fold", 4, 4
        ),
    ),
    "logreg_learning_curve": (
        lambda df: classify.logreg_learning_curve(
            df, F.col("lab"), _feats(LR), F.col("doc_id"), _test(), (8, 16), 4
        ),
        lambda: classify.logreg_learning_curve_oracle_sql(
            "t", "lab", _sql(LR), "doc_id", TEST_SQL, (8, 16), 4
        ),
    ),
    "decision_tree_train": (
        lambda df: classify.decision_tree_train(
            df, F.col("lab"), _feats(ALL), **TREE
        ),
        lambda: classify.decision_tree_oracle_sql(
            "t", "lab", _sql(ALL), **TREE
        ),
    ),
    "decision_tree_confusion": (
        lambda df: classify.decision_tree_confusion(
            df, F.col("lab"), _feats(ALL), **TREE
        ),
        lambda: classify.decision_tree_confusion_oracle_sql(
            "t", "lab", _sql(ALL), **TREE
        ),
    ),
    "decision_tree_holdout": (
        lambda df: classify.decision_tree_holdout(
            df, F.col("lab"), _feats(ALL), _test(), **TREE
        ),
        lambda: classify.decision_tree_holdout_oracle_sql(
            "t", "lab", _sql(ALL), TEST_SQL, **TREE
        ),
    ),
    "decision_tree_kfold_cv": (
        lambda df: classify.decision_tree_kfold_cv(
            df, F.col("lab"), _feats(ALL), F.col("fold"), 4, **TREE
        ),
        lambda: classify.decision_tree_kfold_cv_oracle_sql(
            "t", "lab", _sql(ALL), "fold", 4, **TREE
        ),
    ),
    "boost_stumps_holdout": (
        lambda df: classify.boost_stumps_holdout(
            df, F.col("lab"), _feats(ALL), _test(), **BOOST
        ),
        lambda: classify.boost_stumps_holdout_oracle_sql(
            "t", "lab", _sql(ALL), TEST_SQL, **BOOST
        ),
    ),
    "logit_boost_holdout": (
        lambda df: classify.logit_boost_holdout(
            df, F.col("lab"), _feats(ALL), _test(), **BOOST
        ),
        lambda: classify.logit_boost_holdout_oracle_sql(
            "t", "lab", _sql(ALL), TEST_SQL, **BOOST
        ),
    ),
    "random_forest_holdout": (
        lambda df: classify.random_forest_holdout(
            df, F.col("lab"), _feats(ALL), F.col("doc_id"), _test(), **RF
        ),
        lambda: classify.random_forest_holdout_oracle_sql(
            "t", "lab", _sql(ALL), "doc_id", TEST_SQL, **RF
        ),
    ),
}


@pytest.fixture(scope="module")
def frames(spark):
    rows = _rows()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({DUCK_SCHEMA})")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", rows)
    yield spark.createDataFrame(rows, SCHEMA), con
    con.close()


def test_frame_is_adversarial(frames):
    """The fixture really holds what the module docstring promises."""
    _df, con = frames
    (n, const, null_lab, null_feat, fold3_neg, dups) = con.execute(
        """SELECT count(*), count(DISTINCT f_const),
                  count(*) FILTER (WHERE lab IS NULL),
                  count(*) FILTER (WHERE f_b IS NULL),
                  count(*) FILTER (WHERE fold = 3 AND lab <> 1.0),
                  count(*) - (SELECT count(*) FROM (SELECT DISTINCT
                    fold, f_a, f_b, f_const, lab FROM t))
           FROM t"""
    ).fetchone()
    assert (n, const, null_lab, null_feat, fold3_neg) == (40, 1, 1, 1, 0)
    assert dups == 4


@pytest.mark.parametrize("name", sorted(CASES))
def test_evaluator_matches_oracle(name, frames):
    df, con = frames
    engine, oracle = CASES[name]
    sdf = engine(df)
    rel = con.sql(oracle())
    assert sorted(sdf.columns) == sorted(rel.columns)
    got = _canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    want = _canon_rows(list(rel.columns), rel.fetchall())
    assert got == want


def test_model_frames_match_list_path(spark, monkeypatch):
    """Differential: the tree and booster MODEL frames built from Arrow
    local relations (``catalog.local_frame``) vs the list path,
    ``createDataFrame(rows, schema)``, inline as the reference. The tree
    holds leaf rows with null feature and threshold; the booster's base
    row has a null threshold and round 2 found no split."""
    tree_rows = [
        (1, "split", "f_a", 4.25, 9, 4),
        (2, "leaf", None, None, 5, 1),
        (3, "split", "f_b", 0.1 + 0.2, 4, 3),
        (6, "leaf", None, None, 1, 1),
        (7, "leaf", None, None, 3, 2),
    ]
    payload = {
        "mn": {"f_a": 0.0, "f_b": -1.5}, "wd": {"f_a": 1.0625, "f_b": 0.1},
        "f0": 0.444444, "winners": [("f_a", 3, -0.2, 0.3), None, ("f_b", 0, 0.05, -0.0)],
    }
    loss = spark.range(1).select(F.lit(0.4123456789).alias("__loss"))

    def build():
        return (classify._tree_frame_from_rows(spark, tree_rows),
                classify._stump_model(spark, payload, loss, "train_rmse"))

    def canon(frame):
        return frame.schema, sorted(repr(tuple(r)) for r in frame.collect())

    got = build()
    with monkeypatch.context() as m:
        m.setattr(classify, "local_frame", lambda spark, schema, columns:
                  spark.createDataFrame(list(zip(*columns)), schema))
        want = build()
    for g, w in zip(got, want):
        assert "ExistingRDD" not in g._jdf.queryExecution().executedPlan().toString()
        assert canon(g) == canon(w)
    assert [r["round"] for r in got[1].orderBy("round").collect()] == [0, 1, 3]


def _old_boost_holdout(df, target, features, test_pred, rounds, bins, lr):
    """The booster holdout's earlier three-aggregate form, as the
    reference: the fit on the filtered train fold, a test-fold
    aggregate, a second scan of the train fold for its count, and the
    model frame's train_rmse, cross-joined."""
    from census_data_pipeline_spark.sources.catalog import ensure_parallelism

    names = [n for n, _ in features]
    b = ensure_parallelism(df)
    train, test = b.filter(~test_pred), b.filter(test_pred)
    resid, pym = classify._boost_fit(
        classify._boost_rows(train, target, features), names, rounds, bins,
        lr)
    model = classify._stump_model(
        df.sparkSession, pym,
        resid.agg(classify._rmse6(F.col("__r")).alias("__loss")),
        "train_rmse")
    err = F.col("__y") - F.col("__pred")
    test_stats = classify._guarded(test, target, features, "double").select(
        "__y", classify._boost_score(bins, pym).alias("__pred")
    ).agg(F.count("*").alias("__nt"),
          F.round(F.sqrt(F.avg(err * err)), 6).alias("__trm"))
    ntr = classify._guarded(train, target, features, "double").agg(
        F.count("*").alias("__ntr"))
    train_rmse = model.agg(F.max("train_rmse").alias("__rm"))
    return test_stats.crossJoin(ntr).crossJoin(train_rmse).select(
        F.col("__ntr").cast("long").alias("n_train"),
        F.col("__nt").cast("long").alias("n_test"),
        F.col("__rm").alias("train_rmse"),
        F.col("__trm").alias("test_rmse"),
    )


@pytest.mark.parametrize("test_fold", [3, 9])
def test_boost_holdout_matches_three_aggregate_form(spark, distributed,
                                                     test_fold):
    """Differential: ``boost_stumps_holdout``'s one conditional
    aggregate (the distributed path) and its driver-built row (the
    local path) vs the three-aggregate form they replaced. On top of
    the module frame (a null label in the train fold): a test-fold row
    with a null feature, and a row whose fold — so whose fold predicate
    — is NULL, which belongs to neither fold. Fold 9 leaves the test
    fold empty: n_test 0 and a NULL test_rmse."""
    rows = _rows() + [("t_null_feat", 3, 2.0, None, 5.0, 1.0),
                      ("no_fold", None, 3.0, 1.0, 5.0, 0.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    args = (df, F.col("lab"), _feats(ALL), F.col("fold") == F.lit(test_fold))
    with distributed():
        dist = classify.boost_stumps_holdout(*args, **BOOST)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Aggregate(") == 2  # one aggregate: partial + final
    got = classify.boost_stumps_holdout(*args, **BOOST)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "Exchange" not in plan and "Join" not in plan
    want = _old_boost_holdout(*args, **BOOST)
    for out in (dist, got):
        assert out.schema == want.schema
        assert out.collect() == want.collect()
    n_train, n_test, _rm, test_rmse = got.collect()[0]
    if test_fold == 3:
        assert (n_train, n_test) == (28, 10)
    else:
        assert (n_train, n_test, test_rmse) == (38, 0, None)


# feature names Spark would parse: a nested-field path and a backtick
ODD_NAMES = {"f_a": "a.b", "f_b": "c`d"}
ODD_FITS = {
    "boost_stumps_train": lambda df, feats: classify.boost_stumps_train(
        df, F.col("lab"), feats, **BOOST),
    "boost_stumps_holdout": lambda df, feats: classify.boost_stumps_holdout(
        df, F.col("lab"), feats, _test(), **BOOST),
    "decision_tree_train": lambda df, feats: classify.decision_tree_train(
        df, F.col("lab"), feats, **TREE),
}


@pytest.mark.parametrize("path", ["local", "distributed"])
@pytest.mark.parametrize("name", sorted(ODD_FITS))
def test_feature_names_are_not_parsed(frames, distributed, name, path):
    """Features named ``a.b`` and ``c`d`` train the same model as
    ``f_a`` and ``f_b`` (the names sort the same way, so split ties
    break the same way), on the local fit and the distributed rounds."""
    df, _con = frames
    back = {v: k for k, v in ODD_NAMES.items()}

    def rows(names):
        feats = [(names.get(n, n), F.col(n)) for n in ALL]
        out = ODD_FITS[name](df, feats).collect()
        return sorted(repr(tuple(back.get(v, v) for v in r)) for r in out)

    with distributed() if path == "distributed" else contextlib.nullcontext():
        assert rows(ODD_NAMES) == rows({})
