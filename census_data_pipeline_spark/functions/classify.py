"""In-engine supervised classification: full-batch logistic regression
trained by gradient descent as a deterministic Spark dataflow
(SURVEY.md §2.11 ⊕ — the learned quality-classifier stage of a
curation pipeline, e.g. the GPT-3/CCNet "looks like the reference
corpus" filter, trained INSIDE the engine rather than exported to a
single-node ML stack).

The training loop follows the kmeans_lloyd / pca_power discipline:

- a FIXED iteration count (no convergence test on data values);
- every model state rounded to 6 dp at the same points on both engines,
  so an ANSI-SQL oracle replicates the exact trajectory by unrolling
  rounds as CTEs;
- model state is a driver-side payload of collected scalars (weights,
  standardization stats, bin edges, split winners): each round is one
  partial-aggregated scan of the persisted feature frame whose 1-row
  result is collected and fed back as literals.

Each family fits through ONE trainer (``_logreg_fit_multi``,
``_decision_tree_build_multi``, ``_boost_fit``, ``_logit_boost_fit``)
and scores through ONE literal Column compiled from its payload
(``_logreg_margin_lit``, ``_tree_route_predict``, ``_boost_score``) — a
single-model fit is the one-spec case of the K-model trainer, and no
model frame is ever joined back into the data.

Scale shape: features are evaluated once into a persisted frame; each
GD round is map-side arithmetic followed by a partial-aggregated global
mean — the shuffle carries ONE row per partition per round. At 100 TB
the per-round cost is a single whole-stage-codegen scan; the model
(d+1 doubles per fold) travels to the executors inside the plan as
literals. This is exactly how distributed full-batch LR runs on a real
cluster (each executor computes its partial gradient; the driver-side
state is one weight vector).
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from census_data_pipeline_spark.operators.cleaning import _quote
from census_data_pipeline_spark.sources.catalog import (
    ensure_parallelism,
    local_frame,
    local_tail,
    round_persist,
    row_count,
)


def _dlit(v) -> Column:
    """A double literal that preserves NULL model state (a fold with an
    empty train side yields NULL gradients; NULL must stay NULL through
    every later round, as it does in the oracles' CTEs)."""
    return F.lit(None).cast("double") if v is None else F.lit(float(v))


def _sql_dlit(v) -> str:
    """SQL text of the exact double literal ``_dlit`` builds — the
    shortest round-trip decimal parsed back by Java's Double.parseDouble
    (string→double cast), so the parsed plan holds the bit-identical
    double. Used by the fused GD rounds, where building thousands of
    Column objects through py4j measurably dominated the round (r14:
    ~0.27 s/round of pure expression construction at ANY data scale)."""
    return (
        "CAST(NULL AS DOUBLE)" if v is None
        else f"CAST('{float(v)!r}' AS DOUBLE)"
    )


def _qcol(name: str) -> Column:
    """The column named exactly ``name`` (see ``_quote``)."""
    return F.col(_quote(name))


def _bin_lit(x_sql: str, mn, width, bins: int) -> Column:
    """``_bin_col`` for collected (literal) stats, built as ONE SQL
    text parsed in the JVM instead of a py4j Column tree: ``x_sql`` is
    the SQL of the feature value, ``mn`` and ``width`` are written
    through ``_sql_dlit`` so the plan holds the bit-identical doubles.
    The expression is ``_bin_col``'s, node for node."""
    w = _sql_dlit(width)
    return F.expr(
        f"CAST(CASE WHEN {w} = {_sql_dlit(0.0)} THEN 0 "
        f"ELSE least({bins - 1}, greatest(0, CAST(floor(({x_sql} - "
        f"{_sql_dlit(mn)}) / {w}) AS INT))) END AS INT)"
    )


def _bin_col(x: Column, mn: Column, width: Column, bins: int) -> Column:
    """Equi-width histogram bin of ``x`` over [mn, mn + bins·width] as
    an int: ``when(width = 0, 0).otherwise(least(bins-1, greatest(0,
    floor((x - mn) / width))))`` — constant features land in bin 0. The
    one engine-side copy of the oracles' ``b_<name>`` CASE; ``mn`` and
    ``width`` are literals from a collected stats row or columns of an
    uncollected one."""
    return (
        F.when(width == F.lit(0.0), F.lit(0))
        .otherwise(
            F.least(
                F.lit(bins - 1),
                F.greatest(F.lit(0), F.floor((x - mn) / width).cast("int")),
            )
        )
        .cast("int")
    )


def _sigmoid6(margin: Column) -> Column:
    """The 6-dp predicted probability round(1 / (1 + exp(-margin)), 6)
    — rounded so both engines score, bin and rank identically."""
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)), 6)


def _hit(margin: Column, y: Column) -> Column:
    """1.0 when the margin's sign (≥ 0 ⇔ positive) matches the 0/1
    label, else 0.0 — a NULL margin or label counts as a miss."""
    return F.when((margin >= 0) == (y == 1.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )


def _guarded(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    label_type: str,
) -> DataFrame:
    """(__y, features…) with the label cast to ``label_type`` and the
    features to double, dropping rows with a null label or any null
    feature — the null-drop rule of the tree, boosting and MI
    families."""
    return df.select(
        label.cast(label_type).alias("__y"),
        *[e.cast("double").alias(n) for n, e in features],
    ).na.drop(subset=["__y", *[_quote(n) for n, _ in features]])


def _single_prep(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    test_pred: Column | None,
) -> tuple[DataFrame, Column]:
    """One-model callers' shared front: evaluate the label (as ``__y``),
    the features (as doubles) and the optional fold predicate (as
    ``__t``) ONCE into a persisted frame — feature expressions are
    string-heavy, and every fit round plus the scoring scan reads the
    cached blocks — and return it with the train condition the one-spec
    fit runs under (``~__t``, or every row)."""
    cols = [
        label.alias("__y"),
        *[e.cast("double").alias(n) for n, e in features],
    ]
    if test_pred is not None:
        cols.insert(0, test_pred.alias("__t"))
    prep = ensure_parallelism(df).select(*cols).persist()
    train = F.lit(True) if test_pred is None else ~F.col("__t")
    return prep, train


def _logreg_fit_multi(
    prep: DataFrame,
    label_col: str,
    names: list[str],
    train_conds: list[Column],
    iterations: int,
    lr: float,
) -> list[dict]:
    """The logistic-regression trainer: full-batch gradient descent for
    K models at once (one per ``train_conds`` entry; a single fit is
    the one-spec case with the train condition or ``F.lit(True)``).
    Every model of a CV / learning-curve family fits in ONE scan per
    round via conditional aggregates — ``avg(when(cond, e))``
    aggregates exactly the rows ``filter(cond)`` would, so each model's
    trajectory is the one a separate fit on ``prep.filter(cond)``
    computes (``tests/test_round14_ops.py`` pins both against
    ``logreg_oracle_sql``). K·(d+1) aggregate expressions per round
    replace K independent round jobs: the per-round job count drops
    K-fold at every data scale, and at 100 TB the train fold is scanned
    once per round instead of K times.

    Per model: features are z-scored with the train rows' population
    mean/std (both rounded 6 dp, z rounded 6 dp); weights start at
    zero; each round computes p = σ(b + w·z), the mean gradient
    (rounded 6 dp) and the update w ← round(w − lr·g, 6). Each round's
    1-row result is collected and fed back as literals, so every
    round's plan is flat (an ever-deeper chained plan cost seconds of
    Catalyst work per fit at any data scale — OPTIMIZATION_r13.md).

    ``prep`` must be persisted with ``label_col`` (double) and the
    feature columns (double) already evaluated. Returns one dict per
    model: {"wb", "wf": {name: w}, "m": {name}, "s": {name}} — weights
    and the train-fold standardization stats, all collected scalars
    produced by Spark's own round-6 expressions."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    kk = len(train_conds)
    stat_exprs = []
    for i, cond in enumerate(train_conds):
        for n in names:
            stat_exprs.append(
                F.round(F.avg(F.when(cond, F.col(n))), 6)
                .alias(f"__m_{i}_{n}")
            )
            stat_exprs.append(
                F.round(F.stddev_pop(F.when(cond, F.col(n))), 6)
                .alias(f"__s_{i}_{n}")
            )
    srow = prep.agg(*stat_exprs).first()
    models = [
        {
            "m": {n: srow[f"__m_{i}_{n}"] for n in names},
            "s": {n: srow[f"__s_{i}_{n}"] for n in names},
            "wb": 0.0,
            "wf": {n: 0.0 for n in names},
        }
        for i in range(kk)
    ]
    # ONE reusable base projection (built through py4j ONCE): the label,
    # each model's train flag and each model's standardized features.
    # Per round only the residuals change, and those are parsed SQL over
    # these stable column names — Column-object construction through
    # py4j was ~0.27 s/round (measured, r14), pure driver overhead at
    # every data scale. The arithmetic is untouched: projecting
    # z/cond/r as columns and aggregating them evaluates the identical
    # double expressions on the identical rows in the identical
    # partition order as the previous inline-in-aggregate formulation.
    base_cols = [F.col(label_col).alias("__y")]
    for i, cond in enumerate(train_conds):
        base_cols.append(cond.alias(f"__c_{i}"))
        base_cols.extend(
            F.round(
                (F.col(n) - _dlit(models[i]["m"][n]))
                / _dlit(models[i]["s"][n]), 6
            ).alias(f"__z_{i}_{n}")
            for n in names
        )
    base = prep.select(*base_cols)
    one, lr_s = _sql_dlit(1.0), _sql_dlit(lr)
    for _ in range(iterations):
        rcols, exprs = [], []
        for i in range(kk):
            wb, wf = models[i]["wb"], models[i]["wf"]
            # exact grouping of the py4j tree this replaces:
            # wb + ((((0.0 + w1*z1) + w2*z2) + ...) + wd*zd)
            acc = _sql_dlit(0.0)
            for n in names:
                acc = f"({acc} + ({_sql_dlit(wf[n])} * __z_{i}_{n}))"
            marg = f"({_sql_dlit(wb)} + {acc})"
            rcols.append(
                F.expr(
                    f"(({one} / ({one} + exp(-{marg}))) - __y)"
                ).alias(f"__r_{i}")
            )
            exprs.append(
                F.expr(
                    f"round({_sql_dlit(wb)} - ({lr_s} * "
                    f"round(avg(CASE WHEN __c_{i} THEN __r_{i} END), 6)"
                    f"), 6)"
                ).alias(f"__b_{i}")
            )
            exprs.extend(
                F.expr(
                    f"round({_sql_dlit(wf[n])} - ({lr_s} * "
                    f"round(avg(CASE WHEN __c_{i} THEN "
                    f"(__r_{i} * __z_{i}_{n}) END), 6)), 6)"
                ).alias(f"__w_{i}_{n}")
                for n in names
            )
        upd = base.select("*", *rcols).agg(*exprs).first()
        for i in range(kk):
            models[i]["wb"] = upd[f"__b_{i}"]
            models[i]["wf"] = {n: upd[f"__w_{i}_{n}"] for n in names}
    return models


def _logreg_margin_lit(model: dict, names: list[str]) -> Column:
    """The logistic model's ONE scorer: the margin over the raw feature
    columns as a literal expression compiled from a collected model —
    train-stats z = round((x − m)/s, 6), then
    b + ((((0.0 + w₁z₁) + w₂z₂) + …) + w_dz_d), the training rounds'
    own grouping."""
    z = {
        n: F.round(
            (F.col(n) - _dlit(model["m"][n])) / _dlit(model["s"][n]), 6
        )
        for n in names
    }
    return _dlit(model["wb"]) + sum(
        (_dlit(model["wf"][n]) * z[n] for n in names), F.lit(0.0)
    )


def _logreg_fit_one(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int,
    lr: float,
    test_pred: Column | None = None,
) -> tuple[DataFrame, Column, dict]:
    """Fit ONE logistic model — on the rows where ``test_pred`` is
    false, or on every row — as the one-spec case of
    ``_logreg_fit_multi``. Returns (prep, margin, model): the persisted
    (``__t``,) ``__y``, features frame, the model's literal margin over
    it and the collected model."""
    names = [n for n, _ in features]
    prep, train = _single_prep(
        df, label.cast("double"), features, test_pred
    )
    model = _logreg_fit_multi(prep, "__y", names, [train], iterations, lr)
    return prep, _logreg_margin_lit(model[0], names), model[0]


def logreg_train(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """Train binary logistic regression by full-batch gradient descent.

    ``label`` must evaluate to 0.0/1.0; ``features`` is an ordered list
    of (name, expression). Features are z-score standardized (population
    std; mean/std rounded to 6 dp, z rounded to 6 dp) so one learning
    rate fits all scales and the oracle sees identical inputs. Weights
    start at zero; each round computes p = sigmoid(b + w·z), the mean
    gradient (rounded 6 dp), and the update w ← round(w − lr·g, 6).

    Returns one row per coefficient: (feature, weight, train_accuracy)
    with feature = 'bias' first, accuracy = share of rows where the
    final margin's sign matches the label (margin rounded 6 dp before
    the sign test so both engines agree at the boundary).

    Scale shape: the fit's rounds, then ONE scan of the cached prep for
    the accuracy; the coefficient rows are literals expanded from that
    1-row aggregate."""
    prep, margin, model = _logreg_fit_one(df, label, features,
                                          iterations, lr)
    coef = [("bias", model["wb"])] + [
        (n, model["wf"][n]) for n, _ in features
    ]
    return prep.agg(
        F.round(F.avg(_hit(F.round(margin, 6), F.col("__y"))), 6)
        .alias("__acc")
    ).select(
        F.inline(F.array(*[
            F.struct(
                F.lit(n).alias("feature"),
                _dlit(w).alias("weight"),
                F.col("__acc").alias("train_accuracy"),
            )
            for n, w in coef
        ]))
    )


def _logreg_oracle_parts(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    iterations: int = 8,
    lr: float = 0.5,
):
    """Shared CTE assembly behind ``logreg_oracle_sql`` and
    ``logreg_calibration_oracle_sql``: the unrolled GD rounds. Returns
    (ctes, final_weight_cte, margin_expr, names)."""
    names = [n for n, _ in features_sql]
    feat_sel = ", ".join(f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql)
    st_sel = ", ".join(
        f"round(avg({n}), 6) AS m_{n}, round(stddev_pop({n}), 6) AS s_{n}"
        for n in names
    )
    z_sel = ", ".join(
        f"round(({n} - m_{n}) / s_{n}, 6) AS {n}" for n in names
    )
    w0_sel = "0.0 AS b, " + ", ".join(f"0.0 AS w_{n}" for n in names)
    marg = "b + " + " + ".join(f"w_{n} * {n}" for n in names)
    ctes = [
        f"""raw AS MATERIALIZED (
      SELECT CAST({label_sql} AS DOUBLE) AS y, {feat_sel} FROM {table})""",
        f"st AS MATERIALIZED (SELECT {st_sel} FROM raw)",
        f"""z AS MATERIALIZED (
      SELECT y, {z_sel} FROM raw CROSS JOIN st)""",
        f"w0 AS MATERIALIZED (SELECT {w0_sel})",
    ]
    prev = "w0"
    for t in range(1, iterations + 1):
        g_sel = ", ".join(
            [f"round(avg(r), 6) AS gb"]
            + [f"round(avg(r * {n}), 6) AS g_{n}" for n in names]
        )
        ctes.append(
            f"""g{t} AS MATERIALIZED (SELECT {g_sel} FROM (
      SELECT y, {', '.join(names)},
             1.0 / (1.0 + exp(-({marg}))) - y AS r
      FROM z CROSS JOIN {prev}) p)"""
        )
        w_sel = ", ".join(
            [f"round(b - {lr!r} * gb, 6) AS b"]
            + [f"round(w_{n} - {lr!r} * g_{n}, 6) AS w_{n}" for n in names]
        )
        ctes.append(
            f"w{t} AS MATERIALIZED (SELECT {w_sel} FROM {prev} CROSS JOIN g{t})"
        )
        prev = f"w{t}"
    return ctes, prev, marg, names


def logreg_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_train`` — unrolled-CTE gradient
    descent with rounding at the identical points (standardized
    features, per-round gradients and weights, final margin)."""
    ctes, prev, marg, names = _logreg_oracle_parts(
        table, label_sql, features_sql, iterations, lr
    )
    ctes.append(
        f"""acc AS (SELECT round(avg(CASE WHEN
      (round({marg}, 6) >= 0) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6)
      AS a FROM z CROSS JOIN {prev})"""
    )
    unions = "\n    UNION ALL ".join(
        [f"SELECT 'bias' AS feature, b AS weight, acc.a AS train_accuracy "
         f"FROM {prev} CROSS JOIN acc"]
        + [
            f"SELECT '{n}', w_{n}, acc.a FROM {prev} CROSS JOIN acc"
            for n in names
        ]
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


def _tree_gini(cl, pl, ct, pt):
    """Weighted two-child Gini impurity of a candidate split, rounded to
    12 dp for an engine-stable argmin key. Inputs are integer counts
    (left count/positives, node total count/positives) so both engines
    evaluate the identical double expression on identical operands:
    gini(S) = 1 − p₁² − p₀², and |S|·gini(S) = 2·pos·(cnt−pos)/cnt."""
    cr, pr = ct - cl, pt - pl
    return F.round(
        (F.lit(2.0) * pl * (cl - pl) / cl + F.lit(2.0) * pr * (cr - pr) / cr)
        / ct,
        12,
    )


def _pyround(x, d: int):
    """HALF_UP decimal rounding of a double, matching Spark's
    ``round(col, d)`` (BigDecimal.valueOf(double) → setScale(d,
    HALF_UP)): quantize the shortest round-trip decimal representation.
    Python's ``repr`` and Java's ``Double.toString`` both emit a
    decimal that rounds back to the exact double, so the quantized
    value agrees on every non-boundary input (and the oracle-parity
    suite pins the tree family at three scale factors)."""
    if x is None:
        return None
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(
            Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP
        )
    )


def _py_gini(cl: int, pl: int, ct: int, pt: int) -> float:
    """Driver-side twin of ``_tree_gini`` over the collected histogram:
    the identical double expression on identical integer operands,
    rounded 12 dp by ``_pyround``."""
    cr, pr = ct - cl, pt - pl
    return _pyround(
        (2.0 * pl * (cl - pl) / cl + 2.0 * pr * (cr - pr) / cr) / ct, 12
    )


def _tree_route_predict(names_t: list[str], bins: int, pym: dict) -> Column:
    """Route a null-guarded feature row to its leaf's predict as ONE
    literal CASE expression over the driver-side model payload — the
    tree and forest families' ONE scorer (train rows, held-out folds
    and every forest member all route through it). Per feature the
    train-stats bin (``_bin_lit``), per level the winner
    map ``node -> 2·node + (bin_f <= b ? 0 : 1)`` with no-winner nodes
    staying put, then the leaf predict map. Rows always land on a leaf
    (levels reassign exactly the split nodes; every terminal node is a
    leaf row by construction)."""
    bincol = {
        n: _bin_lit(f"CAST({_quote(n)} AS DOUBLE)", pym["mn"][n],
                    pym["wd"][n], bins)
        for n in names_t
    }
    node: Column = F.lit(1).cast("bigint")
    for lvl in pym["levels"]:
        upd = None
        for nd, (f, b) in sorted(lvl.items()):
            child = (
                F.lit(nd * 2)
                + F.when(bincol[f] <= F.lit(b), F.lit(0)).otherwise(F.lit(1))
            ).cast("bigint")
            cond = node == F.lit(nd)
            upd = F.when(cond, child) if upd is None else upd.when(
                cond, child
            )
        if upd is not None:
            node = upd.otherwise(node)
    pred = None
    for nd, pv in sorted(pym["leaves"].items()):
        cond = node == F.lit(nd)
        pred = (
            F.when(cond, F.lit(pv)) if pred is None
            else pred.when(cond, F.lit(pv))
        )
    if pred is None:  # degenerate: no rows trained — no leaves
        pred = F.lit(None)
    return pred.cast("long")


def _decision_tree_build_multi(
    prep: DataFrame,
    label_col: str,
    specs: list[tuple[Column, list[str]]],
    bins: int,
    depth: int,
) -> list[tuple[list[tuple], dict]]:
    """The histogram decision-tree trainer: K depth-bounded binary trees
    at once, one (row_condition, feature_names) spec per tree over the
    shared persisted ``prep`` frame (a single tree is the one-spec case
    with the train condition or ``F.lit(True)``). Histogram split
    finding is the distributed-GBDT discipline (LightGBM/XGBoost
    `hist`): equi-width feature histograms, one data pass per level,
    all split arithmetic over the model-sized histogram — a
    deterministic dataflow an ANSI-SQL oracle replicates level by level
    (``_tree_oracle_parts``).

    ``label_col`` must evaluate to 0/1. Per tree, rows with a null
    label or any null feature of that tree are dropped; per feature,
    ``bins`` equi-width bins over the tree's [min, max] (constant
    features land in bin 0 and can never split). Per level:

    1. ONE scan of ``prep`` builds every tree's per-(node, feature,
       bin) counts and positive counts — the inline(struct-array)
       fan-out guarded by ``when(cond ∧ non-null, node)``, map-side
       combined, so the shuffle carries Σ_t nodes·F_t·bins rows;
    2. the histogram is collected and, per tree and node, candidate
       splits "bin ≤ b" from prefix sums are scored by weighted Gini
       rounded to 12 dp (both children non-empty) and argmin'd under
       the total (gini, feature, bin) order — exact integer arithmetic
       plus ``_py_gini`` on the driver;
    3. each tree's node expression gains that level's winner map: rows
       move to child 2·node (left) or 2·node+1 (right); nodes with no
       valid split become leaves and their rows stop moving.

    Min/max are order-independent and histogram cells are integer
    sums, so a conditional tree equals the tree built on
    ``prep.filter(cond)`` exactly; any K costs one stats scan plus one
    scan per level.

    Returns per tree (tree_rows, pym): the literal node rows (node,
    kind, feature, raw_threshold, n, pos) — thresholds are the bin
    boundary min + (b+1)·width, rounded 6 dp by
    ``_tree_frame_from_rows`` — and the routing payload
    ``_tree_route_predict`` consumes."""
    if depth < 1:
        raise ValueError("depth must be >= 1")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    kk = len(specs)
    y = F.col(label_col).cast("bigint")
    xcol = {}
    valid = []
    for cond, names_t in specs:
        for n in names_t:
            if n not in xcol:
                xcol[n] = _qcol(n).cast("double")
        v = y.isNotNull()
        for n in names_t:
            v = v & xcol[n].isNotNull()
        valid.append(cond & v)
    # per-tree min/max in ONE scan, widths in the same Spark select;
    # the stat columns are named by position, never by feature name
    stat_exprs = []
    for i, (cond, names_t) in enumerate(specs):
        for j, n in enumerate(names_t):
            stat_exprs.append(
                F.min(F.when(valid[i], xcol[n])).alias(f"__mn_{i}_{j}")
            )
            stat_exprs.append(
                F.max(F.when(valid[i], xcol[n])).alias(f"__mx_{i}_{j}")
            )
    width_exprs = [
        (
            (F.col(f"__mx_{i}_{j}") - F.col(f"__mn_{i}_{j}"))
            / F.lit(float(bins))
        ).alias(f"__w_{i}_{j}")
        for i, (_c, names_t) in enumerate(specs)
        for j in range(len(names_t))
    ]
    strow = prep.agg(*stat_exprs).select("*", *width_exprs).first()
    mn = [
        {n: strow[f"__mn_{i}_{j}"] for j, n in enumerate(names_t)}
        for i, (_c, names_t) in enumerate(specs)
    ]
    wd = [
        {n: strow[f"__w_{i}_{j}"] for j, n in enumerate(names_t)}
        for i, (_c, names_t) in enumerate(specs)
    ]
    bincol = [
        {
            n: _bin_lit(f"CAST({_quote(n)} AS DOUBLE)", mn[i][n], wd[i][n], bins)
            for n in names_t
        }
        for i, (_c, names_t) in enumerate(specs)
    ]
    node_expr: list[Column] = [
        F.lit(1).cast("bigint") for _ in range(kk)
    ]
    frontier: list[dict | None] = [None] * kk
    tree_rows: list[list[tuple]] = [[] for _ in range(kk)]
    levels_py: list[list[dict]] = [[] for _ in range(kk)]
    for _lvl in range(depth):
        entries = []
        for i, (_c, names_t) in enumerate(specs):
            for n in names_t:
                entries.append(
                    F.struct(
                        F.lit(i).alias("__i"),
                        F.lit(n).alias("__f"),
                        F.when(valid[i], node_expr[i]).alias("__node"),
                        bincol[i][n].alias("__bin"),
                        y.alias("__y"),
                    )
                )
        hrows = (
            prep.select(F.inline(F.array(*entries)))
            .filter(F.col("__node").isNotNull())
            .groupBy("__i", "__f", "__node", "__bin")
            .agg(F.count("*").alias("__c"), F.sum("__y").alias("__p"))
            .collect()
        )
        hists: list[dict] = [{} for _ in range(kk)]
        for r in hrows:
            hists[r["__i"]].setdefault((r["__node"], r["__f"]), []).append(
                (r["__bin"], r["__c"], r["__p"])
            )
        for i, (_c, names_t) in enumerate(specs):
            hist = hists[i]
            tot = {
                node: (
                    sum(c for _b, c, _p in cells),
                    sum(p for _b, _c, p in cells),
                )
                for (node, f), cells in hist.items()
                if f == names_t[0]
            }
            if frontier[i] is None:
                frontier[i] = dict(tot)
            winners: dict = {}
            for (node, f), cells in sorted(hist.items()):
                ct, pt = tot[node]
                cl = pl = 0
                for b, c, p in sorted(cells):
                    cl += c
                    pl += p
                    if not (0 < cl < ct):
                        continue
                    g = _py_gini(cl, pl, ct, pt)
                    if node not in winners or (g, f, b) < winners[node][:3]:
                        winners[node] = (g, f, b, cl, pl, ct, pt)
            for node, (_g, f, b, _cl, _pl, ct, pt) in sorted(
                winners.items()
            ):
                tree_rows[i].append(
                    (node, "split", f, mn[i][f] + (b + 1) * wd[i][f],
                     ct, pt)
                )
            for node, (ct, pt) in sorted(frontier[i].items()):
                if node not in winners:
                    tree_rows[i].append((node, "leaf", None, None, ct, pt))
            levels_py[i].append(
                {node: (f, b) for node, (_g, f, b, *_r) in winners.items()}
            )
            nf: dict = {}
            for node, (_g, _f, _b, cl, pl, ct, pt) in winners.items():
                nf[node * 2] = (cl, pl)
                nf[node * 2 + 1] = (ct - cl, pt - pl)
            frontier[i] = nf
            upd = None
            for node, (_g, f, b, *_r) in sorted(winners.items()):
                child = F.lit(node * 2) + F.when(
                    bincol[i][f] <= F.lit(b), F.lit(0)
                ).otherwise(F.lit(1))
                cond_n = node_expr[i] == F.lit(node)
                upd = (
                    F.when(cond_n, child) if upd is None
                    else upd.when(cond_n, child)
                )
            if upd is not None:
                node_expr[i] = upd.otherwise(node_expr[i]).cast("bigint")
    out: list[tuple[list[tuple], dict]] = []
    for i, (_c, names_t) in enumerate(specs):
        rows = list(tree_rows[i])
        for node, (ct, pt) in sorted((frontier[i] or {}).items()):
            rows.append((node, "leaf", None, None, ct, pt))
        pym = {
            "mn": mn[i],
            "wd": wd[i],
            "levels": levels_py[i],
            "leaves": {
                node: (1 if 2 * pt >= ct else 0)
                for node, kind, _f, _t, ct, pt in rows
                if kind == "leaf"
            },
            "n_nodes": {node: ct for node, _k, _f, _t, ct, _p in rows},
        }
        out.append((rows, pym))
    return out


def _tree_frame_from_rows(spark, rows: list[tuple]) -> DataFrame:
    """The tree MODEL frame (node, depth, kind, feature, threshold, n,
    pos, pos_rate, predict) from literal node rows: Spark rounds the
    threshold and pos_rate to 6 dp, and predict is the majority label
    (ties → 1)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    tree_schema = StructType([
        StructField("node", LongType()),
        StructField("kind", StringType()),
        StructField("feature", StringType()),
        StructField("__thr", DoubleType()),
        StructField("n", LongType()),
        StructField("pos", LongType()),
    ])
    return local_frame(spark, tree_schema, zip(*rows)).select(
        "node",
        F.floor(F.log2("node")).cast("long").alias("depth"),
        "kind",
        "feature",
        F.round(F.col("__thr"), 6).alias("threshold"),
        "n",
        "pos",
        F.round(F.col("pos") / F.col("n"), 6).alias("pos_rate"),
        F.when(F.col("pos") * 2 >= F.col("n"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("predict"),
    )


def _tree_fit_one(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    bins: int,
    depth: int,
    test_pred: Column | None = None,
) -> tuple[DataFrame, list[tuple], dict]:
    """Fit ONE tree — on the rows where ``test_pred`` is false, or on
    every row — as the one-spec case of ``_decision_tree_build_multi``.
    Returns (prep, tree_rows, pym): the persisted (``__t``,) ``__y``,
    features frame, the literal node rows and the routing payload."""
    names = [n for n, _ in features]
    prep, train = _single_prep(df, label, features, test_pred)
    rows, pym = _decision_tree_build_multi(
        prep, "__y", [(train, names)], bins, depth
    )[0]
    return prep, rows, pym


def _tree_confusion(
    rows: DataFrame,
    features: list[tuple[str, Column]],
    bins: int,
    pym: dict,
) -> DataFrame:
    """(actual, predicted, cnt) confusion cells of a prep frame's
    null-guarded rows routed through the tree payload."""
    names = [n for n, _ in features]
    guarded = _guarded(rows, F.col("__y"), [(n, _qcol(n)) for n in names],
                       "bigint")
    return (
        guarded.select(
            "__y", _tree_route_predict(names, bins, pym).alias("__p")
        )
        .groupBy(F.col("__y").alias("actual"), F.col("__p").alias("predicted"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("actual").cast("long").alias("actual"),
            F.col("predicted").cast("long").alias("predicted"),
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


def decision_tree_train(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    bins: int = 16,
    depth: int = 2,
) -> DataFrame:
    """Train a depth-bounded binary decision tree by histogram split
    finding; returns the tree frame (node, depth, kind, feature,
    threshold, n, pos, pos_rate, predict). Full algorithm and scale
    notes: ``_decision_tree_build_multi``."""
    prep, rows, _pym = _tree_fit_one(df, label, features, bins, depth)
    prep.unpersist()  # the model is driver-side literals now
    return _tree_frame_from_rows(df.sparkSession, rows)


def decision_tree_confusion(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    bins: int = 16,
    depth: int = 2,
) -> DataFrame:
    """Train the tree AND score the training rows: confusion matrix
    (actual, predicted, cnt) — the train→apply contract beside
    ``decision_tree_train`` (logreg carries train_accuracy the same
    way). Scoring is ONE scan of the cached training rows through the
    literal router ``_tree_route_predict`` into a 4-cell aggregate — no
    join, no second data shuffle."""
    prep, _rows, pym = _tree_fit_one(df, label, features, bins, depth)
    return _tree_confusion(prep, features, bins, pym)


def _tree_oracle_parts(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    bins: int = 16,
    depth: int = 2,
) -> tuple[list[str], str]:
    """Shared CTE assembly behind ``decision_tree_oracle_sql`` and
    ``decision_tree_confusion_oracle_sql``: the identical level-by-level
    dataflow as CTEs — equi-width binning from the same min/width
    doubles, per-level histogram + prefix-sum candidates, 12-dp-rounded
    Gini argmin with the same (gini, feature, bin) total order,
    winner-join node reassignment. Returns (ctes, tree_body) where
    tree_body unions the internal/leaf rows (node, kind, feature,
    threshold, n, pos); the final assignment CTE is ``a{depth}``."""
    names = [n for n, _ in features_sql]
    first = names[0]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    st_sel = ", ".join(
        f"min({n}) AS mn_{n}, max({n}) AS mx_{n}" for n in names
    )
    w_sel = ", ".join(
        f"(mx_{n} - mn_{n}) / {float(bins)!r} AS w_{n}" for n in names
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    fstats = " UNION ALL ".join(
        f"SELECT '{n}' AS feature, mn_{n} AS mn, w_{n} AS w FROM stw"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    unpivot = "\n      UNION ALL ".join(
        f"SELECT node, y, '{n}' AS f, b_{n} AS bin FROM a{{lvl}}"
        for n in names
    )
    case_bin = (
        "CASE w.f "
        + " ".join(f"WHEN '{n}' THEN a.b_{n}" for n in names)
        + " END"
    )
    ctes = [
        f"""raw AS MATERIALIZED (
      SELECT CAST({label_sql} AS BIGINT) AS y, {feat_sel}
      FROM {table} WHERE {null_guard})""",
        f"st AS MATERIALIZED (SELECT {st_sel} FROM raw)",
        f"stw AS MATERIALIZED (SELECT *, {w_sel} FROM st)",
        f"""a0 AS MATERIALIZED (
      SELECT y, {bin_sel}, CAST(1 AS BIGINT) AS node
      FROM raw CROSS JOIN stw)""",
        f"fstats AS MATERIALIZED ({fstats})",
    ]
    internal_sel = []
    leaf_sel = []
    for lvl in range(depth):
        up = unpivot.format(lvl=lvl)
        ctes.append(
            f"""h{lvl} AS MATERIALIZED (
      SELECT node, f, bin, count(*) AS c, sum(y) AS p FROM (
      {up}) u GROUP BY node, f, bin)"""
        )
        ctes.append(
            f"""t{lvl} AS MATERIALIZED (
      SELECT node, sum(c) AS ct, sum(p) AS pt
      FROM h{lvl} WHERE f = '{first}' GROUP BY node)"""
        )
        ctes.append(
            f"""s{lvl} AS MATERIALIZED (
      SELECT * FROM (
        SELECT h.node, h.f, h.bin,
               sum(h.c) OVER (PARTITION BY h.node, h.f
                              ORDER BY h.bin) AS cl,
               sum(h.p) OVER (PARTITION BY h.node, h.f
                              ORDER BY h.bin) AS pl,
               t.ct, t.pt
        FROM h{lvl} h JOIN t{lvl} t ON t.node = h.node) c
      WHERE cl > 0 AND cl < ct)"""
        )
        ctes.append(
            f"""w{lvl} AS MATERIALIZED (
      SELECT node, f, bin, cl, pl, ct, pt FROM (
        SELECT *, row_number() OVER (PARTITION BY node ORDER BY
          round((2.0*pl*(cl-pl)/cl + 2.0*(pt-pl)*((ct-cl)-(pt-pl))/(ct-cl))
                / ct, 12), f, bin) AS rn
        FROM s{lvl}) r WHERE rn = 1)"""
        )
        ctes.append(
            f"""a{lvl + 1} AS MATERIALIZED (
      SELECT a.y, {bcols},
             CASE WHEN w.node IS NULL THEN a.node
                  ELSE a.node * 2 + CASE WHEN {case_bin} <= w.bin
                                         THEN 0 ELSE 1 END
             END AS node
      FROM a{lvl} a LEFT JOIN w{lvl} w ON w.node = a.node)"""
        )
        frontier = (
            f"t0"
            if lvl == 0
            else f"fr{lvl}"
        )
        if lvl > 0:
            ctes.append(
                f"""fr{lvl} AS MATERIALIZED (
      SELECT node * 2 AS node, cl AS ct, pl AS pt FROM w{lvl - 1}
      UNION ALL
      SELECT node * 2 + 1, ct - cl, pt - pl FROM w{lvl - 1})"""
            )
        internal_sel.append(
            f"""SELECT w.node, 'split' AS kind, w.f AS feature,
             round(fs.mn + (w.bin + 1) * fs.w, 6) AS threshold,
             w.ct AS n, w.pt AS pos
      FROM w{lvl} w JOIN fstats fs ON fs.feature = w.f"""
        )
        leaf_sel.append(
            f"""SELECT fr.node, 'leaf', CAST(NULL AS VARCHAR),
             CAST(NULL AS DOUBLE), fr.ct, fr.pt
      FROM {frontier} fr LEFT JOIN w{lvl} w ON w.node = fr.node
      WHERE w.node IS NULL"""
        )
    ctes.append(
        f"""fr{depth} AS MATERIALIZED (
      SELECT node * 2 AS node, cl AS ct, pl AS pt FROM w{depth - 1}
      UNION ALL
      SELECT node * 2 + 1, ct - cl, pt - pl FROM w{depth - 1})"""
    )
    leaf_sel.append(
        f"SELECT node, 'leaf', CAST(NULL AS VARCHAR), "
        f"CAST(NULL AS DOUBLE), ct, pt FROM fr{depth}"
    )
    body = "\n      UNION ALL ".join(internal_sel + leaf_sel)
    return ctes, body


def decision_tree_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    bins: int = 16,
    depth: int = 2,
) -> str:
    """DuckDB replica of ``decision_tree_train`` (see
    ``_tree_oracle_parts`` for the dataflow)."""
    ctes, body = _tree_oracle_parts(table, label_sql, features_sql,
                                    bins, depth)
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(node AS BIGINT) AS node,
           CAST(floor(log2(node)) AS BIGINT) AS depth,
           kind, feature, threshold,
           CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           round(pos / n, 6) AS pos_rate,
           CAST(CASE WHEN pos * 2 >= n THEN 1 ELSE 0 END AS BIGINT)
             AS predict
    FROM ({body}) tree"""
    )


def decision_tree_confusion_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    bins: int = 16,
    depth: int = 2,
) -> str:
    """DuckDB replica of ``decision_tree_confusion`` — the same tree
    CTEs, then the final assignment CTE joined to the per-leaf majority
    label exactly as the engine scores it."""
    ctes, body = _tree_oracle_parts(table, label_sql, features_sql,
                                    bins, depth)
    ctes.append(
        f"""tree AS MATERIALIZED (
      SELECT node,
             CAST(CASE WHEN pos * 2 >= n THEN 1 ELSE 0 END AS BIGINT)
               AS predict
      FROM ({body}) t)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(a.y AS BIGINT) AS actual, t.predict AS predicted,
           CAST(count(*) AS BIGINT) AS cnt
    FROM a{depth} a JOIN tree t ON t.node = a.node
    GROUP BY a.y, t.predict"""
    )


def _boost_rows(
    df: DataFrame, target: Column, features: list[tuple[str, Column]]
) -> DataFrame:
    """The null-guarded (__y, features…) rows a booster fits on, lazy:
    ``_boost_fit`` gates them through ``local_tail`` and only its
    distributed branch persists them (``_fit_rows``)."""
    return _guarded(df, target, features, "double")


def _fit_rows(raw: DataFrame) -> DataFrame:
    """``raw`` as the distributed booster rounds read it: spread to the
    cluster's parallelism and persisted, so every round's histogram scan
    reads the cached blocks."""
    return ensure_parallelism(raw).persist()


def _boost_check(rounds: int, bins: int) -> None:
    """Both boosters' argument guard, run before any Spark job."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if bins < 2:
        raise ValueError("bins must be >= 2")


def _boost_prologue(
    raw: DataFrame,
    names: list[str],
    bins: int,
    f0: Column,
):
    """Stats/binning prologue shared by both boosters' distributed
    rounds over ``raw``, the null-guarded (__y, features…) rows:
    per-feature min/max/width and the base score ``f0`` (an aggregate
    over ``__y``) collected from ONE aggregate, and every feature's
    train-stats bin as a ``__b<i>`` column (i = the feature's position
    in ``names``). Returns (mn, wd, f0, binned)."""
    strow = raw.agg(
        *[F.min(_qcol(n)).alias(f"__mn{i}") for i, n in enumerate(names)],
        *[F.max(_qcol(n)).alias(f"__mx{i}") for i, n in enumerate(names)],
        f0.alias("__f0"),
    ).select(
        "*",
        *[
            ((F.col(f"__mx{i}") - F.col(f"__mn{i}")) / F.lit(float(bins)))
            .alias(f"__w{i}")
            for i in range(len(names))
        ],
    ).first()
    mn = {n: strow[f"__mn{i}"] for i, n in enumerate(names)}
    wd = {n: strow[f"__w{i}"] for i, n in enumerate(names)}
    binned = raw.select(
        "__y",
        *[
            _bin_lit(_quote(n), mn[n], wd[n], bins).alias(f"__b{i}")
            for i, n in enumerate(names)
        ],
    )
    return mn, wd, strow["__f0"], binned


def _stump_round(
    frame: DataFrame, resid: Column, names: list[str], lr: float
) -> tuple | None:
    """One distributed boosting round's split search, shared by both
    boosters: ONE scan of ``frame`` (its ``__b<i>`` bin columns) into
    the map-side-combined F·bins-cell histogram of ``resid`` (count and
    sum per feature bin), collected and searched by ``_stump_search``."""
    stack_expr = "stack({}, {})".format(
        len(names), ", ".join(f"{i}, __b{i}" for i in range(len(names)))
    )
    hrows = (
        frame.select(
            resid.alias("__r"), F.expr(stack_expr).alias("__f", "__bin")
        )
        .groupBy("__f", "__bin")
        .agg(F.count("*").alias("__c"), F.sum("__r").alias("__s"))
        .collect()
    )
    hist: dict = {}
    for r in hrows:
        hist.setdefault(names[r["__f"]], []).append(
            (r["__bin"], r["__c"], r["__s"])
        )
    return _stump_search(hist, names, lr)


def _stump_search(hist: dict, names: list[str], lr: float) -> tuple | None:
    """The driver half of a boosting round, shared by the distributed
    rounds and the local fit: over ``hist`` — per feature name, its
    non-empty (bin, count, residual sum) cells — per candidate "bin ≤
    b" the rounded-6-dp prefix sum sl, gain round(sl²/cl +
    (srt−sl)²/(ct−cl), 9) argmax'd under the total (gain DESC, feature,
    bin) order, and leaf values round(lr·mean, 6). Returns the winning
    stump (feature, bin, left_value, right_value), or None when no
    split leaves both sides non-empty."""
    first = sorted(hist.get(names[0], []))
    ct = sum(c for _b, c, _s in first)
    srt = _pyround(sum(s for _b, _c, s in first), 6)
    best = None  # (key, f, bin, lv, rv)
    for f, cells in sorted(hist.items()):
        cl = 0
        sl_raw = 0.0
        for b, c, s in sorted(cells):
            cl += c
            sl_raw += s
            sl = _pyround(sl_raw, 6)
            if not (0 < cl < ct):
                continue
            gain = _pyround(
                sl * sl / cl + (srt - sl) * (srt - sl) / (ct - cl), 9
            )
            key = (-gain, f, b)
            if best is None or key < best[0]:
                lv = _pyround(lr * sl / cl, 6)
                rv = _pyround(lr * (srt - sl) / (ct - cl), 6)
                best = (key, f, b, lv, rv)
    return None if best is None else best[1:]


def _stump_model(
    spark, payload: dict, loss: DataFrame, loss_name: str
) -> DataFrame:
    """The additive MODEL frame (round, feature, threshold, left_value,
    right_value, <loss_name>): round 0 the base (feature 'base', both
    values f0), round k the stump of each round that found a split,
    its threshold the bin boundary min + (b+1)·width rounded 6 dp;
    every row carries the 1-row ``loss`` frame's ``__loss``."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    mn, wd, f0 = payload["mn"], payload["wd"], payload["f0"]
    model_schema = StructType([
        StructField("round", LongType()),
        StructField("feature", StringType()),
        StructField("__thr", DoubleType()),
        StructField("left_value", DoubleType()),
        StructField("right_value", DoubleType()),
    ])
    rows = [(0, "base", None, f0, f0)]
    for k, stump in enumerate(payload["winners"], 1):
        if stump is not None:
            f, b, lv, rv = stump
            rows.append((k, f, mn[f] + (b + 1) * wd[f], lv, rv))
    out = local_frame(spark, model_schema, zip(*rows))
    return out.crossJoin(F.broadcast(loss)).select(
        "round", "feature",
        F.round(F.col("__thr"), 6).alias("threshold"),
        "left_value", "right_value",
        F.col("__loss").alias(loss_name),
    )


def _np_bin(x, mn: float, width: float, bins: int):
    """``_bin_lit`` over the finite doubles ``x`` in numpy, to the
    bit: Spark's ``floor`` is a BIGINT (a double past its range
    saturates) and the non-ANSI ``CAST(... AS INT)`` keeps its low 32
    bits, so a row far outside the train range can wrap before the
    clip to [0, bins − 1]."""
    import numpy as np

    if width == 0.0:
        return np.zeros(len(x), dtype=np.int64)
    q = np.floor((x - mn) / width)
    hi, lo = q >= 2.0 ** 63, q < -(2.0 ** 63)
    big = np.where(hi | lo, 0.0, q).astype(np.int64)
    big[hi], big[lo] = np.iinfo(np.int64).max, np.iinfo(np.int64).min
    as_int = ((big & 0xFFFFFFFF) ^ 0x80000000) - 0x80000000
    return np.clip(as_int, 0, bins - 1)


def _boost_fit_local(
    pdf, names: list[str], rounds: int, bins: int, lr: float
) -> dict | None:
    """``_boost_fit``'s payload from ``pdf``, the gate's one collect of
    the null-guarded rows, in numpy: the same min/max/width stats, F₀ =
    round(mean, 6), the same bins (floor((x − mn)/w) clipped to
    [0, bins−1], width 0 → bin 0), the same row-local residual rounds,
    and per round each feature's bincount histogram (only non-empty
    cells, as the groupBy emits them) through the shared
    ``_stump_search``. Every per-row value is the identical double
    operation; histogram sums accumulate in row order instead of
    Spark's partial-aggregation order, a last-ulp difference the 6-dp
    rounding of every sum absorbs. None when the rows are empty or hold
    a non-finite value: Spark's min/max/avg semantics for those stay
    with the distributed rounds."""
    import numpy as np

    y = pdf["__y"].to_numpy(dtype=np.float64)
    xs = [pdf[n].to_numpy(dtype=np.float64) for n in names]
    if len(y) == 0 or not all(np.isfinite(a).all() for a in (y, *xs)):
        return None
    mn, wd, codes = {}, {}, []
    for n, x in zip(names, xs):
        lo = float(x.min())
        w = (float(x.max()) - lo) / float(bins)
        mn[n], wd[n] = lo, w
        codes.append(_np_bin(x, lo, w, bins))
    # Spark's avg is sum / count; its round never yields -0.0 (+ 0.0
    # turns a HALF_UP -0.0 into 0.0 the same way)
    f0 = _pyround(float(y.sum()) / len(y), 6) + 0.0
    r = y - f0
    payload = {"mn": mn, "wd": wd, "f0": f0, "winners": []}
    for _ in range(rounds):
        hist = {}
        for n, b in zip(names, codes):
            cnt = np.bincount(b, minlength=bins)
            sm = np.bincount(b, weights=r, minlength=bins)
            hist[n] = [(int(k), int(cnt[k]), float(sm[k]))
                       for k in np.flatnonzero(cnt)]
        stump = _stump_search(hist, names, lr)
        payload["winners"].append(stump)
        if stump is not None:
            f, bn, lv, rv = stump
            r = r - np.where(codes[names.index(f)] <= bn, lv, rv)
    return payload


def _boost_fit(
    raw: DataFrame,
    names: list[str],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> tuple[DataFrame, dict]:
    """Gradient-boosted regression STUMPS trained in-engine — Friedman's
    LS_Boost with depth-1 histogram trees, the additive-model companion
    to ``decision_tree_train`` (classification tree) and ``logreg_train``
    (linear model). Fit F₀ = mean(y); each round fits one stump to the
    residuals by the shared histogram split search (``_stump_search``)
    and adds ν·leaf-mean to the prediction.

    Determinism/oracle contract (the logreg discipline): per-ROW
    residual updates are exact row-local double arithmetic (y, the 6-dp
    base and the 6-dp leaf values — no cross-row accumulation, so both
    engines hold bit-identical residuals); every cross-row SUM is
    rounded to 6 dp before use (sums of ~n doubles differ between
    engines only in the last ulps, absorbed at 6 dp); the split gain
    sl²/cl + sr²/cr over the ROUNDED sums is rounded to 9 dp and
    argmax'd under the total (gain DESC, feature, bin) order. A round
    with no valid split (constant features) adds nothing and emits no
    stump row.

    Fits on ``raw``, the lazy null-guarded (__y, features…) rows.
    Returns (resid, payload): a frame whose ``__r`` is each row's final
    residual and the driver-side payload {"mn", "wd", "f0", "winners"}
    ``_boost_score`` compiles — one (feature, bin, lv, rv) or None per
    round.

    Scale shape: ``raw`` goes through the one local-tail gate. Under
    ``catalog.LOCAL_TAIL_ROWS`` the whole fit runs in numpy off that
    one collect (``_boost_fit_local``: one count job and one collect,
    no per-round job) and ``resid`` is the literal residual chain
    y − F₀ − leaf₁ − … over ``raw``. Over the cap the rows are
    persisted, the stats and F₀ come from one aggregate, and each round
    is ONE codegen scan into a map-side-combined F·bins-cell histogram
    collected to the driver — cost is ``rounds`` linear passes, the
    distributed-GBDT `hist` contract."""
    _boost_check(rounds, bins)
    pdf = local_tail(raw)
    payload = (
        None if pdf is None
        else _boost_fit_local(pdf, names, rounds, bins, lr)
    )
    if payload is not None:
        resid = functools.reduce(
            operator.sub, _boost_leaves(bins, payload),
            F.col("__y") - _dlit(payload["f0"]),
        )
        return raw.select(resid.alias("__r")), payload
    mn, wd, f0, binned = _boost_prologue(
        _fit_rows(raw), names, bins, F.round(F.avg("__y"), 6)
    )
    bcols = [f"__b{i}" for i in range(len(names))]
    resid = binned.select(*bcols, (F.col("__y") - _dlit(f0)).alias("__r"))
    payload = {"mn": mn, "wd": wd, "f0": f0, "winners": []}
    for _ in range(rounds):
        stump = _stump_round(resid, F.col("__r"), names, lr)
        payload["winners"].append(stump)
        if stump is not None:
            f, b, lv, rv = stump
            resid = resid.select(
                *bcols,
                (
                    F.col("__r")
                    - F.when(F.col(f"__b{names.index(f)}") <= F.lit(b),
                             _dlit(lv))
                    .otherwise(_dlit(rv))
                ).alias("__r"),
            )
    return resid, payload


def _rmse6(err: Column) -> Column:
    """round(sqrt(avg(err²)), 6) — NULL errors are skipped, and no
    rows give NULL."""
    return F.round(F.sqrt(F.avg(err * err)), 6)


def boost_stumps_train(
    df: DataFrame,
    target: Column,
    features: list[tuple[str, Column]],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> DataFrame:
    """Train gradient-boosted regression stumps; returns the model
    frame (round, feature, threshold, left_value, right_value,
    train_rmse). Full algorithm and contracts: ``_boost_fit``."""
    names = [n for n, _ in features]
    resid, pym = _boost_fit(
        _boost_rows(df, target, features), names, rounds, bins, lr
    )
    rmse = resid.agg(_rmse6(F.col("__r")).alias("__loss"))
    return _stump_model(df.sparkSession, pym, rmse, "train_rmse")


def boost_stumps_oracle_sql(
    table: str,
    target_sql: str,
    features_sql: list[tuple[str, str]],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``boost_stumps_train`` — the identical
    round-by-round dataflow as CTEs with sums rounded 6 dp, gain 9 dp,
    leaf values 6 dp at the same points."""
    names = [n for n, _ in features_sql]
    first = names[0]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({target_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    st_sel = ", ".join(
        f"min({n}) AS mn_{n}, max({n}) AS mx_{n}" for n in names
    )
    w_sel = ", ".join(
        f"(mx_{n} - mn_{n}) / {float(bins)!r} AS w_{n}" for n in names
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    fstats = " UNION ALL ".join(
        f"SELECT '{n}' AS feature, mn_{n} AS mn, w_{n} AS w FROM stw"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    unpivot_tpl = "\n      UNION ALL ".join(
        f"SELECT r, '{n}' AS f, b_{n} AS bin FROM {{src}}" for n in names
    )
    case_bin = (
        "CASE s.f "
        + " ".join(f"WHEN '{n}' THEN r.b_{n}" for n in names)
        + " END"
    )
    ctes = [
        f"""raw AS MATERIALIZED (
      SELECT CAST({target_sql} AS DOUBLE) AS y, {feat_sel}
      FROM {table} WHERE {null_guard})""",
        f"st AS MATERIALIZED (SELECT {st_sel} FROM raw)",
        f"stw AS MATERIALIZED (SELECT *, {w_sel} FROM st)",
        "base AS MATERIALIZED (SELECT round(avg(y), 6) AS f0 FROM raw)",
        f"""r0 AS MATERIALIZED (
      SELECT {bin_sel}, y - f0 AS r
      FROM raw CROSS JOIN stw CROSS JOIN base)""",
        f"fstats AS MATERIALIZED ({fstats})",
    ]
    stump_sel = []
    for k in range(1, rounds + 1):
        prev = f"r{k - 1}"
        up = unpivot_tpl.format(src=prev)
        ctes.append(
            f"""h{k} AS MATERIALIZED (
      SELECT f, bin, count(*) AS c, sum(r) AS s FROM (
      {up}) u GROUP BY f, bin)"""
        )
        ctes.append(
            f"""t{k} AS MATERIALIZED (
      SELECT sum(c) AS ct, round(sum(s), 6) AS srt
      FROM h{k} WHERE f = '{first}')"""
        )
        ctes.append(
            f"""s{k} AS MATERIALIZED (
      SELECT f, bin,
             round({lr!r} * sl / cl, 6) AS lv,
             round({lr!r} * (srt - sl) / (ct - cl), 6) AS rv
      FROM (
        SELECT *, row_number() OVER (ORDER BY
          round(sl * sl / cl + (srt - sl) * (srt - sl) / (ct - cl), 9)
            DESC, f, bin) AS rn
        FROM (
          SELECT h.f, h.bin,
                 sum(h.c) OVER (PARTITION BY h.f ORDER BY h.bin) AS cl,
                 round(sum(h.s) OVER (PARTITION BY h.f ORDER BY h.bin),
                       6) AS sl,
                 t.ct, t.srt
          FROM h{k} h CROSS JOIN t{k} t) c
        WHERE cl > 0 AND cl < ct) v
      WHERE rn = 1)"""
        )
        ctes.append(
            f"""r{k} AS MATERIALIZED (
      SELECT {bcols},
             CASE WHEN s.f IS NULL THEN r.r
                  ELSE r.r - CASE WHEN {case_bin} <= s.bin
                                  THEN s.lv ELSE s.rv END
             END AS r
      FROM {prev} r LEFT JOIN s{k} s ON TRUE)"""
        )
        stump_sel.append(
            f"""SELECT CAST({k} AS BIGINT) AS round, s.f AS feature,
             round(fs.mn + (s.bin + 1) * fs.w, 6) AS threshold,
             s.lv AS left_value, s.rv AS right_value
      FROM s{k} s JOIN fstats fs ON fs.feature = s.f"""
        )
    ctes.append(
        f"""rmse AS (SELECT round(sqrt(avg(r * r)), 6) AS v
      FROM r{rounds})"""
    )
    body = "\n      UNION ALL ".join(
        [
            "SELECT CAST(0 AS BIGINT) AS round, 'base' AS feature, "
            "CAST(NULL AS DOUBLE) AS threshold, f0 AS left_value, "
            "f0 AS right_value FROM base"
        ]
        + stump_sel
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT m.round, m.feature, m.threshold, m.left_value, m.right_value,
           rmse.v AS train_rmse
    FROM ({body}) m CROSS JOIN rmse"""
    )


def logreg_calibration(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int = 8,
    lr: float = 0.5,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram for the trained logistic regression — the
    calibration contract beside accuracy (``logreg_train``) and the
    tree/boosting evals: bin the 6-dp-rounded predicted probability
    p = σ(margin) into ``n_bins`` equal-width bins and compare the
    bin's mean prediction to its observed positive rate. A
    well-calibrated classifier shows |mean_pred − frac_pos| ≈ 0 per
    bin; the gap column is what a release gate thresholds on before
    trusting the scores as sampling weights.

    Returns (bin, n, mean_pred, frac_pos, gap) for non-empty bins.

    Scale shape: the same fit as ``logreg_train`` (the shared GD loop),
    then ONE codegen scan computing p and its bin (floor arithmetic on
    the rounded p — both engines bin identically) into an
    ``n_bins``-cell partial-aggregated groupBy."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    scored = _logreg_scored(df, label, features, iterations, lr).select(
        "__y", "__p",
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.col("__p") * F.lit(float(n_bins))).cast("int"),
        ).alias("__bin"),
    )
    return (
        scored.groupBy("__bin")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("__p"), 6).alias("mean_pred"),
            F.round(F.avg("__y"), 6).alias("frac_pos"),
        )
        .select(
            F.col("__bin").cast("long").alias("bin"),
            F.col("n").cast("long").alias("n"),
            "mean_pred",
            "frac_pos",
            F.round(F.abs(F.col("mean_pred") - F.col("frac_pos")), 6)
            .alias("gap"),
        )
    )


def logreg_calibration_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    iterations: int = 8,
    lr: float = 0.5,
    n_bins: int = 10,
) -> str:
    """DuckDB replica of ``logreg_calibration`` — the shared GD CTEs,
    then the identical round-6 sigmoid, floor binning and per-bin
    aggregate."""
    ctes, prev, marg, names = _logreg_oracle_parts(
        table, label_sql, features_sql, iterations, lr
    )
    ctes.append(
        f"""cal AS (SELECT y,
      round(1.0 / (1.0 + exp(-({marg}))), 6) AS p
      FROM z CROSS JOIN {prev})"""
    )
    ctes.append(
        f"""binned AS (SELECT y, p,
      least({n_bins - 1}, CAST(floor(p * {float(n_bins)!r}) AS INT)) AS bin
      FROM cal)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 6) AS mean_pred,
           round(avg(y), 6) AS frac_pos,
           round(abs(round(avg(p), 6) - round(avg(y), 6)), 6) AS gap
    FROM binned GROUP BY bin"""
    )


def logreg_auc(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """Exact ROC-AUC of the trained classifier — the threshold-free
    ranking metric beside accuracy (``logreg_train``) and calibration
    (``logreg_calibration``): the tie-corrected Wilcoxon rank-sum

        AUC = Σ_s (neg_below(s)·pos(s) + pos(s)·neg(s)/2) / (P·N)

    computed over the HISTOGRAM of 6-dp predicted probabilities, not
    over rows. Because scores are rounded to 6 dp they live on a
    10⁶+1-point grid, so the histogram — and the one ordered cumulative
    window over it — is bounded regardless of corpus size; this is the
    standard scalable-AUC shape (bucket, then rank buckets). Ties get
    the exact average-rank credit of ½ per tied pair.

    Returns one row: (n_pos, n_neg, auc) with auc NULL when either
    class is empty (undefined, not a division error).

    Scale shape: the shared GD fit, one codegen scoring scan into a
    ≤10⁶-cell partial-aggregated histogram, one window over that
    bounded frame, one 1-row aggregate."""
    return _auc_over_scores(
        _logreg_scored(df, label, features, iterations, lr)
    ).select(
        F.col("__P").cast("long").alias("n_pos"),
        F.col("__N").cast("long").alias("n_neg"),
        _auc_value().alias("auc"),
    )


def _logreg_scored(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int,
    lr: float,
) -> DataFrame:
    """Fit on every row and score every row: (__y, __p) with __p the
    6-dp predicted probability — the input of the calibration, ROC-AUC
    and PR-AUC evaluators."""
    prep, margin, _model = _logreg_fit_one(df, label, features,
                                           iterations, lr)
    return prep.select("__y", _sigmoid6(margin).alias("__p"))


def _auc_over_scores(scored: DataFrame, *by: str) -> DataFrame:
    """Tie-corrected Wilcoxon rank-sum over a (by…, __y, __p) scored
    frame, per ``by`` key (one global row without a key): histogram by
    the 6-dp score (bounded at 10⁶+1 cells per key), one ordered
    cumulative window per key over the histogram, then the
    (by…, __P, __N, __U) sums that ``_auc_value`` turns into the AUC.
    Per-key sums stay exact (integer counts, half-integer U terms), so
    keying several evaluations into one scan cannot move a rounding
    boundary."""
    hist = scored.groupBy(*by, "__p").agg(
        F.sum("__y").cast("long").alias("__pos"),
        (F.count("*") - F.sum("__y")).cast("long").alias("__neg"),
    )
    # NULL scores (a null feature) rank above every score, as the
    # oracles' ORDER BY p does in DuckDB (ASC is NULLS LAST there)
    win = (
        Window.partitionBy(*by).orderBy(F.col("__p").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    contrib = hist.select(
        *by, "__pos", "__neg",
        (F.sum("__neg").over(win) - F.col("__neg")).alias("__nb"),
    ).select(
        *by, "__pos", "__neg",
        (
            F.col("__nb") * F.col("__pos")
            + F.col("__pos") * F.col("__neg") / F.lit(2.0)
        ).alias("__u"),
    )
    return contrib.groupBy(*by).agg(
        F.sum("__pos").alias("__P"),
        F.sum("__neg").alias("__N"),
        F.sum("__u").alias("__U"),
    )


def _auc_value() -> Column:
    """AUC = round(U / (P·N), 6) over an ``_auc_over_scores`` row —
    NULL when either class is empty (undefined, not a division
    error)."""
    return F.when(
        (F.col("__P") > 0) & (F.col("__N") > 0),
        F.round(F.col("__U") / (F.col("__P") * F.col("__N")), 6),
    )


def logreg_auc_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_auc`` — shared GD CTEs, identical
    round-6 sigmoid, the same score histogram and cumulative rank-sum."""
    ctes, prev, marg, names = _logreg_oracle_parts(
        table, label_sql, features_sql, iterations, lr
    )
    ctes.append(
        f"""hist AS (SELECT round(1.0 / (1.0 + exp(-({marg}))), 6) AS p,
      CAST(sum(y) AS BIGINT) AS pos,
      CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM z CROSS JOIN {prev} GROUP BY 1)"""
    )
    ctes.append(
        """contrib AS (SELECT pos, neg,
      (sum(neg) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
                      CURRENT ROW) - neg) * pos
      + pos * neg / 2.0 AS u
      FROM hist)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           CASE WHEN sum(pos) > 0 AND sum(neg) > 0
                THEN round(sum(u) / (sum(pos) * sum(neg)), 6)
                ELSE NULL END AS auc
    FROM contrib"""
    )


def logreg_pr_auc(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """Precision-Recall AUC of the trained classifier as AVERAGE
    PRECISION (the sklearn ``average_precision_score`` step-sum
    AP = Σ_k (R_k − R_{k−1})·P_k over descending score thresholds) —
    the metric that actually moves on CLASS-IMBALANCED corpora, where
    ROC-AUC is propped up by the huge true-negative pool (VERDICT r9
    #7). Computed over the same bounded histogram of 6-dp predicted
    probabilities as ``logreg_auc`` (bucket, then rank buckets): per
    distinct score, ΔR = bucket_pos/P and precision =
    cum_pos/(cum_pos+cum_neg) with ONE descending cumulative window
    over the ≤10⁶-cell frame; tied scores collapse into one bucket,
    matching sklearn's tie handling.

    Returns one row: (n_pos, n_neg, prevalence, pr_auc) — prevalence
    = P/(P+N) is the random-classifier AP, the baseline that makes
    PR-AUC legible (an AP of 0.3 is strong at 5% prevalence and
    broken at 50%); pr_auc NULL when there are no positives.

    Scale shape: the shared GD fit, one codegen scoring scan into the
    partial-aggregated histogram, one window over that bounded frame,
    one 1-row aggregate — identical cost to the ROC-AUC pass."""
    return _pr_auc_over_scores(
        _logreg_scored(df, label, features, iterations, lr)
    )


def _pr_auc_over_scores(scored: DataFrame) -> DataFrame:
    """Average precision over a (__y, __p) scored frame: histogram by
    the 6-dp score, one DESCENDING cumulative window, AP as the
    recall-weighted precision sum. Returns the 1-row
    (n_pos, n_neg, prevalence, pr_auc) frame."""
    hist = scored.groupBy("__p").agg(
        F.sum("__y").cast("long").alias("__pos"),
        (F.count("*") - F.sum("__y")).cast("long").alias("__neg"),
    )
    win = (
        Window.orderBy(F.col("__p").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "__pos", "__neg",
        F.sum("__pos").over(win).alias("__cp"),
        F.sum("__neg").over(win).alias("__cn"),
    )
    return cum.agg(
        F.sum("__pos").alias("__P"),
        F.sum("__neg").alias("__N"),
        F.sum(
            # double before the multiply: long·long overflows silently
            # at web-scale cumulative counts
            F.col("__pos").cast("double") * F.col("__cp")
            / (F.col("__cp") + F.col("__cn"))
        ).alias("__ap"),
    ).select(
        F.col("__P").cast("long").alias("n_pos"),
        F.col("__N").cast("long").alias("n_neg"),
        F.round(F.col("__P") / (F.col("__P") + F.col("__N")), 6)
        .alias("prevalence"),
        F.when(
            F.col("__P") > 0,
            F.round(F.col("__ap") / F.col("__P"), 6),
        ).alias("pr_auc"),
    )


def logreg_pr_auc_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_pr_auc`` — shared GD CTEs, identical
    round-6 sigmoid, the same descending-score histogram walk and
    recall-weighted precision sum."""
    ctes, prev, marg, names = _logreg_oracle_parts(
        table, label_sql, features_sql, iterations, lr
    )
    ctes.append(
        f"""hist AS (SELECT round(1.0 / (1.0 + exp(-({marg}))), 6) AS p,
      CAST(sum(y) AS BIGINT) AS pos,
      CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM z CROSS JOIN {prev} GROUP BY 1)"""
    )
    ctes.append(
        """prcum AS (SELECT pos, neg,
      sum(pos) OVER (ORDER BY p DESC ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cp,
      sum(neg) OVER (ORDER BY p DESC ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cn
      FROM hist)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
           CAST(sum(neg) AS BIGINT) AS n_neg,
           round(CAST(sum(pos) AS DOUBLE) / (sum(pos) + sum(neg)), 6)
             AS prevalence,
           CASE WHEN sum(pos) > 0
                THEN round(sum(CAST(pos AS DOUBLE) * cp / (cp + cn))
                           / sum(pos), 6)
                ELSE NULL END AS pr_auc
    FROM prcum"""
    )


def logreg_holdout_eval(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    test_pred: Column,
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """GENERALIZATION contract for the classifier: fit on the rows where
    ``test_pred`` is false, score the held-out rows with the TRAINING
    statistics (the train-fold means/stds standardize the unseen
    features — never the test fold's own), and report test accuracy and
    test AUC. ``test_pred`` must be a deterministic boolean over the
    input (hash-split it — the sampling module's md5-prefix discipline)
    so both engines hold identical folds.

    Returns one row: (n_train, n_test, test_accuracy, test_auc) — AUC
    NULL when the held-out fold is single-class.

    Scale shape: the one-spec GD fit over the train rows of the cached
    prep, then ONE scan of it for the counts and the test accuracy and
    ONE scoring scan of the test fold (the model is a literal margin)
    into the bounded score-histogram AUC."""
    prep, margin, _model = _logreg_fit_one(
        df, label, features, iterations, lr, test_pred
    )
    test = F.col("__t")
    stats = prep.agg(
        F.count(F.when(~test, F.lit(1))).alias("__ntr"),
        F.count(F.when(test, F.lit(1))).alias("__nt"),
        F.round(
            F.avg(F.when(test, _hit(F.round(margin, 6), F.col("__y")))), 6
        ).alias("__acc"),
    )
    scored = prep.filter(test).select("__y", _sigmoid6(margin).alias("__p"))
    return (
        _auc_over_scores(scored)
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("__ntr").cast("long").alias("n_train"),
            F.col("__nt").cast("long").alias("n_test"),
            F.col("__acc").alias("test_accuracy"),
            _auc_value().alias("test_auc"),
        )
    )


def logreg_holdout_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    test_pred_sql: str,
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_holdout_eval`` — the GD CTEs over the
    train fold, then the identical train-statistics scoring of the test
    fold, accuracy and histogram AUC."""
    names = [n for n, _ in features_sql]
    ctes, prev, marg, _ = _logreg_oracle_parts(
        f"(SELECT * FROM {table} WHERE NOT ({test_pred_sql}))",
        label_sql, features_sql, iterations, lr,
    )
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    z_sel = ", ".join(
        f"round(({n} - m_{n}) / s_{n}, 6) AS {n}" for n in names
    )
    ctes.append(
        f"""test0 AS MATERIALIZED (
      SELECT CAST({label_sql} AS DOUBLE) AS y, {feat_sel}
      FROM {table} WHERE ({test_pred_sql}))"""
    )
    ctes.append(
        f"""zt AS MATERIALIZED (
      SELECT y, {z_sel} FROM test0 CROSS JOIN st CROSS JOIN {prev})"""
    )
    ctes.append(
        f"""tacc AS (SELECT count(*) AS nt, round(avg(CASE WHEN
      (round({marg}, 6) >= 0) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6)
      AS a FROM zt CROSS JOIN {prev})"""
    )
    ctes.append(
        f"""thist AS (SELECT round(1.0 / (1.0 + exp(-({marg}))), 6) AS p,
      CAST(sum(y) AS BIGINT) AS pos,
      CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM zt CROSS JOIN {prev} GROUP BY 1)"""
    )
    ctes.append(
        """tcontrib AS (SELECT pos, neg,
      (sum(neg) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
                      CURRENT ROW) - neg) * pos
      + pos * neg / 2.0 AS u
      FROM thist)"""
    )
    return (
        "WITH " + ",\n    ".join(ctes)
        + """
    SELECT CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_train,
           CAST(tacc.nt AS BIGINT) AS n_test,
           tacc.a AS test_accuracy,
           CASE WHEN sum(pos) > 0 AND sum(neg) > 0
                THEN round(sum(u) / (sum(pos) * sum(neg)), 6)
                ELSE NULL END AS test_auc
    FROM tcontrib CROSS JOIN tacc
    GROUP BY tacc.nt, tacc.a"""
    )


def decision_tree_holdout(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    test_pred: Column,
    bins: int = 16,
    depth: int = 2,
) -> DataFrame:
    """GENERALIZATION contract for the histogram tree, mirroring
    ``logreg_holdout_eval``: fit on the rows where ``test_pred`` is
    false, then route the UNSEEN fold through the learned tree — test
    rows are binned with the TRAIN fold's min/width (no test-
    distribution leakage) and follow the per-level winner reassignment,
    landing each row at a leaf the training run created. Returns the
    held-out confusion cells (actual, predicted, cnt).

    Scale shape: the one-spec build over the train rows of the cached
    prep, then ONE scan of the test fold through the literal router
    ``_tree_route_predict`` — identical bin arithmetic, winner maps and
    leaf predicts as the oracle's per-level winner joins."""
    prep, _rows, pym = _tree_fit_one(
        df, label, features, bins, depth, test_pred
    )
    return _tree_confusion(prep.filter(F.col("__t")), features, bins, pym)


def decision_tree_holdout_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    test_pred_sql: str,
    bins: int = 16,
    depth: int = 2,
) -> str:
    """DuckDB replica of ``decision_tree_holdout`` — the tree CTEs over
    the train-filtered table, then the identical train-statistics
    binning and winner-join routing of the test fold."""
    names = [n for n, _ in features_sql]
    ctes, body = _tree_oracle_parts(
        f"(SELECT * FROM {table} WHERE NOT ({test_pred_sql}))",
        label_sql, features_sql, bins, depth,
    )
    ctes.append(
        f"""tree AS MATERIALIZED (
      SELECT node,
             CAST(CASE WHEN pos * 2 >= n THEN 1 ELSE 0 END AS BIGINT)
               AS predict
      FROM ({body}) t)"""
    )
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    case_bin = (
        "CASE w.f "
        + " ".join(f"WHEN '{n}' THEN a.b_{n}" for n in names)
        + " END"
    )
    ctes.append(
        f"""tb0 AS MATERIALIZED (
      SELECT y, {bin_sel}, CAST(1 AS BIGINT) AS node FROM (
        SELECT CAST({label_sql} AS BIGINT) AS y, {feat_sel}
        FROM {table} WHERE ({test_pred_sql}) AND {null_guard}) q
      CROSS JOIN stw)"""
    )
    for lvl in range(depth):
        ctes.append(
            f"""tb{lvl + 1} AS MATERIALIZED (
      SELECT a.y, {bcols},
             CASE WHEN w.node IS NULL THEN a.node
                  ELSE a.node * 2 + CASE WHEN {case_bin} <= w.bin
                                         THEN 0 ELSE 1 END
             END AS node
      FROM tb{lvl} a LEFT JOIN w{lvl} w ON w.node = a.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(a.y AS BIGINT) AS actual, t.predict AS predicted,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tb{depth} a JOIN tree t ON t.node = a.node
    GROUP BY a.y, t.predict"""
    )


def _boost_leaves(bins: int, pym: dict) -> list[Column]:
    """Each surviving round's stump over the raw feature columns as a
    literal ``when(bin_f <= b, lv).otherwise(rv)``, binned with the
    train stats, in round order."""
    mn, wd = pym["mn"], pym["wd"]
    leaves = []
    for w in pym["winners"]:
        if w is not None:
            f, bn, lv, rv = w
            x = _bin_lit(_quote(f), mn[f], wd[f], bins)
            leaves.append(
                F.when(x <= F.lit(bn), _dlit(lv)).otherwise(_dlit(rv))
            )
    return leaves


def _boost_score(bins: int, pym: dict) -> Column:
    """The boosted-stump families' ONE scorer: the additive model over
    the raw feature columns as a literal expression compiled from the
    boost payload — base + per-surviving-round leaf values
    (``_boost_leaves``), left-associated in round order, exactly the
    training-side update arithmetic on identical literal operands."""
    return functools.reduce(
        operator.add, _boost_leaves(bins, pym), _dlit(pym["f0"])
    )


def _boost_holdout_local(spark, pdf, names: list[str], rounds: int,
                         bins: int, lr: float) -> DataFrame | None:
    """``boost_stumps_holdout``'s row on the driver, over ``pdf``, the
    gate's one collect of the null-guarded (__t, __y, features…) rows:
    the train fold (``__t`` false) fits through ``_boost_fit_local``,
    then every row takes the train-stats bins (``_np_bin``) and the
    same row-local double chains as the distributed aggregate — the
    train residual y − F₀ − leaf₁ − … and the test error
    y − (F₀ + leaf₁ + …) — and each fold's RMSE is
    round(sqrt(Σ err² / n), 6), NULL for an empty fold. None when a
    value or a squared-error sum is non-finite or the train fold is
    empty: those stay with the distributed path."""
    import math

    import numpy as np

    y = pdf["__y"].to_numpy(dtype=np.float64)
    xs = {n: pdf[n].to_numpy(dtype=np.float64) for n in names}
    if not all(np.isfinite(a).all() for a in (y, *xs.values())):
        return None
    # a NULL fold flag belongs to neither fold
    train = pdf["__t"].eq(False).to_numpy()
    test = pdf["__t"].eq(True).to_numpy()
    pym = _boost_fit_local(pdf[train], names, rounds, bins, lr)
    if pym is None:
        return None
    resid, pred = y - pym["f0"], pym["f0"]
    for w in pym["winners"]:
        if w is not None:
            f, bn, lv, rv = w
            leaf = np.where(
                _np_bin(xs[f], pym["mn"][f], pym["wd"][f], bins) <= bn,
                lv, rv)
            resid, pred = resid - leaf, pred + leaf
    counts = [int(train.sum()), int(test.sum())]
    sums = [float(np.sum(e * e)) for e in (resid[train], (y - pred)[test])]
    if not all(math.isfinite(v) for v in sums):
        return None  # an overflowed square: Spark's inf semantics
    # _rmse6: round(sqrt(avg(err²)), 6), NULL over no rows
    rmse = [None if n == 0 else _pyround(math.sqrt(v / n), 6)
            for v, n in zip(sums, counts)]
    schema = T.StructType([
        T.StructField("n_train", T.LongType(), False),
        T.StructField("n_test", T.LongType(), False),
        T.StructField("train_rmse", T.DoubleType()),
        T.StructField("test_rmse", T.DoubleType()),
    ])
    return local_frame(spark, schema, [[v] for v in counts + rmse])


def boost_stumps_holdout(
    df: DataFrame,
    target: Column,
    features: list[tuple[str, Column]],
    test_pred: Column,
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> DataFrame:
    """GENERALIZATION contract for the boosted stumps — the overfit
    detector for the regression family: fit on the rows where
    ``test_pred`` is false, bin the UNSEEN fold with the TRAIN fold's
    min/width, apply the additive model (base + per-stump leaf values,
    left-associated in round order — the exact training arithmetic) and
    compare held-out RMSE to train RMSE.

    Returns one row: (n_train, n_test, train_rmse, test_rmse); a row
    whose ``test_pred`` is NULL belongs to neither fold.

    Scale shape: the lazy null-guarded (__t, __y, features…) rows go
    through the one local-tail gate. Under ``catalog.LOCAL_TAIL_ROWS``
    the operator finishes on the driver off that one collect
    (``_boost_holdout_local``) and returns a 1-row local frame. Over the
    cap — or with a non-finite value or an empty train fold — the gated
    rows are persisted (``round_persist``) on the object the gate
    counted; the fit reads their train fold (stats and F₀ in one
    aggregate, then one histogram scan per round). Then the model is
    literals, and ONE conditional aggregate over the persisted rows
    returns all four values: the train residual chain
    (``y − F₀ − leaf₁ − …``, the fit's exact arithmetic) on the train
    side, y − (F₀ + leaf₁ + …), the ``_boost_score`` arithmetic, on the
    test side — no model frame, no join, one scan."""
    _boost_check(rounds, bins)
    names = [n for n, _ in features]
    # the ``_guarded`` rule
    rows = df.select(
        test_pred.alias("__t"),
        target.cast("double").alias("__y"),
        *[e.cast("double").alias(n) for n, e in features],
    ).na.drop(subset=["__y", *[_quote(n) for n in names]])
    pdf = local_tail(rows)
    out = None if pdf is None else _boost_holdout_local(
        df.sparkSession, pdf, names, rounds, bins, lr)
    if out is not None:
        return out
    # persisted from the object the gate counted (as graph's
    # ``_persist_gated``): the fit rounds and the fold metrics read its
    # blocks instead of featurizing ``df`` again
    rows = round_persist(ensure_parallelism(rows))
    y, test = F.col("__y"), F.col("__t")
    train = ~test
    _resid, pym = _boost_fit(
        rows.filter(train).select("__y", *[_qcol(n) for n in names]),
        names, rounds, bins, lr,
    )
    # the leaves are compiled once and shared by both chains: each
    # Column costs py4j round trips
    leaves = _boost_leaves(bins, pym)
    f0 = _dlit(pym["f0"])
    resid = functools.reduce(operator.sub, leaves, y - f0)
    pred = functools.reduce(operator.add, leaves, f0)  # ≡ _boost_score
    return rows.agg(
        F.count(F.when(train, F.lit(1))).cast("long").alias("n_train"),
        F.count(F.when(test, F.lit(1))).cast("long").alias("n_test"),
        _rmse6(F.when(train, resid)).alias("train_rmse"),
        _rmse6(F.when(test, y - pred)).alias("test_rmse"),
    )


def boost_stumps_holdout_oracle_sql(
    table: str,
    target_sql: str,
    features_sql: list[tuple[str, str]],
    test_pred_sql: str,
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``boost_stumps_holdout`` — the boosting CTEs
    over the train-filtered table, then the identical train-statistics
    binning and additive scoring of the test fold."""
    names = [n for n, _ in features_sql]
    # rebuild the shared fit CTEs over the filtered train table by
    # reusing the train oracle's WITH clause up to r{rounds}: simplest
    # robust route — regenerate them from the same generator body.
    train_tbl = f"(SELECT * FROM {table} WHERE NOT ({test_pred_sql}))"
    full = boost_stumps_oracle_sql(
        train_tbl, target_sql, features_sql, rounds, bins, lr
    )
    # strip the final SELECT (everything after the last CTE) — the CTE
    # list ends with 'rmse AS (...)' which we keep as train rmse
    cut = full.rindex("\n    SELECT m.round")
    ctes_text = full[:cut]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({target_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    case_bin = (
        "CASE s.f "
        + " ".join(f"WHEN '{n}' THEN r.b_{n}" for n in names)
        + " END"
    )
    extra = [
        f"""tb0 AS MATERIALIZED (
      SELECT y, {bin_sel}, f0 AS pred FROM (
        SELECT CAST({target_sql} AS DOUBLE) AS y, {feat_sel}
        FROM {table} WHERE ({test_pred_sql}) AND {null_guard}) q
      CROSS JOIN stw CROSS JOIN base)"""
    ]
    for k in range(1, rounds + 1):
        extra.append(
            f"""tb{k} AS MATERIALIZED (
      SELECT r.y, {bcols},
             CASE WHEN s.f IS NULL THEN r.pred
                  ELSE r.pred + CASE WHEN {case_bin} <= s.bin
                                     THEN s.lv ELSE s.rv END
             END AS pred
      FROM tb{k - 1} r LEFT JOIN s{k} s ON TRUE)"""
        )
    return (
        ctes_text
        + ",\n    "
        + ",\n    ".join(extra)
        + f"""
    SELECT CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_train,
           CAST(count(*) AS BIGINT) AS n_test,
           (SELECT v FROM rmse) AS train_rmse,
           round(sqrt(avg((y - pred) * (y - pred))), 6) AS test_rmse
    FROM tb{rounds}"""
    )

def _logit_boost_fit(
    raw: DataFrame,
    names: list[str],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> tuple[DataFrame, dict]:
    """Gradient boosting for BINARY CLASSIFICATION with depth-1
    histogram trees — the log-loss companion to ``_boost_fit``'s
    LS_Boost (VERDICT r8 #3): F₀ is the 6-dp log-odds of the clamped
    base rate; each round fits one stump to the log-loss
    pseudo-residuals rᵢ = yᵢ − σ(Fᵢ) by the SAME histogram split
    search (``_stump_round``: variance-reduction gain over the
    residual sums — the unit-hessian gradient step LightGBM's `hist`
    uses) and adds ν·leaf-mean-residual to the margin.

    Determinism/oracle contract: the margin F is row-local exact double
    arithmetic (f0 and every leaf value are 6-dp constants added
    left-associated in round order, so both engines hold bit-identical
    margins); the per-row residual uses the 6-dp-ROUNDED sigmoid
    r = y − round(σ(F), 6) — identical across engines by the
    calibration/AUC discipline — so residual sums are sums of identical
    values, still rounded 6 dp before use; gain 9 dp argmax'd under the
    total (gain DESC, feature, bin) order. A round with no valid split
    adds nothing and emits no stump row.

    Fits on ``raw``, the null-guarded (__y, features…) rows. Returns
    (pred, payload): the per-row (``__y``, final margin ``__m``) frame
    and the payload ``_boost_score`` compiles.

    Scale shape: identical to ``_boost_fit`` — the binned frame is
    built once over the persisted rows, stats and F₀ come from one
    aggregate; each round is ONE codegen scan into a map-side-combined
    F·bins-cell residual histogram collected to the driver."""
    _boost_check(rounds, bins)
    pbar = F.least(
        F.greatest(F.avg("__y"), F.lit(0.000001)), F.lit(0.999999)
    )
    mn, wd, f0, binned = _boost_prologue(
        _fit_rows(raw), names, bins,
        F.round(F.log(pbar / (F.lit(1.0) - pbar)), 6),
    )
    bcols = [f"__b{i}" for i in range(len(names))]
    pred = binned.select("__y", *bcols, _dlit(f0).alias("__m"))
    sigmoid = _sigmoid6(F.col("__m"))
    payload = {"mn": mn, "wd": wd, "f0": f0, "winners": []}
    for _ in range(rounds):
        stump = _stump_round(pred, F.col("__y") - sigmoid, names, lr)
        payload["winners"].append(stump)
        if stump is not None:
            f, b, lv, rv = stump
            pred = pred.select(
                "__y",
                *bcols,
                (
                    F.col("__m")
                    + F.when(F.col(f"__b{names.index(f)}") <= F.lit(b),
                             _dlit(lv))
                    .otherwise(_dlit(rv))
                ).alias("__m"),
            )
    return pred, payload


def logit_boost_train(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> DataFrame:
    """Train log-loss gradient-boosted classification stumps; returns
    the model frame (round, feature, threshold, left_value,
    right_value, train_logloss — of the final margin, probabilities
    clamped to [1e-6, 1−1e-6] before the log). Algorithm and
    determinism contracts: ``_logit_boost_fit``."""
    names = [n for n, _ in features]
    pred, pym = _logit_boost_fit(
        _boost_rows(df, label, features), names, rounds, bins, lr
    )
    pc = F.least(
        F.greatest(_sigmoid6(F.col("__m")), F.lit(0.000001)),
        F.lit(0.999999),
    )
    y = F.col("__y")
    loss = pred.agg(
        F.round(
            F.avg(-(y * F.log(pc) + (F.lit(1.0) - y) * F.log(F.lit(1.0) - pc))),
            6,
        ).alias("__loss")
    )
    return _stump_model(df.sparkSession, pym, loss, "train_logloss")


def logit_boost_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logit_boost_train`` — the identical
    round-by-round dataflow as CTEs: 6-dp log-odds base, per-round
    residual r = y − round(σ(margin), 6), residual sums 6 dp, gain
    9 dp, leaf values 6 dp, margin updates left-associated."""
    names = [n for n, _ in features_sql]
    first = names[0]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    st_sel = ", ".join(
        f"min({n}) AS mn_{n}, max({n}) AS mx_{n}" for n in names
    )
    w_sel = ", ".join(
        f"(mx_{n} - mn_{n}) / {float(bins)!r} AS w_{n}" for n in names
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    fstats = " UNION ALL ".join(
        f"SELECT '{n}' AS feature, mn_{n} AS mn, w_{n} AS w FROM stw"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    sig = "round(1.0 / (1.0 + exp(-m)), 6)"
    unpivot_tpl = "\n      UNION ALL ".join(
        f"SELECT y - {sig} AS r, '{n}' AS f, b_{n} AS bin FROM {{src}}"
        for n in names
    )
    case_bin = (
        "CASE s.f "
        + " ".join(f"WHEN '{n}' THEN r.b_{n}" for n in names)
        + " END"
    )
    pbar = "least(greatest(avg(y), 0.000001), 0.999999)"
    ctes = [
        f"""raw AS MATERIALIZED (
      SELECT CAST({label_sql} AS DOUBLE) AS y, {feat_sel}
      FROM {table} WHERE {null_guard})""",
        f"st AS MATERIALIZED (SELECT {st_sel} FROM raw)",
        f"stw AS MATERIALIZED (SELECT *, {w_sel} FROM st)",
        f"base AS MATERIALIZED (SELECT round(ln({pbar} / (1.0 - {pbar})), "
        "6) AS f0 FROM raw)",
        f"""p0 AS MATERIALIZED (
      SELECT y, {bin_sel}, f0 AS m
      FROM raw CROSS JOIN stw CROSS JOIN base)""",
        f"fstats AS MATERIALIZED ({fstats})",
    ]
    stump_sel = []
    for k in range(1, rounds + 1):
        prev = f"p{k - 1}"
        up = unpivot_tpl.format(src=prev)
        ctes.append(
            f"""h{k} AS MATERIALIZED (
      SELECT f, bin, count(*) AS c, sum(r) AS s FROM (
      {up}) u GROUP BY f, bin)"""
        )
        ctes.append(
            f"""t{k} AS MATERIALIZED (
      SELECT sum(c) AS ct, round(sum(s), 6) AS srt
      FROM h{k} WHERE f = '{first}')"""
        )
        ctes.append(
            f"""s{k} AS MATERIALIZED (
      SELECT f, bin,
             round({lr!r} * sl / cl, 6) AS lv,
             round({lr!r} * (srt - sl) / (ct - cl), 6) AS rv
      FROM (
        SELECT *, row_number() OVER (ORDER BY
          round(sl * sl / cl + (srt - sl) * (srt - sl) / (ct - cl), 9)
            DESC, f, bin) AS rn
        FROM (
          SELECT h.f, h.bin,
                 sum(h.c) OVER (PARTITION BY h.f ORDER BY h.bin) AS cl,
                 round(sum(h.s) OVER (PARTITION BY h.f ORDER BY h.bin),
                       6) AS sl,
                 t.ct, t.srt
          FROM h{k} h CROSS JOIN t{k} t) c
        WHERE cl > 0 AND cl < ct) v
      WHERE rn = 1)"""
        )
        ctes.append(
            f"""p{k} AS MATERIALIZED (
      SELECT r.y, {bcols},
             CASE WHEN s.f IS NULL THEN r.m
                  ELSE r.m + CASE WHEN {case_bin} <= s.bin
                                  THEN s.lv ELSE s.rv END
             END AS m
      FROM {prev} r LEFT JOIN s{k} s ON TRUE)"""
        )
        stump_sel.append(
            f"""SELECT CAST({k} AS BIGINT) AS round, s.f AS feature,
             round(fs.mn + (s.bin + 1) * fs.w, 6) AS threshold,
             s.lv AS left_value, s.rv AS right_value
      FROM s{k} s JOIN fstats fs ON fs.feature = s.f"""
        )
    pc = f"least(greatest({sig}, 0.000001), 0.999999)"
    ctes.append(
        f"""loss AS (SELECT round(avg(-(y * ln(p) + (1.0 - y) *
      ln(1.0 - p))), 6) AS v
      FROM (SELECT y, {pc} AS p FROM p{rounds}))"""
    )
    body = "\n      UNION ALL ".join(
        [
            "SELECT CAST(0 AS BIGINT) AS round, 'base' AS feature, "
            "CAST(NULL AS DOUBLE) AS threshold, f0 AS left_value, "
            "f0 AS right_value FROM base"
        ]
        + stump_sel
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT m.round, m.feature, m.threshold, m.left_value, m.right_value,
           loss.v AS train_logloss
    FROM ({body}) m CROSS JOIN loss"""
    )


def logit_boost_holdout(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    test_pred: Column,
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> DataFrame:
    """GENERALIZATION contract for the classification booster,
    evaluated with the logreg fold's metrics: fit on the rows where
    ``test_pred`` is false, bin the UNSEEN fold with the TRAIN fold's
    min/width, apply the additive margin (base + per-stump leaf values,
    left-associated — the exact training arithmetic), and report
    held-out accuracy (margin ≥ 0 ⇔ positive) and the histogram
    ROC-AUC over the 6-dp sigmoid scores (``_auc_over_scores``).

    Returns one row: (n_train, n_test, test_accuracy, test_auc) — AUC
    NULL when the held-out fold is single-class.

    Scale shape: the training fit, then ONE codegen scan of the test
    fold through the literal ``_boost_score`` feeding the bounded
    score-histogram AUC and a 1-row accuracy aggregate."""
    b = ensure_parallelism(df)
    train = b.filter(~test_pred)
    test = b.filter(test_pred)
    names = [n for n, _ in features]
    _pred, pym = _logit_boost_fit(
        _boost_rows(train, label, features), names, rounds, bins, lr
    )
    tb = _guarded(test, label, features, "double").select(
        "__y", _boost_score(bins, pym).alias("__m")
    ).localCheckpoint(eager=False)
    acc = tb.agg(
        F.count("*").alias("__nt"),
        F.round(F.avg(_hit(F.col("__m"), F.col("__y"))), 6).alias("__acc"),
    )
    ntr = _guarded(train, label, features, "double").agg(
        F.count("*").alias("__ntr")
    )
    scored = tb.select("__y", _sigmoid6(F.col("__m")).alias("__p"))
    return (
        _auc_over_scores(scored)
        .crossJoin(F.broadcast(acc))
        .crossJoin(F.broadcast(ntr))
        .select(
            F.col("__ntr").cast("long").alias("n_train"),
            F.col("__nt").cast("long").alias("n_test"),
            F.col("__acc").alias("test_accuracy"),
            _auc_value().alias("test_auc"),
        )
    )


def logit_boost_holdout_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    test_pred_sql: str,
    rounds: int = 4,
    bins: int = 16,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logit_boost_holdout`` — the boosting CTEs
    over the train-filtered table, then the identical train-statistics
    binning, additive margin scoring, accuracy and histogram AUC."""
    names = [n for n, _ in features_sql]
    train_tbl = f"(SELECT * FROM {table} WHERE NOT ({test_pred_sql}))"
    full = logit_boost_oracle_sql(
        train_tbl, label_sql, features_sql, rounds, bins, lr
    )
    cut = full.rindex("\n    SELECT m.round")
    ctes_text = full[:cut]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    bcols = ", ".join(f"b_{n}" for n in names)
    case_bin = (
        "CASE s.f "
        + " ".join(f"WHEN '{n}' THEN r.b_{n}" for n in names)
        + " END"
    )
    extra = [
        f"""tb0 AS MATERIALIZED (
      SELECT y, {bin_sel}, f0 AS m FROM (
        SELECT CAST({label_sql} AS DOUBLE) AS y, {feat_sel}
        FROM {table} WHERE ({test_pred_sql}) AND {null_guard}) q
      CROSS JOIN stw CROSS JOIN base)"""
    ]
    for k in range(1, rounds + 1):
        extra.append(
            f"""tb{k} AS MATERIALIZED (
      SELECT r.y, {bcols},
             CASE WHEN s.f IS NULL THEN r.m
                  ELSE r.m + CASE WHEN {case_bin} <= s.bin
                                  THEN s.lv ELSE s.rv END
             END AS m
      FROM tb{k - 1} r LEFT JOIN s{k} s ON TRUE)"""
        )
    extra.append(
        f"""tacc AS (SELECT count(*) AS nt, round(avg(CASE WHEN
      (m >= 0) = (y = 1.0) THEN 1.0 ELSE 0.0 END), 6) AS a
      FROM tb{rounds})"""
    )
    extra.append(
        f"""thist AS (SELECT round(1.0 / (1.0 + exp(-m)), 6) AS p,
      CAST(sum(y) AS BIGINT) AS pos,
      CAST(count(*) - sum(y) AS BIGINT) AS neg
      FROM tb{rounds} GROUP BY 1)"""
    )
    extra.append(
        """tcontrib AS (SELECT pos, neg,
      (sum(neg) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
                      CURRENT ROW) - neg) * pos
      + pos * neg / 2.0 AS u
      FROM thist)"""
    )
    return (
        ctes_text
        + ",\n    "
        + ",\n    ".join(extra)
        + """
    SELECT CAST((SELECT count(*) FROM raw) AS BIGINT) AS n_train,
           CAST(tacc.nt AS BIGINT) AS n_test,
           tacc.a AS test_accuracy,
           CASE WHEN sum(pos) > 0 AND sum(neg) > 0
                THEN round(sum(u) / (sum(pos) * sum(neg)), 6)
                ELSE NULL END AS test_auc
    FROM tcontrib CROSS JOIN tacc
    GROUP BY tacc.nt, tacc.a"""
    )


def logreg_kfold_cv(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    fold_col: Column,
    k: int = 4,
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """K-FOLD cross-validation as a first-class evaluator (VERDICT r8
    #4) — generalizes the single md5-prefix holdout: ``fold_col`` must
    be a deterministic int in [0, k) over the input (hash-split it —
    e.g. the md5 hex-digit mod k, so both engines hold identical
    folds); fold f is held out while the other k−1 folds train, via
    ``logreg_holdout_eval`` (train-fold standardization, margin
    accuracy, bounded score-histogram AUC). Beyond the per-fold rows,
    two aggregate rows carry the mean and the population std of the
    held-out metrics across folds — the variance of the generalization
    estimate a single holdout cannot measure.

    Returns k+2 rows: (fold '0'..'{k-1}', n_train, n_test, accuracy,
    auc) per fold, then ('mean', NULL, NULL, …) and ('std', NULL,
    NULL, …). AUC is NULL for single-class folds and mean/std skip
    NULLs (both engines agree).

    Scale shape: k independent holdout evaluations — each the shared
    GD fit over its train folds plus one scoring scan — unioned as a
    (k+2)-row model frame; the aggregate pass runs over k rows."""
    if k < 2:
        raise ValueError("k must be >= 2")
    # evaluate the fold id, label and features ONCE, cached (r13): each
    # fold's holdout otherwise re-runs the string-heavy feature
    # expressions over a fresh source scan
    prep = ensure_parallelism(df).select(
        fold_col.alias("__cvf"),
        label.cast("double").alias("__cvl"),
        *[e.cast("double").alias(n) for n, e in features],
    ).persist()
    row_count(prep)  # materialize once before the fused fit rounds
    names = [n for n, _ in features]
    # FUSED k-model fit (r14 — VERDICT r13 #3): all folds' gradients in
    # ONE conditional-aggregate scan per round (8 jobs, was ~k×9), each
    # fold's trajectory arithmetically identical to its independent
    # logreg_holdout_eval fit (see _logreg_fit_multi).
    train_conds = [F.col("__cvf") != F.lit(f) for f in range(k)]
    models = _logreg_fit_multi(
        prep, "__cvl", names, train_conds, iterations, lr
    )
    # FUSED eval: every row is the test row of exactly its own fold, so
    # ONE scan computes all folds' n_train/n_test/accuracy (conditional
    # aggregates) and ONE fold-partitioned histogram computes every
    # fold's tie-corrected AUC — the per-fold arithmetic (round-6
    # sigmoid scores, cumulative rank-sum, U/(P·N)) is
    # logreg_holdout_eval's own on identical operands; per-fold sums
    # stay exact (integer counts, half-integer U terms), so fusion
    # cannot move a rounding boundary.
    margins = [_logreg_margin_lit(models[f], names) for f in range(k)]
    agg_exprs = []
    pcol = None
    for f in range(k):
        test_f = F.col("__cvf") == F.lit(f)
        agg_exprs += [
            F.count(F.when(train_conds[f], F.lit(1))).alias(f"__ntr_{f}"),
            F.count(F.when(test_f, F.lit(1))).alias(f"__nt_{f}"),
            F.round(
                F.avg(
                    F.when(
                        test_f, _hit(F.round(margins[f], 6), F.col("__cvl"))
                    )
                ),
                6,
            ).alias(f"__acc_{f}"),
        ]
        pf = _sigmoid6(margins[f])
        pcol = F.when(test_f, pf) if pcol is None else pcol.when(test_f, pf)
    arow = prep.agg(*agg_exprs)
    scored = prep.select(
        F.col("__cvf").alias("__fold"),
        F.col("__cvl").alias("__y"),
        pcol.alias("__p"),
    )
    aucf = _auc_over_scores(scored, "__fold")
    stacked = arow.select(
        F.expr(
            f"stack({k}, " + ", ".join(
                f"{f}, __ntr_{f}, __nt_{f}, __acc_{f}" for f in range(k)
            ) + ")"
        ).alias("__f", "__n_train", "__n_test", "__accuracy")
    )
    per_fold = round_persist(
        stacked.join(aucf, stacked["__f"] == aucf["__fold"], "left")
        .select(
            F.col("__f").cast("string").alias("fold"),
            F.col("__n_train").cast("long").alias("n_train"),
            F.col("__n_test").cast("long").alias("n_test"),
            F.col("__accuracy").alias("accuracy"),
            _auc_value().alias("auc"),
        )
    )
    return _with_cv_summary(
        per_fold, ["n_train", "n_test"], ["accuracy", "auc"]
    )


def _with_cv_summary(
    per_fold: DataFrame, null_cols: list[str], metrics: list[str]
) -> DataFrame:
    """Append the 'mean' and population-'std' rows over the per-fold
    ``metrics`` (NULLs skipped; std = sqrt(max(0, E[x²] − E[x]²)); both
    rounded 6 dp) to a per-fold frame keyed by ``fold``; the
    ``null_cols`` are NULL longs on both rows."""

    def summary(name: str, stat) -> DataFrame:
        return per_fold.agg(
            *[stat(F.col(m)).alias(m) for m in metrics]
        ).select(
            F.lit(name).alias("fold"),
            *[F.lit(None).cast("long").alias(c) for c in null_cols],
            *metrics,
        )

    mean = summary("mean", lambda c: F.round(F.avg(c), 6))
    std = summary(
        "std",
        lambda c: F.round(
            F.sqrt(F.greatest(F.lit(0.0), F.avg(c * c) - F.avg(c) * F.avg(c))),
            6,
        ),
    )
    return per_fold.unionByName(mean).unionByName(std)


def logreg_kfold_cv_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    fold_sql: str,
    k: int = 4,
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_kfold_cv`` — each fold's full holdout
    query (its own WITH chain) wrapped as a derived table, unioned,
    plus the identical mean/std aggregate rows."""
    fold_parts = []
    for f in range(k):
        inner = logreg_holdout_oracle_sql(
            table, label_sql, features_sql,
            f"({fold_sql}) = {f}", iterations, lr,
        )
        fold_parts.append(
            f"""SELECT '{f}' AS fold, n_train, n_test,
      test_accuracy AS accuracy, test_auc AS auc FROM (
      {inner}) q{f}"""
        )
    folds = "\n      UNION ALL ".join(fold_parts)
    return f"""WITH folds AS MATERIALIZED (
      {folds})
    SELECT fold, n_train, n_test, accuracy, auc FROM folds
    UNION ALL
    SELECT 'mean', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(avg(accuracy), 6), round(avg(auc), 6) FROM folds
    UNION ALL
    SELECT 'std', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(sqrt(greatest(0.0,
             avg(accuracy * accuracy) - avg(accuracy) * avg(accuracy))), 6),
           round(sqrt(greatest(0.0,
             avg(auc * auc) - avg(auc) * avg(auc))), 6) FROM folds"""

def decision_tree_kfold_cv(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    fold_col: Column,
    k: int = 4,
    bins: int = 16,
    depth: int = 2,
) -> DataFrame:
    """K-fold cross-validation for the histogram tree (VERDICT r8 #4),
    mirroring ``logreg_kfold_cv``: fold f held out, the other folds
    train a ``decision_tree_holdout`` run whose held-out confusion
    cells collapse to one accuracy number (trace / total); mean and
    population std across folds follow as aggregate rows.

    Returns k+2 rows: (fold '0'..'{k-1}', n_test, accuracy) per fold,
    then ('mean', NULL, …) and ('std', NULL, …).

    Scale shape: k independent tree builds + test routings, each
    collapsing to a 1-row accuracy frame; aggregates run over k rows."""
    if k < 2:
        raise ValueError("k must be >= 2")
    # evaluate the fold id, label and features ONCE, cached (r13): each
    # fold's holdout otherwise re-runs the string-heavy feature
    # expressions over a fresh source scan
    prep = ensure_parallelism(df).select(
        fold_col.alias("__cvf"),
        label.alias("__cvl"),
        *[e.alias(n) for n, e in features],
    ).persist()
    row_count(prep)  # materialize once before the fused level scans
    names = [n for n, _ in features]
    # FUSED k-tree fit (r14 — VERDICT r13 #3): all folds' histograms in
    # ONE scan per level (depth jobs, was ~k×(depth+1)); each fold's
    # tree is bit-identical to its independent decision_tree_holdout
    # build (integer histograms — see _decision_tree_build_multi).
    built = _decision_tree_build_multi(
        prep,
        "__cvl",
        [(F.col("__cvf") != F.lit(f), names) for f in range(k)],
        bins,
        depth,
    )
    # FUSED eval: ONE conditional-aggregate scan routes every fold's
    # test rows through its own tree as a literal CASE expression
    # (_tree_route_predict) — the confusion-matrix collapse
    # round(n_correct / n_test, 6) on identical integers.
    y = F.col("__cvl").cast("bigint")
    vcond = y.isNotNull()
    for n in names:
        vcond = vcond & F.col(n).cast("double").isNotNull()
    agg_exprs = []
    for f in range(k):
        tcond = (F.col("__cvf") == F.lit(f)) & vcond
        pred = _tree_route_predict(names, bins, built[f][1])
        agg_exprs.append(
            F.count(F.when(tcond, F.lit(1))).alias(f"__nt_{f}")
        )
        agg_exprs.append(
            F.round(
                F.sum(
                    F.when(tcond & (pred == y), F.lit(1))
                    .otherwise(F.lit(0))
                )
                / F.count(F.when(tcond, F.lit(1))),
                6,
            ).alias(f"__acc_{f}")
        )
    per_fold = round_persist(
        prep.agg(*agg_exprs).select(
            F.expr(
                f"stack({k}, " + ", ".join(
                    f"'{f}', __nt_{f}, __acc_{f}" for f in range(k)
                ) + ")"
            ).alias("fold", "__nt", "accuracy")
        ).select(
            "fold",
            F.col("__nt").cast("long").alias("n_test"),
            "accuracy",
        )
    )
    return _with_cv_summary(per_fold, ["n_test"], ["accuracy"])


def decision_tree_kfold_cv_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    fold_sql: str,
    k: int = 4,
    bins: int = 16,
    depth: int = 2,
) -> str:
    """DuckDB replica of ``decision_tree_kfold_cv`` — each fold's full
    tree-holdout query wrapped as a derived table, collapsed to its
    accuracy, unioned, plus the identical mean/std aggregate rows."""
    fold_parts = []
    for f in range(k):
        inner = decision_tree_holdout_oracle_sql(
            table, label_sql, features_sql,
            f"({fold_sql}) = {f}", bins, depth,
        )
        fold_parts.append(
            f"""SELECT '{f}' AS fold, CAST(sum(cnt) AS BIGINT) AS n_test,
      round(sum(CASE WHEN actual = predicted THEN cnt ELSE 0 END)
            / CAST(sum(cnt) AS DOUBLE), 6) AS accuracy FROM (
      {inner}) q{f}"""
        )
    folds = "\n      UNION ALL ".join(fold_parts)
    return f"""WITH folds AS MATERIALIZED (
      {folds})
    SELECT fold, n_test, accuracy FROM folds
    UNION ALL
    SELECT 'mean', CAST(NULL AS BIGINT), round(avg(accuracy), 6)
    FROM folds
    UNION ALL
    SELECT 'std', CAST(NULL AS BIGINT),
           round(sqrt(greatest(0.0,
             avg(accuracy * accuracy) - avg(accuracy) * avg(accuracy))), 6)
    FROM folds"""


def _rf_feature_subset(names: list[str], t: int, m: int) -> list[str]:
    """Deterministic per-tree feature subsample shared by the engine and
    the oracle generator (no RNG): rank feature NAMES by md5('name:t')
    and keep the first ``m``, preserving the caller's feature order.
    Pure plan-time Python, so both sides compute the identical subset."""
    import hashlib

    ranked = sorted(
        names,
        key=lambda n: hashlib.md5(f"{n}:{t}".encode()).hexdigest(),
    )
    chosen = set(ranked[:m])
    return [n for n in names if n in chosen]


def _rf_keep(id_expr: Column, t: int, row_keep: int) -> Column:
    """Deterministic per-tree row subsample: keep rows whose md5 first
    hex digit of '<id>:<t>' is < ``row_keep`` (of 16) — the same
    md5-prefix discipline as the holdout split, varied per tree by the
    ':t' suffix so trees see different ~row_keep/16 bootstraps."""
    digit = F.conv(
        F.substring(F.md5(F.concat(id_expr, F.lit(f":{t}"))), 1, 1), 16, 10
    ).cast("int")
    return digit < F.lit(row_keep)


def _rf_keep_sql(id_sql: str, t: int, row_keep: int) -> str:
    return (
        f"(instr('0123456789abcdef', substr(md5(({id_sql}) || ':{t}'), "
        f"1, 1)) - 1) < {row_keep}"
    )


def _rf_m(n_features: int, features_per_tree: int | None) -> int:
    import math as _math

    if features_per_tree is not None:
        if not (1 <= features_per_tree <= n_features):
            raise ValueError("features_per_tree out of range")
        return features_per_tree
    return max(1, _math.isqrt(n_features - 1) + 1)  # ceil(sqrt(F))


def random_forest_train(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    id_expr: Column,
    n_trees: int = 5,
    row_keep: int = 12,
    bins: int = 16,
    depth: int = 2,
    features_per_tree: int | None = None,
) -> DataFrame:
    """Random forest over the histogram tree trainer (VERDICT r8 #7):
    ``n_trees`` independent depth-bounded trees, all fit together by
    ``_decision_tree_build_multi`` (one codegen scan per level into
    every tree's nodes·F·bins histogram), each on a DETERMINISTIC
    subsample — rows
    whose md5 hex digit of '<id>:<t>' is < ``row_keep``/16, features
    the md5-ranked ``features_per_tree`` (default ceil(√F)) subset per
    tree — no RNG anywhere, so a DuckDB oracle reproduces every tree
    exactly. ``id_expr`` must be a row-unique STRING column/expression.

    Returns the forest frame: the per-tree node rows (tree, node,
    depth, kind, feature, threshold, n, pos, pos_rate, predict).
    Majority voting over the forest is ``random_forest_holdout``.

    Scale shape: the single tree's scans — one stats scan plus one
    histogram scan per level of the cached prep — with every tree's
    cells in the same shuffle; nothing here is new shuffle machinery,
    so the single tree's 100× rehearsal carries over."""
    if n_trees < 1:
        raise ValueError("n_trees must be >= 1")
    if not (1 <= row_keep <= 16):
        raise ValueError("row_keep must be in [1, 16]")
    names = [n for n, _ in features]
    m = _rf_m(len(names), features_per_tree)
    # ONE pass evaluates the label, every feature and every tree's md5
    # keep flag, cached (r13): feature expressions are string-heavy
    # (length/replace over document text) and each tree previously
    # re-ran them — plus a fresh md5 scan — over the full source
    prep = ensure_parallelism(df).select(
        label.alias("__l0"),
        *[e.alias(n) for n, e in features],
        *[
            _rf_keep(id_expr, t, row_keep).alias(f"__keep_{t}")
            for t in range(n_trees)
        ],
    ).persist()
    row_count(prep)  # materialize once before the fused level scans
    # FUSED n_trees-histogram fit (r14 — VERDICT r13 #3): every tree's
    # level histogram in ONE scan (depth jobs, was ~n_trees×(depth+1));
    # trees bit-identical to the per-tree builds (integer histograms —
    # see _decision_tree_build_multi).
    specs = []
    for t in range(n_trees):
        keep_names = set(_rf_feature_subset(names, t, m))
        names_t = [n for n in names if n in keep_names]
        specs.append((F.col(f"__keep_{t}"), names_t))
    built = _decision_tree_build_multi(prep, "__l0", specs, bins, depth)
    spark = df.sparkSession
    out = None
    for t in range(n_trees):
        row = _tree_frame_from_rows(spark, built[t][0]).select(
            F.lit(t).cast("long").alias("tree"), "*"
        )
        out = row if out is None else out.unionByName(row)
    prep.unpersist()  # the models are driver-side literals now
    return out


def random_forest_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    id_sql: str,
    n_trees: int = 5,
    row_keep: int = 12,
    bins: int = 16,
    depth: int = 2,
    features_per_tree: int | None = None,
) -> str:
    """DuckDB replica of ``random_forest_train`` — each tree's full
    ``decision_tree_oracle_sql`` over its md5-filtered subsample and
    md5-ranked feature subset, wrapped as a derived table with its tree
    id and unioned."""
    names = [n for n, _ in features_sql]
    m = _rf_m(len(names), features_per_tree)
    parts = []
    for t in range(n_trees):
        keep_names = set(_rf_feature_subset(names, t, m))
        feats_t = [(n, e) for n, e in features_sql if n in keep_names]
        filt = (
            f"(SELECT * FROM {table} "
            f"WHERE {_rf_keep_sql(id_sql, t, row_keep)})"
        )
        inner = decision_tree_oracle_sql(filt, label_sql, feats_t,
                                         bins, depth)
        parts.append(
            f"SELECT CAST({t} AS BIGINT) AS tree, * FROM (\n{inner}\n"
            f") rf{t}"
        )
    return "\nUNION ALL\n".join(parts)


def random_forest_holdout(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    id_expr: Column,
    test_pred: Column,
    n_trees: int = 5,
    row_keep: int = 12,
    bins: int = 16,
    depth: int = 2,
    features_per_tree: int | None = None,
) -> DataFrame:
    """Generalization eval for the random forest: fit each tree on its
    deterministic subsample of the TRAIN fold (rows where ``test_pred``
    is false), route the unseen fold through every tree (test rows
    binned with each tree's train min/width — no leakage), and majority-
    vote (ties → 1, the leaf-predict convention). Test rows with a null
    label or any null feature are dropped once, so every tree votes on
    the identical fold. ``id_expr`` must be row-unique (it keys the
    vote combine).

    Returns n_trees+1 rows: (member '0'..'{n_trees-1}', n_train = that
    tree's post-null-drop subsample size, n_test, accuracy) per tree,
    then ('forest', NULL, n_test, accuracy) for the majority vote — the
    variance-reduction story in one frame.

    Scale shape: the fused build of every tree, then ONE scan of the
    test fold computing every tree's literal-routed vote, the per-tree
    accuracies and the majority vote in a single aggregate."""
    if n_trees < 1:
        raise ValueError("n_trees must be >= 1")
    if not (1 <= row_keep <= 16):
        raise ValueError("row_keep must be in [1, 16]")
    names = [n for n, _ in features]
    m = _rf_m(len(names), features_per_tree)
    # ONE pass evaluates the id, fold predicate, label, every feature
    # and every tree's md5 keep flag, cached (r13) — see
    # random_forest_train for the rationale
    prep = ensure_parallelism(df).select(
        id_expr.alias("__id"),
        test_pred.alias("__t"),
        label.alias("__l0"),
        *[e.alias(n) for n, e in features],
        *[
            _rf_keep(id_expr, t, row_keep).alias(f"__keep_{t}")
            for t in range(n_trees)
        ],
    ).persist()
    # one shared null-guarded test fold (ALL features) so every tree
    # votes on the same rows
    test = _guarded(
        prep.filter(F.col("__t")), F.col("__l0"),
        [(n, F.col(n)) for n in names], "bigint",
    )
    row_count(prep)  # materialize once before the fused level scans
    # FUSED tree fits (r14 — VERDICT r13 #3): every tree's level
    # histogram in ONE scan of the cached prep (depth jobs, was
    # ~n_trees×(depth+1)); trees bit-identical to the per-tree builds
    # (integer histograms — see _decision_tree_build_multi).
    specs = []
    names_by_tree = []
    for t in range(n_trees):
        keep_names = set(_rf_feature_subset(names, t, m))
        names_t = [n for n in names if n in keep_names]
        names_by_tree.append(names_t)
        specs.append(
            ((~F.col("__t")) & F.col(f"__keep_{t}"), names_t)
        )
    built = _decision_tree_build_multi(prep, "__l0", specs, bins, depth)
    # ONE-PASS vote routing (r14 — VERDICT r13 #2): the model is
    # driver-side literals after r13, so each tree's test routing is a
    # literal CASE expression (_tree_route_predict) instead of the
    # per-level broadcast-join chain — ONE scan of the shared test fold
    # computes every tree's vote column, the per-tree accuracies AND
    # the majority vote in a single aggregate. Arithmetic identical:
    # per-tree accuracy = round(avg(vote == y), 6) over the same rows;
    # the majority = (2·Σ votes >= n_trees) replicates the old
    # (2·sum >= count) per-key combine because ``__k`` is row-unique
    # (the documented contract), so every key held exactly n_trees
    # votes; n_train per tree is the collected root count (exact int).
    vote_cols = []
    for t in range(n_trees):
        vote_cols.append(
            _tree_route_predict(names_by_tree[t], bins, built[t][1])
            .alias(f"__v_{t}")
        )
    scored = test.select("__y", *vote_cols)
    vote_sum = None
    for t in range(n_trees):
        vote_sum = (
            F.col(f"__v_{t}") if vote_sum is None
            else vote_sum + F.col(f"__v_{t}")
        )
    maj = F.when(vote_sum * 2 >= F.lit(n_trees), F.lit(1)).otherwise(
        F.lit(0)
    )
    agg = scored.agg(
        F.count("*").alias("__nt"),
        *[
            F.round(
                F.avg((F.col(f"__v_{t}") == F.col("__y")).cast("double")),
                6,
            ).alias(f"__acc_{t}")
            for t in range(n_trees)
        ],
        F.round(
            F.avg((maj == F.col("__y")).cast("double")), 6
        ).alias("__acc_forest"),
    )
    stack_rows = []
    for t in range(n_trees):
        n_train_t = int(built[t][1]["n_nodes"].get(1, 0))
        stack_rows.append(
            f"'{t}', CAST({n_train_t} AS BIGINT), "
            f"CAST(__nt AS BIGINT), __acc_{t}"
        )
    stack_rows.append(
        "'forest', CAST(NULL AS BIGINT), CAST(__nt AS BIGINT), __acc_forest"
    )
    return agg.select(
        F.expr(
            f"stack({n_trees + 1}, " + ", ".join(stack_rows) + ")"
        ).alias("member", "n_train", "n_test", "accuracy")
    ).select("member", "n_train", "n_test", "accuracy")


def _rf_tree_votes_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    feats_t: list[tuple[str, str]],
    id_sql: str,
    test_pred_sql: str,
    keep_sql: str,
    bins: int,
    depth: int,
) -> str:
    """One tree's key-preserving holdout votes as a standalone query:
    the tree CTEs over the md5-subsampled train fold, then the test fold
    (null-guarded over ALL features so every tree sees the same rows)
    binned with the tree's train stats and routed through the winner
    joins. Returns rows (k, y, v)."""
    names_t = [n for n, _ in feats_t]
    ctes, body = _tree_oracle_parts(
        f"(SELECT * FROM {table} WHERE NOT ({test_pred_sql}) "
        f"AND {keep_sql})",
        label_sql, feats_t, bins, depth,
    )
    ctes.append(
        f"""tree AS MATERIALIZED (
      SELECT node,
             CAST(CASE WHEN pos * 2 >= n THEN 1 ELSE 0 END AS BIGINT)
               AS predict
      FROM ({body}) t)"""
    )
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in feats_t
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names_t
    )
    bcols = ", ".join(f"b_{n}" for n in names_t)
    case_bin = (
        "CASE w.f "
        + " ".join(f"WHEN '{n}' THEN a.b_{n}" for n in names_t)
        + " END"
    )
    ctes.append(
        f"""tb0 AS MATERIALIZED (
      SELECT k, y, {bin_sel}, CAST(1 AS BIGINT) AS node FROM (
        SELECT {id_sql} AS k, CAST({label_sql} AS BIGINT) AS y, {feat_sel}
        FROM {table} WHERE ({test_pred_sql}) AND {null_guard}) q
      CROSS JOIN stw)"""
    )
    for lvl in range(depth):
        ctes.append(
            f"""tb{lvl + 1} AS MATERIALIZED (
      SELECT a.k, a.y, {bcols},
             CASE WHEN w.node IS NULL THEN a.node
                  ELSE a.node * 2 + CASE WHEN {case_bin} <= w.bin
                                         THEN 0 ELSE 1 END
             END AS node
      FROM tb{lvl} a LEFT JOIN w{lvl} w ON w.node = a.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT a.k, a.y, t.predict AS v
    FROM tb{depth} a JOIN tree t ON t.node = a.node"""
    )


def random_forest_holdout_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    id_sql: str,
    test_pred_sql: str,
    n_trees: int = 5,
    row_keep: int = 12,
    bins: int = 16,
    depth: int = 2,
    features_per_tree: int | None = None,
) -> str:
    """DuckDB replica of ``random_forest_holdout`` — per-tree vote
    queries unioned with their member id, per-member accuracy rows
    (n_train = the tree's null-guarded subsample count, which equals
    the engine's root-node n), and the identical ties-to-1 majority
    vote for the forest row."""
    names = [n for n, _ in features_sql]
    m = _rf_m(len(names), features_per_tree)
    vote_parts = []
    ntr_parts = []
    for t in range(n_trees):
        keep_names = set(_rf_feature_subset(names, t, m))
        feats_t = [(n, e) for n, e in features_sql if n in keep_names]
        keep = _rf_keep_sql(id_sql, t, row_keep)
        votes = _rf_tree_votes_sql(
            table, label_sql, features_sql, feats_t, id_sql,
            test_pred_sql, keep, bins, depth,
        )
        vote_parts.append(
            f"SELECT '{t}' AS member, k, y, v FROM (\n{votes}\n) rfv{t}"
        )
        tree_guard = " AND ".join(
            [f"({label_sql}) IS NOT NULL"]
            + [f"({e}) IS NOT NULL" for _, e in feats_t]
        )
        ntr_parts.append(
            f"""SELECT '{t}' AS member, count(*) AS n_train
      FROM {table} WHERE NOT ({test_pred_sql}) AND {keep}
        AND {tree_guard}"""
        )
    votes_all = "\n      UNION ALL ".join(vote_parts)
    ntr_all = "\n      UNION ALL ".join(ntr_parts)
    return f"""WITH votes AS MATERIALIZED (
      {votes_all}),
    ntr AS MATERIALIZED (
      {ntr_all}),
    pertree AS (
      SELECT v.member,
             CAST(n.n_train AS BIGINT) AS n_train,
             CAST(count(*) AS BIGINT) AS n_test,
             round(avg(CASE WHEN v.v = v.y THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
      FROM votes v JOIN ntr n ON n.member = v.member
      GROUP BY v.member, n.n_train),
    maj AS (
      SELECT k, y,
             CASE WHEN 2 * sum(v) >= count(*) THEN 1 ELSE 0 END AS mv
      FROM votes GROUP BY k, y)
    SELECT member, n_train, n_test, accuracy FROM pertree
    UNION ALL
    SELECT 'forest', CAST(NULL AS BIGINT), CAST(count(*) AS BIGINT),
           round(avg(CASE WHEN mv = y THEN 1.0 ELSE 0.0 END), 6)
    FROM maj"""


def feature_importance(model: DataFrame) -> DataFrame:
    """Split-gain feature importance over a fitted tree or forest MODEL
    frame (the output of ``decision_tree_train`` /
    ``random_forest_train``): each split node's Gini gain is its own
    impurity minus the size-weighted impurity of its two children
    (nodes 2·node and 2·node+1, which the histogram builder always
    emits with their n/pos), rounded to 9 dp; per feature the output is
    (feature, n_splits, total_gain) with the sum rounded to 6 dp —
    the standard GBDT importance report.

    Pure MODEL-frame arithmetic: two self-joins and one aggregate over
    the nodes·trees-sized frame — nothing here ever touches data-scale
    rows, so it costs the same at any corpus size."""
    has_tree = "tree" in model.columns
    m = model if has_tree else model.select(
        F.lit(0).cast("long").alias("tree"), "*"
    )
    splits = m.filter(F.col("kind") == "split").select(
        F.col("tree").alias("__t"), F.col("node").alias("__n"),
        "feature", F.col("n").alias("__pn"), F.col("pos").alias("__pp"),
    )
    kids = m.select(
        F.col("tree").alias("__kt"), F.col("node").alias("__kn"),
        F.col("n").alias("__cn"), F.col("pos").alias("__cp"),
    )

    def imp(n, p):
        return F.lit(2.0) * p * (n - p) / n / n

    left = kids.withColumnsRenamed(
        {"__cn": "__ln", "__cp": "__lp"}
    )
    right = kids.withColumnsRenamed(
        {"__kt": "__rt", "__kn": "__rn", "__cn": "__rn2", "__cp": "__rp"}
    )
    j = (
        splits.join(
            left,
            (left["__kt"] == splits["__t"])
            & (left["__kn"] == splits["__n"] * 2),
        )
        .join(
            right,
            (right["__rt"] == splits["__t"])
            & (right["__rn"] == splits["__n"] * 2 + 1),
        )
        .select(
            "feature",
            F.round(
                imp(F.col("__pn"), F.col("__pp"))
                - (F.col("__ln") / F.col("__pn"))
                * imp(F.col("__ln"), F.col("__lp"))
                - (F.col("__rn2") / F.col("__pn"))
                * imp(F.col("__rn2"), F.col("__rp")),
                9,
            ).alias("__gain"),
        )
    )
    return j.groupBy("feature").agg(
        F.count("*").cast("long").alias("n_splits"),
        F.round(F.sum("__gain"), 6).alias("total_gain"),
    )


def feature_importance_oracle_sql(model_sql: str,
                                  has_tree: bool = True) -> str:
    """DuckDB replica of ``feature_importance`` over a model query
    (e.g. the output of ``random_forest_oracle_sql`` or
    ``decision_tree_oracle_sql``) — identical join and arithmetic."""
    tree_col = "tree" if has_tree else "CAST(0 AS BIGINT) AS tree"
    sel = "*" if has_tree else f"{tree_col}, *"
    return f"""WITH model AS MATERIALIZED (
      SELECT {sel} FROM (
      {model_sql}
      ) mq),
    s AS (SELECT tree, node, feature, n, pos FROM model
          WHERE kind = 'split'),
    c AS (SELECT tree, node, n, pos FROM model)
    SELECT s.feature,
           CAST(count(*) AS BIGINT) AS n_splits,
           round(sum(round(
             2.0 * s.pos * (s.n - s.pos) / s.n / s.n
             - (CAST(l.n AS DOUBLE) / s.n)
               * (2.0 * l.pos * (l.n - l.pos) / l.n / l.n)
             - (CAST(r.n AS DOUBLE) / s.n)
               * (2.0 * r.pos * (r.n - r.pos) / r.n / r.n), 9)), 6)
             AS total_gain
    FROM s
    JOIN c l ON l.tree = s.tree AND l.node = s.node * 2
    JOIN c r ON r.tree = s.tree AND r.node = s.node * 2 + 1
    GROUP BY s.feature"""


def mutual_information(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    bins: int = 16,
) -> DataFrame:
    """Mutual information I(label; binned feature) in nats per feature —
    the model-free supervised ranking beside chi2 (text.chi2_features)
    and the split-gain importance: each feature is equi-width binned
    over [min, max] (the histogram-tree discipline: one stats pass
    broadcast back, constant features land in bin 0 and score 0), one
    codegen scan builds the (feature, bin, label) cell counts, and
    MI = Σ (c/N)·ln(c·N / (c_bin·c_label)) over observed cells — absent
    cells contribute 0 by the 0·ln0 convention, which the groupBy
    realizes for free. Rows with a null label or any null feature are
    dropped (the shared trainer contract, so rankings are comparable
    across the classify family).

    Returns (feature, mi) with mi rounded to 6 dp.

    Scale shape: one stats aggregate + ONE data-scale scan into at most
    F·bins·2 cells (map-side combined); everything after is arithmetic
    over the model-sized cell frame."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    names = [n for n, _ in features]
    raw = _guarded(ensure_parallelism(df), label, features, "bigint")
    st = raw.agg(
        *[F.min(n).alias(f"__mn_{n}") for n in names],
        *[F.max(n).alias(f"__mx_{n}") for n in names],
    ).select(
        "*",
        *[
            ((F.col(f"__mx_{n}") - F.col(f"__mn_{n}")) / F.lit(float(bins)))
            .alias(f"__w_{n}")
            for n in names
        ],
    )
    binned = raw.crossJoin(F.broadcast(st)).select(
        "__y",
        *[
            _bin_col(F.col(n), F.col(f"__mn_{n}"), F.col(f"__w_{n}"), bins)
            .alias(f"__b_{n}")
            for n in names
        ],
    )
    stack_expr = "stack({}, {})".format(
        len(names), ", ".join(f"'{n}', __b_{n}" for n in names)
    )
    cells = (
        binned.select("__y", F.expr(stack_expr).alias("__f", "__bin"))
        .groupBy("__f", "__bin", "__y")
        .agg(F.count("*").alias("__c"))
        .localCheckpoint(eager=False)
    )
    cb = cells.groupBy("__f", "__bin").agg(F.sum("__c").alias("__cb"))
    cy = cells.groupBy("__f", "__y").agg(F.sum("__c").alias("__cy"))
    nn = cells.groupBy("__f").agg(F.sum("__c").alias("__n"))
    return (
        cells.join(cb, ["__f", "__bin"])
        .join(cy, ["__f", "__y"])
        .join(nn, ["__f"])
        .groupBy("__f")
        .agg(
            F.round(
                F.sum(
                    F.col("__c")
                    * F.log(
                        F.col("__c").cast("double") * F.col("__n")
                        / (F.col("__cb").cast("double") * F.col("__cy"))
                    )
                )
                / F.first("__n"),
                6,
            ).alias("mi")
        )
        .select(F.col("__f").alias("feature"), "mi")
    )


def mutual_information_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    bins: int = 16,
) -> str:
    """DuckDB replica of ``mutual_information`` — identical binning
    CTEs (the tree-oracle pattern), cell counts, marginals, and the
    observed-cells MI sum."""
    names = [n for n, _ in features_sql]
    feat_sel = ", ".join(
        f"CAST({e} AS DOUBLE) AS {n}" for n, e in features_sql
    )
    null_guard = " AND ".join(
        [f"({label_sql}) IS NOT NULL"]
        + [f"({e}) IS NOT NULL" for _, e in features_sql]
    )
    st_sel = ", ".join(
        f"min({n}) AS mn_{n}, max({n}) AS mx_{n}" for n in names
    )
    w_sel = ", ".join(
        f"(mx_{n} - mn_{n}) / {float(bins)!r} AS w_{n}" for n in names
    )
    bin_sel = ", ".join(
        f"CASE WHEN w_{n} = 0 THEN 0 ELSE least({bins - 1}, greatest(0, "
        f"CAST(floor(({n} - mn_{n}) / w_{n}) AS INT))) END AS b_{n}"
        for n in names
    )
    unpivot = "\n      UNION ALL ".join(
        f"SELECT '{n}' AS f, b_{n} AS bin, y FROM b0" for n in names
    )
    return f"""WITH raw AS MATERIALIZED (
      SELECT CAST({label_sql} AS BIGINT) AS y, {feat_sel}
      FROM {table} WHERE {null_guard}),
    st AS MATERIALIZED (SELECT {st_sel} FROM raw),
    stw AS MATERIALIZED (SELECT *, {w_sel} FROM st),
    b0 AS MATERIALIZED (
      SELECT y, {bin_sel} FROM raw CROSS JOIN stw),
    cells AS MATERIALIZED (
      SELECT f, bin, y, count(*) AS c FROM (
      {unpivot}) u GROUP BY f, bin, y),
    cb AS (SELECT f, bin, sum(c) AS cb FROM cells GROUP BY f, bin),
    cy AS (SELECT f, y, sum(c) AS cy FROM cells GROUP BY f, y),
    nn AS (SELECT f, sum(c) AS n FROM cells GROUP BY f)
    SELECT cells.f AS feature,
           round(sum(cells.c * ln(CAST(cells.c AS DOUBLE) * nn.n
                                  / (CAST(cb.cb AS DOUBLE) * cy.cy)))
                 / any_value(nn.n), 6) AS mi
    FROM cells
    JOIN cb ON cb.f = cells.f AND cb.bin = cells.bin
    JOIN cy ON cy.f = cells.f AND cy.y = cells.y
    JOIN nn ON nn.f = cells.f
    GROUP BY cells.f"""


def logreg_learning_curve(
    df: DataFrame,
    label: Column,
    features: list[tuple[str, Column]],
    id_expr: Column,
    test_pred: Column,
    train_sixteenths: tuple[int, ...] = (4, 8, 12, 16),
    iterations: int = 8,
    lr: float = 0.5,
) -> DataFrame:
    """LEARNING CURVE for the logistic quality classifier: held-out
    accuracy/AUC as the train set grows — the diagnostic that says
    whether more data or a better model is the next move (flat curve =
    model-limited, rising = data-limited). Each point k ∈
    ``train_sixteenths`` reuses ``logreg_holdout_eval`` VERBATIM on the
    input filtered to (test fold) ∪ (train rows whose md5 digit of
    '<id>:lc' is < k of 16) — the ':lc' salt keeps the growth nests
    independent of the fold split, and nesting is monotone: each
    point's train rows contain the previous point's. The test fold is
    identical at every point.

    Returns one row per point: (train_sixteenths, n_train, n_test,
    accuracy, auc).

    Scale shape: |points| independent holdout evaluations, each the
    shared GD fit + one scoring scan over its slice — the CV cost
    model with nested rather than disjoint slices."""
    if not train_sixteenths:
        raise ValueError("train_sixteenths must be non-empty")
    if any(not (1 <= k <= 16) for k in train_sixteenths):
        raise ValueError("train_sixteenths values must be in [1, 16]")
    digit = F.conv(
        F.substring(F.md5(F.concat(id_expr, F.lit(":lc"))), 1, 1), 16, 10
    ).cast("int")
    # evaluate the growth digit, fold predicate, label and features
    # ONCE, cached (r13): each curve point's holdout otherwise re-runs
    # the string-heavy feature expressions over a fresh source scan
    prep = ensure_parallelism(df).select(
        digit.alias("__lcd"),
        test_pred.alias("__lct"),
        label.cast("double").alias("__lcl"),
        *[e.cast("double").alias(n) for n, e in features],
    ).persist()
    row_count(prep)  # materialize once before the fused fit rounds
    names = [n for n, _ in features]
    # FUSED multi-point fit + eval (r14 — VERDICT r13 #3, the
    # logreg_kfold_cv shape): every curve point's train fold is a
    # conditional slice of the SAME cached frame (test ∪ nested md5
    # growth slice, train = ¬test ∧ digit < k), so one
    # conditional-aggregate scan per round fits every point, and —
    # because all points share the identical test fold — the per-point
    # scores stack into one fold-partitioned AUC histogram. Arithmetic
    # identical to the per-point logreg_holdout_eval (see
    # _logreg_fit_multi / logreg_kfold_cv).
    pts = list(train_sixteenths)
    train_conds = [
        (~F.col("__lct")) & (F.col("__lcd") < F.lit(kk)) for kk in pts
    ]
    models = _logreg_fit_multi(
        prep, "__lcl", names, train_conds, iterations, lr
    )
    margins = [_logreg_margin_lit(models[i], names) for i in range(len(pts))]
    test_c = F.col("__lct")
    agg_exprs = []
    for i, m in enumerate(margins):
        agg_exprs += [
            F.count(F.when(train_conds[i], F.lit(1))).alias(f"__ntr_{i}"),
            F.count(F.when(test_c, F.lit(1))).alias(f"__nt_{i}"),
            F.round(
                F.avg(F.when(test_c, _hit(F.round(m, 6), F.col("__lcl")))),
                6,
            ).alias(f"__acc_{i}"),
        ]
    arow = prep.agg(*agg_exprs)
    # the test fold is IDENTICAL at every point, so each test row feeds
    # every point's score histogram: stack one (point, y, p_point)
    # tuple per point per test row
    scored = prep.filter(test_c).select(
        F.col("__lcl").alias("__y"),
        *[
            F.lit(int(kk)).alias(f"__pt_{i}")
            for i, kk in enumerate(pts)
        ],
        *[_sigmoid6(m).alias(f"__pp_{i}") for i, m in enumerate(margins)],
    ).select(
        "__y",
        F.expr(
            "stack({}, {})".format(
                len(pts),
                ", ".join(
                    f"__pt_{i}, __pp_{i}" for i in range(len(pts))
                ),
            )
        ).alias("__point", "__p"),
    )
    aucp = _auc_over_scores(scored, "__point")
    stacked = arow.select(
        F.expr(
            f"stack({len(pts)}, " + ", ".join(
                f"CAST({int(kk)} AS BIGINT), __ntr_{i}, __nt_{i}, __acc_{i}"
                for i, kk in enumerate(pts)
            ) + ")"
        ).alias("train_sixteenths", "__n_train", "__n_test", "__accuracy")
    )
    return (
        stacked.join(
            aucp, stacked["train_sixteenths"] == aucp["__point"], "left"
        )
        .select(
            "train_sixteenths",
            F.col("__n_train").cast("long").alias("n_train"),
            F.col("__n_test").cast("long").alias("n_test"),
            F.col("__accuracy").alias("accuracy"),
            _auc_value().alias("auc"),
        )
    )


def logreg_learning_curve_oracle_sql(
    table: str,
    label_sql: str,
    features_sql: list[tuple[str, str]],
    id_sql: str,
    test_pred_sql: str,
    train_sixteenths: tuple[int, ...] = (4, 8, 12, 16),
    iterations: int = 8,
    lr: float = 0.5,
) -> str:
    """DuckDB replica of ``logreg_learning_curve`` — each point's
    holdout WITH-chain over the identically filtered table, unioned."""
    parts = []
    for k in train_sixteenths:
        filt = (
            f"(SELECT * FROM {table} WHERE ({test_pred_sql}) OR "
            f"(instr('0123456789abcdef', substr(md5(({id_sql}) || "
            f"':lc'), 1, 1)) - 1) < {k})"
        )
        inner = logreg_holdout_oracle_sql(
            filt, label_sql, features_sql, test_pred_sql, iterations, lr
        )
        parts.append(
            f"""SELECT CAST({k} AS BIGINT) AS train_sixteenths,
      n_train, n_test, test_accuracy AS accuracy, test_auc AS auc
      FROM (\n{inner}\n) lc{k}"""
        )
    return "\nUNION ALL\n".join(parts)
