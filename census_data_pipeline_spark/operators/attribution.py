"""Marketing-touch attribution over the event stream: for every
conversion, find the FIRST and LAST qualifying touch inside a lookback
horizon and credit the conversion's value to that touch's channel —
the first-touch / last-touch models every growth-analytics stack runs.

Scale shape: conversions and touches are two filtered scans of the same
events table; the candidate join is user-keyed (equi-join on user_id)
with the lookback horizon as a range predicate, so per-user work is
bounded by touches-within-horizon × conversions — the horizon is the
lever that keeps a years-long power user from going quadratic (same
bounded-interval discipline as operators/rangejoin.py). Touch selection
is ``min_by``/``max_by`` over a (ts, event_id) struct — deterministic
under timestamp ties — in ONE groupBy per conversion; no windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.sources.catalog import (
    local_frame,
    local_tail,
    round_materialize as _round_materialize,
    round_persist as _round_persist,
)


def _markov_absorption_local(pm: DataFrame, pdfm, iterations: int, r6):
    """Bounded local replay of the removal×state absorption rounds
    (r13) over ``pdfm``, the model-sized transition frame collected by
    the gate: iterate in numpy with the identical expression order —
    p ← r6(P→conv + Σ P·p) with the removed channel's mass pinned to 0
    — and hand back the (__rem, __pv) start-state frame the caller's
    removal-effect arithmetic consumes (that arithmetic, and all its
    rounding, stays in Spark)."""
    import numpy as np

    spark = pm.sparkSession
    schema = T.StructType([
        T.StructField("__rem", pm.schema["__s"].dataType, True),
        T.StructField("__pv", T.DoubleType(), True),
    ])
    states = np.unique(pdfm["__s"].to_numpy())
    slist = states.tolist()
    S = len(slist)
    if "start" not in slist:  # no 'start' source: no start-state rows
        return local_frame(spark, schema, [[], []])
    sidx = {s: i for i, s in enumerate(slist)}
    start_i = sidx["start"]
    removals = [s for s in slist if s != "start"] + ["<none>"]
    # transitions restricted to targets that are themselves states
    tt_all = pdfm["__tt"].to_numpy()
    keep = np.array([t in sidx for t in tt_all.tolist()], dtype=bool)
    scode = np.array(
        [sidx[s] for s in pdfm["__s"].to_numpy()[keep].tolist()],
        dtype=np.int64,
    )
    tcode = np.array(
        [sidx[t] for t in tt_all[keep].tolist()], dtype=np.int64
    )
    pval = pdfm["__p"].to_numpy(dtype=np.float64)[keep]
    cp = np.zeros(S)
    conv = pdfm["__tt"].to_numpy() == "conv"
    for s, pv_ in zip(pdfm["__s"].to_numpy()[conv].tolist(),
                      pdfm["__p"].to_numpy(dtype=np.float64)[conv]):
        cp[sidx[s]] = pv_

    def _r6a(x):
        return np.floor(x * 1_000_000.0 + 0.5) / 1_000_000.0

    R = len(removals)
    remstate = np.array(
        [sidx.get(r, -1) for r in removals], dtype=np.int64
    )
    PV = np.zeros((R, S))
    for _ in range(iterations):
        new = np.empty((R, S))
        for r in range(R):
            vals = pval * np.where(
                tcode == remstate[r], 0.0, PV[r][tcode]
            )
            acc = np.zeros(S)
            np.add.at(acc, scode, vals)
            new[r] = _r6a(cp + acc)
        PV = new
    return local_frame(spark, schema, [removals, PV[:, start_i].tolist()])


def touch_attribution(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback: str = "7 days",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-conversion attribution rows: (conversion id, user, value,
    first_touch_type, last_touch_type). Conversions with no qualifying
    touch in the horizon are attributed to NULL (kept, not dropped —
    'organic' conversions are the baseline every model reports)."""
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(id_col).alias("conversion_id"),
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__cts"),
        F.col(value_col).alias("value"),
    )
    touch = events.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(user_col).alias("__tu"),
        F.col(ts_col).alias("__tts"),
        F.col(id_col).alias("__tid"),
        F.col(type_col).alias("__tt"),
    )
    # horizon predicate INSIDE the left join: a user whose touches all
    # fall outside the lookback must still keep the conversion (as a
    # NULL-attributed row), same as a user with no touches at all
    cond = (
        (F.col("__u") == F.col("__tu"))
        & (F.col("__tts") <= F.col("__cts"))
        & (F.col("__tts") >= F.col("__cts") - F.expr(f"INTERVAL {lookback}"))
    )
    joined = conv.join(touch, cond, "left")
    key = F.struct(F.col("__tts"), F.col("__tid"))
    return (
        joined.groupBy(
            "conversion_id", F.col("__u").alias("user_id"), "value"
        )
        .agg(
            F.min_by("__tt", key).alias("first_touch_type"),
            F.max_by("__tt", key).alias("last_touch_type"),
        )
    )


def session_paths(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    type_col: str,
    gap_minutes: int = 5,
    depth: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k session OPENING paths — the journey-mining companion to
    the attribution first/last-touch split: sessionize by inactivity
    gap (the ``events_session_5m`` convention), take each session's
    first ``depth`` event types in order, concatenate with '>', and
    rank paths by frequency. "view>click>purchase vs
    view>view>view" is the canonical product question neither a funnel
    (fixed target sequence) nor a transition matrix (memoryless) can
    answer. Returns exactly the top ``k`` rows (path, n_sessions)
    under the TOTAL order (n_sessions DESC, path ASC) — the
    deterministic tie-break both engines share.

    Scale shape: the sessionizing windows are PARTITIONED BY user (a
    user's history is bounded — the sessionization precedent), the
    path build is one groupBy over (user, session) with an in-group
    sort of ≤ depth elements, and the final ranking is one
    grouped count + TakeOrderedAndProject (never a full sort).
    Ordering ties beyond (ts, type) are harmless: identical rows
    produce identical path elements. Cite: reference has no journey
    tier; extends SURVEY §2.11 beside touch_attribution."""
    from pyspark.sql import Window

    d = df.na.drop(subset=[ts_col, user_col, type_col]).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).cast("string").alias("__t"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__t")
    gap_us = gap_minutes * 60 * 1_000_000
    f = d.select(
        "__u", "__ts", "__t",
        F.when(
            F.lag("__ts").over(w).isNull()
            | (
                F.unix_micros("__ts")
                - F.unix_micros(F.lag("__ts").over(w))
                >= gap_us
            ),
            1,
        ).otherwise(0).alias("__new"),
    )
    g = f.select(
        "__u", "__ts", "__t",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__sid"),
    )
    r = g.select(
        "__u", "__sid", "__t",
        F.row_number().over(
            Window.partitionBy("__u", "__sid").orderBy("__ts", "__t")
        ).alias("__rn"),
    ).filter(F.col("__rn") <= depth)
    paths = r.groupBy("__u", "__sid").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__rn", "__t"))),
                lambda x: x["__t"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def session_paths_oracle_sql(
    table: str,
    ts_sql: str,
    user_sql: str,
    type_sql: str,
    gap_minutes: int = 5,
    depth: int = 3,
    k: int = 20,
) -> str:
    """DuckDB replica of ``session_paths`` — identical sessionization,
    in-session ranking, concatenation, and total-order top-k."""
    return f"""WITH spf AS (
      SELECT {user_sql} AS u, {ts_sql} AS ts,
             CAST({type_sql} AS VARCHAR) AS t,
             CASE WHEN lag({ts_sql}) OVER w IS NULL
                  OR {ts_sql} - lag({ts_sql}) OVER w
                     >= INTERVAL '{gap_minutes} minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({user_sql}) IS NOT NULL
        AND ({type_sql}) IS NOT NULL
      WINDOW w AS (PARTITION BY {user_sql}
                   ORDER BY {ts_sql}, CAST({type_sql} AS VARCHAR))),
    spg AS (
      SELECT *, sum(new_s) OVER (PARTITION BY u ORDER BY ts, t
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM spf),
    spr AS (
      SELECT *, row_number() OVER (PARTITION BY u, sid
                                   ORDER BY ts, t) AS rn
      FROM spg),
    spp AS (
      SELECT u, sid, string_agg(t, '>' ORDER BY rn) AS path
      FROM spr WHERE rn <= {depth} GROUP BY u, sid)
    SELECT path, count(*) AS n_sessions
    FROM spp GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {k}"""


def markov_removal_attribution(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    type_col: str,
    order_col: str,
    conversion_type: str,
    gap_minutes: int = 5,
    iterations: int = 30,
) -> DataFrame:
    """Markov-chain (removal-effect) multi-touch attribution — the
    data-driven model that retires the first/last-touch heuristics in
    ``touch_attribution``: build the session journey chain start →
    touches → (conv | null), compute the chain's conversion
    probability by absorption, then re-compute it with each channel
    KNOCKED OUT (every path through the channel fails); a channel's
    credit is its removal effect (base − removed)/base, normalized to
    ``attribution_share``. Journeys truncate at the first
    ``conversion_type`` event (post-conversion touches belong to the
    next journey question, not this one); a session converting on its
    first event contributes start → conv directly.

    Absorption is iterated, not solved: p ← r6(P→conv + Σ_transient
    P·p) for ``iterations`` steps from 0, every entry 6-dp
    floor-rounded (the forecast ``_r6`` discipline), with the removed
    channel's mass pinned to 0 inside the sum — so the whole
    computation (all removals at once) is one deterministic dataflow
    over a (channels+1)²-cell frame that a recursive-CTE oracle
    replays exactly. Geometric convergence makes 30 steps exact to
    well past 6 dp for any substochastic chain.

    Returns one row per channel: (channel, base_cvr, removed_cvr,
    removal_effect, attribution_share), 6-dp rounded;
    attribution_share NULL when no channel has a positive effect.

    Scale shape: sessionization windows PARTITIONED by user (bounded
    histories — the session_paths discipline), ONE groupBy to the
    ≤(k+2)²-cell transition frame, and the iteration runs entirely on
    (removals × states) BOUNDED frames (k+1 × k rows), lineage-cut
    per step. Cite: reference has no attribution tier; extends SURVEY
    §2.11 beside touch_attribution/markov_stationary."""
    from pyspark.sql import Window

    def r6(c):
        return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000

    # Real channel states carry a 'ch:' prefix inside the chain so a
    # dataset whose type values literally include 'start'/'conv'/
    # 'null'/'<none>' cannot merge with the synthetic source/absorbing
    # states (ADVICE r10); the prefix is stripped from the output.
    d = df.na.drop(subset=[ts_col, user_col, type_col]).select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__o"),
        F.concat(F.lit("ch:"),
                 F.col(type_col).cast("string")).alias("__t"),
    )
    w = Window.partitionBy("__u").orderBy("__ts", "__o")
    gap_us = gap_minutes * 60 * 1_000_000
    g = d.select(
        "__u", "__ts", "__o", "__t",
        F.sum(
            F.when(
                F.lag("__ts").over(w).isNull()
                | (
                    F.unix_micros("__ts")
                    - F.unix_micros(F.lag("__ts").over(w))
                    >= gap_us
                ),
                1,
            ).otherwise(0)
        ).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("__sid"),
    )
    # lazily persisted (r14): consumed by the first-conversion
    # aggregate AND the journey rejoin — the persist still computes the
    # sessionization windows once (first consumer materializes), the
    # r13 eager count was just an extra job boundary
    r = _round_persist(g.select(
        "__u", "__sid", "__t",
        F.row_number().over(
            Window.partitionBy("__u", "__sid").orderBy("__ts", "__o")
        ).alias("__rn"),
    ))
    fp = (
        r.filter(F.col("__t") == "ch:" + conversion_type)
        .groupBy("__u", "__sid")
        .agg(F.min("__rn").alias("__prn"))
    )
    rj = r.join(fp, ["__u", "__sid"], "left")
    kept = rj.filter(
        F.col("__prn").isNull() | (F.col("__rn") < F.col("__prn"))
    )
    # lazily persisted (r14): three union branches of the transition
    # frame scan seq — the first scan materializes the blocks, the
    # others read them
    seq = _round_persist(kept.select(
        "__u", "__sid", "__t", "__prn",
        F.lead("__t").over(
            Window.partitionBy("__u", "__sid").orderBy("__rn")
        ).alias("__nt"),
        F.row_number().over(
            Window.partitionBy("__u", "__sid").orderBy("__rn")
        ).alias("__krn"),
    ))
    conv_lbl = F.when(F.col("__prn").isNotNull(), F.lit("conv")) \
        .otherwise(F.lit("null"))
    trans = (
        seq.filter(F.col("__krn") == 1)
        .select(F.lit("start").alias("__s"), F.col("__t").alias("__tt"))
        .unionByName(
            seq.filter(F.col("__nt").isNotNull())
            .select(F.col("__t").alias("__s"),
                    F.col("__nt").alias("__tt"))
        )
        .unionByName(
            seq.filter(F.col("__nt").isNull())
            .select(F.col("__t").alias("__s"), conv_lbl.alias("__tt"))
        )
        .unionByName(
            # zero-touch converting sessions: first event IS the
            # conversion -> start -> conv
            rj.groupBy("__u", "__sid")
            .agg(F.min("__prn").alias("__p"), F.count("*").alias("__n"))
            .filter(F.col("__p") == 1)
            .select(F.lit("start").alias("__s"),
                    F.lit("conv").alias("__tt"))
        )
    )
    cnt = trans.groupBy("__s", "__tt").agg(F.count("*").alias("__n"))
    tot = cnt.groupBy("__s").agg(F.sum("__n").alias("__tot"))
    pm = (
        cnt.join(tot, "__s")
        .select(
            "__s", "__tt",
            (F.col("__n").cast("double") / F.col("__tot")).alias("__p"),
        )
    )
    # Bounded local absorption (r13, the markov_stationary discipline):
    # the transition frame is ≤(k+2)²-cell MODEL-sized (k = observed
    # channels), so the 30 fixed removal×state rounds — previously 30
    # chained distributed join plans, pure planning/scheduling floor —
    # replay off one Arrow collect with the IDENTICAL per-step
    # arithmetic (r6 floor-half-up is bit-exact on identical doubles;
    # sum-order ulps are absorbed exactly as the DuckDB oracle's
    # serial sums already are). A chain over half
    # ``catalog.LOCAL_TAIL_ROWS`` cells (fanout=2: 10⁶ cells at the
    # default) falls back to the distributed rounds below.
    starts = None
    pdfm = local_tail(pm, "__s", "__tt", fanout=2)
    if pdfm is not None:
        starts = _markov_absorption_local(pm, pdfm, iterations, r6)
    if starts is None:
        # the state, cp and ptrans frames and every round read pm:
        # persist the gated object (its checkpoint reuses the stages
        # the gate's count already ran)
        pm = _round_persist(pm)
        states = pm.select(F.col("__s").alias("__st")).distinct() \
            .localCheckpoint(eager=False)
        channels = states.filter(F.col("__st") != "start")
        removals = channels.select(F.col("__st").alias("__rem")).unionByName(
            local_frame(channels.sparkSession,
                        T.StructType.fromDDL("__rem string"), [["<none>"]])
        ).localCheckpoint(eager=False)
        cp = pm.filter(F.col("__tt") == "conv").select(
            F.col("__s").alias("__st"), F.col("__p").alias("__cp")
        )
        ptrans = pm.join(states, pm["__tt"] == states["__st"]).select(
            "__s", "__tt", "__p"
        ).localCheckpoint(eager=False)
        # p(rem, state), iterated; start at 0
        p = removals.crossJoin(states).select(
            "__rem", "__st", F.lit(0.0).alias("__pv")
        ).localCheckpoint(eager=False)
        base_term = removals.crossJoin(
            states.join(cp, "__st", "left").select(
                "__st", F.coalesce("__cp", F.lit(0.0)).alias("__cp")
            )
        ).localCheckpoint(eager=False)
        for it in range(iterations):
            summed = (
                ptrans.join(
                    p, (ptrans["__tt"] == p["__st"]), "inner"
                )
                .select(
                    "__rem", "__s",
                    (F.col("__p")
                     * F.when(F.col("__tt") == F.col("__rem"), F.lit(0.0))
                     .otherwise(F.col("__pv"))).alias("__c"),
                )
                .groupBy("__rem", "__s")
                .agg(F.sum("__c").alias("__sum"))
            )
            p = (
                base_term.join(
                    summed,
                    (base_term["__rem"] == summed["__rem"])
                    & (base_term["__st"] == summed["__s"]),
                    "left",
                )
                .select(
                    base_term["__rem"].alias("__rem"),
                    base_term["__st"].alias("__st"),
                    r6(
                        F.col("__cp") + F.coalesce("__sum", F.lit(0.0))
                    ).alias("__pv"),
                )
            )
            # lineage cut every few rounds: the frames are (removals ×
            # states)-sized, so a handful of chained joins between cuts
            # is cheaper than one checkpoint job per iteration
            if it % 5 == 4 or it == iterations - 1:
                p = p.localCheckpoint(eager=False)
        starts = p.filter(F.col("__st") == "start").select("__rem", "__pv")
    base = starts.filter(F.col("__rem") == "<none>").select(
        F.col("__pv").alias("__base")
    )
    eff = (
        starts.filter(F.col("__rem") != "<none>")
        .crossJoin(F.broadcast(base))
        .select(
            F.expr("substring(__rem, 4)").alias("channel"),
            F.col("__base").alias("__b"),
            F.col("__pv").alias("__r"),
            F.when(
                F.col("__base") > 0,
                (F.col("__base") - F.col("__pv")) / F.col("__base"),
            ).otherwise(F.lit(0.0)).alias("__e"),
        )
    )
    esum = eff.agg(F.sum("__e").alias("__es"))
    return (
        eff.crossJoin(F.broadcast(esum))
        .select(
            "channel",
            F.round("__b", 6).alias("base_cvr"),
            F.round("__r", 6).alias("removed_cvr"),
            F.round("__e", 6).alias("removal_effect"),
            F.when(F.col("__es") > 0,
                   F.round(F.col("__e") / F.col("__es"), 6))
            .otherwise(F.lit(None).cast("double"))
            .alias("attribution_share"),
        )
    )


def markov_attribution_oracle_sql(
    table: str,
    ts_sql: str,
    user_sql: str,
    type_sql: str,
    order_sql: str,
    conversion_type: str,
    gap_minutes: int = 5,
    iterations: int = 30,
) -> str:
    """DuckDB replica of ``markov_removal_attribution`` — identical
    sessionization, journey truncation, transition chain, and the
    all-removals absorption iteration as ONE recursive CTE (zero-
    weight self rows make the contribution join total, so every state
    carries the iteration counter; the removed channel's mass is
    zeroed inside the sum exactly as the engine does)."""
    r6o = "floor(({}) * 1000000 + 0.5) / 1000000"
    return f"""WITH RECURSIVE mad AS (
      SELECT {user_sql} AS u, {ts_sql} AS ts, {order_sql} AS o,
             'ch:' || CAST({type_sql} AS VARCHAR) AS t
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({user_sql}) IS NOT NULL
        AND ({type_sql}) IS NOT NULL),
    maf AS (
      SELECT u, ts, o, t,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w
                     >= INTERVAL '{gap_minutes} minutes'
                  THEN 1 ELSE 0 END AS ns
      FROM mad WINDOW w AS (PARTITION BY u ORDER BY ts, o)),
    mag AS (
      SELECT *, sum(ns) OVER (PARTITION BY u ORDER BY ts, o
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM maf),
    mar AS (
      SELECT u, sid, t,
             row_number() OVER (PARTITION BY u, sid
                                ORDER BY ts, o) AS rn
      FROM mag),
    mapp AS (SELECT u, sid, min(rn) AS prn FROM mar
             WHERE t = 'ch:{conversion_type}' GROUP BY u, sid),
    maj AS (SELECT mar.*, mapp.prn
            FROM mar LEFT JOIN mapp USING (u, sid)),
    mak AS (SELECT * FROM maj WHERE prn IS NULL OR rn < prn),
    mas AS (
      SELECT u, sid, t, prn,
             lead(t) OVER (PARTITION BY u, sid ORDER BY rn) AS nt,
             row_number() OVER (PARTITION BY u, sid ORDER BY rn)
               AS krn
      FROM mak),
    matr AS (
      SELECT 'start' AS s, t AS tt FROM mas WHERE krn = 1
      UNION ALL
      SELECT t, nt FROM mas WHERE nt IS NOT NULL
      UNION ALL
      SELECT t, CASE WHEN prn IS NOT NULL THEN 'conv'
                     ELSE 'null' END
      FROM mas WHERE nt IS NULL
      UNION ALL
      SELECT 'start', 'conv'
      FROM (SELECT u, sid, min(prn) AS p FROM maj GROUP BY u, sid) z
      WHERE z.p = 1),
    mac AS (SELECT s, tt, count(*) AS n FROM matr GROUP BY s, tt),
    mapm AS (SELECT s, tt, CAST(n AS DOUBLE)
                           / sum(n) OVER (PARTITION BY s) AS p
             FROM mac),
    mast AS (SELECT DISTINCT s AS st FROM mapm),
    marm AS (SELECT st AS rem FROM mast WHERE st <> 'start'
             UNION ALL SELECT '<none>'),
    macp AS (SELECT s AS st, p AS cp FROM mapm WHERE tt = 'conv'),
    mapt AS MATERIALIZED (
             SELECT m.s, m.tt, m.p FROM mapm m
             JOIN mast ON mast.st = m.tt
             UNION ALL
             SELECT st, st, CAST(0.0 AS DOUBLE) FROM mast),
    mabase AS MATERIALIZED (
      SELECT r.rem, s.st, coalesce(c.cp, 0.0) AS cp
      FROM marm r CROSS JOIN mast s
      LEFT JOIN macp c ON c.st = s.st),
    mab AS (
      SELECT rem, st, CAST(0.0 AS DOUBLE) AS pv, 0 AS i
      FROM mabase
      UNION ALL
      SELECT g.rem, g.st,
             {r6o.format('g.cp + g.s2')} AS pv,
             g.i + 1
      FROM (
        SELECT a.rem AS rem, pt.s AS st, max(b.cp) AS cp, a.i AS i,
               sum(CASE WHEN pt.tt = a.rem THEN 0.0
                        ELSE pt.p * a.pv END) AS s2
        FROM mab a
        JOIN mapt pt ON pt.tt = a.st
        JOIN mabase b ON b.rem = a.rem AND b.st = pt.s
        GROUP BY a.rem, pt.s, a.i) g
      WHERE g.i < {iterations}),
    fin AS (SELECT rem, pv FROM mab
            WHERE i = {iterations} AND st = 'start'),
    bse AS (SELECT pv AS b FROM fin WHERE rem = '<none>'),
    efx AS (
      SELECT substring(f.rem, 4) AS channel, bse.b, f.pv AS r,
             CASE WHEN bse.b > 0 THEN (bse.b - f.pv) / bse.b
                  ELSE CAST(0.0 AS DOUBLE) END AS e
      FROM fin f CROSS JOIN bse WHERE f.rem <> '<none>'),
    est AS (SELECT sum(e) AS es FROM efx)
    SELECT channel, round(b, 6) AS base_cvr,
           round(r, 6) AS removed_cvr,
           round(e, 6) + 0 AS removal_effect,
           CASE WHEN es > 0 THEN round(e / es, 6) + 0
                END AS attribution_share
    FROM efx CROSS JOIN est"""
