"""Aggregation operators (reference: src/transformers.py:279-318,
examples/multi_state_comparison.py:79-86, examples/tract_level_analysis.py:122-139).

- ``aggregate_to_geography``: hierarchical prefix rollup — derive the coarser
  GEOID by string prefix, then groupBy + per-column aggregate dict. Compiles
  to one hash aggregate (partial map-side + final) — the cheapest possible
  shuffle shape. At 100 TB with the lake partitioned by state prefix this
  shuffles only within-state partials.
- ``grouped_summary``: the multi-agg groupBy from the reference's
  multi-state example (sum/median/avg/count). ``median``/``percentile`` are
  exact (Spark >= 3.4) for oracle parity; swap to ``percentile_approx`` for
  the 100 TB path (single-pass sketch, no per-group sort).
- ``hierarchy_rollup_sql``: the idiomatic SQL ROLLUP upgrade — one pass
  produces every level of the geography hierarchy at once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators.geoid import geoid_prefix
from census_data_pipeline_spark.sources.catalog import (
    local_frame,
    local_tail,
    round_materialize as _round_materialize,
    round_persist as _round_persist,
)

_AGG_FNS = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "median": F.median,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "stddev": F.stddev,
    "first": F.first,
}


def _agg_exprs(agg_columns: dict[str, str]) -> list[Column]:
    exprs = []
    for col, fn_name in agg_columns.items():
        fn = _AGG_FNS.get(fn_name)
        if fn is None:
            raise ValueError(f"unsupported agg fn: {fn_name!r}")
        exprs.append(fn(col).alias(col))
    return exprs


def aggregate_to_geography(
    df: DataFrame,
    target_geography: str,
    agg_columns: dict[str, str],
    geoid_col: str = "GEOID",
) -> DataFrame:
    """Reference: ``DataTransformer.aggregate_to_geography``
    (src/transformers.py:279-318): prefix-slice the GEOID to the target
    level's length, group, aggregate with a per-column fn dict, and rename
    the key back to GEOID."""
    return (
        df.groupBy(geoid_prefix(geoid_col, target_geography).alias(geoid_col))
        .agg(*_agg_exprs(agg_columns))
    )


def grouped_summary(
    df: DataFrame,
    group_cols: list[str],
    aggs: list[tuple[str, str, str]],
) -> DataFrame:
    """``groupBy(...).agg`` with (fn, col, alias) triples
    (reference: examples/multi_state_comparison.py:79-86)."""
    exprs = []
    for fn_name, col, alias in aggs:
        fn = _AGG_FNS.get(fn_name)
        if fn is None:
            raise ValueError(f"unsupported agg fn: {fn_name!r}")
        exprs.append(fn(col).alias(alias))
    return df.groupBy(*group_cols).agg(*exprs)


def global_stats(df: DataFrame, column: str) -> DataFrame:
    """Global scalar reductions (reference:
    examples/tract_level_analysis.py:122-139): sum/mean/median/min/max."""
    c = F.col(column)
    return df.agg(
        F.sum(c).alias("sum"),
        F.avg(c).alias("mean"),
        F.median(c).alias("median"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.count(c).alias("count"),
    )


def hierarchy_rollup_sql(
    df: DataFrame,
    level_exprs: dict[str, Column],
    agg_columns: dict[str, str],
) -> DataFrame:
    """SQL ROLLUP over hierarchy levels — the Spark-native upgrade of A1:
    one shuffle computes every level (state, county, tract, ...) plus the
    grand total, with ``grouping()`` flags identifying the level."""
    keyed = df.withColumns(level_exprs)
    names = list(level_exprs)
    return keyed.rollup(*names).agg(
        *_agg_exprs(agg_columns),
        *[F.grouping(n).alias(f"is_total_{n}") for n in names],
    )


def merge_aggregates(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: list[str],
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Incremental view maintenance for re-aggregatable aggregates: merge
    a materialized per-key aggregate SNAPSHOT with the partial aggregate
    of a DELTA batch — union the two tiny aggregate frames and re-reduce,
    so a refresh touches O(|groups| + |delta groups|) rows instead of
    rescanning the fact table. ``merges`` lists (merge_fn, col) pairs
    where merge_fn ∈ {sum, min, max} is the ALGEBRAIC combiner: counts
    merge with sum, sums with sum, mins with min, maxes with max
    (averages must be carried as sum+count and derived after — the same
    decomposition Spark's own partial aggregation uses; medians/distincts
    need sketches, see sketch_rollup_mergeable).

    This is the batch analog of a streaming materialized view: the
    snapshot is yesterday's agg, the delta is today's partition, and the
    merged output is bit-identical to re-aggregating the union of the
    raw data — for these combiners the merge is associative, so ANY
    batching of the history produces the same result (the property the
    oracle checks by aggregating the full fact table directly)."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = [fn for fn, _ in merges if fn not in fns]
    if bad:
        raise ValueError(
            f"non-algebraic merge fns {bad}: carry sum+count (avg), or a "
            "sketch column (distinct/quantile), and derive after the merge"
        )
    return (
        snapshot.unionByName(delta)
        .groupBy(*keys)
        .agg(*[fns[fn](c).alias(c) for fn, c in merges])
    )


def exact_kth_scalable(
    df: DataFrame,
    value_col: str,
    k: int,
    n_buckets: int = 1024,
    tail_threshold: int = 10_000,
    max_rounds: int = 12,
) -> float:
    """EXACT k-th smallest value (1-based, nulls excluded) with BOUNDED
    memory at any scale — the missing piece behind every "exact
    percentile → approx at 100×" swap note in this repo: iterative
    range narrowing. Each round buckets the surviving candidate range
    into ``n_buckets`` equal spans, aggregates (count, min, max) per
    bucket (map-side combine; the driver receives ≤ n_buckets rows),
    descends into the bucket containing the k-th element, and re-bases
    k. Candidates shrink geometrically; when ≤ ``tail_threshold``
    remain (or a bucket collapses to one value) the answer is read
    exactly. Unlike ``F.percentile``, NO stage ever holds more than one
    bucket's worth of values — the single-buffer OOM cannot happen —
    and unlike ``percentile_approx`` the result is EXACT.

    Round count is log_{n_buckets}(value range / final span): two
    rounds cover any realistic double range at the defaults. Bucket
    membership for the descent uses the SAME floor expression that
    counted, so boundary values can never be double-counted or lost.
    Driver-side state is ≤ n_buckets rows per round (the CC-loop
    discipline: bounded small actions, never data-scale collects)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    cur = df.filter(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("double").alias("__v")
    )
    first = cur.agg(
        F.count("*"), F.min("__v"), F.max("__v")
    ).first()
    n, lo, hi = first[0], first[1], first[2]
    if k > n:
        raise ValueError(f"k={k} exceeds non-null count {n}")
    k_rem, n_rem = k, n
    for _ in range(max_rounds):
        if lo == hi or n_rem <= tail_threshold:
            break
        width = (hi - lo) / n_buckets
        bucket = F.least(
            F.lit(n_buckets - 1),
            F.floor((F.col("__v") - F.lit(lo)) / F.lit(width)),
        ).cast("int")
        stats = sorted(
            cur.withColumn("__b", bucket)
            .groupBy("__b")
            .agg(F.count("*").alias("c"),
                 F.min("__v").alias("mn"),
                 F.max("__v").alias("mx"))
            .collect(),
            key=lambda r: r["__b"],
        )
        cum = 0
        for r in stats:
            b = r["__b"]
            if cum + r["c"] >= k_rem:
                k_rem -= cum
                n_rem = r["c"]
                lo, hi = r["mn"], r["mx"]
                cur = cur.withColumn("__b", bucket).filter(
                    F.col("__b") == b
                ).drop("__b")
                break
            cum += r["c"]
    if lo == hi:
        return lo
    tail = [r[0] for r in cur.orderBy("__v").limit(k_rem).collect()]
    return tail[-1]


def exact_median_scalable(df: DataFrame, value_col: str):
    """Exact interpolated median (DuckDB/pandas semantics: mean of the
    two middle elements for even counts) via ``exact_kth_scalable`` —
    exact at any scale, bounded memory. Returns a 1-row DataFrame
    (n, median): the heavy work happens in distributed jobs; only the
    final scalar is assembled on the driver."""
    base = df.filter(F.col(value_col).isNotNull())
    n = base.count()
    if n == 0:
        raise ValueError(f"no non-null values in {value_col!r}")
    k_lo = (n + 1) // 2
    a = exact_kth_scalable(df, value_col, k_lo)
    if n % 2 == 1:
        med = a
    else:
        b = exact_kth_scalable(df, value_col, k_lo + 1)
        med = (a + b) / 2.0
    spark = df.sparkSession
    return local_frame(spark, T.StructType.fromDDL("n long, median double"),
                       [[n], [round(med, 6)]])


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width_hex: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-min sketch as a DataFrame — the mergeable heavy-hitter /
    frequency summary (Cormode & Muthukrishnan 2005). depth independent
    hash rows; each row buckets a key by a width_hex-hex-char md5
    prefix (width = 16^width_hex buckets, default 4096 — the same
    md5-prefix determinism trick as DSIR/sampling, so BOTH engines
    derive identical cells and the sketch itself is oracle-checkable,
    unlike an opaque binary sketch blob).

    Output: (row_id, bucket, cnt) — cnt is LONG for integral weights
    (unweighted, or a byte/short/int/long weight column) and DOUBLE for
    fractional ones, so integer-weighted sketches stay schema-compatible
    (union-mergeable) with unweighted ones — depth x width rows at most,
    regardless of input size. Mergeable by construction: sketches of
    two corpus parts union + groupBy(row_id, bucket) sum to the sketch
    of the union — the property that lets per-partition/per-day
    sketches roll up without rescanning (same contract as
    sketch_rollup_mergeable).

    One explode(depth) + groupBy — a single shuffle bounded by
    depth x width cells."""
    if depth < 1 or width_hex < 1 or width_hex > 8:
        raise ValueError("depth >= 1 and 1 <= width_hex <= 8 required")
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    _integral_weights = weight_col is None or isinstance(
        df.schema[weight_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    return (
        df.select(
            F.col(key_col).cast("string").alias("__k"), w.alias("__w")
        )
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row_id"),
            "__k", "__w",
        )
        .select(
            "row_id",
            F.substring(
                F.md5(F.concat_ws("", F.col("row_id").cast("string"),
                                  F.col("__k"))),
                1, width_hex,
            ).alias("bucket"),
            "__w",
        )
        .groupBy("row_id", "bucket")
        # cnt dtype CONTRACT (ADVICE r7): long when the weights are
        # integral (unweighted, or an integral weight column), double
        # only for fractional weights — so integer-weighted sketches keep
        # the unweighted schema and stay union+groupBy-sum mergeable with
        # it; a fractional weight sum cast to long would silently
        # truncate (ADVICE r6)
        .agg(
            (F.sum("__w").cast("long") if _integral_weights
             else F.sum("__w").cast("double")).alias("cnt")
        )
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 4,
    width_hex: int = 3,
) -> DataFrame:
    """Point-frequency estimates from a cms_build sketch: for each
    candidate key, min over the depth rows of its bucket's count — the
    CMS guarantee (estimate >= true count; overestimate bounded by
    collisions). The sketch frame is depth x width rows — broadcast —
    so estimating any number of candidates is one map-side join + a
    groupBy(candidate) min. Absent buckets count 0 (key never seen)."""
    cand = (
        candidates.select(F.col(key_col).cast("string").alias("__k"))
        .distinct()
        .select(
            "__k",
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row_id"),
        )
        .select(
            "__k", "row_id",
            F.substring(
                F.md5(F.concat_ws("", F.col("row_id").cast("string"),
                                  F.col("__k"))),
                1, width_hex,
            ).alias("bucket"),
        )
    )
    key_type = dict(candidates.dtypes)[key_col]
    return (
        cand.join(F.broadcast(sketch), ["row_id", "bucket"], "left")
        .groupBy("__k")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
        .select(F.col("__k").cast(key_type).alias(key_col), "est_count")
    )


def ivm_delta_join(
    snapshot: DataFrame,
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on: Column,
    partial: "Callable[[DataFrame], DataFrame]",
    keys: list[str],
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Incremental view maintenance for an aggregate over a JOIN — the
    second IVM tier above ``merge_aggregates`` (which refreshes a
    single-table rollup). The materialized view is
    V = γ_keys(aggs)(A ⋈ B); when delta batches dA and dB arrive, the
    algebra of the join distributing over union gives

        (A ∪ dA) ⋈ (B ∪ dB) = A⋈B  ∪  dA⋈B  ∪  A⋈dB  ∪  dA⋈dB

    so the refresh computes partial aggregates of ONLY the three delta
    terms and merges them into the snapshot with the algebraic
    combiners — the old fact data is scanned once per delta term for
    the join probe but A⋈B itself is never re-joined or re-aggregated,
    and with the base sides stored partitioned on the join key the
    probe is a shuffle-free lookup. ``partial`` maps a joined frame to
    its per-key PARTIAL aggregate (same schema as ``snapshot``);
    ``merges`` lists the (sum/min/max) combiners per column, exactly as
    in ``merge_aggregates``.

    Scale shape: the delta side of each term is broadcast (a delta is
    small by definition — that is what makes IVM worth running), so
    dA⋈B and A⋈dB never shuffle the base table; dA⋈dB is
    broadcast ⋈ broadcast-sized. The merge unions four per-key
    aggregate frames — O(|groups|) rows — and re-reduces. Insert-only
    deltas; for deletes/updates use ``ivm_retraction_merge`` (signed
    multiplicities + confined min/max repair).

    Probe pruning: a broadcast probe still SCANS the base side, so at
    scale the base should be stored partitioned (or bucketed) on the
    join key and the caller should pass a pruned frame — any superset
    of the rows joinable with the delta is sound, because the join
    itself discards everything else (e.g. with delta keys confined to
    key-range buckets, ``b_old.filter(bucket.isin(delta_buckets))``
    turns the probe into a partition-pruned read). Measured at a 15M-row
    base: full recompute 1.58 s vs pruned refresh 0.50 s, a gap that
    widens linearly with base size (SCALING.md r6)."""
    t1 = partial(F.broadcast(delta_a).join(b_old, on))
    t2 = partial(a_old.join(F.broadcast(delta_b), on))
    t3 = partial(F.broadcast(delta_a).join(F.broadcast(delta_b), on))
    inc = t1.unionByName(t2).unionByName(t3)
    return merge_aggregates(snapshot, inc, keys, merges)


def ivm_retraction_merge(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: list[str],
    count_col: str,
    sums: list[str],
    extremes: list[tuple[str, str]] | None = None,
    base_after: DataFrame | None = None,
    sign_col: str = "__sign",
) -> DataFrame:
    """Incremental view maintenance under DELETES and UPDATES — the
    counting/retraction form promised by ``ivm_delta_join``'s docstring
    (CDC feeds are never insert-only; an update is a −1 retraction of
    the old row plus a +1 insertion of the new one, the standard signed-
    multiplicity encoding of differential dataflow / DBSP).

    Inputs:
      * ``snapshot`` — the materialized per-key view: ``keys`` +
        ``count_col`` (a COUNT(*) of contributing base rows — the
        per-group multiplicity that decides group liveness) + one summed
        column per entry of ``sums`` + one column per ``extremes`` entry.
      * ``delta`` — RAW change rows: ``keys``, ``sign_col`` ∈ {+1, −1},
        and the raw VALUE columns named exactly like the snapshot's
        aggregate columns (the caller pre-projects, e.g.
        ``o_totalprice AS total_revenue``).
      * ``extremes`` — (kind, col) with kind ∈ {'min','max'}. Min/max are
        NOT algebraically retractable (deleting the current extreme needs
        the runner-up, which the view no longer has), so groups that
        received any retraction have their extremes RECOMPUTED from
        ``base_after`` (the base table with the delta already applied) —
        and only those groups: the repair probe joins ``base_after``
        against the broadcast retracted-key set, so with the base stored
        partitioned/bucketed on ``keys`` the repair is a pruned read, not
        a scan (the ``ivm_delta_join`` probe-pruning discipline).

    Algebra: counts and sums merge SIGNED (cnt' = cnt + Σ sign,
    sum' = sum + Σ sign·value) via one union + re-reduce over
    O(|groups| + |delta groups|) rows — the fact table is never
    rescanned. Groups whose merged count reaches 0 are DROPPED (all
    their rows were retracted); groups born in the delta appear. For
    non-retracted groups, inserts tighten extremes for free
    (least/greatest with the inserted values' extreme).

    Exactness contract (what the oracle checks): the output equals the
    full re-aggregation of ``base_after`` up to float summation order —
    the same associativity guarantee as ``merge_aggregates``, extended
    with signed cancellation."""
    extremes = list(extremes or [])
    if extremes and base_after is None:
        raise ValueError(
            "extremes need base_after for confined min/max repair"
        )
    bad = [k for k, _ in extremes if k not in ("min", "max")]
    if bad:
        raise ValueError(f"extreme kinds must be min/max, got {bad}")
    efns = {"min": F.min, "max": F.max}
    sgn = F.col(sign_col)
    # per-key partial of the delta batch: signed count + signed sums,
    # a retraction flag, and the inserted rows' extremes
    d = delta.groupBy(*keys).agg(
        F.sum(sgn).cast("long").alias(count_col),
        *[F.sum(sgn * F.col(c)).alias(c) for c in sums],
        F.max((sgn < 0).cast("int")).alias("__retr"),
        *[
            efns[k](F.when(sgn > 0, F.col(c))).alias(c)
            for k, c in extremes
        ],
    )
    # one union + re-reduce merges counts/sums and (for insert-only
    # groups) extremes; __retr marks groups whose extremes need repair
    snap = snapshot.withColumn("__retr", F.lit(0))
    merged = (
        snap.unionByName(d)
        .groupBy(*keys)
        .agg(
            F.sum(count_col).alias(count_col),
            *[F.sum(c).alias(c) for c in sums],
            F.max("__retr").alias("__retr"),
            *[efns[k](c).alias(c) for k, c in extremes],
        )
        .filter(F.col(count_col) > 0)
    )
    if not extremes:
        return merged.drop("__retr")
    clean = merged.filter(F.col("__retr") == 0).drop("__retr")
    dirty = merged.filter(F.col("__retr") == 1).drop(
        "__retr", *[c for _, c in extremes]
    )
    # confined repair: recompute extremes from the post-delta base for
    # ONLY the retracted groups (broadcast key set -> pruned probe)
    repair_keys = dirty.select(*keys)
    repaired = (
        base_after.join(F.broadcast(repair_keys), keys)
        .groupBy(*keys)
        .agg(*[efns[k](c).alias(c) for k, c in extremes])
    )
    fixed = dirty.join(repaired, keys, "left")
    return clean.unionByName(fixed.select(*clean.columns))


_HLL_ALPHA_256 = 0.7213 / (1.0 + 1.079 / 256.0)


def hll_build(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """HyperLogLog register frame (Flajolet et al. 2007) — the
    mergeable DISTINCT-COUNT summary beside cms_build's frequency
    summary, built from the same md5 determinism trick so the sketch
    itself is oracle-checkable rather than an opaque binary blob:
    bucket = the first 2 md5 hex chars (m = 256 registers), rho = 1 +
    the number of leading zero BITS in the next 13 hex chars (a 52-bit
    window), derived purely from hex-digit string arithmetic (leading
    '0' digits contribute 4 bits each; the first nonzero digit adds
    3/2/1/0 by its high bits) — no floating log2 anywhere, so both
    engines compute identical registers.

    Output: (bucket, rho) with rho = max over the bucket's keys —
    ≤ 256 rows regardless of input size. Mergeable by construction:
    register frames of two corpus parts union + groupBy(bucket)
    max(rho) to the frame of the union (the property that lets per-day
    sketches roll up without rescanning, same contract as cms_build).

    ``group_cols`` keys the sketch per group — the per-segment
    distinct-count summary (registers become ≤ 256 rows PER GROUP, the
    shuffle is the same group-hash exchange as any groupBy).

    One scan + a partial-aggregated groupBy bounded by groups·256
    cells."""
    gcols = list(group_cols or [])
    h = F.md5(F.col(key_col).cast("string"))
    suf = F.substring(h, 3, 13)
    zhex = F.length(F.regexp_extract(suf, "^0*", 0))
    first = F.regexp_extract(suf, "^0*([1-9a-f])", 1)
    extra = (
        F.when(first == "1", F.lit(3))
        .when(first.isin("2", "3"), F.lit(2))
        .when(first.isin("4", "5", "6", "7"), F.lit(1))
        .otherwise(F.lit(0))
    )
    rho = (
        F.when(first == "", F.lit(53))
        .otherwise(zhex * 4 + extra + 1)
        .cast("int")
    )
    return (
        df.select(
            *gcols,
            F.substring(h, 1, 2).alias("bucket"), rho.alias("__rho")
        )
        .groupBy(*gcols, "bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate from an ``hll_build`` register frame,
    with the standard small-range correction: raw = α₂₅₆·m²/Σ2^(−rho)
    (absent buckets contribute rho = 0), and when raw ≤ 2.5m with V > 0
    empty registers, linear counting m·ln(m/V) instead. The harmonic
    sum is EXACT integer arithmetic (Σ 2^(53−rho) via shiftleft over
    the ≤256-row frame; one double division at the end), so both
    engines agree to the 6-dp rounding.

    Output: one row (groups..., m, nonempty_buckets, estimate) — one
    per group when ``group_cols`` is set."""
    m = 256
    gcols = list(group_cols or [])
    agg = registers.groupBy(*gcols).agg(
        F.count("*").cast("long").alias("__nb"),
        F.sum(
            F.expr("shiftleft(cast(1 as bigint), 53 - rho)")
        ).cast("long").alias("__s"),
    ).select(
        *gcols,
        "__nb",
        (F.col("__s") + (F.lit(m) - F.col("__nb"))
         * F.lit(1 << 53).cast("long")).alias("__snum"),
    )
    raw = (
        F.lit(_HLL_ALPHA_256) * F.lit(float(m * m))
        * F.lit(float(1 << 53)) / F.col("__snum")
    )
    v = F.lit(m) - F.col("__nb")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return agg.select(
        *gcols,
        F.lit(m).cast("long").alias("m"),
        F.col("__nb").alias("nonempty_buckets"),
        F.round(est, 6).alias("estimate"),
    )


def hll_oracle_sql(
    table: str, key_sql: str, group_sql: list[str] | None = None
) -> str:
    """DuckDB replica of ``hll_build`` |> ``hll_estimate`` — identical
    hex-digit register derivation, exact-integer harmonic sum, the same
    correction branch and final rounding."""
    alpha = repr(_HLL_ALPHA_256)
    g = list(group_sql or [])
    gsel = "".join(f"{c}, " for c in g)
    gby = ("GROUP BY " + ", ".join(g)) if g else ""
    gby_b = ", ".join(g) + ", bucket" if g else "1"
    return f"""WITH h AS MATERIALIZED (
      SELECT {gsel}md5(CAST({key_sql} AS VARCHAR)) AS hx FROM {table}),
    r AS MATERIALIZED (
      SELECT {gsel}substr(hx, 1, 2) AS bucket,
             max(CASE WHEN regexp_extract(substr(hx, 3, 13),
                                          '^0*([1-9a-f])', 1) = ''
                      THEN 53
                      ELSE length(regexp_extract(substr(hx, 3, 13),
                                                 '^0*', 0)) * 4
                           + CASE regexp_extract(substr(hx, 3, 13),
                                                 '^0*([1-9a-f])', 1)
                             WHEN '1' THEN 3
                             WHEN '2' THEN 2 WHEN '3' THEN 2
                             WHEN '4' THEN 1 WHEN '5' THEN 1
                             WHEN '6' THEN 1 WHEN '7' THEN 1
                             ELSE 0 END + 1 END) AS rho
      FROM h GROUP BY {gby_b}),
    a AS (
      SELECT {gsel}count(*) AS nb,
             sum(CAST(1 AS BIGINT) << (53 - rho))
             + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS snum
      FROM r {gby})
    SELECT {gsel}CAST(256 AS BIGINT) AS m,
           CAST(nb AS BIGINT) AS nonempty_buckets,
           round(CASE WHEN (CAST({alpha} AS DOUBLE) * 65536.0
                            * 9007199254740992.0 / snum) <= 640.0
                           AND (256 - nb) > 0
                      THEN 256.0 * ln(256.0 / (256 - nb))
                      ELSE CAST({alpha} AS DOUBLE) * 65536.0
                           * 9007199254740992.0 / snum
                 END, 6) AS estimate
    FROM a"""


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pearson correlation matrix over numeric columns in ONE aggregate
    pass — the co-moment discipline of the PCA covariance applied to
    named columns: a single scan computes n, Σx, and Σxy for every
    ordered pair, and r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² −
    (Σy)²)) is arithmetic over the one-row moment frame. Rows with a
    null in ANY listed column are dropped first, so every pair shares
    the same basis (the listwise-complete contract). Returns
    (col_a, col_b, r) for each unordered pair a < b (list order), r
    rounded to 6 dp and NULL when either column is constant.

    Scale shape: one whole-stage-codegen scan into F·(F+3)/2 partial-
    aggregated sums; everything after runs on a single row."""
    if len(cols) < 2:
        raise ValueError("need at least 2 columns")
    d = df.na.drop(subset=cols).select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    aggs = [F.count("*").alias("__n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(F.col(a)).alias(f"__s_{i}"))
        for j in range(i, len(cols)):
            aggs.append(
                F.sum(F.col(a) * F.col(cols[j])).alias(f"__p_{i}_{j}")
            )
    mom = d.agg(*aggs)
    pairs = []
    n = F.col("__n")
    for i, a in enumerate(cols):
        for j in range(i + 1, len(cols)):
            b = cols[j]
            num = n * F.col(f"__p_{i}_{j}") - F.col(f"__s_{i}") * F.col(
                f"__s_{j}"
            )
            va = n * F.col(f"__p_{i}_{i}") - F.col(f"__s_{i}") * F.col(
                f"__s_{i}"
            )
            vb = n * F.col(f"__p_{j}_{j}") - F.col(f"__s_{j}") * F.col(
                f"__s_{j}"
            )
            pairs.append(
                F.struct(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.when(
                        (va > 0) & (vb > 0),
                        F.round(num / F.sqrt(va * vb), 6),
                    ).otherwise(F.lit(None).cast("double")).alias("r"),
                )
            )
    return mom.select(
        F.explode(F.array(*pairs)).alias("__pr")
    ).select("__pr.col_a", "__pr.col_b", "__pr.r")


def corr_matrix_oracle_sql(table: str, cols: list[str]) -> str:
    """DuckDB replica of ``corr_matrix`` — the identical one-row moment
    aggregate and pair arithmetic, unioned per pair."""
    null_guard = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    sums = ["count(*) AS n"]
    for i, a in enumerate(cols):
        sums.append(f"sum(CAST({a} AS DOUBLE)) AS s_{i}")
        for j in range(i, len(cols)):
            sums.append(
                f"sum(CAST({a} AS DOUBLE) * CAST({cols[j]} AS DOUBLE)) "
                f"AS p_{i}_{j}"
            )
    pair_sel = []
    for i, a in enumerate(cols):
        for j in range(i + 1, len(cols)):
            b = cols[j]
            num = f"(n * p_{i}_{j} - s_{i} * s_{j})"
            va = f"(n * p_{i}_{i} - s_{i} * s_{i})"
            vb = f"(n * p_{j}_{j} - s_{j} * s_{j})"
            pair_sel.append(
                f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
             CASE WHEN {va} > 0 AND {vb} > 0
                  THEN round({num} / sqrt({va} * {vb}), 6) + 0
                  ELSE NULL END AS r
      FROM mom"""
            )
    body = "\n      UNION ALL ".join(pair_sel)
    return f"""WITH mom AS MATERIALIZED (
      SELECT {', '.join(sums)}
      FROM {table} WHERE {null_guard})
    {body}"""


def grouped_ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (closed-form OLS) in ONE
    aggregate pass — the trend detector an analytics consumer runs per
    segment: slope = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²), intercept =
    (Σy − slope·Σx)/n, and R² = slope²·Sxx/Syy — all arithmetic over
    the per-group moment row. Rows with a null x or y are dropped.
    Returns (groups..., n, slope, intercept, r2), 6-dp rounded; slope/
    intercept/r2 NULL when x is constant within the group (and r2 NULL
    when y is constant — a flat target has no variance to explain).

    Scale shape: one codegen scan into five partial-aggregated sums per
    group — the same shuffle as any groupBy; no windows, no sorts."""
    d = df.na.drop(subset=[x_col, y_col]).select(
        *group_cols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )
    mom = d.groupBy(*group_cols).agg(
        F.count("*").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    n = F.col("__n")
    sxx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    syy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    sxy = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = sxy / sxx
    return mom.select(
        *group_cols,
        n.cast("long").alias("n"),
        F.when(sxx > 0, F.round(slope, 6))
        .otherwise(F.lit(None).cast("double")).alias("slope"),
        F.when(
            sxx > 0,
            F.round((F.col("__sy") - slope * F.col("__sx")) / n, 6),
        ).otherwise(F.lit(None).cast("double")).alias("intercept"),
        F.when(
            (sxx > 0) & (syy > 0),
            F.round(sxy * sxy / (sxx * syy), 6),
        ).otherwise(F.lit(None).cast("double")).alias("r2"),
    )


def grouped_ols_oracle_sql(
    table: str,
    group_sql: list[str],
    x_sql: str,
    y_sql: str,
) -> str:
    """DuckDB replica of ``grouped_ols_trend`` — identical moment
    aggregate and closed-form arithmetic."""
    keys = ", ".join(group_sql)
    return f"""WITH mom AS MATERIALIZED (
      SELECT {keys}, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM (SELECT {keys},
                   CAST({x_sql} AS DOUBLE) AS x,
                   CAST({y_sql} AS DOUBLE) AS y
            FROM {table}
            WHERE ({x_sql}) IS NOT NULL AND ({y_sql}) IS NOT NULL) q
      GROUP BY {keys})
    SELECT {keys}, CAST(n AS BIGINT) AS n,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                     + 0
                ELSE NULL END AS slope,
           CASE WHEN (n * sxx - sx * sx) > 0
                THEN round((sy - (n * sxy - sx * sy)
                                 / (n * sxx - sx * sx) * sx) / n, 6) + 0
                ELSE NULL END AS intercept,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
                           6)
                ELSE NULL END AS r2
    FROM mom"""


def welch_t_test(
    df: DataFrame,
    group_cols: list[str],
    cohort: Column,
    value_col: str,
) -> DataFrame:
    """Per-group Welch two-sample t-test (unequal variances) — the A/B
    significance readout an analytics consumer runs per segment:
    cohort A is the rows where ``cohort`` is true, B the rest; one
    co-moment scan per group yields both cohorts' n/Σx/Σx² via
    conditional aggregation, and t = (mā − m̄b)/√(s²a/na + s²b/nb) with
    the Welch–Satterthwaite df is arithmetic over the per-group moment
    row. ``significant_95`` uses the NORMAL approximation (|t| >
    1.959964 — documented: exact only as df → ∞, conservative beyond
    ~30 per arm, which is the regime a data-scale test lives in).

    Returns (groups..., n_a, n_b, mean_a, mean_b, t_stat, df,
    significant_95), 6-dp rounded; t/df/flag NULL when either arm has
    < 2 rows or both sample variances are 0.

    Scale shape: one codegen scan into six partial-aggregated sums per
    group — the same shuffle as any groupBy."""
    d = df.na.drop(subset=[value_col]).select(
        *group_cols,
        cohort.cast("boolean").alias("__c"),
        F.col(value_col).cast("double").alias("__v"),
    )
    v = F.col("__v")
    mom = d.groupBy(*group_cols).agg(
        F.count(F.when(F.col("__c"), 1)).alias("__na"),
        F.sum(F.when(F.col("__c"), v)).alias("__sa"),
        F.sum(F.when(F.col("__c"), v * v)).alias("__qa"),
        F.count(F.when(~F.col("__c"), 1)).alias("__nb"),
        F.sum(F.when(~F.col("__c"), v)).alias("__sb"),
        F.sum(F.when(~F.col("__c"), v * v)).alias("__qb"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    ma = F.col("__sa") / na
    mb = F.col("__sb") / nb
    va = (F.col("__qa") - F.col("__sa") * F.col("__sa") / na) / (na - 1)
    vb = (F.col("__qb") - F.col("__sb") * F.col("__sb") / nb) / (nb - 1)
    sea = va / na
    seb = vb / nb
    se2 = sea + seb
    t = (ma - mb) / F.sqrt(se2)
    dfw = (se2 * se2) / (sea * sea / (na - 1) + seb * seb / (nb - 1))
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    return mom.select(
        *group_cols,
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.when(na >= 1, F.round(ma, 6)).alias("mean_a"),
        F.when(nb >= 1, F.round(mb, 6)).alias("mean_b"),
        F.when(ok, F.round(t, 6))
        .otherwise(F.lit(None).cast("double")).alias("t_stat"),
        F.when(ok, F.round(dfw, 6))
        .otherwise(F.lit(None).cast("double")).alias("df"),
        F.when(ok, F.abs(t) > 1.959964)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def welch_t_test_oracle_sql(
    table: str,
    group_sql: list[str],
    cohort_sql: str,
    value_sql: str,
) -> str:
    """DuckDB replica of ``welch_t_test`` — identical conditional
    co-moment aggregate and Welch arithmetic."""
    keys = ", ".join(group_sql)
    return f"""WITH mom AS MATERIALIZED (
      SELECT {keys},
             count(CASE WHEN c THEN 1 END) AS na,
             sum(CASE WHEN c THEN v END) AS sa,
             sum(CASE WHEN c THEN v * v END) AS qa,
             count(CASE WHEN NOT c THEN 1 END) AS nb,
             sum(CASE WHEN NOT c THEN v END) AS sb,
             sum(CASE WHEN NOT c THEN v * v END) AS qb
      FROM (SELECT {keys}, CAST({cohort_sql} AS BOOLEAN) AS c,
                   CAST({value_sql} AS DOUBLE) AS v
            FROM {table} WHERE ({value_sql}) IS NOT NULL) q
      GROUP BY {keys}),
    w AS (SELECT *,
             sa / na AS ma, sb / nb AS mb,
             ((qa - sa * sa / na) / (na - 1)) / na AS sea,
             ((qb - sb * sb / nb) / (nb - 1)) / nb AS seb
          FROM mom)
    SELECT {keys},
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CASE WHEN na >= 1 THEN round(ma, 6) + 0 END AS mean_a,
           CASE WHEN nb >= 1 THEN round(mb, 6) + 0 END AS mean_b,
           CASE WHEN na >= 2 AND nb >= 2 AND (sea + seb) > 0
                THEN round((ma - mb) / sqrt(sea + seb), 6) + 0
                ELSE NULL END AS t_stat,
           CASE WHEN na >= 2 AND nb >= 2 AND (sea + seb) > 0
                THEN round((sea + seb) * (sea + seb)
                           / (sea * sea / (na - 1)
                              + seb * seb / (nb - 1)), 6)
                ELSE NULL END AS df,
           CASE WHEN na >= 2 AND nb >= 2 AND (sea + seb) > 0
                THEN abs((ma - mb) / sqrt(sea + seb)) > 1.959964
                ELSE NULL END AS significant_95
    FROM w"""


def chi2_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-squared test of independence between two categorical
    columns — the contingency-table audit beside the drift chi2 (which
    compares one distribution to a reference): one partial-aggregated
    cross-tab scan, then the statistic Σ (o − e)²/e over the
    |A|·|B|-cell model frame with expected counts from the broadcast
    marginals. Zero-observed cells are handled in closed form: their
    contribution Σ_{o=0} e equals n − Σ_observed e (all expecteds sum
    to n), so the sparse cross-tab needs no zero-cell materialization. Returns one row (n, cells, dof, chi2, significant_95) —
    the 95% cut uses the Wilson–Hilferty chi-square approximation of
    the critical value (exact-arithmetic in both engines, accurate to
    ~1e-3 relative for dof ≥ 1, documented), so the flag needs no
    critical-value table. Rows with a null in either column drop.

    Scale shape: ONE data-scale groupBy; everything after is arithmetic
    over cell/marginal frames bounded by the category cardinalities."""
    d = df.na.drop(subset=[col_a, col_b]).select(
        F.col(col_a).cast("string").alias("__a"),
        F.col(col_b).cast("string").alias("__b"),
    )
    cells = d.groupBy("__a", "__b").agg(F.count("*").alias("__o"))
    ra = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    rb = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    nn = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__ka"),
        F.countDistinct("__b").alias("__kb"),
    )
    joined = (
        cells.join(ra, "__a").join(rb, "__b")
        .crossJoin(F.broadcast(nn))
        .select(
            "__n", "__ka", "__kb",
            (
                (F.col("__o") - F.col("__ra") * F.col("__rb") / F.col("__n"))
                * (F.col("__o") - F.col("__ra") * F.col("__rb") / F.col("__n"))
                / (F.col("__ra") * F.col("__rb") / F.col("__n"))
            ).alias("__t"),
            (F.col("__ra") * F.col("__rb") / F.col("__n")).alias("__e"),
        )
    )
    agg = joined.groupBy("__n", "__ka", "__kb").agg(
        F.round(
            F.sum("__t") + (F.col("__n") - F.sum("__e")), 6
        ).alias("__chi2")
    )
    dof = (F.col("__ka") - 1) * (F.col("__kb") - 1)
    # Wilson–Hilferty: chi2_crit(p, k) ≈ k·(1 − 2/(9k) + z_p·√(2/(9k)))³
    z95 = F.lit(1.644854)
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof) + z95 * F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * dof)
    )
    crit = dof * wh * wh * wh
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        (F.col("__ka") * F.col("__kb")).cast("long").alias("cells"),
        dof.cast("long").alias("dof"),
        F.col("__chi2").alias("chi2"),
        F.when(dof >= 1, F.col("__chi2") > crit)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def chi2_independence_oracle_sql(
    table: str, a_sql: str, b_sql: str
) -> str:
    """DuckDB replica of ``chi2_independence`` — identical cross-tab,
    marginals, statistic, and Wilson–Hilferty cut."""
    return f"""WITH d AS MATERIALIZED (
      SELECT CAST({a_sql} AS VARCHAR) AS a, CAST({b_sql} AS VARCHAR) AS b
      FROM {table}
      WHERE ({a_sql}) IS NOT NULL AND ({b_sql}) IS NOT NULL),
    cells AS MATERIALIZED (
      SELECT a, b, count(*) AS o FROM d GROUP BY a, b),
    ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
    rb AS (SELECT b, sum(o) AS rb FROM cells GROUP BY b),
    nn AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
                  count(DISTINCT b) AS kb FROM cells),
    agg AS (
      SELECT nn.n, nn.ka, nn.kb,
             round(sum((cells.o - ra.ra * rb.rb / nn.n)
                       * (cells.o - ra.ra * rb.rb / nn.n)
                       / (ra.ra * rb.rb / nn.n))
                   + (nn.n - sum(ra.ra * rb.rb / nn.n)), 6) AS chi2
      FROM cells JOIN ra ON ra.a = cells.a
                 JOIN rb ON rb.b = cells.b
                 CROSS JOIN nn
      GROUP BY nn.n, nn.ka, nn.kb)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(ka * kb AS BIGINT) AS cells,
           CAST((ka - 1) * (kb - 1) AS BIGINT) AS dof,
           chi2,
           CASE WHEN dof1 >= 1
                THEN chi2 > dof1 * wh * wh * wh
                ELSE NULL END AS significant_95
    FROM (SELECT *, (ka - 1) * (kb - 1) AS dof1,
                 1.0 - 2.0 / (9.0 * ((ka - 1) * (kb - 1)))
                 + 1.644854 * sqrt(2.0 / (9.0 * ((ka - 1) * (kb - 1))))
                   AS wh
          FROM agg) w"""


def grouped_theil_sen(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Theil–Sen robust trend (Theil 1950 / Sen 1968): slope
    = MEDIAN of all pairwise slopes (y_j−y_i)/(x_j−x_i) over x_i < x_j,
    intercept = median of (y_i − slope·x_i) — the outlier-resistant
    rival to ``grouped_ols_trend`` (a single corrupted bucket moves OLS
    arbitrarily; Theil–Sen has a 29% breakdown point). Returns
    (groups..., n_points, n_pairs, slope, intercept), 6-dp rounded;
    equal-x pairs are skipped (their slope is undefined — the standard
    convention), and a group whose x is constant drops out entirely.

    Exact medians with NO driver/array state: the pair frame is a
    group-co-partitioned self-join (x_i < x_j), the median is extracted
    by one row_number window per group + the two middle ranks averaged
    (⌊(n+1)/2⌋ / ⌊(n+2)/2⌋ — both engines pick identical positions; tied
    slope VALUES make rank-order ambiguity harmless). Intercepts reuse
    the ROUNDED median slope so both engines walk identical arithmetic.

    Scale contract: pair volume is Σ_g n_g² — quadratic in the GROUP
    size by definition of the estimator, so feed it bounded per-group
    series (the hourly/bucketed frames every trend query here uses:
    ~700 buckets → ~245k pairs per group, distributed across the pair
    shuffle, never a single partition). Data-scale inputs belong in
    ``grouped_ols_trend``."""
    from pyspark.sql import Window

    d = (
        df.na.drop(subset=[x_col, y_col])
        .select(
            *group_cols,
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .localCheckpoint(eager=False)
    )
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.__x") < F.col("b.__x")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    slopes = a.join(b, cond).select(
        *[F.col(f"a.{g}").alias(g) for g in group_cols],
        ((F.col("b.__y") - F.col("a.__y"))
         / (F.col("b.__x") - F.col("a.__x"))).alias("__s"),
    )
    win = Window.partitionBy(*group_cols).orderBy("__s")
    cnt = slopes.groupBy(*group_cols).agg(F.count("*").alias("__np"))
    med_slope = (
        slopes.withColumn("__rk", F.row_number().over(win))
        .join(F.broadcast(cnt), group_cols)
        .filter(
            (F.col("__rk") == F.floor((F.col("__np") + 1) / 2))
            | (F.col("__rk") == F.floor((F.col("__np") + 2) / 2))
        )
        .groupBy(*group_cols)
        .agg(
            F.round(F.avg("__s"), 6).alias("slope"),
            F.first("__np").alias("n_pairs"),
        )
    )
    with_slope = d.join(F.broadcast(med_slope), group_cols).select(
        *group_cols, "slope", "n_pairs",
        (F.col("__y") - F.col("slope") * F.col("__x")).alias("__i"),
    )
    iwin = Window.partitionBy(*group_cols).orderBy("__i")
    icnt = with_slope.groupBy(*group_cols).agg(
        F.count("*").alias("__ni")
    )
    return (
        with_slope.withColumn("__rk", F.row_number().over(iwin))
        .join(F.broadcast(icnt), group_cols)
        .filter(
            (F.col("__rk") == F.floor((F.col("__ni") + 1) / 2))
            | (F.col("__rk") == F.floor((F.col("__ni") + 2) / 2))
        )
        .groupBy(*group_cols)
        .agg(
            F.first("__ni").cast("long").alias("n_points"),
            F.first("n_pairs").cast("long").alias("n_pairs"),
            F.first("slope").alias("slope"),
            F.round(F.avg("__i"), 6).alias("intercept"),
        )
    )


def grouped_theil_sen_oracle_sql(
    src_sql: str,
    group_sql: list[str],
    x_sql: str,
    y_sql: str,
) -> str:
    """DuckDB replica of ``grouped_theil_sen`` — identical pair join,
    middle-rank median positions, rounded-slope intercept residuals.
    ``src_sql`` is a FROM-able relation (table or parenthesized
    subquery with alias)."""
    keys = ", ".join(group_sql)
    akeys = ", ".join(f"a.{g}" for g in group_sql)
    join_on = " AND ".join(f"a.{g} = b.{g}" for g in group_sql)
    return f"""WITH td AS MATERIALIZED (
      SELECT {keys}, CAST({x_sql} AS DOUBLE) AS x,
             CAST({y_sql} AS DOUBLE) AS y
      FROM {src_sql}
      WHERE ({x_sql}) IS NOT NULL AND ({y_sql}) IS NOT NULL),
    tprs AS (
      SELECT {akeys}, (b.y - a.y) / (b.x - a.x) AS s
      FROM td a JOIN td b ON {join_on} AND a.x < b.x),
    trk AS (
      SELECT {keys}, s,
             row_number() OVER (PARTITION BY {keys} ORDER BY s) AS rk,
             count(*) OVER (PARTITION BY {keys}) AS np
      FROM tprs),
    tmed AS (
      SELECT {keys}, ROUND(AVG(s), 6) + 0 AS slope, ANY_VALUE(np) AS np
      FROM trk
      WHERE rk = CAST(floor((np + 1) / 2) AS BIGINT)
         OR rk = CAST(floor((np + 2) / 2) AS BIGINT)
      GROUP BY {keys}),
    tic AS (
      SELECT {akeys}, m.slope, m.np, a.y - m.slope * a.x AS i
      FROM td a JOIN tmed m ON {" AND ".join(f"a.{g} = m.{g}" for g in group_sql)}),
    tirk AS (
      SELECT {keys}, slope, np, i,
             row_number() OVER (PARTITION BY {keys} ORDER BY i) AS rk,
             count(*) OVER (PARTITION BY {keys}) AS ni
      FROM tic)
    SELECT {keys}, CAST(ANY_VALUE(ni) AS BIGINT) AS n_points,
           CAST(ANY_VALUE(np) AS BIGINT) AS n_pairs,
           ANY_VALUE(slope) AS slope,
           ROUND(AVG(i), 6) + 0 AS intercept
    FROM tirk
    WHERE rk = CAST(floor((ni + 1) / 2) AS BIGINT)
       OR rk = CAST(floor((ni + 2) / 2) AS BIGINT)
    GROUP BY {keys}"""


def quantile_bottomk_sketch(
    df: DataFrame,
    value_col: str,
    id_col: str | Column,
    probs: list[float] | None = None,
    k: int = 4096,
) -> DataFrame:
    """Mergeable quantile sketch by DETERMINISTIC bottom-k priority
    sampling — the quantile member of the sketch tier beside CMS
    (frequencies) and HLL (distinct counts): each row's priority is
    md5(id), the sketch is the k smallest-priority rows, and a
    quantile estimate is the ⌈q·k⌉-th value of the sorted sample.
    Bottom-k is a uniform sample of the DATA (priorities are
    independent of values) and is trivially mergeable — bottom-k of a
    union is bottom-k of the parts' bottom-k frames (unit-pinned) —
    with zero RNG, so reruns and the SQL oracle reproduce it exactly.
    Standard sample-quantile error: rank error O(√(q(1−q)/k)) with
    high probability (~±1.6% of rank at k=4096, q=0.5).

    The ACCURACY CONTRACT RIDES IN THE OUTPUT (the HLL discipline):
    each row reports achieved_prob — the estimate's TRUE rank fraction
    count(value ≤ estimate)/n from one conditional-count scan — and
    abs_rank_err = |achieved_prob − prob|, so a consumer sees the
    realized error without trusting the bound. Returns one row per
    requested prob: (prob, estimate, sample_n, achieved_prob,
    abs_rank_err). Null values are excluded (they have no rank).

    Scale shape: the sample is ONE TakeOrderedAndProject over
    (priority, value) — k rows to the driver-side limit, never a full
    sort; estimates broadcast back as a |probs|-row frame; the
    achieved-rank check is one codegen conditional-count scan. An
    EXACT quantile would need a data-scale sort or an all-values
    aggregation buffer — this is the standard trade."""
    if k < 1:
        raise ValueError("k must be >= 1")
    probs = [0.25, 0.5, 0.75, 0.9, 0.99] if probs is None else probs
    if not probs or any(not 0.0 < q <= 1.0 for q in probs):
        raise ValueError("probs must be in (0, 1]")
    idc = id_col if isinstance(id_col, Column) else F.col(id_col)
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.md5(idc.cast("string")).alias("__pri"),
        F.col(value_col).cast("double").alias("__v"),
    )
    sample = base.orderBy("__pri").limit(k)
    svals = sample.agg(
        F.array_sort(F.collect_list("__v")).alias("__sv"),
        F.count("*").alias("__sn"),
    )
    pframe = svals.select(
        F.explode(
            F.array(*[F.lit(float(q)) for q in probs])
        ).alias("prob"),
        "__sv", "__sn",
    ).select(
        "prob",
        F.element_at(
            "__sv",
            F.greatest(
                F.lit(1),
                F.ceil(F.col("prob") * F.col("__sn")).cast("int"),
            ),
        ).alias("estimate"),
        F.col("__sn").cast("long").alias("sample_n"),
    )
    totals = base.crossJoin(F.broadcast(pframe)).groupBy(
        "prob", "estimate", "sample_n"
    ).agg(
        F.round(
            F.sum(F.when(F.col("__v") <= F.col("estimate"), 1)
                  .otherwise(0))
            / F.count("*"),
            6,
        ).alias("achieved_prob"),
    )
    return totals.select(
        "prob", "estimate", "sample_n", "achieved_prob",
        F.round(F.abs(F.col("achieved_prob") - F.col("prob")), 6)
        .alias("abs_rank_err"),
    )


def quantile_bottomk_oracle_sql(
    table: str,
    value_sql: str,
    id_sql: str,
    probs: list[float] | None = None,
    k: int = 4096,
) -> str:
    """DuckDB replica of ``quantile_bottomk_sketch`` — identical md5
    priorities, bottom-k, ⌈q·n⌉ positions, and achieved-rank scan."""
    probs = [0.25, 0.5, 0.75, 0.9, 0.99] if probs is None else probs
    plist = ", ".join(f"CAST({q!r} AS DOUBLE)" for q in probs)
    return f"""WITH qb AS MATERIALIZED (
      SELECT md5(CAST({id_sql} AS VARCHAR)) AS pri,
             CAST({value_sql} AS DOUBLE) AS v
      FROM {table} WHERE ({value_sql}) IS NOT NULL),
    qs AS (SELECT list(v ORDER BY v) AS sv, count(*) AS sn FROM (
             SELECT v FROM qb ORDER BY pri LIMIT {k}) s),
    qp AS (SELECT unnest([{plist}]) AS prob, sv, sn FROM qs),
    qe AS (SELECT prob,
                  sv[CAST(greatest(1, ceil(prob * sn)) AS BIGINT)]
                    AS estimate,
                  CAST(sn AS BIGINT) AS sample_n
           FROM qp)
    SELECT e.prob, e.estimate, e.sample_n,
           round(SUM(CASE WHEN b.v <= e.estimate THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS achieved_prob,
           round(abs(round(SUM(CASE WHEN b.v <= e.estimate
                                    THEN 1 ELSE 0 END)
                           / CAST(COUNT(*) AS DOUBLE), 6) - e.prob), 6)
             AS abs_rank_err
    FROM qe e CROSS JOIN qb b
    GROUP BY e.prob, e.estimate, e.sample_n"""


def mann_whitney_u(
    df: DataFrame,
    group_cols: list[str],
    cohort: Column,
    value_col: str,
) -> DataFrame:
    """Per-group Mann–Whitney U (Wilcoxon rank-sum) test — the
    NONPARAMETRIC sibling of ``welch_t_test`` (same signature, same
    A/B contract): does cohort A's value distribution stochastically
    dominate B's, decided from midranks instead of means, so heavy
    tails and outliers cannot fake or mask a shift. Tie-corrected
    normal approximation: U_a = R_a − n_a(n_a+1)/2 with
    z = (U_a − n_a·n_b/2) / √(n_a·n_b/12·((N+1) − Σ(t³−t)/(N(N−1)))),
    ``significant_95`` at |z| > 1.959964 (documented: the normal
    approximation needs ~20 per arm — the regime a data-scale test
    lives in; no continuity correction, mirrored in the oracle).

    Returns (groups..., n_a, n_b, u_a, u_b, z_stat, significant_95);
    z/flag NULL when either arm is empty or the tie-corrected variance
    is 0 (all values identical). U statistics are exact .5-multiples
    (integer rank sums), so they round clean at 6 dp.

    Scale shape: ONE data-scale codegen scan partial-aggregates to the
    (groups × distinct values) HISTOGRAM; midranks come from a
    cumulative window over that bounded frame — so the contract is a
    BOUNDED-CARDINALITY value column (discrete measures, graded
    scores, pre-rounded buckets; the AUC/PR-AUC histogram discipline).
    A continuous column must be rounded upstream or pointed at
    ``welch_t_test``. Rank sums are .5-multiple exact doubles —
    addition order cannot drift them. Cite: reference has no stats
    tier; extends SURVEY §2.11 beside welch_t_test."""
    from pyspark.sql import Window

    d = df.na.drop(subset=[value_col]).select(
        *group_cols,
        cohort.cast("boolean").alias("__c"),
        F.col(value_col).cast("double").alias("__v"),
    )
    hist = d.groupBy(*group_cols, "__v").agg(
        F.count(F.when(F.col("__c"), 1)).alias("__na"),
        F.count(F.when(~F.col("__c"), 1)).alias("__nb"),
    )
    tot = (F.col("__na") + F.col("__nb")).cast("double")
    # cumulative window over the bounded histogram frame, never rows
    w = (
        Window.partitionBy(*group_cols).orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.select(
        *group_cols, "__na", "__nb",
        tot.alias("__t"),
        (F.coalesce(F.sum(tot).over(w), F.lit(0.0))
         + (tot + 1) / 2).alias("__mid"),
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.col("__na").cast("double") * F.col("__mid")).alias("__ra"),
        F.sum("__na").alias("__Na"),
        F.sum("__nb").alias("__Nb"),
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .alias("__ties"),
    )
    na = F.col("__Na").cast("double")
    nb = F.col("__Nb").cast("double")
    n = na + nb
    ua = F.col("__ra") - na * (na + 1) / 2
    ub = na * nb - ua
    var = na * nb / 12 * ((n + 1) - F.col("__ties") / (n * (n - 1)))
    z = (ua - na * nb / 2) / F.sqrt(var)
    ok = (na >= 1) & (nb >= 1) & (var > 0)
    return agg.select(
        *group_cols,
        F.col("__Na").cast("long").alias("n_a"),
        F.col("__Nb").cast("long").alias("n_b"),
        F.when(na >= 1, F.round(ua, 6)).alias("u_a"),
        F.when(nb >= 1, F.round(ub, 6)).alias("u_b"),
        F.when(ok, F.round(z, 6))
        .otherwise(F.lit(None).cast("double")).alias("z_stat"),
        F.when(ok, F.abs(z) > 1.959964)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def mann_whitney_oracle_sql(
    table: str,
    group_cols: list[str],
    cohort_sql: str,
    value_sql: str,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``mann_whitney_u``: identical histogram,
    cumulative-window midranks, tie-corrected variance, and NULL
    guards."""
    g = ", ".join(group_cols)
    gp = f"PARTITION BY {g}" if group_cols else ""
    gsel = f"{g}, " if group_cols else ""
    return f"""WITH mwd AS (
      SELECT {gsel}CAST(({cohort_sql}) AS BOOLEAN) AS c,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table} WHERE ({value_sql}) IS NOT NULL AND ({where})),
    mwh AS (
      SELECT {gsel}v,
             count(*) FILTER (WHERE c) AS na,
             count(*) FILTER (WHERE NOT c) AS nb
      FROM mwd GROUP BY {gsel}v),
    mwr AS (
      SELECT {gsel}na, nb,
             CAST(na + nb AS DOUBLE) AS t,
             COALESCE(SUM(CAST(na + nb AS DOUBLE))
                      OVER ({gp} ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0.0)
               + (CAST(na + nb AS DOUBLE) + 1) / 2 AS mid
      FROM mwh),
    mwa AS (
      SELECT {gsel}SUM(CAST(na AS DOUBLE) * mid) AS ra,
             SUM(na) AS Na, SUM(nb) AS Nb,
             SUM(t * t * t - t) AS ties
      FROM mwr GROUP BY {'ALL' if group_cols else '()'} )
    SELECT {gsel}CAST(Na AS BIGINT) AS n_a, CAST(Nb AS BIGINT) AS n_b,
           CASE WHEN Na >= 1 THEN
             ROUND(ra - CAST(Na AS DOUBLE) * (Na + 1) / 2, 6) END AS u_a,
           CASE WHEN Nb >= 1 THEN
             ROUND(CAST(Na AS DOUBLE) * Nb
                   - (ra - CAST(Na AS DOUBLE) * (Na + 1) / 2), 6)
           END AS u_b,
           CASE WHEN Na >= 1 AND Nb >= 1
                 AND CAST(Na AS DOUBLE) * Nb / 12
                     * ((Na + Nb + 1)
                        - ties / (CAST(Na + Nb AS DOUBLE)
                                  * (Na + Nb - 1))) > 0
                THEN ROUND(
                  (ra - CAST(Na AS DOUBLE) * (Na + 1) / 2
                   - CAST(Na AS DOUBLE) * Nb / 2)
                  / sqrt(CAST(Na AS DOUBLE) * Nb / 12
                         * ((Na + Nb + 1)
                            - ties / (CAST(Na + Nb AS DOUBLE)
                                      * (Na + Nb - 1)))), 6) + 0
           END AS z_stat,
           CASE WHEN Na >= 1 AND Nb >= 1
                 AND CAST(Na AS DOUBLE) * Nb / 12
                     * ((Na + Nb + 1)
                        - ties / (CAST(Na + Nb AS DOUBLE)
                                  * (Na + Nb - 1))) > 0
                THEN abs((ra - CAST(Na AS DOUBLE) * (Na + 1) / 2
                          - CAST(Na AS DOUBLE) * Nb / 2)
                         / sqrt(CAST(Na AS DOUBLE) * Nb / 12
                                * ((Na + Nb + 1)
                                   - ties / (CAST(Na + Nb AS DOUBLE)
                                             * (Na + Nb - 1)))))
                     > 1.959964
           END AS significant_95
    FROM mwa"""


def spearman_corr(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation — the monotone-association
    score beside Pearson's linear one (``corr_matrix``) and the third
    member of the trend-robustness family (OLS slope, Theil–Sen
    slope, now rank correlation): ρ = Pearson(midrank x, midrank y),
    tie-handled by average ranks, with the large-sample null
    z = ρ·√(n−1) and ``significant_95`` at |z| > 1.959964. Returns
    (groups..., n, rho, z_stat, significant_95); NULL rho when either
    column is constant within the group or n < 3.

    Scale shape: midranks need a rank window PARTITIONED BY the group
    over the group's rows — the Theil–Sen bounded-series contract:
    run this on horizon-bounded per-key frames (bucketed series,
    per-segment scores), NOT on data-scale groups; a data-scale
    monotone question belongs to ``grouped_ols_trend`` on ranks
    pre-bucketed upstream. After the two rank windows everything is
    ONE co-moment codegen scan per group. Midranks are .5-multiple
    exact doubles. Cite: reference has no stats tier; extends SURVEY
    §2.11 beside corr_matrix/grouped_theil_sen."""
    from pyspark.sql import Window

    d = df.na.drop(subset=[x_col, y_col]).select(
        *group_cols,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    )

    def midrank(col: str) -> Column:
        wr = Window.partitionBy(*group_cols).orderBy(col)
        wt = Window.partitionBy(*group_cols, col)
        return (
            F.rank().over(wr).cast("double")
            + (F.count("*").over(wt).cast("double") - 1) / 2
        )

    ranked = d.select(
        *group_cols,
        midrank("__x").alias("__rx"),
        midrank("__y").alias("__ry"),
    )
    rx, ry = F.col("__rx"), F.col("__ry")
    mom = ranked.groupBy(*group_cols).agg(
        F.count("*").alias("__n"),
        F.sum(rx).alias("__sx"),
        F.sum(ry).alias("__sy"),
        F.sum(rx * rx).alias("__qx"),
        F.sum(ry * ry).alias("__qy"),
        F.sum(rx * ry).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n * F.col("__qx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__qy") - F.col("__sy") * F.col("__sy")
    rho = cov / F.sqrt(vx * vy)
    z = rho * F.sqrt(n - 1)
    ok = (F.col("__n") >= 3) & (vx > 0) & (vy > 0)
    return mom.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.when(ok, F.round(rho, 6))
        .otherwise(F.lit(None).cast("double")).alias("rho"),
        F.when(ok, F.round(z, 6))
        .otherwise(F.lit(None).cast("double")).alias("z_stat"),
        F.when(ok, F.abs(z) > 1.959964)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def spearman_oracle_sql(
    series_sql: str,
    group_cols: list[str],
    x_sql: str = "x",
    y_sql: str = "y",
) -> str:
    """DuckDB replica of ``spearman_corr``: identical midrank windows
    (min-rank + tie-count average), the same co-moment arithmetic and
    NULL guards. ``series_sql`` selects (groups..., x, y)."""
    g = ", ".join(group_cols)
    gp = f"PARTITION BY {g}" if group_cols else ""
    gpc = f"PARTITION BY {g}," if group_cols else "PARTITION BY"
    gsel = f"{g}, " if group_cols else ""
    return f"""WITH spd AS (
      SELECT {gsel}CAST(({x_sql}) AS DOUBLE) AS x,
             CAST(({y_sql}) AS DOUBLE) AS y
      FROM ({series_sql}) sp0
      WHERE ({x_sql}) IS NOT NULL AND ({y_sql}) IS NOT NULL),
    spr AS (
      SELECT {gsel}
             CAST(rank() OVER ({gp} ORDER BY x) AS DOUBLE)
               + (CAST(count(*) OVER ({gpc} x) AS DOUBLE) - 1) / 2 AS rx,
             CAST(rank() OVER ({gp} ORDER BY y) AS DOUBLE)
               + (CAST(count(*) OVER ({gpc} y) AS DOUBLE) - 1) / 2 AS ry
      FROM spd),
    spm AS (
      SELECT {gsel}count(*) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS qx, SUM(ry * ry) AS qy,
             SUM(rx * ry) AS sxy
      FROM spr GROUP BY {'ALL' if group_cols else '()'} )
    SELECT {gsel}CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 3 AND n * qx - sx * sx > 0
                 AND n * qy - sy * sy > 0
                THEN ROUND((n * sxy - sx * sy)
                  / sqrt((n * qx - sx * sx) * (n * qy - sy * sy)), 6) + 0
           END AS rho,
           CASE WHEN n >= 3 AND n * qx - sx * sx > 0
                 AND n * qy - sy * sy > 0
                THEN ROUND((n * sxy - sx * sy)
                  / sqrt((n * qx - sx * sx) * (n * qy - sy * sy))
                  * sqrt(CAST(n AS DOUBLE) - 1), 6) + 0
           END AS z_stat,
           CASE WHEN n >= 3 AND n * qx - sx * sx > 0
                 AND n * qy - sy * sy > 0
                THEN abs((n * sxy - sx * sy)
                  / sqrt((n * qx - sx * sx) * (n * qy - sy * sy))
                  * sqrt(CAST(n AS DOUBLE) - 1)) > 1.959964
           END AS significant_95
    FROM spm"""


def kruskal_wallis(
    df: DataFrame,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Kruskal–Wallis H test — the k-sample extension of
    ``mann_whitney_u`` (one-way ANOVA on ranks): do the ``cohort_col``
    categories draw from the same value distribution? Tie-corrected:
    H = [12/(N(N+1))·Σ R_j²/n_j − 3(N+1)] / [1 − Σ(t³−t)/(N³−N)],
    χ²(k−1) via the same Wilson–Hilferty 95% cut as
    ``chi2_independence``. Returns (groups..., n, k, h_stat, dof,
    significant_95); NULL h/flag when a group has a single cohort
    (dof 0) or every value ties (correction 0).

    Scale shape: ONE data-scale codegen scan partial-aggregates to the
    (groups × distinct values × cohorts) count frame; midranks come
    from the DISTINCT-VALUE frame (cumulative window over the bounded
    histogram — the ``mann_whitney_u`` discipline, bounded-cardinality
    value contract documented there); rank sums R_j are exact
    .5-multiple doubles. Everything after the histogram is arithmetic
    on cohort-count-sized frames. Cite: reference has no stats tier;
    extends SURVEY §2.11 beside mann_whitney_u/welch_t_test."""
    from pyspark.sql import Window

    d = df.na.drop(subset=[value_col, cohort_col]).select(
        *group_cols,
        F.col(cohort_col).cast("string").alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    h1 = d.groupBy(*group_cols, "__v", "__k").agg(
        F.count("*").alias("__c")
    )
    hv = h1.groupBy(*group_cols, "__v").agg(
        F.sum("__c").cast("double").alias("__t")
    )
    w = (
        Window.partitionBy(*group_cols).orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hv_mid = hv.select(
        *group_cols, "__v", "__t",
        (F.coalesce(F.sum("__t").over(w), F.lit(0.0))
         + (F.col("__t") + 1) / 2).alias("__mid"),
    )
    rj = (
        h1.join(hv_mid, [*group_cols, "__v"])
        .groupBy(*group_cols, "__k")
        .agg(
            F.sum(F.col("__c").cast("double") * F.col("__mid"))
            .alias("__rj"),
            F.sum("__c").cast("double").alias("__nj"),
        )
    )
    gagg = rj.groupBy(*group_cols).agg(
        F.sum(F.col("__rj") * F.col("__rj") / F.col("__nj")).alias("__s"),
        F.sum("__nj").alias("__N"),
        F.countDistinct("__k").alias("__kk"),
    )
    ties = hv.groupBy(*group_cols).agg(
        F.sum(F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t"))
        .alias("__ties")
    )
    n = F.col("__N")
    h = F.lit(12.0) / (n * (n + 1)) * F.col("__s") - 3 * (n + 1)
    corr = F.lit(1.0) - F.col("__ties") / (n * n * n - n)
    hc = h / corr
    dof = F.col("__kk") - 1
    z95 = F.lit(1.644854)
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof) + z95 * F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * dof)
    )
    crit = dof * wh * wh * wh
    ok = (dof >= 1) & (corr > 0)
    return gagg.join(ties, group_cols).select(
        *group_cols,
        n.cast("long").alias("n"),
        F.col("__kk").cast("long").alias("k"),
        F.when(ok, F.round(hc, 6))
        .otherwise(F.lit(None).cast("double")).alias("h_stat"),
        dof.cast("long").alias("dof"),
        F.when(ok, hc > crit)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def kruskal_wallis_oracle_sql(
    table: str,
    group_cols: list[str],
    cohort_sql: str,
    value_sql: str,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``kruskal_wallis``: identical histogram,
    distinct-value midrank window, rank sums, tie correction, and
    Wilson–Hilferty cut."""
    g = ", ".join(group_cols)
    gp = f"PARTITION BY {g}" if group_cols else ""
    gsel = f"{g}, " if group_cols else ""
    gjoin = " AND ".join(f"a.{c} = b.{c}" for c in group_cols) or "TRUE"
    return f"""WITH kwd AS (
      SELECT {gsel}CAST(({cohort_sql}) AS VARCHAR) AS k,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({value_sql}) IS NOT NULL AND ({cohort_sql}) IS NOT NULL
        AND ({where})),
    kwh AS (
      SELECT {gsel}v, k, count(*) AS c
      FROM kwd GROUP BY {gsel}v, k),
    kwv AS (
      SELECT {gsel}v, CAST(SUM(c) AS DOUBLE) AS t
      FROM kwh GROUP BY {gsel}v),
    kwm AS (
      SELECT {gsel}v, t,
             COALESCE(SUM(t) OVER ({gp} ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0.0) + (t + 1) / 2 AS mid
      FROM kwv),
    kwr AS (
      SELECT {"".join(f"a.{c}, " for c in group_cols)}a.k,
             SUM(CAST(a.c AS DOUBLE) * b.mid) AS rj,
             CAST(SUM(a.c) AS DOUBLE) AS nj
      FROM kwh a JOIN kwm b ON {gjoin} AND a.v = b.v
      GROUP BY {"".join(f"a.{c}, " for c in group_cols)}a.k),
    kwg AS (
      SELECT {gsel}SUM(rj * rj / nj) AS s, SUM(nj) AS N,
             COUNT(DISTINCT k) AS kk
      FROM kwr GROUP BY {'ALL' if group_cols else '()'} ),
    kwt AS (
      SELECT {gsel}SUM(t * t * t - t) AS ties
      FROM kwv GROUP BY {'ALL' if group_cols else '()'} ),
    kwf AS (
      SELECT g.*, t.ties,
             (12.0 / (g.N * (g.N + 1)) * g.s - 3 * (g.N + 1))
               / (1.0 - t.ties / (g.N * g.N * g.N - g.N)) AS hc,
             g.kk - 1 AS dof,
             1.0 - t.ties / (g.N * g.N * g.N - g.N) AS corr
      FROM kwg g JOIN kwt t ON {" AND ".join(f"g.{c} = t.{c}" for c in group_cols) or "TRUE"})
    SELECT {gsel}CAST(N AS BIGINT) AS n, CAST(kk AS BIGINT) AS k,
           CASE WHEN dof >= 1 AND corr > 0 THEN ROUND(hc, 6) END AS h_stat,
           CAST(dof AS BIGINT) AS dof,
           CASE WHEN dof >= 1 AND corr > 0 THEN
             hc > dof * pow(1.0 - 2.0 / (9.0 * dof)
                            + 1.644854 * sqrt(2.0 / (9.0 * dof)), 3)
           END AS significant_95
    FROM kwf"""


def oneway_anova(
    df: DataFrame,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group one-way ANOVA F test — the PARAMETRIC partner of
    ``kruskal_wallis`` on the identical (groups, cohort, value)
    contract: do the cohorts share a mean? F = (SSB/(k−1)) /
    (SSW/(N−k)) from the classic between/within decomposition, all of
    it arithmetic over ONE conditional co-moment scan (per-cohort n,
    Σx, Σx² — the ``welch_t_test`` discipline generalized to k arms).
    ``significant_95`` uses the large-N approximation (k−1)·F ≈
    χ²(k−1) with the same Wilson–Hilferty cut as ``chi2_independence``
    — exact only as N−k → ∞ (documented; at data scale the
    denominator df is astronomically large, which is exactly the
    regime where the F and χ²/(k−1) quantiles coincide to ~1e-4).

    Returns (groups..., n, k, ss_between, ss_within, f_stat, dof,
    significant_95), 6-dp rounded; f/flag NULL when the group has a
    single cohort (dof 0), when N ≤ k (no within df), or when SSW ≤ 0
    (all values tie within every cohort — F undefined).

    Scale shape: ONE data-scale codegen scan partial-aggregates to the
    (groups × cohorts) moment frame; everything after is closed-form
    arithmetic on that bounded frame. Cite: reference has no stats
    tier; extends SURVEY §2.11 beside kruskal_wallis/welch_t_test."""
    d = df.na.drop(subset=[value_col, cohort_col]).select(
        *group_cols,
        F.col(cohort_col).cast("string").alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    coh = d.groupBy(*group_cols, "__k").agg(
        F.count("*").cast("double").alias("__n"),
        F.sum("__v").alias("__s"),
        F.sum(F.col("__v") * F.col("__v")).alias("__q"),
    )
    agg = coh.groupBy(*group_cols).agg(
        F.sum("__n").alias("__N"),
        F.count("*").alias("__kk"),
        F.sum("__s").alias("__S"),
        F.sum(F.col("__s") * F.col("__s") / F.col("__n")).alias("__sb"),
        F.sum("__q").alias("__Q"),
    )
    n, kk = F.col("__N"), F.col("__kk")
    ssb = F.col("__sb") - F.col("__S") * F.col("__S") / n
    ssw = F.col("__Q") - F.col("__sb")
    dof = kk - 1
    fstat = (ssb / dof) / (ssw / (n - kk))
    z95 = F.lit(1.644854)
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof) + z95 * F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * dof)
    )
    crit = dof * wh * wh * wh
    ok = (dof >= 1) & (n > kk) & (ssw > 0)
    return agg.select(
        *group_cols,
        n.cast("long").alias("n"),
        kk.cast("long").alias("k"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.when(ok, F.round(fstat, 6))
        .otherwise(F.lit(None).cast("double")).alias("f_stat"),
        dof.cast("long").alias("dof"),
        F.when(ok, dof * fstat > crit)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def oneway_anova_oracle_sql(
    table: str,
    group_cols: list[str],
    cohort_sql: str,
    value_sql: str,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``oneway_anova`` — identical co-moment scan,
    between/within decomposition, and Wilson–Hilferty cut."""
    g = ", ".join(group_cols)
    gsel = f"{g}, " if group_cols else ""
    return f"""WITH avd AS (
      SELECT {gsel}CAST(({cohort_sql}) AS VARCHAR) AS k,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({value_sql}) IS NOT NULL AND ({cohort_sql}) IS NOT NULL
        AND ({where})),
    avc AS (
      SELECT {gsel}k, CAST(count(*) AS DOUBLE) AS nj,
             sum(v) AS sj, sum(v * v) AS qj
      FROM avd GROUP BY {gsel}k),
    avg_ AS (
      SELECT {gsel}sum(nj) AS N, count(*) AS kk, sum(sj) AS S,
             sum(sj * sj / nj) AS sb, sum(qj) AS Q
      FROM avc GROUP BY {'ALL' if group_cols else '()'} ),
    avf AS (
      SELECT *, sb - S * S / N AS ssb, Q - sb AS ssw,
             kk - 1 AS dof
      FROM avg_)
    SELECT {gsel}CAST(N AS BIGINT) AS n, CAST(kk AS BIGINT) AS k,
           round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
           CASE WHEN dof >= 1 AND N > kk AND ssw > 0
                THEN round((ssb / dof) / (ssw / (N - kk)), 6)
                END AS f_stat,
           CAST(dof AS BIGINT) AS dof,
           CASE WHEN dof >= 1 AND N > kk AND ssw > 0
                THEN dof * (ssb / dof) / (ssw / (N - kk))
                     > dof * pow(1.0 - 2.0 / (9.0 * dof)
                                 + 1.644854 * sqrt(2.0 / (9.0 * dof)), 3)
                END AS significant_95
    FROM avf"""


def bartlett_test(
    df: DataFrame,
    group_cols: list[str],
    cohort_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group Bartlett test of variance homogeneity — the
    PRECONDITION check for ``oneway_anova`` (whose pooled SSW assumes
    equal cohort variances): T = [(N−k)·ln(s̄²) − Σ(n_j−1)·ln(s_j²)]
    / C with the Bartlett correction C = 1 + (Σ1/(n_j−1) − 1/(N−k)) /
    (3(k−1)), where s̄² = Σ(n_j−1)s_j² / (N−k) is the pooled variance;
    vs the same Wilson–Hilferty χ²(k−1) 95% cut. Cohorts with n_j < 2
    carry no variance information and are excluded (the scipy
    convention is to error; excluding keeps the data-scale contract
    total). Returns (groups..., n, k, pooled_var, t_stat, dof,
    significant_95), 6-dp rounded; t/flag NULL when fewer than two
    usable cohorts remain, N ≤ k, or any cohort variance is 0
    (ln undefined).

    Scale shape: identical to ``oneway_anova`` — one conditional
    co-moment scan to the (groups × cohorts) frame, then closed-form
    arithmetic. Cite: reference has no stats tier; extends SURVEY
    §2.11 beside oneway_anova/welch_t_test."""
    d = df.na.drop(subset=[value_col, cohort_col]).select(
        *group_cols,
        F.col(cohort_col).cast("string").alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    coh = (
        d.groupBy(*group_cols, "__k")
        .agg(
            F.count("*").cast("double").alias("__n"),
            F.sum("__v").alias("__s"),
            F.sum(F.col("__v") * F.col("__v")).alias("__q"),
        )
        .filter(F.col("__n") >= 2)
        .select(
            *group_cols, "__n",
            ((F.col("__q") - F.col("__s") * F.col("__s") / F.col("__n"))
             / (F.col("__n") - 1)).alias("__vj"),
        )
    )
    agg = coh.groupBy(*group_cols).agg(
        F.sum("__n").alias("__N"),
        F.count("*").alias("__kk"),
        F.sum((F.col("__n") - 1) * F.col("__vj")).alias("__ssw"),
        F.sum(
            F.when(F.col("__vj") > 0,
                   (F.col("__n") - 1) * F.log(F.col("__vj")))
        ).alias("__slog"),
        F.sum(F.lit(1.0) / (F.col("__n") - 1)).alias("__sinv"),
        F.min("__vj").alias("__vmin"),
    )
    n, kk = F.col("__N"), F.col("__kk")
    dof = kk - 1
    pooled = F.col("__ssw") / (n - kk)
    c = F.lit(1.0) + (F.col("__sinv") - F.lit(1.0) / (n - kk)) / (
        F.lit(3.0) * dof
    )
    t = ((n - kk) * F.log(pooled) - F.col("__slog")) / c
    z95 = F.lit(1.644854)
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dof) + z95 * F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * dof)
    )
    crit = dof * wh * wh * wh
    ok = (dof >= 1) & (n > kk) & (F.col("__vmin") > 0)
    return agg.select(
        *group_cols,
        n.cast("long").alias("n"),
        kk.cast("long").alias("k"),
        F.when(n > kk, F.round(pooled, 6)).alias("pooled_var"),
        F.when(ok, F.round(t, 6))
        .otherwise(F.lit(None).cast("double")).alias("t_stat"),
        dof.cast("long").alias("dof"),
        F.when(ok, t > crit)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def bartlett_oracle_sql(
    table: str,
    group_cols: list[str],
    cohort_sql: str,
    value_sql: str,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``bartlett_test`` — identical cohort filter,
    pooled variance, correction term, and Wilson–Hilferty cut."""
    g = ", ".join(group_cols)
    gsel = f"{g}, " if group_cols else ""
    return f"""WITH btd AS (
      SELECT {gsel}CAST(({cohort_sql}) AS VARCHAR) AS k,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({value_sql}) IS NOT NULL AND ({cohort_sql}) IS NOT NULL
        AND ({where})),
    btc AS (
      SELECT * FROM (
        SELECT {gsel}k, CAST(count(*) AS DOUBLE) AS nj,
               (sum(v * v) - sum(v) * sum(v) / count(*))
                 / (count(*) - 1) AS vj
        FROM btd GROUP BY {gsel}k) q
      WHERE nj >= 2),
    btg AS (
      SELECT {gsel}sum(nj) AS N, count(*) AS kk,
             sum((nj - 1) * vj) AS ssw,
             sum(CASE WHEN vj > 0 THEN (nj - 1) * ln(vj) END) AS slog,
             sum(1.0 / (nj - 1)) AS sinv,
             min(vj) AS vmin
      FROM btc GROUP BY {'ALL' if group_cols else '()'} ),
    btf AS (
      SELECT *, kk - 1 AS dof, ssw / (N - kk) AS pooled,
             1.0 + (sinv - 1.0 / (N - kk)) / (3.0 * (kk - 1)) AS c
      FROM btg)
    SELECT {gsel}CAST(N AS BIGINT) AS n, CAST(kk AS BIGINT) AS k,
           CASE WHEN N > kk THEN round(pooled, 6) END AS pooled_var,
           CASE WHEN dof >= 1 AND N > kk AND vmin > 0
                THEN round(((N - kk) * ln(pooled) - slog) / c, 6)
                END AS t_stat,
           CAST(dof AS BIGINT) AS dof,
           CASE WHEN dof >= 1 AND N > kk AND vmin > 0
                THEN ((N - kk) * ln(pooled) - slog) / c
                     > dof * pow(1.0 - 2.0 / (9.0 * dof)
                                 + 1.644854 * sqrt(2.0 / (9.0 * dof)), 3)
                END AS significant_95
    FROM btf"""


def cramers_v(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cramér's V effect size between two categorical columns — the
    MAGNITUDE companion to ``chi2_independence`` (at data scale the χ²
    test rejects for effects too small to matter — n sits in the
    statistic; V = √(χ²/(n·min(k_a−1, k_b−1))) divides the scale back
    out and lands in [0, 1], comparable across datasets). Same one
    data-scale cross-tab scan and closed-form zero-cell handling as
    the test; V is computed from the 6-dp-ROUNDED χ² (cross-engine
    determinism, clamped at 0 against rounding underflow) and
    ``effect`` labels it by the standard convention (<0.1 negligible,
    <0.3 small, <0.5 medium, else large — thresholds applied to the
    ROUNDED V). Returns one row (n, k_a, k_b, chi2, cramers_v,
    effect); V/effect NULL when either column is constant.

    Scale shape: identical to ``chi2_independence`` — ONE groupBy,
    then arithmetic on category-bounded frames. Cite: reference has no
    stats tier; extends SURVEY §2.11 beside chi2_independence."""
    d = df.na.drop(subset=[col_a, col_b]).select(
        F.col(col_a).cast("string").alias("__a"),
        F.col(col_b).cast("string").alias("__b"),
    )
    cells = d.groupBy("__a", "__b").agg(F.count("*").alias("__o"))
    ra = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    rb = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    nn = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__ka"),
        F.countDistinct("__b").alias("__kb"),
    )
    e = F.col("__ra") * F.col("__rb") / F.col("__n")
    joined = (
        cells.join(ra, "__a").join(rb, "__b")
        .crossJoin(F.broadcast(nn))
        .select(
            "__n", "__ka", "__kb",
            ((F.col("__o") - e) * (F.col("__o") - e) / e).alias("__t"),
            e.alias("__e"),
        )
    )
    agg = joined.groupBy("__n", "__ka", "__kb").agg(
        F.greatest(
            F.round(F.sum("__t") + (F.col("__n") - F.sum("__e")), 6),
            F.lit(0.0),
        ).alias("__chi2")
    )
    m = F.least(F.col("__ka") - 1, F.col("__kb") - 1)
    v = F.round(F.sqrt(F.col("__chi2") / (F.col("__n") * m)), 6)
    ok = (m >= 1) & (F.col("__n") > 0)
    vr = F.when(ok, v)
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__ka").cast("long").alias("k_a"),
        F.col("__kb").cast("long").alias("k_b"),
        F.col("__chi2").alias("chi2"),
        vr.otherwise(F.lit(None).cast("double")).alias("cramers_v"),
        F.when(
            ok,
            F.when(v < 0.1, F.lit("negligible"))
            .when(v < 0.3, F.lit("small"))
            .when(v < 0.5, F.lit("medium"))
            .otherwise(F.lit("large")),
        ).otherwise(F.lit(None).cast("string")).alias("effect"),
    )


def cramers_v_oracle_sql(table: str, a_sql: str, b_sql: str) -> str:
    """DuckDB replica of ``cramers_v`` — identical cross-tab, rounded
    χ², clamp, and effect thresholds."""
    return f"""WITH d AS MATERIALIZED (
      SELECT CAST({a_sql} AS VARCHAR) AS a, CAST({b_sql} AS VARCHAR) AS b
      FROM {table}
      WHERE ({a_sql}) IS NOT NULL AND ({b_sql}) IS NOT NULL),
    cells AS MATERIALIZED (
      SELECT a, b, count(*) AS o FROM d GROUP BY a, b),
    ra AS (SELECT a, sum(o) AS ra FROM cells GROUP BY a),
    rb AS (SELECT b, sum(o) AS rb FROM cells GROUP BY b),
    nn AS (SELECT sum(o) AS n, count(DISTINCT a) AS ka,
                  count(DISTINCT b) AS kb FROM cells),
    agg AS (
      SELECT nn.n, nn.ka, nn.kb,
             greatest(round(sum((cells.o - ra.ra * rb.rb / nn.n)
                                * (cells.o - ra.ra * rb.rb / nn.n)
                                / (ra.ra * rb.rb / nn.n))
                            + (nn.n - sum(ra.ra * rb.rb / nn.n)), 6),
                      0.0) AS chi2
      FROM cells JOIN ra ON ra.a = cells.a
                 JOIN rb ON rb.b = cells.b
                 CROSS JOIN nn
      GROUP BY nn.n, nn.ka, nn.kb),
    f AS (
      SELECT *, least(ka - 1, kb - 1) AS m,
             round(sqrt(chi2 / (n * least(ka - 1, kb - 1))), 6) AS v
      FROM agg)
    SELECT CAST(n AS BIGINT) AS n, CAST(ka AS BIGINT) AS k_a,
           CAST(kb AS BIGINT) AS k_b, chi2,
           CASE WHEN m >= 1 AND n > 0 THEN v END AS cramers_v,
           CASE WHEN m >= 1 AND n > 0 THEN
             CASE WHEN v < 0.1 THEN 'negligible'
                  WHEN v < 0.3 THEN 'small'
                  WHEN v < 0.5 THEN 'medium'
                  ELSE 'large' END
           END AS effect
    FROM f"""


def kendall_tau(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Kendall τ-b rank correlation — the fourth member of
    the trend family (OLS slope → Theil–Sen slope → Spearman ρ →
    Kendall τ): the probability-scale concordance measure, τ =
    (C − D)/√((n₀−n₁)(n₀−n₂)) with n₀ = n(n−1)/2 and the standard
    tie terms n₁ = Σ_x t(t−1)/2, n₂ = Σ_y u(u−1)/2. Concordant /
    discordant counts come from the strict-x pair join (x-tied pairs
    are neither, exactly the τ-b convention); ``z_stat`` uses the
    no-tie null variance 2(2n+5)/(9n(n−1)) (documented: the usual
    large-n approximation, conservative under light ties).

    Returns (groups..., n, n_pairs, concordant, discordant, tau_b,
    z_stat, significant_95), 6-dp rounded; τ/z NULL when n < 2 or a
    column is constant (zero tie-corrected pairs).

    Scale contract: pair volume is Σ_g n_g² — the ``grouped_theil_sen``
    bounded-series contract verbatim (hourly/bucketed frames, ~700
    buckets → ~245k pairs per group distributed across the pair
    shuffle); data-scale monotone association belongs in
    ``spearman_corr`` (whose histogram path is linear). Cite:
    reference has no stats tier; extends SURVEY §2.11."""
    d = (
        df.na.drop(subset=[x_col, y_col])
        .select(
            *group_cols,
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        )
        .localCheckpoint(eager=False)
    )
    a, b = d.alias("a"), d.alias("b")
    cond = F.col("a.__x") < F.col("b.__x")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    cd = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.when(F.col("a.__y") < F.col("b.__y"), 1)
            .otherwise(0).alias("__c"),
            F.when(F.col("a.__y") > F.col("b.__y"), 1)
            .otherwise(0).alias("__d"),
        )
        .groupBy(*group_cols)
        .agg(
            F.sum("__c").cast("double").alias("__C"),
            F.sum("__d").cast("double").alias("__D"),
        )
    )
    nrow = d.groupBy(*group_cols).agg(
        F.count("*").cast("double").alias("__n")
    )
    tx = (
        d.groupBy(*group_cols, "__x").agg(F.count("*").alias("__t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("__t") * (F.col("__t") - 1) / 2)
            .cast("double").alias("__n1")
        )
    )
    ty = (
        d.groupBy(*group_cols, "__y").agg(F.count("*").alias("__u"))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("__u") * (F.col("__u") - 1) / 2)
            .cast("double").alias("__n2")
        )
    )
    j = nrow.join(cd, group_cols, "left").join(tx, group_cols).join(
        ty, group_cols
    )
    n = F.col("__n")
    n0 = n * (n - 1) / 2
    den = (n0 - F.col("__n1")) * (n0 - F.col("__n2"))
    tau = (F.coalesce(F.col("__C"), F.lit(0.0))
           - F.coalesce(F.col("__D"), F.lit(0.0))) / F.sqrt(den)
    var0 = F.lit(2.0) * (2 * n + 5) / (F.lit(9.0) * n * (n - 1))
    z = tau / F.sqrt(var0)
    ok = (n >= 2) & (den > 0)
    return j.select(
        *group_cols,
        n.cast("long").alias("n"),
        n0.cast("long").alias("n_pairs"),
        F.coalesce(F.col("__C"), F.lit(0.0)).cast("long")
        .alias("concordant"),
        F.coalesce(F.col("__D"), F.lit(0.0)).cast("long")
        .alias("discordant"),
        F.when(ok, F.round(tau, 6))
        .otherwise(F.lit(None).cast("double")).alias("tau_b"),
        F.when(ok, F.round(z, 6))
        .otherwise(F.lit(None).cast("double")).alias("z_stat"),
        F.when(ok, F.abs(z) > 1.959964)
        .otherwise(F.lit(None).cast("boolean")).alias("significant_95"),
    )


def kendall_tau_oracle_sql(
    series_ctes: str,
    series: str,
    key: str,
    x_sql: str,
    y_sql: str,
) -> str:
    """DuckDB replica of ``kendall_tau`` over a prepared per-key series
    CTE — identical strict-x pair join, tie terms, τ-b arithmetic, and
    normal-approximation z."""
    return f"""WITH {series_ctes},
    ktd AS (SELECT {key} AS g, CAST({x_sql} AS DOUBLE) AS x,
                   CAST({y_sql} AS DOUBLE) AS y
            FROM {series}
            WHERE ({x_sql}) IS NOT NULL AND ({y_sql}) IS NOT NULL),
    ktcd AS (
      SELECT a.g,
             CAST(sum(CASE WHEN a.y < b.y THEN 1 ELSE 0 END) AS DOUBLE)
               AS C,
             CAST(sum(CASE WHEN a.y > b.y THEN 1 ELSE 0 END) AS DOUBLE)
               AS D
      FROM ktd a JOIN ktd b ON a.g = b.g AND a.x < b.x
      GROUP BY a.g),
    ktn AS (SELECT g, CAST(count(*) AS DOUBLE) AS n FROM ktd GROUP BY g),
    ktx AS (SELECT g, CAST(sum(t * (t - 1) / 2) AS DOUBLE) AS n1
            FROM (SELECT g, x, count(*) AS t FROM ktd GROUP BY g, x) q
            GROUP BY g),
    kty AS (SELECT g, CAST(sum(u * (u - 1) / 2) AS DOUBLE) AS n2
            FROM (SELECT g, y, count(*) AS u FROM ktd GROUP BY g, y) q
            GROUP BY g),
    ktf AS (
      SELECT ktn.g, ktn.n, ktn.n * (ktn.n - 1) / 2 AS n0,
             coalesce(ktcd.C, 0.0) AS C, coalesce(ktcd.D, 0.0) AS D,
             ktx.n1, kty.n2,
             (ktn.n * (ktn.n - 1) / 2 - ktx.n1)
               * (ktn.n * (ktn.n - 1) / 2 - kty.n2) AS den,
             2.0 * (2 * ktn.n + 5) / (9.0 * ktn.n * (ktn.n - 1)) AS var0
      FROM ktn LEFT JOIN ktcd ON ktcd.g = ktn.g
               JOIN ktx ON ktx.g = ktn.g
               JOIN kty ON kty.g = ktn.g)
    SELECT g AS {key}, CAST(n AS BIGINT) AS n,
           CAST(n0 AS BIGINT) AS n_pairs,
           CAST(C AS BIGINT) AS concordant,
           CAST(D AS BIGINT) AS discordant,
           CASE WHEN n >= 2 AND den > 0
                THEN round((C - D) / sqrt(den), 6) + 0 END AS tau_b,
           CASE WHEN n >= 2 AND den > 0
                THEN round((C - D) / sqrt(den) / sqrt(var0), 6) + 0
                END AS z_stat,
           CASE WHEN n >= 2 AND den > 0
                THEN abs((C - D) / sqrt(den) / sqrt(var0)) > 1.959964
                END AS significant_95
    FROM ktf"""


def gini_binned(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_bins: int = 256,
) -> DataFrame:
    """Per-group Gini coefficient from a binned Lorenz curve — the
    inequality/concentration readout ("does 1% of the customers carry
    99% of the revenue?"). Grouped-data estimator: values bin into
    ``n_bins`` equal-width buckets per group, the Lorenz curve is the
    cumulative (population share, value share) walk over the ORDERED
    bin frame, and G = 1 − Σ (x_i − x_{i−1})(y_i + y_{i−1}) by the
    trapezoid rule — the standard grouped-data Gini, which UNDERSTATES
    the exact statistic by the within-bin inequality (error → 0 as
    bins narrow; ``bins_used`` rides in the output so a consumer sees
    the resolution). Negative values are excluded (shares undefined —
    the Lorenz convention); an all-equal group lands in one bin and
    reads exactly 0.

    Returns (groups..., n, total_value, gini, bins_used), 6-dp
    rounded; gini NULL when the group's total is ≤ 0.

    Scale shape: one min/max/count/sum agg per group broadcast back,
    one data-scale binning scan to the ≤n_bins-row per-group frame,
    then windows over THAT bounded frame only — the exact-rank Gini
    needs a global sort (one partition at data scale) and is exactly
    what this estimator avoids. Cite: reference has no concentration
    tier; extends SURVEY §2.11."""
    from pyspark.sql import Window

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    d = df.na.drop(subset=[value_col]).select(
        *group_cols, F.col(value_col).cast("double").alias("__v")
    ).filter(F.col("__v") >= 0)
    rng = d.groupBy(*group_cols).agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count("*").cast("double").alias("__n"),
        F.sum("__v").alias("__tot"),
    )
    binned = d.join(F.broadcast(rng), group_cols).select(
        *group_cols, "__n", "__tot",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * F.lit(n_bins)
                ),
                F.lit(n_bins - 1),
            )
        ).cast("long").alias("__bin"),
        "__v",
    )
    bins = binned.groupBy(*group_cols, "__n", "__tot", "__bin").agg(
        F.count("*").cast("double").alias("__c"),
        F.sum("__v").alias("__sv"),
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lorenz = bins.select(
        *group_cols, "__n", "__tot",
        (F.sum("__c").over(w) / F.col("__n")).alias("__cx"),
        (F.sum("__sv").over(w) / F.col("__tot")).alias("__cy"),
    )
    wl = Window.partitionBy(*group_cols).orderBy("__cx")
    seg = lorenz.select(
        *group_cols, "__n", "__tot",
        (
            (F.col("__cx") - F.coalesce(F.lag("__cx").over(wl), F.lit(0.0)))
            * (F.col("__cy")
               + F.coalesce(F.lag("__cy").over(wl), F.lit(0.0)))
        ).alias("__a"),
    )
    out = seg.groupBy(*group_cols, "__n", "__tot").agg(
        F.count("*").alias("__bu"),
        (F.lit(1.0) - F.sum("__a")).alias("__g"),
    )
    return out.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        F.round("__tot", 6).alias("total_value"),
        F.when(F.col("__tot") > 0, F.round("__g", 6))
        .otherwise(F.lit(None).cast("double")).alias("gini"),
        F.col("__bu").cast("long").alias("bins_used"),
    )


def gini_binned_oracle_sql(
    table: str,
    group_cols: list[str],
    value_sql: str,
    n_bins: int = 256,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``gini_binned`` — identical binning, Lorenz
    walk, and trapezoid."""
    g = ", ".join(group_cols)
    gp = f"PARTITION BY {g}" if group_cols else ""
    gsel = f"{g}, " if group_cols else ""
    gjoin = " AND ".join(f"d.{c} = r.{c}" for c in group_cols) or "TRUE"
    return f"""WITH gnd AS (
      SELECT {gsel}CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({value_sql}) IS NOT NULL AND ({value_sql}) >= 0
        AND ({where})),
    gnr AS (
      SELECT {gsel}min(v) AS lo, max(v) AS hi,
             CAST(count(*) AS DOUBLE) AS n, sum(v) AS tot
      FROM gnd GROUP BY {'ALL' if group_cols else '()'} ),
    gnb AS (
      SELECT {"".join(f"d.{c}, " for c in group_cols)}r.n, r.tot,
             CASE WHEN r.hi = r.lo THEN 0
                  ELSE CAST(least(floor((d.v - r.lo) / (r.hi - r.lo)
                                        * {n_bins}),
                                  {n_bins - 1}) AS BIGINT)
                  END AS bin,
             d.v
      FROM gnd d JOIN gnr r ON {gjoin}),
    gnh AS (
      SELECT {gsel}n, tot, bin, CAST(count(*) AS DOUBLE) AS c,
             sum(v) AS sv
      FROM gnb GROUP BY {gsel}n, tot, bin),
    gnl AS (
      SELECT {gsel}n, tot,
             sum(c) OVER ({gp} ORDER BY bin
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) / n AS cx,
             sum(sv) OVER ({gp} ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) / tot AS cy
      FROM gnh),
    gns AS (
      SELECT {gsel}n, tot,
             (cx - coalesce(lag(cx) OVER ({gp} ORDER BY cx), 0.0))
             * (cy + coalesce(lag(cy) OVER ({gp} ORDER BY cx), 0.0))
               AS a
      FROM gnl)
    SELECT {gsel}CAST(n AS BIGINT) AS n, round(tot, 6) AS total_value,
           CASE WHEN tot > 0 THEN round(1.0 - sum(a), 6) END AS gini,
           CAST(count(*) AS BIGINT) AS bins_used
    FROM gns GROUP BY {gsel}n, tot"""


def concentration_metrics(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group market-concentration metrics over the value shares of
    ``key_col`` entities — the antitrust/portfolio view beside
    ``gini_binned``'s inequality curve: HHI = Σ s_i² (1/n_keys =
    perfectly even, 1 = monopoly), Shannon entropy H = −Σ s_i·ln s_i,
    and the effective key count exp(H) ("revenue behaves as if spread
    over this many equal keys"). Keys whose value total is ≤ 0 are
    excluded (shares undefined — documented). Returns (groups...,
    n_keys, total_value, hhi, shannon_entropy, effective_keys), 6-dp
    rounded; metrics NULL when no positive-total key remains.

    Scale shape: one data-scale (group, key) agg, one group-total agg
    broadcast back, one share scan — grouped counts all the way, no
    window at all. Cite: reference has no concentration tier; extends
    SURVEY §2.11 beside gini_binned."""
    d = df.na.drop(subset=[key_col, value_col]).select(
        *group_cols,
        F.col(key_col).alias("__k"),
        F.col(value_col).cast("double").alias("__v"),
    )
    keys = (
        d.groupBy(*group_cols, "__k")
        .agg(F.sum("__v").alias("__kv"))
        .filter(F.col("__kv") > 0)
    )
    tot = keys.groupBy(*group_cols).agg(
        F.sum("__kv").alias("__tot"), F.count("*").alias("__nk")
    )
    s = F.col("__kv") / F.col("__tot")
    agg = (
        keys.join(F.broadcast(tot), group_cols)
        .groupBy(*group_cols, "__tot", "__nk")
        .agg(
            F.sum(s * s).alias("__hhi"),
            (-F.sum(s * F.log(s))).alias("__ent"),
        )
    )
    return agg.select(
        *group_cols,
        F.col("__nk").cast("long").alias("n_keys"),
        F.round("__tot", 6).alias("total_value"),
        F.round("__hhi", 6).alias("hhi"),
        F.round("__ent", 6).alias("shannon_entropy"),
        F.round(F.exp("__ent"), 6).alias("effective_keys"),
    )


def concentration_oracle_sql(
    table_sql: str,
    group_cols: list[str],
    key_sql: str,
    value_sql: str,
) -> str:
    """DuckDB replica of ``concentration_metrics`` — identical share
    walk. ``table_sql`` may be a table name or a parenthesized
    subquery."""
    g = ", ".join(group_cols)
    gsel = f"{g}, " if group_cols else ""
    gjoin = " AND ".join(f"k.{c} = t.{c}" for c in group_cols) or "TRUE"
    return f"""WITH cnd AS (
      SELECT {gsel}{key_sql} AS k, CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table_sql}
      WHERE ({key_sql}) IS NOT NULL AND ({value_sql}) IS NOT NULL),
    cnk AS (
      SELECT * FROM (
        SELECT {gsel}k, sum(v) AS kv FROM cnd GROUP BY {gsel}k) q
      WHERE kv > 0),
    cnt_ AS (
      SELECT {gsel}sum(kv) AS tot, count(*) AS nk
      FROM cnk GROUP BY {'ALL' if group_cols else '()'} ),
    cna AS (
      SELECT {"".join(f"k.{c}, " for c in group_cols)}t.tot, t.nk,
             sum((k.kv / t.tot) * (k.kv / t.tot)) AS hhi,
             -sum((k.kv / t.tot) * ln(k.kv / t.tot)) AS ent
      FROM cnk k JOIN cnt_ t ON {gjoin}
      GROUP BY {"".join(f"k.{c}, " for c in group_cols)}t.tot, t.nk)
    SELECT {gsel}CAST(nk AS BIGINT) AS n_keys,
           round(tot, 6) AS total_value, round(hhi, 6) AS hhi,
           round(ent, 6) AS shannon_entropy,
           round(exp(ent), 6) AS effective_keys
    FROM cna"""


def new_vs_returning(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Per-bucket new-vs-returning user decomposition — the growth
    accountant's daily-active split: of today's active users, how many
    are seen for the FIRST time ever, how many came back, and how many
    distinct users has the product accumulated. One (bucket, user)
    dedup scan; first-seen = min bucket per user (a second hash agg);
    new_users = count of first-seens landing in the bucket;
    returning = active − new; cumulative = running sum of new over the
    bucket frame. Returns (bucket, active_users, new_users,
    returning_users, cumulative_users) — all exact longs, one row per
    ACTIVE bucket (a bucket with zero events doesn't appear; its
    cumulative is readable off the next row).

    Scale shape: two data-scale hash aggs (the dedup and the per-user
    min — both partial-aggregated) and one bucket-frame join; the only
    window is the cumulative sum over the HORIZON-BOUNDED bucket frame
    (days over the corpus span — never data-scale; the
    survival/duration-grid precedent). Cite: reference has no user
    analytics; extends SURVEY §2.11."""
    from pyspark.sql import Window

    bu = (
        df.na.drop(subset=[ts_col, user_col])
        .select(
            F.date_trunc(bucket, F.col(ts_col)).alias("__b"),
            F.col(user_col).alias("__u"),
        )
        .distinct()
    )
    active = bu.groupBy("__b").agg(F.count("*").alias("active_users"))
    first = bu.groupBy("__u").agg(F.min("__b").alias("__fb"))
    new = first.groupBy("__fb").agg(F.count("*").alias("__new"))
    return (
        active.join(new, active["__b"] == new["__fb"], "left")
        .select(
            F.col("__b").alias("bucket"),
            "active_users",
            F.coalesce("__new", F.lit(0)).alias("new_users"),
        )
        .select(
            "bucket", "active_users", "new_users",
            (F.col("active_users") - F.col("new_users"))
            .alias("returning_users"),
            F.sum("new_users").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).alias("cumulative_users"),
        )
    )


def new_vs_returning_oracle_sql(
    table: str,
    ts_sql: str,
    user_sql: str,
    bucket: str = "day",
) -> str:
    """DuckDB replica of ``new_vs_returning`` — identical dedup,
    first-seen, split, and running sum."""
    return f"""WITH nvb AS (
      SELECT DISTINCT CAST(date_trunc('{bucket}', {ts_sql})
                           AS TIMESTAMP) AS b,
             {user_sql} AS u
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({user_sql}) IS NOT NULL),
    nva AS (SELECT b, count(*) AS active FROM nvb GROUP BY b),
    nvf AS (SELECT u, min(b) AS fb FROM nvb GROUP BY u),
    nvn AS (SELECT fb AS b, count(*) AS nw FROM nvf GROUP BY fb)
    SELECT nva.b AS bucket,
           nva.active AS active_users,
           coalesce(nvn.nw, 0) AS new_users,
           nva.active - coalesce(nvn.nw, 0) AS returning_users,
           CAST(sum(coalesce(nvn.nw, 0)) OVER (
             ORDER BY nva.b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cumulative_users
    FROM nva LEFT JOIN nvn ON nvn.b = nva.b"""


def markov_stationary(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    type_col: str,
    order_col: str,
    iterations: int = 30,
) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain
    — the long-run answer the bigram transition counts
    (``events_top_transitions``) only hint at: if users keep walking
    this chain, what fraction of time lands in each state? Transition
    probabilities come from consecutive-event bigrams (the
    (ts, order_col) tie-broken per-user sequence); states are the
    types observed as transition SOURCES, edges into sink-only types
    are dropped and rows renormalized (the single-pass convention,
    documented — a source losing every edge would leak mass and is a
    modeling error this synthetic-complete chain can't hit). π starts
    uniform and takes ``iterations`` fixed power steps, every entry
    6-dp floor-rounded per step (the forecast-module ``_r6``
    discipline) so both engines walk ONE deterministic trajectory —
    convergence is visible in the output because ``stationary_prob``
    sits beside ``empirical_prob``, the plain marginal share.

    Returns (event_type, stationary_prob, empirical_prob), 6-dp.

    Scale shape: one data-scale lead window partitioned by user
    (bounded per-user history — the sessionization precedent) down to
    the k²-cell transition frame; the power iteration is
    ``iterations`` joins over k-row/k²-row BOUNDED frames (k = event
    types), lineage-cut per step. Cite: reference has no chain tier;
    extends SURVEY §2.11 beside events_top_transitions."""
    from pyspark.sql import Window

    def r6(c):
        return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000

    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    # Drop NULL ts/user/type BEFORE the lead window (ADVICE r10): a
    # NULL type would otherwise splinter the surrounding bigram, seed
    # a phantom NULL source state with 1/k of the initial mass, and
    # leak that mass (NULL join keys never match) so stationary_prob
    # stopped summing to 1 — consistent with session_paths/
    # markov_removal_attribution.
    pr = df.na.drop(subset=[ts_col, user_col, type_col]).select(
        F.col(type_col).alias("__s"),
        F.lead(type_col).over(w).alias("__j"),
    ).filter(F.col("__j").isNotNull())
    # persisted (r14): cnt is ≤k²-row MODEL-sized but its lineage is
    # the data-scale lead window — and the ADVICE r13 fix added a
    # second consumer (the st state-universe collect for the local
    # coding), which re-ran the window per scan (probed +0.3 s)
    cnt = _round_persist(
        pr.groupBy("__s", "__j").agg(F.count("*").alias("__n"))
    )
    st = cnt.select(F.col("__s").alias("__state")).distinct()
    keep = cnt.join(
        F.broadcast(st), cnt["__j"] == st["__state"]
    ).select("__s", "__j", "__n")
    tot = keep.groupBy("__s").agg(F.sum("__n").alias("__t"))
    pm = (
        keep.join(F.broadcast(tot), "__s")
        .select(
            "__s", "__j",
            (F.col("__n").cast("double") / F.col("__t")).alias("__p"),
        )
    )
    # Bounded local power iteration (r13, the graph local-tail
    # discipline): the transition frame is k²-cell MODEL-sized by
    # construction (k = observed event types), so the 30 fixed rounds
    # — previously 30 chained distributed joins over ≤k²-row frames,
    # pure per-round planning/scheduling floor — replay off one Arrow
    # collect with the IDENTICAL per-step arithmetic (the 6-dp
    # floor-half-up r6 is bit-exact in numpy: floor(x·1e6+0.5)/1e6 on
    # identical doubles). Sum-order ulp differences vs Spark's partial
    # aggregation are absorbed exactly as the DuckDB oracle's serial
    # sums already are. A chain over half ``catalog.LOCAL_TAIL_ROWS``
    # cells (fanout=2: 10⁶ cells, k > 1000, at the default) falls back
    # to the distributed rounds.
    pi = None
    pdfm = local_tail(pm, "__s", "__j", fanout=2)
    # The state UNIVERSE is st (every cnt source) — NOT pm's surviving
    # sources (ADVICE r13, medium): a source whose every out-edge
    # targets sink-only types keeps its st row (and its 1/k share of
    # the initial mass) while contributing no pm row, and a pm __j can
    # name such a state. Coding over pm.__s alone mapped those targets
    # out of bounds (np.add.at IndexError) or onto the wrong state; the
    # distributed rounds below start pi on st, so the local replay
    # must too.
    stpdf = None if pdfm is None else local_tail(st, "__state")
    if stpdf is not None:
        import numpy as np
        import pandas as pd

        states = np.unique(stpdf["__state"].to_numpy())
        kk = len(states)
        sidx = pd.Index(states)
        scode = sidx.get_indexer(pdfm["__s"].to_numpy())
        jcode = sidx.get_indexer(pdfm["__j"].to_numpy())
        pv = pdfm["__p"].to_numpy(dtype=np.float64)
        # a pm endpoint outside the st universe cannot happen by
        # construction (keep joins __j against st; __s ⊆ cnt sources)
        # — but if it ever does, the distributed rounds handle it;
        # never guess a code
        if not ((scode < 0).any() or (jcode < 0).any()):

            def _r6a(x):
                return np.floor(x * 1_000_000.0 + 0.5) / 1_000_000.0

            piv = np.full(kk, float(np.floor(
                (1.0 / kk) * 1_000_000.0 + 0.5) / 1_000_000.0)) \
                if kk else np.zeros(0)
            for _ in range(iterations):
                nxt = np.zeros(kk)
                np.add.at(nxt, jcode, piv[scode] * pv)
                # the distributed round only emits states reached via a
                # join row; unreached states drop out (inner join) —
                # replicate by masking to targets with incoming mass
                piv = _r6a(nxt)
                seen = np.zeros(kk, dtype=bool)
                seen[jcode] = True
                piv = np.where(seen, piv, np.nan)
                # states that dropped out stay out of later rounds
                scode_keep = ~np.isnan(piv[scode])
                scode, jcode, pv = (
                    scode[scode_keep], jcode[scode_keep], pv[scode_keep]
                )
            live = ~np.isnan(piv)
            f = pm.schema["__s"]
            pi = local_frame(
                pm.sparkSession,
                T.StructType([
                    T.StructField("__s", f.dataType, f.nullable),
                    T.StructField("__pi", T.DoubleType(), True),
                ]),
                # tolist() preserves the id type
                [states[live].tolist(), piv[live].tolist()],
            )
    if pi is None:
        # every distributed round joins pm: persist the gated object, so
        # its checkpoint reuses the stages the gate's count already ran
        pm = _round_persist(pm)
        k = F.broadcast(st.agg(F.count("*").alias("__k")))
        pi = st.crossJoin(k).select(
            F.col("__state").alias("__s"),
            r6(F.lit(1.0) / F.col("__k")).alias("__pi"),
        ).localCheckpoint(eager=False)
        for _ in range(iterations):
            pi = (
                pi.join(pm, "__s")
                .groupBy(F.col("__j").alias("__s"))
                .agg(r6(F.sum(F.col("__pi") * F.col("__p"))).alias("__pi"))
                .localCheckpoint(eager=False)
            )
    emp = df.na.drop(subset=[type_col]).groupBy(
        F.col(type_col).alias("__e")
    ).agg(F.count("*").alias("__c"))
    emp_tot = emp.agg(F.sum("__c").alias("__et"))
    return (
        pi.join(emp, pi["__s"] == emp["__e"])
        .crossJoin(F.broadcast(emp_tot))
        .select(
            F.col("__s").alias("event_type"),
            F.round("__pi", 6).alias("stationary_prob"),
            F.round(F.col("__c") / F.col("__et"), 6)
            .alias("empirical_prob"),
        )
    )


def markov_stationary_oracle_sql(
    table: str,
    ts_sql: str,
    user_sql: str,
    type_sql: str,
    order_sql: str,
    iterations: int = 30,
) -> str:
    """DuckDB replica of ``markov_stationary`` — identical bigram
    chain, renormalization, and 6-dp-rounded power trajectory as one
    recursive CTE with an iteration counter."""
    return f"""WITH RECURSIVE mkp AS (
      SELECT {type_sql} AS s,
             lead({type_sql}) OVER (PARTITION BY {user_sql}
                                    ORDER BY {ts_sql}, {order_sql}) AS j
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({user_sql}) IS NOT NULL
        AND ({type_sql}) IS NOT NULL),
    mkc AS (SELECT s, j, count(*) AS n FROM mkp
            WHERE j IS NOT NULL GROUP BY s, j),
    mks AS (SELECT DISTINCT s FROM mkc),
    mkk AS (SELECT c.s, c.j, c.n
            FROM mkc c JOIN mks ON mks.s = c.j),
    mkm AS (SELECT s, j,
                   CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY s) AS p
            FROM mkk),
    mkn AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM mks),
    mki AS (
      SELECT 0 AS i, s,
             floor(1.0 / k * 1000000 + 0.5) / 1000000 AS pi
      FROM mks CROSS JOIN mkn
      UNION ALL
      SELECT i + 1, j AS s,
             floor(sum(pi * p) * 1000000 + 0.5) / 1000000 AS pi
      FROM mki JOIN mkm ON mkm.s = mki.s
      WHERE i < {iterations}
      GROUP BY i, j),
    mke AS (SELECT {type_sql} AS e, count(*) AS c FROM {table}
            WHERE ({type_sql}) IS NOT NULL GROUP BY 1),
    mkt AS (SELECT sum(c) AS et FROM mke)
    SELECT mki.s AS event_type,
           round(pi, 6) AS stationary_prob,
           round(CAST(c AS DOUBLE) / et, 6) AS empirical_prob
    FROM mki JOIN mke ON mke.e = mki.s CROSS JOIN mkt
    WHERE i = {iterations}"""


# Poisson(1) inverse-CDF ladder: cumulative P(X <= k) for k = 0..6.
# Literal doubles so Spark and DuckDB branch on identical constants;
# the k >= 7 tail carries ~8.3e-5 mass and truncates to 7 (documented).
_POIS1_CUM = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119,
)


def bootstrap_mean_diff(
    df: DataFrame,
    id_col: str,
    cohort: Column,
    value_col: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the A/B difference
    in means — the UNCERTAINTY readout beside ``welch_t_test``'s
    verdict (the t test assumes the CLT has kicked in; the bootstrap
    makes no shape assumption and hands back an interval a PM can
    read). ZERO RNG: the Poissonized bootstrap draws each row's
    replicate-b multiplicity as Poisson(1) by inverse-CDF over the
    md5(seed:id:b) uniform (the sampler tier's determinism discipline;
    Poisson(1) weights approximate the multinomial resample with error
    O(1/n) — standard for distributed bootstrap; the k ≥ 7 tail,
    ~8.3e-5 mass, truncates). Replicates where either arm draws zero
    total weight are dropped (probability ~(B·e^{-n}); documented).
    CI endpoints are the ⌈q·B_eff⌉-th sorted replicate deltas (the
    bottom-k sketch convention). Returns ONE row (n_a, n_b,
    observed_diff, ci_lo, ci_hi, n_boot_effective, excludes_zero),
    6-dp rounded.

    Scale shape: ONE scan fans each row out to ``n_boot`` weighted
    copies (explode of a literal sequence — n·B rows, partial-
    aggregated straight down to the B-row replicate frame; B is the
    knob, and the bag-of-little-bootstraps subsample-then-rescale
    variant is the extreme-scale alternative, documented); the only
    windows run over the ≤B-row delta frame. Cite: reference has no
    stats tier; extends SURVEY §2.11 beside welch_t_test/
    ab_test_conversion."""
    from pyspark.sql import Window

    from census_data_pipeline_spark.sources.catalog import (
        ensure_parallelism,
    )

    # repartition BEFORE the n_boot fan-out (r13): a single-file scan
    # arrives as ONE partition, and the explode × md5 inverse-CDF below
    # multiplies every row n_boot× — measured 4M md5 evaluations on one
    # core (~7 s) that parallelize to <1 s once spread
    d = ensure_parallelism(
        df.na.drop(subset=[id_col, value_col]).select(
            F.col(id_col).cast("string").alias("__id"),
            cohort.cast("boolean").alias("__c"),
            F.col(value_col).cast("double").alias("__v"),
        )
    )
    obs = d.agg(
        F.count(F.when(F.col("__c"), 1)).alias("__na"),
        F.count(F.when(~F.col("__c"), 1)).alias("__nb"),
        (
            F.sum(F.when(F.col("__c"), F.col("__v")))
            / F.count(F.when(F.col("__c"), 1))
            - F.sum(F.when(~F.col("__c"), F.col("__v")))
            / F.count(F.when(~F.col("__c"), 1))
        ).alias("__obs"),
    )
    rep = d.select(
        "__id", "__c", "__v",
        F.explode(F.sequence(F.lit(1), F.lit(n_boot))).alias("__b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(seed)), F.col("__id"),
                                  F.col("__b").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = F.lit(7)
    for kk in range(len(_POIS1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CUM[kk]), F.lit(kk)).otherwise(w)
    wd = rep.select("__b", "__c", "__v",
                    w.cast("double").alias("__w"))
    per_b = wd.groupBy("__b").agg(
        F.sum(F.when(F.col("__c"), F.col("__w"))).alias("__wa"),
        F.sum(F.when(F.col("__c"), F.col("__w") * F.col("__v")))
        .alias("__va"),
        F.sum(F.when(~F.col("__c"), F.col("__w"))).alias("__wb"),
        F.sum(F.when(~F.col("__c"), F.col("__w") * F.col("__v")))
        .alias("__vb"),
    )
    deltas = per_b.filter(
        (F.col("__wa") > 0) & (F.col("__wb") > 0)
    ).select(
        "__b",
        (F.col("__va") / F.col("__wa")
         - F.col("__vb") / F.col("__wb")).alias("__d"),
    )
    cnt = deltas.agg(F.count("*").alias("__beff"))
    ranked = deltas.select(
        "__d",
        F.row_number().over(Window.orderBy("__d", "__b")).alias("__rk"),
    ).crossJoin(F.broadcast(cnt))
    lo = ranked.filter(
        F.col("__rk") == F.ceil(F.lit(alpha / 2.0) * F.col("__beff"))
    ).select(F.col("__d").alias("__lo"), "__beff")
    hi = ranked.filter(
        F.col("__rk")
        == F.ceil(F.lit(1.0 - alpha / 2.0) * F.col("__beff"))
    ).select(F.col("__d").alias("__hi"))
    # LEFT joins, not crossJoins (ADVICE r10): when no replicate
    # survives the wa/wb > 0 filter (an empty arm, or every draw
    # zero-weights one arm) the lo/hi endpoint frames are EMPTY and a
    # crossJoin would collapse the result to zero rows — the one row
    # with n_a/n_b/observed_diff and NULL CI is exactly what the
    # caller needs then.
    lo1 = lo.withColumn("__k1", F.lit(1))
    hi1 = hi.withColumn("__k1", F.lit(1))
    return (
        obs.withColumn("__k1", F.lit(1))
        .join(F.broadcast(lo1), "__k1", "left")
        .join(F.broadcast(hi1), "__k1", "left")
        .select(
            F.col("__na").cast("long").alias("n_a"),
            F.col("__nb").cast("long").alias("n_b"),
            F.round("__obs", 6).alias("observed_diff"),
            F.round("__lo", 6).alias("ci_lo"),
            F.round("__hi", 6).alias("ci_hi"),
            F.coalesce(F.col("__beff"), F.lit(0))
            .cast("long").alias("n_boot_effective"),
            ((F.col("__lo") > 0) | (F.col("__hi") < 0))
            .alias("excludes_zero"),
        )
    )


def bootstrap_mean_diff_oracle_sql(
    table: str,
    id_sql: str,
    cohort_sql: str,
    value_sql: str,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``bootstrap_mean_diff`` — identical md5
    uniforms, Poisson ladder, replicate deltas, and percentile
    positions."""
    ladder = "CASE " + " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(_POIS1_CUM)
    ) + " ELSE 7 END"
    return f"""WITH bsd AS (
      SELECT CAST({id_sql} AS VARCHAR) AS id,
             CAST(({cohort_sql}) AS BOOLEAN) AS c,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({id_sql}) IS NOT NULL AND ({value_sql}) IS NOT NULL
        AND ({where})),
    bso AS (
      SELECT count(CASE WHEN c THEN 1 END) AS na,
             count(CASE WHEN NOT c THEN 1 END) AS nb,
             sum(CASE WHEN c THEN v END)
               / count(CASE WHEN c THEN 1 END)
             - sum(CASE WHEN NOT c THEN v END)
               / count(CASE WHEN NOT c THEN 1 END) AS obs
      FROM bsd),
    bsr AS (
      SELECT id, c, v, CAST(t.b AS BIGINT) AS b,
             CAST(CAST(concat('0x',
                    substr(md5(concat('{seed}', ':', id, ':',
                                      CAST(t.b AS VARCHAR))), 1, 8))
                  AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
      FROM bsd, unnest(generate_series(1, {n_boot})) AS t(b)),
    bsw AS (
      SELECT b, c, v, CAST({ladder} AS DOUBLE) AS w FROM bsr),
    bsp AS (
      SELECT b,
             sum(CASE WHEN c THEN w END) AS wa,
             sum(CASE WHEN c THEN w * v END) AS va,
             sum(CASE WHEN NOT c THEN w END) AS wb,
             sum(CASE WHEN NOT c THEN w * v END) AS vb
      FROM bsw GROUP BY b),
    bsdl AS (
      SELECT b, va / wa - vb / wb AS d
      FROM bsp WHERE wa > 0 AND wb > 0),
    bsc AS (SELECT count(*) AS beff FROM bsdl),
    bsk AS (
      SELECT d, row_number() OVER (ORDER BY d, b) AS rk, beff
      FROM bsdl CROSS JOIN bsc)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(obs, 6) + 0 AS observed_diff,
           round(lo.d, 6) + 0 AS ci_lo, round(hi.d, 6) + 0 AS ci_hi,
           CAST(coalesce(lo.beff, 0) AS BIGINT) AS n_boot_effective,
           (lo.d > 0 OR hi.d < 0) AS excludes_zero
    FROM bso
    LEFT JOIN (SELECT d, beff FROM bsk
               WHERE rk = ceil({alpha / 2.0} * beff)) lo ON TRUE
    LEFT JOIN (SELECT d FROM bsk
               WHERE rk = ceil({1.0 - alpha / 2.0} * beff)) hi ON TRUE"""


def decayed_value_topk(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    half_life_hours: float = 168.0,
    k: int = 25,
) -> DataFrame:
    """Top-k keys by exponentially time-decayed value — the recency-
    weighted ranking every engagement/LTV surface actually uses
    (``top5_customers`` ranks all-time sums; a user active last week
    and one active last year should not tie): each event contributes
    value · 0.5^(Δt/half_life) where Δt is hours before the corpus
    horizon (max ts — computed once, broadcast back, so the score is
    deterministic for a fixed dataset rather than wall-clock-
    dependent). Returns exactly k rows (key, n_events, decayed_value,
    raw_value) under the total order (decayed DESC, key ASC), 6-dp
    rounded.

    Scale shape: one 1-row horizon agg broadcast into a map-side
    weight expression, ONE data-scale hash agg per key, then
    TakeOrderedAndProject — never a full sort. Cite: reference has no
    engagement tier; extends SURVEY §2.11 beside topk/new_vs_returning."""
    d = df.na.drop(subset=[ts_col, key_col, value_col]).select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__v"),
    )
    hz = d.agg(F.max("__ts").alias("__hmax"))
    dt_h = (
        (F.unix_micros("__hmax") - F.unix_micros("__ts"))
        / F.lit(3_600_000_000.0)
    )
    w = F.pow(F.lit(0.5), dt_h / F.lit(float(half_life_hours)))
    return (
        d.crossJoin(F.broadcast(hz))
        .groupBy("__k")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(w * F.col("__v")), 6).alias("decayed_value"),
            F.round(F.sum("__v"), 6).alias("raw_value"),
        )
        .select(F.col("__k").alias(key_col), "n_events",
                "decayed_value", "raw_value")
        .orderBy(F.desc("decayed_value"), F.asc(key_col))
        .limit(k)
    )


def decayed_value_topk_oracle_sql(
    table: str,
    ts_sql: str,
    key_sql: str,
    value_sql: str,
    half_life_hours: float = 168.0,
    k: int = 25,
    key_name: str = "key",
    where: str = "TRUE",
) -> str:
    """DuckDB replica of ``decayed_value_topk`` — identical horizon,
    weight expression, and total-order top-k."""
    return f"""WITH dvd AS (
      SELECT {key_sql} AS k, {ts_sql} AS ts,
             CAST(({value_sql}) AS DOUBLE) AS v
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({key_sql}) IS NOT NULL
        AND ({value_sql}) IS NOT NULL AND ({where})),
    dvh AS (SELECT max(ts) AS hmax FROM dvd)
    SELECT k AS {key_name}, count(*) AS n_events,
           round(sum(power(0.5,
                 (epoch_us(hmax) - epoch_us(ts)) / 3600000000.0
                 / {float(half_life_hours)!r}) * v), 6)
             AS decayed_value,
           round(sum(v), 6) AS raw_value
    FROM dvd CROSS JOIN dvh
    GROUP BY k
    ORDER BY decayed_value DESC, k
    LIMIT {k}"""


def dow_hour_profile(df: DataFrame, ts_col: str) -> DataFrame:
    """Day-of-week × hour activity fingerprint — the seasonality
    heatmap behind every ops dashboard, with the z-score against the
    grid mean riding along so hot/cold cells are flagged without
    eyeballing: one data-scale hash agg to the ≤168-cell grid
    (ISO weekday 1-7 × hour 0-23), then share-of-total and
    z = (n − mean)/std computed from a broadcast 1-row moment agg over
    that bounded frame (population std; z NULL when the grid is
    constant). Returns (iso_dow, hour, n_events, share, z_score),
    6-dp rounded.

    Scale shape: ONE groupBy; everything after is arithmetic on the
    168-cell frame. Cite: reference has no seasonality tier; extends
    SURVEY §2.11 beside hypertable rollups."""
    cells = (
        df.na.drop(subset=[ts_col])
        .groupBy(
            (F.weekday(F.col(ts_col)) + 1).cast("long").alias("iso_dow"),
            F.hour(F.col(ts_col)).cast("long").alias("hour"),
        )
        .agg(F.count("*").alias("n_events"))
    )
    mom = cells.agg(
        F.sum("n_events").alias("__tot"),
        F.avg("n_events").alias("__mu"),
        F.stddev_pop("n_events").alias("__sd"),
    )
    return (
        cells.crossJoin(F.broadcast(mom))
        .select(
            "iso_dow", "hour", "n_events",
            F.round(F.col("n_events") / F.col("__tot"), 6).alias("share"),
            F.when(
                F.col("__sd") > 0,
                F.round((F.col("n_events") - F.col("__mu"))
                        / F.col("__sd"), 6),
            ).otherwise(F.lit(None).cast("double")).alias("z_score"),
        )
    )


def dow_hour_profile_oracle_sql(table: str, ts_sql: str,
                                where: str = "TRUE") -> str:
    """DuckDB replica of ``dow_hour_profile`` — identical grid,
    share, and population-z arithmetic."""
    return f"""WITH dhc AS (
      SELECT CAST(isodow({ts_sql}) AS BIGINT) AS iso_dow,
             CAST(hour({ts_sql}) AS BIGINT) AS hour,
             count(*) AS n_events
      FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({where})
      GROUP BY 1, 2),
    dhm AS (SELECT sum(n_events) AS tot, avg(n_events) AS mu,
                   stddev_pop(n_events) AS sd
            FROM dhc)
    SELECT iso_dow, hour, n_events,
           round(CAST(n_events AS DOUBLE) / tot, 6) AS share,
           CASE WHEN sd > 0
                THEN round((n_events - mu) / sd, 6) + 0 END AS z_score
    FROM dhc CROSS JOIN dhm"""


def seasonal_anomaly(
    df: DataFrame,
    ts_col: str,
    z_cut: float = 3.0,
) -> DataFrame:
    """Seasonally-conditioned hourly anomaly detection — the question
    the trailing-window detector (``events_rate_anomaly``) gets wrong
    on periodic traffic: "is this hour unusual FOR a Tuesday 15:00?"
    Each zero-filled hourly bucket is z-scored against the OTHER
    buckets sharing its (ISO weekday, hour) cell — leave-one-out, so a
    spike can't mask itself (the rate-anomaly discipline), closed-form
    from the cell's (m, Σx, Σx²): μ₋ = (S−x)/(m−1), s²₋ =
    (Q−x² − (S−x)²/(m−1))/(m−2). Buckets whose cell has m < 4 members
    or zero remaining variance are unscored. The flag derives from the
    ROUNDED z (fp discipline). Returns (bucket_us, iso_dow, hour,
    n_events, baseline_mean, z_score, is_anomaly), 6-dp rounded.

    Scale shape: one data-scale hash agg to the horizon-bounded hourly
    frame (zero-filled via the bounds→sequence grid), one ≤168-cell
    moment agg broadcast back — NO window at all (the LOO algebra
    replaces the usual per-cell window). Cite: reference has no
    anomaly tier; extends SURVEY §2.11 beside events_rate_anomaly/
    dow_hour_profile."""
    d = df.na.drop(subset=[ts_col])
    hourly = d.groupBy(
        F.date_trunc("hour", F.col(ts_col)).alias("__hb")
    ).agg(F.count("*").alias("__n"))
    bounds = d.agg(
        F.min(F.date_trunc("hour", F.col(ts_col))).alias("__lo"),
        F.max(F.date_trunc("hour", F.col(ts_col))).alias("__hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("__lo", "__hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("__hb")
    )
    filled = grid.join(hourly, "__hb", "left").select(
        "__hb",
        F.coalesce(F.col("__n"), F.lit(0)).cast("double").alias("__n"),
        (F.weekday("__hb") + 1).cast("long").alias("iso_dow"),
        F.hour("__hb").cast("long").alias("hour"),
    )
    cells = filled.groupBy("iso_dow", "hour").agg(
        F.count("*").cast("double").alias("__m"),
        F.sum("__n").alias("__S"),
        F.sum(F.col("__n") * F.col("__n")).alias("__Q"),
    )
    j = filled.join(F.broadcast(cells), ["iso_dow", "hour"])
    m, x = F.col("__m"), F.col("__n")
    mu = (F.col("__S") - x) / (m - 1)
    var = (
        F.col("__Q") - x * x - (F.col("__S") - x) * (F.col("__S") - x)
        / (m - 1)
    ) / (m - 2)
    z = F.round((x - mu) / F.sqrt(var), 6)
    ok = (m >= 4) & (var > 0)
    return j.select(
        F.unix_micros("__hb").alias("bucket_us"),
        "iso_dow", "hour",
        x.cast("long").alias("n_events"),
        F.when(m >= 2, F.round(mu, 6)).alias("baseline_mean"),
        F.when(ok, z).otherwise(F.lit(None).cast("double"))
        .alias("z_score"),
        F.when(ok, F.abs(z) > z_cut)
        .otherwise(F.lit(None).cast("boolean")).alias("is_anomaly"),
    )


def seasonal_anomaly_oracle_sql(table: str, ts_sql: str,
                                z_cut: float = 3.0,
                                where: str = "TRUE") -> str:
    """DuckDB replica of ``seasonal_anomaly`` — identical grid, cell
    moments, and leave-one-out algebra."""
    return f"""WITH sad AS (
      SELECT {ts_sql} AS ts FROM {table}
      WHERE ({ts_sql}) IS NOT NULL AND ({where})),
    sah AS (
      SELECT date_trunc('hour', ts) AS hb, count(*) AS n
      FROM sad GROUP BY 1),
    sab AS (SELECT min(date_trunc('hour', ts)) AS lo,
                   max(date_trunc('hour', ts)) AS hi
            FROM sad),
    sag AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                   AS hb
            FROM sab),
    saf AS (
      SELECT g.hb, CAST(coalesce(h.n, 0) AS DOUBLE) AS n,
             CAST(isodow(g.hb) AS BIGINT) AS iso_dow,
             CAST(hour(g.hb) AS BIGINT) AS hour
      FROM sag g LEFT JOIN sah h ON h.hb = g.hb),
    sac AS (
      SELECT iso_dow, hour, CAST(count(*) AS DOUBLE) AS m,
             sum(n) AS S, sum(n * n) AS Q
      FROM saf GROUP BY 1, 2),
    saz AS (
      SELECT f.hb, f.iso_dow, f.hour, f.n, c.m,
             (c.S - f.n) / (c.m - 1) AS mu,
             (c.Q - f.n * f.n
              - (c.S - f.n) * (c.S - f.n) / (c.m - 1)) / (c.m - 2)
               AS var
      FROM saf f JOIN sac c
        ON c.iso_dow = f.iso_dow AND c.hour = f.hour)
    SELECT epoch_us(hb) AS bucket_us, iso_dow, hour,
           CAST(n AS BIGINT) AS n_events,
           CASE WHEN m >= 2 THEN round(mu, 6) END AS baseline_mean,
           CASE WHEN m >= 4 AND var > 0
                THEN round((n - mu) / sqrt(var), 6) + 0 END AS z_score,
           CASE WHEN m >= 4 AND var > 0
                THEN abs(round((n - mu) / sqrt(var), 6)) > {z_cut!r}
                END AS is_anomaly
    FROM saz"""


def normal_two_sided_p(t: Column) -> Column:
    """Two-sided normal-approximation p-value 2·(1−Φ(|t|)) = erfc(|t|/√2)
    via the Abramowitz–Stegun 7.1.26 erf polynomial (|err| < 1.5e-7 —
    three more digits than the corpus's 6-dp outputs need). Neither
    Spark nor DuckDB exposes erf/erfc as a portable builtin, so both
    engines evaluate THIS identical left-associated arithmetic
    (``normal_two_sided_p_sql`` is the character-for-character SQL twin)
    — the Wilson–Hilferty precedent (chi2 tier) of closed-form special
    functions instead of lookup tables. Callers feed an already-6-dp-
    rounded statistic so both engines start from identical doubles."""
    x = F.abs(t) / F.lit(1.4142135623730951)
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * tt
        - F.lit(0.284496736) * tt * tt
        + F.lit(1.421413741) * tt * tt * tt
        - F.lit(1.453152027) * tt * tt * tt * tt
        + F.lit(1.061405429) * tt * tt * tt * tt * tt
    )
    return poly * F.exp(-x * x)


def normal_two_sided_p_sql(expr: str) -> str:
    """SQL twin of ``normal_two_sided_p`` — identical constants and
    left-associated evaluation order."""
    x = f"(abs({expr}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    return (
        f"((0.254829592 * {t} - 0.284496736 * {t} * {t}"
        f" + 1.421413741 * {t} * {t} * {t}"
        f" - 1.453152027 * {t} * {t} * {t} * {t}"
        f" + 1.061405429 * {t} * {t} * {t} * {t} * {t})"
        f" * exp(-{x} * {x}))"
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR correction (Benjamini & Hochberg
    1995) — the MULTIPLE-COMPARISONS layer the per-group test families
    (Welch, Mann-Whitney, Kruskal-Wallis, ANOVA, …) were missing: each
    emits one hypothesis per group with a fixed |z| > 1.96 flag, so a
    user screening 25 segments at α=0.05 expects ~1.25 false positives
    by construction. Input is any frame with one row per hypothesis and
    a p-value column; rows with a NULL p (degenerate test arms) are
    dropped (they are not hypotheses). ``(p_col, *key_cols)`` MUST
    totally order the hypothesis rows (ADVICE r11: key_cols unique per
    row — e.g. the grouping keys of the upstream per-group test);
    non-unique keys would make the rank-tie resolution, and therefore
    both engines' q-values, nondeterministic. Returns the input columns
    plus (rank, q_value, reject): rank orders p ascending (ties broken
    by ``key_cols``), q_value is the monotone step-up adjustment
    min_{j ≥ rank}(m·p_(j)/j) capped at 1 and 6-dp rounded, and reject
    ⇔ UNROUNDED q ≤ α (ADVICE r11: the exact BH largest-k rule — the
    6-dp rounding applies only to the REPORTED q_value, so a true q in
    (α, α+5e-7] can no longer round down into a rejection).

    Scale shape: the frame is HYPOTHESIS-scale (one row per tested
    group — bounded by the grouping's cardinality, not the data), so
    the two unpartitioned windows (rank, suffix-min) run over a
    bounded frame — the corpus's documented bounded-frame window
    convention (top-k outputs, histogram grids); m arrives as a 1-row
    broadcast, never a driver collect. Cite: reference has no
    statistics tier; extends SURVEY §2.11 beside welch_t_test."""
    from pyspark.sql import Window

    d = df.filter(F.col(p_col).isNotNull())
    mm = d.agg(F.count("*").alias("__m"))
    order = [F.col(p_col).asc()] + [F.col(k).asc() for k in key_cols]
    ranked = (
        d.crossJoin(F.broadcast(mm))
        .select(
            "*",
            F.row_number().over(Window.orderBy(*order)).alias("rank"),
        )
    )
    # suffix min of m·p/j from the largest rank down — bounded frame
    wmin = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    qraw = F.min(
        F.col("__m") * F.col(p_col) / F.col("rank")
    ).over(wmin)
    return ranked.select(
        *[c for c in ranked.columns if c != "__m"],
        (F.round(F.least(F.lit(1.0), qraw), 6)).alias("q_value"),
        # reject from the UNROUNDED suffix-min q (ADVICE r11) — the
        # exact BH decision; the REPORTED q_value alone is rounded
        (F.least(F.lit(1.0), qraw) <= F.lit(alpha)).alias("reject"),
    )


def bh_fdr_oracle_sql(
    tests_sql: str,
    p_sql: str,
    key_sql: list[str],
    carry_sql: list[str],
    alpha: float = 0.05,
) -> str:
    """DuckDB replica of ``bh_fdr``: identical NULL-p drop, rank order
    (p, then keys), suffix-min step-up adjustment, cap, 6-dp round.
    ``tests_sql`` yields one row per hypothesis; ``carry_sql`` lists the
    passthrough output columns (must include the keys and p column)."""
    keys = ", ".join(key_sql)
    carry = ", ".join(carry_sql)
    return f"""WITH bht AS ({tests_sql}),
    bhf AS (SELECT * FROM bht WHERE ({p_sql}) IS NOT NULL),
    bhm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bhf),
    bhr AS (
      SELECT bhf.*, bhm.m,
             row_number() OVER (ORDER BY {p_sql} ASC, {keys}) AS rank
      FROM bhf CROSS JOIN bhm)
    SELECT {carry}, rank,
           round(least(1.0, min(m * ({p_sql}) / rank) OVER (
             ORDER BY rank DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
             AS q_value,
           least(1.0, min(m * ({p_sql}) / rank) OVER (
             ORDER BY rank DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             <= {alpha!r} AS reject
    FROM bhr"""
