"""Vector similarity search (SURVEY.md §2.11 ⊕; north-star requirement).

Over an ``array<float>`` embedding column:

- **Brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set, score every corpus vector with a pure-expression dot product
  (``zip_with`` + ``aggregate``), take top-k per query with a window. Scan
  shape: one pass over the corpus, no corpus-side shuffle except the
  per-query top-k (tiny). This is the oracle-checkable path.
- **Sign-LSH (random-hyperplane) bucketed search** — the scale path:
  bucket vectors by the sign pattern of ``nbits`` seeded random
  projections, optionally across ``n_tables`` independent hash tables
  (any-table collision ⇒ candidate), equi-join on (table, bucket), score
  only candidates. The projection coefficients come from a seeded PRNG and
  are rounded to 6 decimals so the *identical literals* can be embedded in
  an ANSI-SQL oracle — recall is a deterministic function of the seed, not
  an un-checkable approximation.
- **Embedding near-dup pairs** — the dedup analog: LSH candidate
  generation + exact cosine verification, mirroring the
  ``minhash_lsh_pairs`` plan shape (bucket self-equi-join → broadcast
  candidates → verify). No driver-side materialization anywhere; the
  legacy BLAS matmul path is kept as an explicit small-corpus option.

All arithmetic in double precision with index-ordered summation so results
are bit-reproducible across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.operators.topk import top_k_per_group
from census_data_pipeline_spark.sources.catalog import (
    ensure_parallelism,
    local_frame,
    local_tail,
    round_persist,
)


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Index-ordered dot product: sum(zip_with(a, b, *))."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _dot_sql(a: str, b: str) -> str:
    """The dot fold as ONE SQL string — building the same tree through
    the Column API costs ~20 py4j round-trips per call (lambdas cross the
    bridge piecewise); measured ~0.3 s of driver time per LSH query.
    Identical semantics to ``dot`` (index-ordered fold, 0.0 seed)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v)"
    )


def _norm_sql(vec: str) -> str:
    c = f"CAST({vec} AS ARRAY<DOUBLE>)"
    return f"SQRT({_dot_sql(c, c)})"


_COS_EXPR_AB = F"round({_dot_sql('__va', '__vb')} / (__na * __nb), 6)"
_COS_EXPR_QC = F"round({_dot_sql('__qvec', '__cvec')} / (__qn * __cn), 6)"


def _cos_precomputed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-VECTOR norms precomputed upstream: every scoring
    path joins O(pairs) rows, so computing norms per pair triples the
    higher-order-function work — hoisting them to the per-vector frames
    keeps pair cost to a single dot. ``sqrt(dot)·sqrt(dot)`` then divide is
    the exact expression ``cosine`` uses, so values stay bit-identical.

    Callers should ALSO pre-cast the vector columns to ``array<double>``
    in the per-vector frames (``_as_double``): the cast inside ``dot`` is
    then a no-op Catalyst removes, whereas a float-array column would be
    re-cast per PAIR — measured 3.7× slower on an 808k-pair verify."""
    return F.round(dot(a, b) / (na * nb), 6)


# ---------------------------------------------------------------------------
# Seeded random-hyperplane hash family
# ---------------------------------------------------------------------------
def random_projections(
    dim: int, nbits: int, n_tables: int = 1, seed: int = 42
) -> list[list[list[float]]]:
    """Deterministic random-hyperplane coefficients:
    ``n_tables × nbits`` unit-less normal vectors of length ``dim``.

    Uses the legacy ``numpy.random.RandomState`` stream (bit-stable across
    platforms/versions by NumPy's compatibility guarantee) and rounds to 6
    decimals so the exact numeric literals round-trip through SQL text —
    the oracle side embeds ``repr(coef)`` and parses back the identical
    double."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        [
            [round(float(c), 6) for c in row]
            for row in rng.standard_normal((nbits, dim))
        ]
        for _ in range(n_tables)
    ]


def random_projection_bucket(
    vec_name: str, projections: list[list[float]], cast: bool = True
) -> Column:
    """LSH bucket id: concatenated sign bits of seeded random projections
    (one hash table's ``nbits × dim`` coefficient matrix).

    Built as one ``F.expr`` per table using SQL higher-order functions
    with a flat ``array(...)`` coefficient literal. Constructions rejected
    by measurement at 32×64 coefficients on sf0.1:

    - per-coefficient ``F.lit`` Column trees (incl. ``F.lit(list)``, which
      desugars to them): ~2.4 s of py4j round-trips per construction —
      more than the query's execution;
    - a flat ``v[0]*c0 + v[1]*c1 + ...`` SQL chain: ~4 s ANTLR parse (the
      deep left-recursive ``+`` climb) and ~10 s interpreted execution
      after codegen bails on the 2048-term method.

    The SQL-lambda fold parses linearly (flat argument list) and compiles
    to the same plan as the Column-API fold: index-ordered summation with
    a ``0.0`` seed, bit-identical to the oracle's ``list_dot_product``.
    Coefficients print as fixed 6-decimal literals — the same decimal
    strings (hence the same doubles) the oracle embeds via ``repr``."""
    vec = f"CAST({vec_name} AS ARRAY<DOUBLE>)" if cast else vec_name
    bits = []
    for row in projections:
        arr = ", ".join(f"{c:.6f}D" for c in row)
        d = (
            f"aggregate(zip_with({vec}, "
            f"array({arr}), (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {d} >= 0.0D THEN '1' ELSE '0' END)")
    return F.expr("concat(" + ", ".join(bits) + ")")


def projection_bucket_sql(vec_expr: str, projections: list[list[float]]) -> str:
    """DuckDB expression computing the *same* bucket id as
    ``random_projection_bucket`` — coefficient literals are ``repr``'d
    (shortest round-trip) so both engines hash with identical doubles."""
    return " || ".join(
        "CASE WHEN list_dot_product({v}, [{c}]) >= 0 THEN '1' ELSE '0' END".format(
            v=vec_expr, c=", ".join(repr(c) for c in row)
        )
        for row in projections
    )


def sign_bucket(vec_col: Column | str, nbits: int = 8) -> Column:
    """Legacy deterministic bucket: sign bits of the first ``nbits``
    dimensions (axis-aligned hyperplanes). Dimension-agnostic but
    vulnerable to correlated leading dimensions — prefer the seeded
    random-projection family for real recall."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.concat(
        *[
            F.when(v[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(nbits)
        ]
    )


def _ranked_topk(scored, k: int):
    """Shared tail for every knn variant: rank scored candidates per query
    (rounded cosine, neighbor-id tiebreak) and project the contract columns.
    One definition keeps the exact baseline and the approximate paths
    emitting identical shapes/rounding."""
    return (
        top_k_per_group(
            scored, ["query_id"], by="cosine_sim", k=k,
            tiebreak=["neighbor_id"], rank_col="rank",
        )
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-matches excluded). Output:
    (query_id, neighbor_id, rank, cosine_sim).

    The query side is broadcast — the corpus is scanned once with no
    shuffle; only (n_queries × k) rows move afterwards."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    scored = (
        ensure_parallelism(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("__cvec"),
                norm(F.col(vec_col)).alias("__cn"),
            )
        )
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            _cos_precomputed(F.col("__qvec"), F.col("__cvec"),
                             F.col("__qn"), F.col("__cn")),
        )
    )
    return _ranked_topk(scored, k)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the ``k`` most-cosine-similar corpus vectors whose LABEL
    DIFFERS from the anchor's — the near-miss examples a contrastive or
    retrieval objective learns the most from (easy negatives are
    random; hard negatives sit just across the decision boundary).
    Output: (query_id, neighbor_id, neighbor_label, rank, cosine_sim).

    Exact baseline, same shape as ``knn_bruteforce``: the anchor side is
    broadcast, the corpus is scanned ONCE with no shuffle, the label
    inequality is part of the join condition (pruned before scoring),
    and only (n_anchors × k) rows move afterwards. For anchor sets too
    large to broadcast, ``hard_negatives_ivf`` restricts candidates with
    the seeded-IVF cell machinery and applies the same label filter —
    identical contract and output columns, bounded candidates, no
    broadcast of the anchor side."""
    a = anchors.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        norm(F.col(vec_col)).alias("__qn"),
        F.col(label_col).alias("__qlabel"),
    )
    scored = (
        ensure_parallelism(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                _as_double(F.col(vec_col)).alias("__cvec"),
                norm(F.col(vec_col)).alias("__cn"),
                F.col(label_col).alias("neighbor_label"),
            )
        )
        .join(
            F.broadcast(a),
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("__qlabel")),
        )
        .withColumn(
            "cosine_sim",
            _cos_precomputed(F.col("__qvec"), F.col("__cvec"),
                             F.col("__qn"), F.col("__cn")),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], by="cosine_sim", k=k,
        tiebreak=["neighbor_id"], rank_col="rank",
    ).select("query_id", "neighbor_id", "neighbor_label", "rank",
             "cosine_sim")


def hard_negatives_ivf(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """``hard_negatives`` for anchor sets BEYOND broadcast size
    (VERDICT r5 #5): both sides are routed through the deterministic
    seeded-IVF coarse quantizer (``_seeded_centroids`` — the same cell
    machinery as ``knn_ivf_seeded``), and candidates come from a plain
    shuffle equi-join on the cell id with the label-inequality predicate
    attached to the join — the anchor frame never broadcasts and no
    pair outside the probed cells is ever materialized.

    Semantics: APPROXIMATE — an anchor only sees corpus vectors in its
    ``n_probes`` nearest cells, so recall vs the exact broadcast form is
    < 1 (recall floor pinned in tests/test_round5_ops.py). With
    ``n_probes == n_centroids`` every (corpus, anchor) pair is probed
    and the output is IDENTICAL to ``hard_negatives`` (also tested) —
    the knob trades recall against candidate volume exactly like the
    knn IVF family.

    Scale shape: corpus assignment is one broadcast-centroid argmin +
    one id join (corpus shuffles once); anchor assignment the same on
    the anchor frame; the candidate join shuffles both sides by cell
    (n_centroids keys — size n_centroids ≳ shuffle parallelism, or
    salt cells, for very large runs); per-anchor top-k bounds the
    output to n_anchors × k rows."""
    cent = _seeded_centroids(corpus, n_centroids, id_col, vec_col)

    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        F.col(label_col).alias("neighbor_label"),
    ).withColumn("__nv2", dot(F.col("__cvec"), F.col("__cvec")))
    dist2 = (
        F.col("__nv2")
        - F.lit(2.0) * dot(F.col("__cvec"), F.col("__cv"))
        + F.col("__nc2")
    )
    c = (
        vecs.crossJoin(F.broadcast(cent))
        .select(
            "neighbor_id", dist2.alias("__d2"), "__cell",
        )
        .groupBy("neighbor_id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select("neighbor_id", F.col("__m.__cell").alias("__cell"))
        .join(vecs, "neighbor_id")
        .select(
            "neighbor_id", "__cell", "__cvec", "neighbor_label",
            F.sqrt("__nv2").alias("__cn"),
        )
    )

    avecs = anchors.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    ).withColumn("__nq2", dot(F.col("__qvec"), F.col("__qvec")))
    adist2 = (
        F.col("__nq2")
        - F.lit(2.0) * dot(F.col("__qvec"), F.col("__cv"))
        + F.col("__nc2")
    )
    # per-anchor n_probes nearest cells via min-struct-of-array instead
    # of a window: the anchor side is data-scale here by definition
    probed = (
        avecs.crossJoin(F.broadcast(cent))
        .select(
            "query_id", "__qvec", "__qlabel",
            F.sqrt("__nq2").alias("__qn"),
            adist2.alias("__d2"), "__cell",
        )
        .groupBy("query_id", "__qvec", "__qlabel", "__qn")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("__d2", "__cell"))
                ),
                1, n_probes,
            ).alias("__probes")
        )
        .select(
            "query_id", "__qvec", "__qlabel", "__qn",
            F.explode(F.col("__probes.__cell")).alias("__qcell"),
        )
    )
    scored = (
        c.join(
            probed,
            (F.col("__cell") == F.col("__qcell"))
            & (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("__qlabel")),
        )
        .withColumn(
            "cosine_sim",
            _cos_precomputed(F.col("__qvec"), F.col("__cvec"),
                             F.col("__qn"), F.col("__cn")),
        )
    )
    return top_k_per_group(
        scored, ["query_id"], by="cosine_sim", k=k,
        tiebreak=["neighbor_id"], rank_col="rank",
    ).select("query_id", "neighbor_id", "neighbor_label", "rank",
             "cosine_sim")


# The per-(tbl)-row bucket expression: nbits sign bits of seeded random
# projections, coefficients read from the joined ``__coefs`` DATA column
# (array<array<double>>, one row per hash table). Index-ordered fold with
# a 0.0 seed — bit-identical to the oracle's list_dot_product, and to the
# literal-embedding form (random_projection_bucket). Keeping coefficients
# in data rather than in the expression tree matters enormously for the
# driver: an 8-table × 4-bit × 64-dim literal tree is ~4k expression
# nodes that the SQL parser AND every analyzer pass must walk — measured
# >1 s of driver time per query; this expression is O(1) nodes.
_BUCKET_EXPR = (
    "array_join(transform(__coefs, c -> CASE WHEN "
    "aggregate(zip_with(__v, c, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    " >= 0.0D THEN '1' ELSE '0' END), '')"
)


_COEF_FRAME_CACHE: dict[tuple, DataFrame] = {}


def _coef_frame(spark, nbits: int, n_tables: int, dim: int, seed: int) -> DataFrame:
    """(tbl, __coefs) — one row per hash table, coefficients as plain
    column data (broadcast onto the vector frame; n_tables rows total).

    Memoized per session: a knn call builds the bucket frame for BOTH the
    corpus and query sides, and reusing one DataFrame lets Spark reuse a
    single broadcast exchange instead of shipping (and building)
    the coefficients twice."""
    key = (spark.sparkContext.applicationId, nbits, n_tables, dim, seed)
    if key not in _COEF_FRAME_CACHE:
        if len(_COEF_FRAME_CACHE) > 32 or any(
            k[0] != key[0] for k in _COEF_FRAME_CACHE
        ):
            _COEF_FRAME_CACHE.clear()  # stale sessions or unbounded growth
        projs = random_projections(dim, nbits, n_tables, seed)
        _COEF_FRAME_CACHE[key] = local_frame(
            spark, T.StructType.fromDDL("tbl int, __coefs array<array<double>>"),
            [range(n_tables), projs],
        )
    return _COEF_FRAME_CACHE[key]


def _bucket_frame(
    df: DataFrame, id_col: str, vec_col: str, out_id: str,
    nbits: int, n_tables: int, dim: int | None, seed: int,
) -> DataFrame:
    """(out_id, tbl, bucket) rows — ids only, vectors are NOT carried
    through the candidate join (they are re-fetched once per verified
    candidate, mirroring minhash_lsh_pairs' verify stage). The vector is
    pre-cast to double ONCE; each row cross-joins the broadcast n_tables-row
    coefficient frame (narrow, no shuffle) and computes its bucket string
    from the coefficient DATA column.

    ``dim=None`` selects the legacy single-table axis-aligned sign bucket
    (explicit opt-in; ADVICE r2: raise rather than silently ignoring
    n_tables/seed, since the axis-aligned family has a documented recall
    cliff).

    Null-vector rows (null column or any null element) are DROPPED here
    (ADVICE r3): their bucket expression is NULL, and the coalesce('')
    below would otherwise pool them all into one shared '' bucket in
    every table — quadratic candidates among themselves plus null-cosine
    rows occupying top-k slots. A vector that can't be scored can't be a
    candidate, so dropping it is the only consistent semantics."""
    base = df.select(
        F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias("__v")
    ).filter(
        F.col("__v").isNotNull()
        & ~F.exists("__v", lambda x: x.isNull())
    )
    if dim is None:
        if n_tables > 1:
            raise ValueError(
                "n_tables > 1 requires dim (the random-projection family); "
                "dim=None selects the legacy single-table axis-aligned "
                "bucket, which ignores n_tables and seed"
            )
        return base.select(
            out_id,
            F.lit(0).alias("tbl"),
            sign_bucket("__v", nbits).alias("bucket"),
        )
    coefs = _coef_frame(df.sparkSession, nbits, n_tables, dim, seed)
    # coalesce makes the bucket expression provably non-nullable: the
    # downstream equi-join on (tbl, bucket) infers an isnotnull(bucket)
    # constraint, and on a nullable expression that check is pushed into
    # this join's condition — evaluating the WHOLE nbits-dot fold a second
    # time per row (verified in the physical plan; ~2× bucket CPU). With
    # coalesce the inferred check folds to true and disappears.
    return base.crossJoin(F.broadcast(coefs)).select(
        out_id, "tbl",
        F.coalesce(F.expr(_BUCKET_EXPR), F.lit("")).alias("bucket"),
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first non-null row (one tiny job).
    Buckets assume fixed-width vectors, so any row's size is THE size.

    Memoized on the DataFrame object (VERDICT r4 #6): repeated calls
    against the same frame — e.g. dedup passes + knn over one loaded
    embeddings table, or a query invoked twice — pay the probe job
    once. The cache dies with the DataFrame, so a *different* frame
    (even same-named) re-probes; width is fixed per frame by contract,
    so staleness within a frame's lifetime is impossible."""
    cache = getattr(df, "_cdp_inferred_dims", None)
    if cache is None:
        cache = {}
        df._cdp_inferred_dims = cache
    if vec_col in cache:
        return cache[vec_col]
    row = (
        df.select(F.size(F.col(vec_col)).alias("d"))
        .filter(F.col("d") > 0)
        .first()
    )
    if row is None:
        raise ValueError(f"cannot infer dim: no non-empty vectors in {vec_col!r}")
    cache[vec_col] = row.d
    return row.d


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    dim: int | str | None = "infer",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing an LSH bucket
    with the query in at least one hash table. Same output schema as
    knn_bruteforce; recall < 1 by design (see tests/test_functions_ext.py
    recall floor and SCALING.md).

    Buckets are sign patterns of ``nbits`` seeded random projections per
    table — ``n_tables`` independent tables boost recall multiplicatively
    (candidate iff colliding anywhere). ``dim`` defaults to ``"infer"``
    (read from the first corpus vector, one tiny job) so the DEFAULT call
    gets this family; pass an int to skip the probe job. ``dim=None`` is
    an explicit opt-in to the legacy single-table axis-aligned bucket,
    which has a documented recall cliff on correlated leading dimensions
    (ADVICE r3: it must never be the silent default).

    Scale shape: corpus bucket ids are one narrow scan (could be written
    bucketed-by bucket key); candidates come from an equi-join against the
    broadcast query buckets; vectors are fetched once per distinct
    candidate pair — no cross join, and the corpus never shuffles."""
    if dim == "infer":
        dim = _infer_dim(corpus, vec_col)
    cb = _bucket_frame(
        ensure_parallelism(corpus), id_col, vec_col, "neighbor_id",
        nbits, n_tables, dim, seed,
    )
    qb = _bucket_frame(queries, id_col, vec_col, "query_id",
                       nbits, n_tables, dim, seed)
    candidates = (
        cb.join(F.broadcast(qb), on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cvec = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cvec"),
        F.expr(_norm_sql(vec_col)).alias("__cn"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qvec"),
        F.expr(_norm_sql(vec_col)).alias("__qn"),
    )
    # candidates scale with n_queries × bucket occupancy and can exceed
    # broadcast limits when buckets are coarse — no hint; AQE broadcasts
    # when the candidate set is actually small (ADVICE r2)
    scored = (
        cvec.join(candidates, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cosine_sim", F.expr(_COS_EXPR_QC))
    )
    return _ranked_topk(scored, k)


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    dim: int | str | None = "infer",
    nbits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    blas_max_rows: int = 200_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine_sim) with
    id_a < id_b and cosine >= threshold — the dedup analog of knn search.

    Default ``method='lsh'`` is the 100 TB path, mirroring
    ``minhash_lsh_pairs`` (dedup.py): seeded random-projection sign buckets
    across ``n_tables`` hash tables generate candidate pairs via a
    self-equi-join on (table, bucket); candidates are verified with the
    exact Catalyst cosine. Everything is scan → shuffle-on-compact-key →
    broadcast-verify; no driver-side materialization, and id type/schema
    follow the input column. Recall is governed by (nbits, n_tables) vs
    the threshold's angle — deterministic given the seed, so an oracle can
    replicate the candidate set exactly (``projection_bucket_sql``).

    ``method='exact'`` is the opt-in small-corpus fast path: exact
    all-pairs via a driver-collected, L2-normalized matrix broadcast and a
    per-Arrow-batch BLAS matmul. Guarded: corpora above
    ``blas_max_rows`` raise instead of silently collecting (the measured
    BLAS-vs-LSH crossover table lives in SCALING.md §BLAS — at 64 dims
    the exact path wins below ~10⁵ rows and loses quadratically above)."""
    if method == "exact":
        return _embedding_dup_pairs_blas(
            df, threshold, id_col, vec_col, blas_max_rows
        )
    if method != "lsh":
        raise ValueError(f"method must be 'lsh' or 'exact', got {method!r}")
    if dim == "infer":
        dim = _infer_dim(df, vec_col)

    src = ensure_parallelism(df)
    buckets = _bucket_frame(src, id_col, vec_col, "id", nbits, n_tables, dim, seed)
    x, y = buckets.alias("x"), buckets.alias("y")
    # Dedupe-across-tables and verify-parallelism in ONE shuffle: hash-
    # partition by the pair key, then dropDuplicates reuses that
    # partitioning (no second exchange), and the output keeps
    # defaultParallelism partitions into the verify join. Candidate rows
    # are BYTE-small but CPU-dense downstream (one 64-dim fold per row),
    # so left to AQE's size-based coalesce they'd pack into a handful of
    # partitions and serialize the verify (measured 5 partitions / 4.3 s
    # CPU at sf0.1).
    candidates = (
        x.join(y, on=["tbl", "bucket"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .repartition(
            src.sparkSession.sparkContext.defaultParallelism, "id_a", "id_b"
        )
        .dropDuplicates()
    )
    # pre-cast to double HERE: the verify join re-evaluates its columns
    # per candidate PAIR, so a float vector would be re-cast O(pairs)
    # times (measured 3.7× slower at 808k pairs); per-vector cast is free
    vecs = src.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v"),
        F.expr(_norm_sql(vec_col)).alias("n"),
    )
    a = vecs.withColumnsRenamed({"id": "id_a", "v": "__va", "n": "__na"})
    b = vecs.withColumnsRenamed({"id": "id_b", "v": "__vb", "n": "__nb"})
    # candidates can be LARGE when buckets are coarse relative to the
    # corpus (low thresholds / near-uniform vectors) — no broadcast hint;
    # AQE picks broadcast when the candidate set is actually small
    return (
        a.join(candidates, "id_a")
        .join(b, "id_b")
        .withColumn("cosine_sim", F.expr(_COS_EXPR_AB))
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def _safe_norms(mat):
    """Row L2 norms with zero replaced by 1 — a zero vector stays all-zero
    after division, scores cosine 0 against everything, and is therefore
    deterministically excluded by any threshold > 0. Without the guard,
    0/0 yields NaN rows that silently fail every comparison (the same
    outcome, but via IEEE accident instead of a declared rule, and with a
    RuntimeWarning in the logs) — and it diverges from the LSH path,
    which handles zero norms explicitly."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return norms


def _embedding_dup_pairs_blas(
    df: DataFrame, threshold: float, id_col: str, vec_col: str,
    max_rows: int = 200_000,
) -> DataFrame:
    """Exact all-pairs via driver-collected matrix broadcast + per-batch
    BLAS matmul. O(n²·d) dense arithmetic — per-pair Catalyst expressions
    pay higher-order-function overhead per element (~40x slower measured;
    the per-(n, dim) crossover vs the LSH path is tabulated in
    SCALING.md §BLAS from tools/blas_crossover.py), so this is the one
    place the engine deliberately drops to Arrow+numpy. Output id
    columns keep the input id column's Spark type.

    GUARDED (VERDICT r5 #8): a corpus above ``max_rows`` raises
    ValueError instead of silently collecting onto the driver — above
    the ceiling the O(n²) matmul has already lost to LSH-verify anyway,
    so the right answer is the default method, not a bigger driver."""
    import numpy as np
    import pandas as pd

    n_rows = df.count()
    if n_rows > max_rows:
        raise ValueError(
            f"method='exact' collects the corpus to the driver: {n_rows} "
            f"rows exceeds blas_max_rows={max_rows}. Use method='lsh' "
            "(the scale path) or raise blas_max_rows explicitly if the "
            "driver is provisioned for it."
        )
    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    rows = df.select(id_col, vec_col).collect()
    ids = np.asarray([r[0] for r in rows])
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    mat /= _safe_norms(mat)
    b = spark.sparkContext.broadcast((ids, mat))

    def block(batches):
        bids, bmat = b.value
        # bound the transient score matrix to ~2^25 doubles (256 MB)
        # regardless of corpus size — without this, a large corpus times
        # a large Arrow batch allocates rows×n doubles per task and
        # concurrent tasks OOM the executor
        rows_per_chunk = max(1, (1 << 25) // max(len(bids), 1))
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([list(v) for v in pdf[vec_col]], dtype=np.float64)
            x /= _safe_norms(x)
            xids_all = pdf[id_col].to_numpy()
            for lo in range(0, len(x), rows_per_chunk):
                scores = np.round(x[lo:lo + rows_per_chunk] @ bmat.T, 6)
                xids = xids_all[lo:lo + rows_per_chunk]
                ii, jj = np.nonzero(
                    (scores >= threshold) & (xids[:, None] < bids[None, :])
                )
                yield pd.DataFrame(
                    {
                        "id_a": xids[ii],
                        "id_b": bids[jj],
                        "cosine_sim": scores[ii, jj],
                    }
                )

    # no repartition here: the matmul wants few LARGE Arrow batches —
    # splitting 2k rows across 32 partitions costs a shuffle and per-batch
    # numpy overhead for no parallel win (BLAS saturates a core per block)
    return df.select(id_col, vec_col).mapInPandas(
        block, schema=f"id_a {id_type}, id_b {id_type}, cosine_sim double"
    )


def knn_ivf_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 3,
) -> DataFrame:
    """IVF top-k with a DETERMINISTIC coarse quantizer: the centroids are
    the corpus vectors with the ``n_centroids`` smallest ids (a fixed-seed
    variant of IVF — no learned KMeans state), so the whole index is a
    pure function of the data and an ANSI-SQL oracle can replicate cell
    assignment, probing, and scoring exactly. This is the oracle-checkable
    sibling of ``knn_ivf`` (KMeans quantizer, better-balanced cells, but
    rows-only checkable because MLlib init isn't SQL-expressible).

    Distances use the decomposition ``‖v‖² − 2·v·c + ‖c‖²`` with norms
    hoisted per vector/centroid — one dot per (vector, cell) pair, and an
    expression tree both engines evaluate identically (ties broken by
    cell id). Plan shape: centroid frame broadcast-cross-joined for
    assignment (n×n_centroids narrow rows), argmin per vector, probes per
    query, then the same cell equi-join + exact-cosine scoring as every
    knn variant. Corpus shuffles once (the id join after argmin)."""
    cent = _seeded_centroids(corpus, n_centroids, id_col, vec_col)
    return _ivf_score(corpus, queries, cent, k, id_col, vec_col, n_probes)


def _seeded_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic coarse-quantizer frame (__cell, __cv, __nc2): the
    ``n_centroids`` smallest-id corpus vectors, cell id = rank among the
    seeds. Shared by knn_ivf_seeded and knn_ivfpq_seeded."""
    seeds = (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("__sid"), _as_double(F.col(vec_col)).alias("__cv"))
    )
    # cell id = rank of the seed's id among the seeds, via a triangular
    # count join over the n_centroids-row frame — an unpartitioned
    # row_number window here would log Spark's "No Partition Defined"
    # warning on every run (constant partition keys get folded away by
    # EliminateWindowPartitions), and keeping logs warning-free is what
    # lets a real data-scale unpartitioned window stand out.
    s1, s2 = seeds.alias("s1"), seeds.alias("s2")
    return (
        s1.join(s2, F.col("s2.__sid") < F.col("s1.__sid"), "left")
        .groupBy(F.col("s1.__sid"), F.col("s1.__cv").alias("__cv"))
        .agg(F.count(F.col("s2.__sid")).cast("int").alias("__cell"))
        .select(
            "__cell", "__cv", dot(F.col("__cv"), F.col("__cv")).alias("__nc2")
        )
    )


def _ivf_score(
    corpus: DataFrame,
    queries: DataFrame,
    cent: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    n_probes: int,
) -> DataFrame:
    """Shared IVF scoring given a (__cell, __cv, __nc2) centroid frame:
    broadcast-crossJoin assignment (argmin over ‖v‖² − 2·v·c + ‖c‖²),
    window-ranked multi-probe on the query side, cell equi-join + exact
    cosine. Used by both the seeded and the KMeans quantizer — keeping
    centroids as broadcast DATA instead of literal expression trees
    (n_centroids × dim literals cost ~1 s of driver analysis per query,
    the r3 _BUCKET_EXPR lesson)."""
    from pyspark.sql import Window

    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    dist2 = F.col("__nv2") - F.lit(2.0) * dot(F.col("__v"), F.col("__cv")) + F.col("__nc2")
    assigned = (
        vecs.crossJoin(F.broadcast(cent))
        .select("id", "__cell", dist2.alias("__d2"))
        .groupBy("id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select("id", F.col("__m.__cell").alias("__cell"))
    )
    c = (
        vecs.join(assigned, "id")
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("__v").alias("__cvec"),
            F.sqrt("__nv2").alias("__cn"),
            "__cell",
        )
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    probe_w = Window.partitionBy("query_id").orderBy("__d2", "__cell")
    q = (
        qvecs.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            F.col("__v").alias("__qvec"),
            F.sqrt("__nv2").alias("__qn"),
            "__cell",
            dist2.alias("__d2"),
        )
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= n_probes)
        .select("query_id", "__qvec", "__qn", "__cell")
    )
    scored = (
        c.join(F.broadcast(q), on="__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            _cos_precomputed(F.col("__qvec"), F.col("__cvec"),
                             F.col("__qn"), F.col("__cn")),
        )
    )
    return _ranked_topk(scored, k)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: int = 1,
    max_iter: int = 10,
    tol: float = 1e-3,
) -> DataFrame:
    """IVF-style approximate top-k: learn coarse centroids with KMeans
    (pyspark.ml), assign every corpus vector to its nearest centroid, and
    score each query against its ``n_probes`` nearest cells — the
    learned-partition upgrade of the random-projection ``knn_lsh`` (same
    equi-join shape, better-balanced cells). Multi-probe is the recall
    lever: the corpus-side layout never changes, queries just explode
    into P (query, cell) rows, and since every corpus vector lives in
    exactly ONE cell each (query, neighbor) pair meets at most once — no
    dedup stage.

    ``max_iter=10, tol=1e-3`` (r4): every Lloyd iteration is a Spark job,
    and a COARSE quantizer doesn't need convergence to the last
    millimeter — measured fit 2.4-4.9 s (defaults) -> 1.6-1.8 s with
    recall@10 flat-to-better (0.55-0.70 vs 0.49-0.68 across
    sf0.001/0.01/0.1; k-means|| init retained, random init costs ~0.1
    recall)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    featurized = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    ).persist()
    try:
        # persisted for the fit: every k-means|| init step and Lloyd
        # iteration is a job over this frame — unpersisted, each one
        # re-runs the scan + vector conversion (~0.8 s at sf0.1)
        model = KMeans(
            k=n_centroids, seed=42, featuresCol="features",
            maxIter=max_iter, tol=tol,
        ).fit(featurized)
    finally:
        featurized.unpersist()
    # learned centers become a broadcast DATA frame feeding the same
    # scoring path as the seeded quantizer (r4): no second MLlib
    # transform pass over the corpus, and no n_centroids×dim literal
    # probe trees in the plan (the r3 driver-tax lesson)
    centers = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    cent = local_frame(
        corpus.sparkSession, T.StructType.fromDDL("__cell int, __cv array<double>"),
        [range(len(centers)), centers],
    ).select("__cell", "__cv", dot(F.col("__cv"), F.col("__cv")).alias("__nc2"))
    return _ivf_score(corpus, queries, cent, k, id_col, vec_col, n_probes)


def _pq_parts(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    n_codes: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery: (enc_wide, adc_wide).

    ``enc_wide``: one row per corpus vector, ``id`` + m code ints
    (argmin L2² per subspace against the smallest-id seeded codebook,
    ties by code). ``adc_wide``: one row per query, ``query_id`` + m
    code-ordered arrays of precomputed subspace distances — the ADC
    tables, built to be broadcast."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub = dim // m

    seeds = (
        corpus.orderBy(id_col)
        .limit(n_codes)
        .select(F.col(id_col).alias("__sid"),
                _as_double(F.col(vec_col)).alias("__cv"))
    )
    # code id = rank among seeds via the triangular count join (same
    # warning-free formulation as knn_ivf_seeded)
    s1, s2 = seeds.alias("s1"), seeds.alias("s2")
    codes = (
        s1.join(s2, F.col("s2.__sid") < F.col("s1.__sid"), "left")
        .groupBy(F.col("s1.__sid"), F.col("s1.__cv").alias("__cv"))
        .agg(F.count(F.col("s2.__sid")).cast("int").alias("__code"))
    )

    def _explode_sub(df, idc, vc):
        """(id, __s, __vs, __nvs2): per-subspace slices, narrow fan-out."""
        subs = F.array(*[
            F.struct(
                F.lit(s).alias("__s"),
                F.slice(_as_double(F.col(vc)), s * sub + 1, sub).alias("__vs"),
            )
            for s in range(m)
        ])
        return (
            df.select(F.col(idc).alias("id"), F.inline(subs))
            .withColumn("__nvs2", dot(F.col("__vs"), F.col("__vs")))
        )

    cb = (
        codes.select(F.col("__code"), F.inline(F.array(*[
            F.struct(
                F.lit(s).alias("__s"),
                F.slice(F.col("__cv"), s * sub + 1, sub).alias("__cvs"),
            )
            for s in range(m)
        ])))
        .withColumn("__nc2", dot(F.col("__cvs"), F.col("__cvs")))
    )

    pd2 = (
        F.col("__nvs2")
        - F.lit(2.0) * dot(F.col("__vs"), F.col("__cvs"))
        + F.col("__nc2")
    )

    corpus_sub = _explode_sub(ensure_parallelism(corpus), id_col, vec_col)
    enc = (
        corpus_sub.join(F.broadcast(cb), "__s")
        .select("id", "__s", pd2.alias("__d2"), "__code")
        .groupBy("id", "__s")
        .agg(F.min(F.struct("__d2", "__code")).alias("__min"))
        .select("id", "__s", F.col("__min.__code").alias("__code"))
    )
    enc_wide = enc.groupBy("id").agg(*[
        F.max(F.when(F.col("__s") == s, F.col("__code"))).alias(f"__c{s}")
        for s in range(m)
    ])

    q_sub = _explode_sub(queries, id_col, vec_col)
    adc = (
        q_sub.join(F.broadcast(cb), "__s")
        .select(F.col("id").alias("query_id"), "__s", "__code",
                pd2.alias("__pd2"))
    )
    # per-query distance TABLES as arrays (one column per subspace,
    # code-ordered), so the compressed scan is ONE broadcast join plus m
    # element_at lookups per pair — not m chained hash joins, whose 10×
    # intermediate materialization cost is what the ADC trick exists to
    # avoid (measured 10.3 s -> 2.9 s at sf0.1 switching forms)
    adc_wide = (
        adc.groupBy("query_id", "__s")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__code", "__pd2"))),
                lambda e: e["__pd2"],
            ).alias("__tbl")
        )
        .groupBy("query_id")
        .agg(*[
            F.max(F.when(F.col("__s") == s, F.col("__tbl"))).alias(f"__p{s}")
            for s in range(m)
        ])
    )
    return enc_wide, adc_wide


def _adc_rank(
    pairs: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared ADC ranking tail: fixed-order m-term lookup sum, top-cut by
    approximate distance (ties by neighbor id), exact cosine on the
    survivors, optional exact re-rank to the final top-k."""
    from pyspark.sql import Window

    approx = F.element_at(F.col("__p0"), F.col("__c0") + 1)
    for s in range(1, m):
        approx = approx + F.element_at(
            F.col(f"__p{s}"), F.col(f"__c{s}") + 1
        )
    cut = rerank if rerank is not None else k
    ranked = (
        pairs.filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"),
                approx.alias("__ad2"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("__ad2", "neighbor_id")
            ),
        )
        .filter(F.col("rank") <= cut)
    )
    # exact cosine only for the cut·|Q| ADC survivors
    cvec = corpus.select(F.col(id_col).alias("neighbor_id"),
                         _as_double(F.col(vec_col)).alias("__cvec"))
    qvec = queries.select(F.col(id_col).alias("query_id"),
                          _as_double(F.col(vec_col)).alias("__qvec"))
    scored = (
        ranked.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn(
            "cosine_sim",
            F.round(
                dot(F.col("__qvec"), F.col("__cvec"))
                / (norm(F.col("__qvec")) * norm(F.col("__cvec"))), 6,
            ),
        )
    )
    if rerank is None:
        return scored.select(
            "query_id", "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("__ad2", 6).alias("approx_d2"), "cosine_sim",
        )
    return (
        scored.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.col("cosine_sim").desc(), "neighbor_id")
            ),
        )
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("long").alias("rank"), "cosine_sim",
        )
    )


def knn_pq_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = 100,
) -> DataFrame:
    """Product-quantization top-k (asymmetric distance computation) with a
    DETERMINISTIC codebook — the compressed-domain member of the knn
    family (brute-force / sign-LSH / IVF / PQ / IVF-PQ).

    The vector space is split into ``m`` contiguous subspaces of
    ``dim // m`` dims. The per-subspace codebook is the corresponding
    subvectors of the ``n_codes`` smallest-id corpus vectors (the same
    seeding rule as ``knn_ivf_seeded``), so the entire index — codes,
    distance tables, ranking — is a pure function of the data and an
    ANSI-SQL oracle replicates it bit-for-bit. Each corpus vector is
    encoded as ``m`` small ints (argmin L2² per subspace, ties by code);
    a query's distance to a vector is the fixed-order sum of ``m``
    precomputed (subspace, code) table entries — the classic ADC scan:
    O(m) lookups per pair instead of an O(dim) dot product, an 8-32×
    bandwidth cut that is the point of PQ at 100 TB (Jégou et al., PAMI
    2011). With ``rerank=C`` (the standard PQ pipeline) the ADC scan
    prefilters to the C best candidates per query (ties by neighbor id)
    and only those C·|Q| pairs get an exact cosine, which then ranks the
    final top-k — measured recall@10 0.71 at m=8 / 16 codes / C=100 on
    the near-uniform test lake vs 0.16 ranking by ADC alone (there the
    quantization error is the same order as the neighbor gap; re-rank is
    what turns the compressed scan into a usable index). ``rerank=None``
    ranks purely by approximate distance and additionally emits
    ``approx_d2``.

    Plan shape at scale: the codebook (m·n_codes rows) broadcasts;
    encoding is one narrow crossJoin + partial-agg argmin over the corpus
    (map-side combine, single shuffle on id); the per-query distance
    tables (|Q| rows × m code-ordered double arrays) broadcast in ONE
    crossJoin over the encoded (id, m ints) frame, and each pair's
    distance is m ``element_at`` lookups — the corpus never shuffles
    again and only code ints cross the wire. For corpora too big even
    for the full compressed scan, ``knn_ivfpq_seeded`` restricts the
    scan to probed IVF cells first.

    All distances use ``‖v‖² − 2·v·c + ‖c‖²`` with fold-based dots and a
    left-associated final sum so Spark and the DuckDB oracle agree on
    every bit (the established parity discipline of this module).
    """
    enc_wide, adc_wide = _pq_parts(
        corpus, queries, m, n_codes, dim, id_col, vec_col
    )
    pairs = enc_wide.crossJoin(F.broadcast(adc_wide))
    return _adc_rank(pairs, corpus, queries, m, k, rerank, id_col, vec_col)


def knn_ivfpq_seeded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 3,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int | None = 50,
) -> DataFrame:
    """IVF-PQ: the FAISS-style composition and the scale architecture of
    this module's ANN family — coarse seeded-IVF cells RESTRICT the
    candidate set (each query probes its ``n_probes`` nearest cells),
    the PQ-ADC compressed scan RANKS the candidates with m int lookups
    per pair, and an exact-cosine re-rank of the top ``rerank`` finishes.
    Both quantizers use the deterministic smallest-id seeding, so the
    whole three-stage index is SQL-replicable (unlike learned FAISS
    state). This is IVFADC without residual encoding — codes are built
    on raw vectors, which costs some ADC precision but keeps the corpus
    layout cell-agnostic (one global codebook, cells re-assignable
    without re-encoding).

    Plan shape at scale: corpus-side layout = (cell, m codes) per vector
    — built with ONE shuffle each for assignment and encoding, then the
    per-query work is an equi-join on probed cells (shuffle bounded by
    candidates, ~n_probes/n_centroids of the corpus) + broadcast ADC
    lookups + the tiny re-rank join. Against 100 TB of vectors this is
    the only family member whose per-query cost does not touch the whole
    corpus even in compressed form."""
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    cent = _seeded_centroids(corpus, n_centroids, id_col, vec_col)
    dist2 = (
        F.col("__nv2")
        - F.lit(2.0) * dot(F.col("__v"), F.col("__cv"))
        + F.col("__nc2")
    )
    assigned = (
        vecs.crossJoin(F.broadcast(cent))
        .select("id", "__cell", dist2.alias("__d2"))
        .groupBy("id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select("id", F.col("__m.__cell").alias("__cell"))
    )
    from pyspark.sql import Window

    qvecs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    probe_w = Window.partitionBy("query_id").orderBy("__d2", "__cell")
    probes = (
        qvecs.crossJoin(F.broadcast(cent))
        .select("query_id", "__cell", dist2.alias("__d2"))
        .withColumn("__rn", F.row_number().over(probe_w))
        .filter(F.col("__rn") <= n_probes)
        .select("query_id", "__cell")
    )
    enc_wide, adc_wide = _pq_parts(
        corpus, queries, m, n_codes, dim, id_col, vec_col
    )
    cand = assigned.join(F.broadcast(probes), "__cell").select(
        "query_id", "id"
    )
    pairs = cand.join(enc_wide, "id").join(F.broadcast(adc_wide), "query_id")
    return _adc_rank(pairs, corpus, queries, m, k, rerank, id_col, vec_col)


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup-style)
# ---------------------------------------------------------------------------
def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.3,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a coarse quantizer, then
    WITHIN each cluster drop every vector that has a lower-id neighbor
    with cosine >= ``threshold`` — one canonical representative survives
    per semantic-duplicate group, and cross-cluster duplicates are missed
    by construction (that is the method's documented approximation; the
    paper's k-means plays the same role this quantizer does).

    Deterministic end to end: the quantizer is the seeded smallest-id
    centroid frame shared with ``knn_ivf_seeded`` (no learned state), so
    an ANSI-SQL oracle replicates assignment, pairing and the keep
    decision exactly.

    Returns (id, cell, kept): every corpus id, its cluster, and whether
    it survives.

    100 TB shape: assignment is a broadcast crossJoin over ``n_centroids``
    rows + argmin (narrow); the within-cell pair generation is a
    self-equi-join ON the cell key — one shuffle, candidate volume
    O(Σ cell²). ``n_centroids`` is the scale knob: size it ~n/1k so cells
    stay small (SemDeDup uses ~100k clusters for web corpora); the skew
    story matches the LSH hot-bucket note in SCALING.md."""
    if n_centroids < 1:
        raise ValueError("n_centroids must be >= 1")
    cent = _seeded_centroids(corpus, n_centroids, id_col, vec_col)
    vecs = ensure_parallelism(corpus).select(
        F.col(id_col).alias("id"),
        _as_double(F.col(vec_col)).alias("__v"),
    ).withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    dist2 = (
        F.col("__nv2") - F.lit(2.0) * dot(F.col("__v"), F.col("__cv"))
        + F.col("__nc2")
    )
    # lineage cut + persist (r14): the crossJoin+argmin feeds BOTH
    # self-join sides and the final keep frame — uncut (or cut but
    # unpersisted) it executes three times
    assigned = round_persist(
        vecs.crossJoin(F.broadcast(cent))
        .select("id", "__cell", dist2.alias("__d2"))
        .groupBy("id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select("id", F.col("__m.__cell").alias("cell"))
    )
    cellv = round_persist(vecs.join(assigned, "id").select(
        "id", "cell", "__v", F.sqrt("__nv2").alias("__n")
    ))
    a = cellv.select(
        F.col("id").alias("id_a"), F.col("cell").alias("__ca"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = cellv.select(
        F.col("id").alias("id_b"), F.col("cell").alias("__cb"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    losers = (
        a.join(b, (F.col("__ca") == F.col("__cb"))
               & (F.col("id_a") < F.col("id_b")))
        .filter(F.expr(_COS_EXPR_AB) >= threshold)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assigned.join(losers.withColumn("__drop", F.lit(True)), "id", "left")
        .select(
            "id", "cell",
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def classify_nearest_centroid(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification over an embedding
    column: fit per-class mean vectors, assign every vector to the
    class whose centroid it is most cosine-similar to, and report
    correctness against the true label — the cheap strong baseline for
    label auditing ("which examples sit in another class's region?")
    and weak-label bootstrapping.

    Determinism discipline: centroid components are rounded to 6
    decimals BEFORE scoring, and the score is the index-ordered dot
    fold — so an oracle that builds the same rounded centroid list
    reproduces every cosine bit-for-bit (same reason all similarity
    paths here fold index-ordered). Ties broken by smallest label.

    Scale: centroid fit is one posexplode + groupBy((label, pos)) —
    word-count shape; the centroid frame is (n_classes × dim) tiny and
    broadcasts; scoring is a single corpus scan with an argmax over the
    broadcast side (groupBy-min on a (−cos, label) struct — no sort
    window). The only wide exchange is that per-id argmax."""
    base = ensure_parallelism(df).select(
        F.col(id_col),
        F.col(label_col).alias("__true"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    cent = (
        base.select(
            "__true", F.posexplode("__v").alias("__pos", "__x")
        )
        .groupBy("__true", "__pos")
        .agg(F.round(F.avg("__x"), 6).alias("__cv"))
        .groupBy(F.col("__true").alias("__cl"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__pos", "__cv"))
            ).alias("__pairs")
        )
        .select(
            "__cl",
            F.transform(F.col("__pairs"), lambda p: p["__cv"]).alias("__c"),
        )
        .withColumn("__cn", F.sqrt(dot(F.col("__c"), F.col("__c"))))
    )
    scored = (
        base.withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
        .crossJoin(F.broadcast(cent))
        .withColumn(
            "__cos",
            _cos_precomputed(F.col("__v"), F.col("__c"),
                             F.col("__n"), F.col("__cn")),
        )
    )
    return (
        scored.groupBy(id_col, F.col("__true").alias("true_label"))
        .agg(
            F.min(
                F.struct((-F.col("__cos")).alias("__neg"),
                         F.col("__cl").alias("__cl"))
            ).alias("__m")
        )
        .select(
            id_col,
            "true_label",
            F.col("__m.__cl").alias("pred_label"),
            # + 0.0 normalizes the negated-negation's -0.0 back to 0.0
            # (a -0.0 would survive Python == but not a value hash)
            (-F.col("__m.__neg") + F.lit(0.0)).alias("cosine"),
            (F.col("true_label") == F.col("__m.__cl")).alias("correct"),
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd K-Means as DataFrame ops — clustering TRAINED
    inside the engine, with every step SQL-replicable (the learned-state
    gap that keeps MLlib KMeans rows-only checkable is closed by
    construction): seeded init (the ``k`` smallest-id vectors, the
    engine's seeded-quantizer discipline), then ``iterations`` rounds of
    [argmin assignment, per-cell element-wise mean update]. Returns the
    final assignments (id, cell, dist2).

    Engine parity: centroids are ROUNDED to 6 dp between rounds, so
    both engines re-derive identical cluster boundaries from identical
    inputs; distances use the hoisted ‖v‖² − 2·v·c + ‖c‖² decomposition
    with ties to the lowest cell (the IVF disciplines). A cell that
    loses all members simply drops out of the centroid frame (standard
    Lloyd empty-cell behavior, identical in the oracle's GROUP BY).

    Scale shape per round: one broadcast-crossJoin assignment
    (n×k narrow rows, argmin via min-struct — no window), one
    posexplode to (cell, dim, value) and a (cell, dim)-keyed mean —
    the distributed-mean shuffle is n·dim NARROW rows, never a
    whole-vector collect_list — then an array rebuild over k·dim rows.
    ``localCheckpoint`` cuts lineage between rounds (the iterative
    discipline)."""
    vecs, cent = _lloyd_train(df, k, iterations, id_col, vec_col)
    dist2 = _lloyd_dist2()
    return (
        vecs.crossJoin(F.broadcast(cent))
        .select("id", "__cell", dist2.alias("__d2"))
        .groupBy("id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select(
            "id",
            F.col("__m.__cell").alias("cell"),
            F.round(F.col("__m.__d2"), 6).alias("dist2"),
        )
    )


def _lloyd_dist2() -> Column:
    return (
        F.col("__nv2")
        - F.lit(2.0) * dot(F.col("__v"), F.col("__cv"))
        + F.col("__nc2")
    )


def _lloyd_train(
    df: DataFrame, k: int, iterations: int, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared Lloyd loop: returns (vecs, trained centroid frame) so the
    assignment query and the silhouette evaluation reuse one training
    path. See ``kmeans_lloyd`` for the parity/scale contract."""
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    # lazy persist (r14): every Lloyd round scans vecs twice (argmin
    # assignment + the posexplode mean) and the caller scans it again —
    # a bare lazy checkpoint re-ran the source projection per scan
    vecs = round_persist(
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .withColumn("__nv2", dot(F.col("__v"), F.col("__v")))
    )
    cent = _seeded_centroids(df, k, id_col, vec_col)
    dist2 = _lloyd_dist2()

    for _ in range(iterations):
        assigned = (
            vecs.crossJoin(F.broadcast(cent))
            .select("id", "__cell", dist2.alias("__d2"))
            .groupBy("id")
            .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
            .select("id", F.col("__m.__cell").alias("__cell"))
        )
        cent = (
            vecs.join(assigned, "id")
            .select("__cell", F.posexplode("__v").alias("__i", "__x"))
            .groupBy("__cell", "__i")
            .agg(F.round(F.avg("__x"), 6).alias("__m"))
            .groupBy("__cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("__i", "__m"))
                ).alias("__s")
            )
            .select(
                "__cell",
                F.transform("__s", lambda s: s["__m"]).alias("__cv"),
            )
            .withColumn("__nc2", dot(F.col("__cv"), F.col("__cv")))
            .localCheckpoint(eager=True)
        )
    return vecs, cent


def silhouette_simplified(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Simplified silhouette per cluster — the clustering-quality metric
    that pairs with ``kmeans_lloyd``: for each vector, a = euclidean
    distance to its OWN centroid, b = distance to the nearest OTHER
    centroid, s = (b − a)/max(a, b) ∈ [−1, 1] (the centroid-based
    simplification of Rousseeuw's silhouette — O(n·k) instead of the
    O(n²) pairwise form, the only version that survives 100 TB).
    Returns one row per populated cell: (cell, n, mean_silhouette).

    Distances clamp d² at 0 before the sqrt (the hoisted decomposition
    can go −1e−16 in FP); a degenerate max(a,b)=0 scores 0. Same
    rounding/tie disciplines as the trainer, so the oracle replicates
    the whole pipeline value-for-value."""
    vecs, cent = _lloyd_train(df, k, iterations, id_col, vec_col)
    # bare lazy checkpoint (r14: the round_persist variant was probed
    # paired and REGRESSED cluster_silhouette 2.8→3.5 s — d is a cheap
    # derivation of the already-cached vecs, so caching its |vecs|-row
    # expansion cost more than recomputing it per consumer)
    d = (
        vecs.crossJoin(F.broadcast(cent))
        .select(
            "id", "__cell",
            F.greatest(_lloyd_dist2(), F.lit(0.0)).alias("__d2"),
        )
        .localCheckpoint(eager=False)
    )
    own = (
        d.groupBy("id")
        .agg(F.min(F.struct("__d2", "__cell")).alias("__m"))
        .select(
            "id",
            F.col("__m.__cell").alias("__own"),
            F.col("__m.__d2").alias("__a2"),
        )
    )
    oth = (
        d.join(own, "id")
        .filter(F.col("__cell") != F.col("__own"))
        .groupBy("id")
        .agg(F.min("__d2").alias("__b2"))
    )
    a, b = F.sqrt("__a2"), F.sqrt("__b2")
    s = F.when(F.greatest(a, b) == 0.0, F.lit(0.0)).otherwise(
        (b - a) / F.greatest(a, b)
    )
    return (
        own.join(oth, "id")
        .select("id", F.col("__own").alias("cell"), F.round(s, 6).alias("__s"))
        .groupBy("cell")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("__s"), 6).alias("mean_silhouette"),
        )
    )


def ranking_metrics(
    approx: DataFrame,
    truth: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Retrieval-quality metrics of an approximate retriever against
    exact ground truth — the evaluation surface behind every ANN
    accuracy contract in this engine, generalized: both inputs carry
    the knn contract columns (query_id, neighbor_id, rank). Per query:
    recall@k = |approx∩truth_topk| / |truth_topk| (the denominator is
    the truth size, so short ground-truth lists at tiny SF don't
    penalize), and rr = 1/rank of the FIRST relevant item in the
    approximate ranking (0 when nothing relevant surfaced — mean this
    column for MRR). Output: (query_id, n_relevant, n_hit, recall_at_k,
    rr).

    One equi-join on (query_id, neighbor_id) between two already-tiny
    top-k frames + a per-query aggregate; a LEFT join from the truth
    side keeps queries the approximate retriever missed entirely."""
    if k < 1:
        raise ValueError("k must be >= 1")
    rel = truth.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id"
    )
    ap = approx.filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", F.col("rank").alias("__ar")
    )
    joined = rel.join(ap, ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_relevant"),
            F.count("__ar").cast("long").alias("n_hit"),
            F.round(F.count("__ar") / F.count("*"), 6).alias("recall_at_k"),
            F.round(
                F.coalesce(F.lit(1.0) / F.min("__ar"), F.lit(0.0)), 6
            ).alias("rr"),
        )
    )


def _pca_moments_arrow(df: DataFrame, vec_col: str, d: int) -> DataFrame:
    """Arrow fast path for the PCA second-moment pass: each input batch
    contributes its d×d partial Gram matrix MᵀM (one BLAS call) plus
    per-dimension sums, flattened to d² rows — the same partial
    aggregation Catalyst's (i,j)-explode runs, but ~d× fewer
    materialized rows (n·d² explode rows never exist) and vectorized
    arithmetic. Addition is associative, so the merged moments equal
    the explode path's up to float summation order — the equivalence
    (after the pipeline's 6-dp rounding) is pinned by a unit test.
    ``__si`` is only meaningful on diagonal rows (the only place the
    pipeline reads it); off-diagonal rows carry 0."""
    import numpy as np
    import pandas as pd

    ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
    ii, jj = ii.ravel().astype("int32"), jj.ravel().astype("int32")

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(
                [np.asarray(x, dtype="float64") for x in pdf["__v"]]
            )
            g = m.T @ m
            si = np.zeros((d, d))
            np.fill_diagonal(si, m.sum(axis=0))
            yield pd.DataFrame(
                {"__i": ii, "__j": jj,
                 "__m2": g.ravel(), "__si": si.ravel()}
            )

    return (
        ensure_parallelism(df)
        .select(_as_double(F.col(vec_col)).alias("__v"))
        # match the Catalyst posexplode path, which silently drops null
        # vectors — without this filter a null row crashes np.stack and
        # the two documented-output-identical moments modes diverge on
        # dirty input (ADVICE r6)
        .filter(F.col("__v").isNotNull())
        .mapInPandas(fn, "__i int, __j int, __m2 double, __si double")
        .groupBy("__i", "__j")
        .agg(F.sum("__m2").alias("__m2"), F.sum("__si").alias("__si"))
    )


def _pca_cov(df: DataFrame, vec_col: str, d: int, moments: str) -> DataFrame:
    """Population covariance of a d-dim vector column as a d²-row frame
    (__i, __j, __c), built from ONE pass over the data: second moments +
    per-dimension sums via the (i,j) explode (``moments='catalyst'``) or
    per-batch BLAS Gram partials (``'arrow'``), then
    cov(i,j) = m2(i,j)/n − mi·mj. Eagerly checkpointed — every power-
    iteration round references it, and the data is never touched again.
    Shared by ``pca_power_dominant`` and ``pca_power_topr``."""
    v = _as_double(F.col(vec_col))
    n_frame = df.agg(F.count("*").alias("__n"))
    if moments == "arrow":
        raw_moments = _pca_moments_arrow(df, vec_col, d)
    else:
        pairs = (
            ensure_parallelism(df)
            .select(F.posexplode(v).alias("__i", "__xi"), v.alias("__v"))
            .select("__i", "__xi",
                    F.posexplode(F.col("__v")).alias("__j", "__xj"))
        )
        raw_moments = (
            pairs.groupBy("__i", "__j")
            .agg(F.sum(F.col("__xi") * F.col("__xj")).alias("__m2"),
                 F.sum("__xi").alias("__si"))
        )
    moments_n = raw_moments.crossJoin(F.broadcast(n_frame))
    means = moments_n.filter(F.col("__i") == F.col("__j")).select(
        F.col("__i").alias("__mi_i"),
        (F.col("__si") / F.col("__n")).alias("__mean"),
    )
    return (
        moments_n.join(
            F.broadcast(means), moments_n["__i"] == means["__mi_i"]
        ).drop("__mi_i")
        .withColumnRenamed("__mean", "__mean_i")
        .join(
            F.broadcast(means.withColumnsRenamed(
                {"__mi_i": "__mj_j", "__mean": "__mean_j"})),
            F.col("__j") == F.col("__mj_j"),
        )
        .select(
            "__i", "__j",
            (F.col("__m2") / F.col("__n")
             - F.col("__mean_i") * F.col("__mean_j")).alias("__c"),
        )
        .localCheckpoint(eager=True)
    )


def _pca_collect_cov(cov: DataFrame, d: int):
    """Collect the d²-cell covariance frame into a dense d×d ndarray.

    The ONLY driver materialization on the PCA path, and its size is
    fixed by the schema (d² doubles — 32 KB at d=64), independent of
    row count: the exact shape MLlib's
    ``RowMatrix.computePrincipalComponents`` ships to the driver via
    ``treeAggregate`` before eigendecomposing, so this is the idiomatic
    Spark split — data-scale Gram in the engine, model-scale
    eigen-iteration on the driver."""
    import numpy as np

    C = np.zeros((d, d))
    for row in cov.collect():
        if row["__c"] is not None:
            C[row["__i"], row["__j"]] = row["__c"]
    return C


def _pca_power_driver(C, r: int, iterations: int):
    """Driver-side sequential power iteration with per-round
    Gram-Schmidt re-orthogonalization against finalized components,
    rounding the iterate to 6 dp at the SAME points the SQL oracle
    rounds, so both engines walk the same trajectory. Rounding is the
    engine-portable floor-based half-up (``operators/forecast._r6``
    rationale); PCA iterates are quotients of data-derived sums and
    never land on exact 6-dp halves — pinned empirically by the oracle
    parity suite. Returns (components, eigenvalues, trace) where
    components[k] is the sign-fixed 6-dp unit loading vector (largest-
    |loading| entry positive, ties to the lowest index — projection is
    sign-invariant, so the flip is applied on output only)."""
    import numpy as np

    d = C.shape[0]
    tr = float(np.trace(C))

    def r6(x):
        return np.floor(x * 1e6 + 0.5) / 1e6

    finals: list = []
    lams: list[float] = []
    for _k in range(r):
        v = np.full(d, float(r6(1.0 / math.sqrt(d))))
        for _ in range(iterations):
            w = C @ v
            for u in finals:
                w = w - (w @ u) * u
            v = r6(w / math.sqrt(float(w @ w)))
        finals.append(v)
        lams.append(float(v @ (C @ v)))
    comps = []
    for v in finals:
        i = int(np.argmax(np.abs(v)))
        comps.append(-v if v[i] < 0 else v)
    return comps, lams, tr


def _round6_portable(x: float) -> float:
    """Scalar engine-portable 6-dp rounding (see forecast._r6)."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def pca_power_dominant(
    df: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 8,
    dim: int | str | None = "infer",
    moments: str = "catalyst",
) -> DataFrame:
    """Dominant principal component of an embedding column by POWER
    ITERATION — dimensionality analytics trained inside the engine with
    every step SQL-replicable (the kmeans_lloyd discipline). Returns one
    row per dimension: (dim_idx, loading, eigenvalue, explained_ratio).

    Steps, identical in the oracle:
    1. second moments + means in ONE pass over (i, j) pair explosions —
       cov(i,j) = m2(i,j)/n − mi·mj (population covariance; no
       mean-centering pass over the data);
    2. ``iterations`` rounds of w = C·v (a join of the d²-row covariance
       frame with the d-row vector frame, groupBy(i) sum) followed by
       normalization, the vector ROUNDED to 6 dp each round so both
       engines walk the same trajectory whether or not it has converged;
    3. deterministic sign: flipped so the largest-|loading| component
       (ties to the smallest index) is positive;
    4. eigenvalue = vᵀCv, explained_ratio = eigenvalue / trace(C).

    Scale shape: the data is touched ONCE (the (i,j) explode shuffles
    n·d² narrow rows into d² partial-aggregated cells — map-side combine
    keeps the exchange at d² keys); the d²-cell covariance — fixed-size,
    independent of n — is then collected and the matvec rounds run as
    driver arithmetic (the MLlib ``RowMatrix`` discipline; see
    ``_pca_collect_cov``). Iterating in-engine instead costs one
    scheduler round-trip per matvec over a 4096-row frame — measured
    3–4× the total wall-clock for zero distribution benefit. Init is
    the uniform unit vector (deterministic, orthogonal-to-nothing).

    ``moments='arrow'`` computes the second-moment pass with per-batch
    BLAS Gram matrices via ``mapInPandas`` instead of the (i,j) explode
    — output-identical after the 6-dp rounding (addition is
    associative; the only difference is float summation order), with
    the n·d² intermediate rows never materialized. The numeric-kernel
    case where Arrow beats whole-stage codegen; everything downstream
    of the d²-row moments frame is shared."""
    if moments not in ("catalyst", "arrow"):
        raise ValueError("moments must be 'catalyst' or 'arrow'")
    if dim == "infer":
        dim = _infer_dim(df, vec_col)
    d = int(dim)
    cov = _pca_cov(df, vec_col, d, moments)
    comps, lams, tr = _pca_power_driver(
        _pca_collect_cov(cov, d), 1, iterations
    )
    v, lam6 = comps[0], _round6_portable(lams[0])
    ratio6 = _round6_portable(lams[0] / tr)
    return local_frame(df.sparkSession, T.StructType.fromDDL(
        "dim_idx long, loading double, eigenvalue double, "
        "explained_ratio double",
    ), [range(d), [float(v[i]) for i in range(d)], [lam6] * d, [ratio6] * d])


def pca_power_oracle_sql(
    table: str = "embeddings",
    vec_expr: str = "embedding::DOUBLE[]",
    dim: int = 64,
    iterations: int = 8,
) -> str:
    """DuckDB replica of ``pca_power_dominant`` — unrolled-CTE power
    iteration over the same covariance, rounding at the same points."""
    d = dim
    ctes = [
        f"x AS MATERIALIZED (SELECT {vec_expr} AS v FROM {table})",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM x)",
        f"idx AS MATERIALIZED (SELECT CAST(i AS INT) AS i FROM range(0, {d}) t(i))",
        # second moments + row sums; DuckDB lists are 1-based.
        # Every CTE is MATERIALIZED: default inlining would duplicate the
        # cov subtree at EVERY reference, and the per-iteration scalar
        # subquery doubles references per round -> 2^iterations copies
        # (measured: the inlined form never finishes at 8 rounds)
        """mom AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                 sum(x.v[a.i + 1] * x.v[b.i + 1]) AS m2,
                 sum(x.v[a.i + 1]) AS si
          FROM x CROSS JOIN idx a CROSS JOIN idx b
          GROUP BY a.i, b.i)""",
        """mu AS MATERIALIZED (SELECT i, si / (SELECT n FROM nn) AS mean_i
          FROM mom WHERE i = j)""",
        """cov AS MATERIALIZED (SELECT m.i, m.j,
                 m.m2 / (SELECT n FROM nn) - a.mean_i * b.mean_i AS c
          FROM mom m JOIN mu a ON a.i = m.i JOIN mu b ON b.i = m.j)""",
        f"v0 AS MATERIALIZED (SELECT i, round(1.0 / sqrt({d}), 6) AS x FROM idx)",
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""w{t} AS MATERIALIZED (SELECT cov.i, sum(cov.c * v{t - 1}.x) AS w
          FROM cov JOIN v{t - 1} ON v{t - 1}.i = cov.j GROUP BY cov.i)"""
        )
        ctes.append(
            f"""v{t} AS MATERIALIZED (SELECT i, round(w / (SELECT sqrt(sum(w * w))
          FROM w{t}), 6) AS x FROM w{t})"""
        )
    vk = f"v{iterations}"
    ctes.append(
        f"""sgn AS (SELECT CASE WHEN (SELECT x FROM {vk}
          ORDER BY abs(x) DESC, i ASC LIMIT 1) < 0
          THEN -1.0 ELSE 1.0 END AS s)"""
    )
    ctes.append(
        f"""lam AS (SELECT sum(cw.w * {vk}.x) AS l FROM
          (SELECT cov.i, sum(cov.c * {vk}.x) AS w
           FROM cov JOIN {vk} ON {vk}.i = cov.j GROUP BY cov.i) cw
          JOIN {vk} ON {vk}.i = cw.i)"""
    )
    ctes.append(
        "tr AS (SELECT sum(c) AS t FROM cov WHERE i = j)"
    )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT CAST({vk}.i AS BIGINT) AS dim_idx,
           round(sgn.s * {vk}.x, 6) AS loading,
           round(lam.l, 6) AS eigenvalue,
           round(lam.l / tr.t, 6) AS explained_ratio
    FROM {vk} CROSS JOIN sgn CROSS JOIN lam CROSS JOIN tr"""
    )


def pca_power_topr(
    df: DataFrame,
    vec_col: str = "embedding",
    r: int = 3,
    iterations: int = 8,
    dim: int | str | None = "infer",
    moments: str = "catalyst",
) -> DataFrame:
    """Top-``r`` principal components by SEQUENTIAL power iteration with
    per-round Gram-Schmidt orthogonalization (VERDICT r6 #5 / r7 #4) —
    the multi-component extension of ``pca_power_dominant``, sharing its
    one-pass covariance and its every-step-SQL-replicable discipline.
    Returns one row per (component, dimension):
    (component 1-based, dim_idx, loading, eigenvalue, explained_ratio).

    Component k runs the same matvec rounds as the dominant path, but
    after each w = C·v the vector is re-orthogonalized against every
    FINALIZED earlier component u_m (w ← w − (wᵀu_m)·u_m) BEFORE
    normalizing and 6-dp rounding. Projecting every round (rather than
    deflating C once) keeps the iterate orthogonal under the rounding
    the oracle replicates — with 6-dp trajectories, one-shot Hotelling
    deflation lets rounding error re-grow a dominant-direction
    component exponentially, while per-round projection removes it
    each step. Eigenvalue_k = v_kᵀ C v_k against the ORIGINAL
    covariance (valid because v_k ⊥ span(v_1..v_{k-1})).

    Scale shape: identical to the dominant path — the data is touched
    once for the d²-cell covariance, which is fixed-size (d² cells,
    independent of n) and collected for driver-side iteration
    (``_pca_collect_cov`` — the MLlib ``RowMatrix`` discipline). The
    r·iterations matvec rounds and (k−1) per-round projections are
    model-scale arithmetic; running them in-engine cost one scheduler
    round-trip per round (24 jobs at r=3 — measured 8.8 s vs 2.4 s for
    the single-component path at sf0.1, pure orchestration overhead
    over 4096-row frames)."""
    if r < 1:
        raise ValueError("r must be >= 1")
    if moments not in ("catalyst", "arrow"):
        raise ValueError("moments must be 'catalyst' or 'arrow'")
    if dim == "infer":
        dim = _infer_dim(df, vec_col)
    d = int(dim)
    if r > d:
        raise ValueError(f"r={r} exceeds dim={d}")
    cov = _pca_cov(df, vec_col, d, moments)
    comps, lams, tr = _pca_power_driver(
        _pca_collect_cov(cov, d), r, iterations
    )
    rows = []
    for k, (v, lam) in enumerate(zip(comps, lams), start=1):
        lam6, ratio6 = _round6_portable(lam), _round6_portable(lam / tr)
        rows.extend(
            (k, i, float(v[i]), lam6, ratio6) for i in range(d)
        )
    return local_frame(df.sparkSession, T.StructType.fromDDL(
        "component long, dim_idx long, loading double, "
        "eigenvalue double, explained_ratio double",
    ), list(zip(*rows)))


def pca_power_topr_oracle_sql(
    table: str = "embeddings",
    vec_expr: str = "embedding::DOUBLE[]",
    dim: int = 64,
    r: int = 3,
    iterations: int = 8,
) -> str:
    """DuckDB replica of ``pca_power_topr`` — unrolled CTEs per
    (component, round), with the identical per-round Gram-Schmidt
    projections and 6-dp rounding points. Every CTE MATERIALIZED (the
    ``pca_power_oracle_sql`` inlining-blowup note)."""
    d = dim
    ctes = [
        f"x AS MATERIALIZED (SELECT {vec_expr} AS v FROM {table})",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM x)",
        f"idx AS MATERIALIZED (SELECT CAST(i AS INT) AS i "
        f"FROM range(0, {d}) t(i))",
        """mom AS MATERIALIZED (SELECT a.i AS i, b.i AS j,
                 sum(x.v[a.i + 1] * x.v[b.i + 1]) AS m2,
                 sum(x.v[a.i + 1]) AS si
          FROM x CROSS JOIN idx a CROSS JOIN idx b
          GROUP BY a.i, b.i)""",
        """mu AS MATERIALIZED (SELECT i, si / (SELECT n FROM nn) AS mean_i
          FROM mom WHERE i = j)""",
        """cov AS MATERIALIZED (SELECT m.i, m.j,
                 m.m2 / (SELECT n FROM nn) - a.mean_i * b.mean_i AS c
          FROM mom m JOIN mu a ON a.i = m.i JOIN mu b ON b.i = m.j)""",
        "tr AS (SELECT sum(c) AS t FROM cov WHERE i = j)",
    ]
    selects = []
    for k in range(1, r + 1):
        ctes.append(
            f"c{k}v0 AS MATERIALIZED (SELECT i, "
            f"round(1.0 / sqrt({d}), 6) AS x FROM idx)"
        )
        for t in range(1, iterations + 1):
            prev = f"c{k}v{t - 1}"
            w = f"c{k}w{t}"
            ctes.append(
                f"""{w}_0 AS MATERIALIZED (SELECT cov.i,
              sum(cov.c * {prev}.x) AS w
          FROM cov JOIN {prev} ON {prev}.i = cov.j GROUP BY cov.i)"""
            )
            for m in range(1, k):
                u = f"c{m}v{iterations}"
                ctes.append(
                    f"""{w}_{m} AS MATERIALIZED (SELECT a.i,
              a.w - (SELECT sum(b.w * {u}.x) FROM {w}_{m - 1} b
                     JOIN {u} ON {u}.i = b.i) * {u}.x AS w
          FROM {w}_{m - 1} a JOIN {u} ON {u}.i = a.i)"""
                )
            wf = f"{w}_{k - 1}"
            ctes.append(
                f"""c{k}v{t} AS MATERIALIZED (SELECT i,
              round(w / (SELECT sqrt(sum(w * w)) FROM {wf}), 6) AS x
          FROM {wf})"""
            )
        vk = f"c{k}v{iterations}"
        ctes.append(
            f"""c{k}sgn AS (SELECT CASE WHEN (SELECT x FROM {vk}
          ORDER BY abs(x) DESC, i ASC LIMIT 1) < 0
          THEN -1.0 ELSE 1.0 END AS s)"""
        )
        ctes.append(
            f"""c{k}lam AS (SELECT sum(cw.w * {vk}.x) AS l FROM
          (SELECT cov.i, sum(cov.c * {vk}.x) AS w
           FROM cov JOIN {vk} ON {vk}.i = cov.j GROUP BY cov.i) cw
          JOIN {vk} ON {vk}.i = cw.i)"""
        )
        selects.append(
            f"""SELECT CAST({k} AS BIGINT) AS component,
           CAST({vk}.i AS BIGINT) AS dim_idx,
           round(c{k}sgn.s * {vk}.x, 6) AS loading,
           round(c{k}lam.l, 6) AS eigenvalue,
           round(c{k}lam.l / tr.t, 6) AS explained_ratio
    FROM {vk} CROSS JOIN c{k}sgn CROSS JOIN c{k}lam CROSS JOIN tr"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    r: int = 2,
    iterations: int = 8,
    dim: int | str | None = "infer",
    moments: str = "catalyst",
) -> DataFrame:
    """The TRANSFORM half of the PCA pair: project every vector onto
    the top-``r`` components from ``pca_power_topr``'s shared solve —
    the dimensionality-reduction step a training pipeline runs before
    cheap downstream similarity / clustering (scores in r dims instead
    of d). Returns long-form (id, component 1-based, score) with the
    dot product rounded to 6 dp (the knn-family parity idiom: both
    engines' fold orders differ only in absorbed ULPs).

    Scale shape: the covariance is the same ONE data pass as training
    (d² cells); the projection is a second data-scale pass of r·d
    codegen multiply-adds per row via ``aggregate(zip_with(...))`` —
    components ride along as broadcast literals, nothing shuffles."""
    if r < 1:
        raise ValueError("r must be >= 1")
    if dim == "infer":
        dim = _infer_dim(df, vec_col)
    d = int(dim)
    if r > d:
        raise ValueError(f"r={r} exceeds dim={d}")
    cov = _pca_cov(df, vec_col, d, moments)
    comps, _lams, _tr = _pca_power_driver(
        _pca_collect_cov(cov, d), r, iterations
    )
    vec = F.col(vec_col).cast("array<double>")
    score_cols = []
    for k, v in enumerate(comps, start=1):
        w = F.array(*[F.lit(float(v[i])) for i in range(d)])
        score_cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(vec, w, lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias(f"__s{k}")
        )
    stack_expr = "stack({}, {})".format(
        r, ", ".join(f"CAST({k} AS BIGINT), __s{k}"
                     for k in range(1, r + 1))
    )
    return (
        df.select(F.col(id_col).alias("id"), *score_cols)
        .select("id", F.expr(stack_expr).alias("component", "score"))
    )


def pca_project_oracle_sql(
    table: str = "embeddings",
    vec_expr: str = "embedding::DOUBLE[]",
    id_sql: str = "vec_id",
    dim: int = 64,
    r: int = 2,
    iterations: int = 8,
) -> str:
    """DuckDB replica of ``pca_project`` — the ``pca_power_topr``
    oracle's component rows collapsed to ordered loading lists, then
    one list_dot_product per (row, component)."""
    inner = pca_power_topr_oracle_sql(table, vec_expr, dim, r, iterations)
    return f"""WITH comp AS MATERIALIZED (
      SELECT component, list(loading ORDER BY dim_idx) AS w
      FROM ({inner}) t GROUP BY component)
    SELECT {id_sql} AS id, comp.component,
           round(list_dot_product({vec_expr}, comp.w), 6) AS score
    FROM {table} CROSS JOIN comp"""


def quantize_sq8(
    emb: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar int8 quantization audit of an embedding column — the
    storage-side member of the ANN tier (PQ compresses for DISTANCE
    arithmetic; SQ8 is the 4× wire/disk format vector stores actually
    persist): per dimension, learn (lo, hi) over the corpus, encode
    q = round((v−lo)/(hi−lo)·255) clamped to [0,255], decode
    v̂ = lo + q·(hi−lo)/255, and report per-dimension reconstruction
    error so a consumer can decide whether 8 bits survive their recall
    target. Returns one row per dimension: (pos, lo, hi, mse,
    max_abs_err, rmse_vs_range) — 6-dp rounded except mse at 12 dp
    (its expected magnitude is step²/12 ≈ 1.3e-6 for a unit-range
    dimension, so 6 dp would erase the signal); a constant dimension
    (hi = lo) encodes to 0 with exactly zero error.

    The theoretical check rides in the interpretation: uniform values
    quantized to 256 levels have mse ≈ step²/12, i.e. rmse_vs_range ≈
    1/(255·√12) ≈ 0.00113 — measured agreement IS the correctness
    signal on this corpus.

    Scale shape: TWO posexplode passes (data-scale × d rows, both
    partial-aggregated straight down to the d-row dimension frame) —
    the (lo, hi) model frame is broadcast back for the error pass;
    nothing driver-side, no window. Cite: reference has no embedding
    tier; extends SURVEY §2.11 beside pq/ivf."""
    d = emb.na.drop(subset=[vec_col]).select(
        F.posexplode(F.col(vec_col)).alias("pos", "__v")
    ).select("pos", F.col("__v").cast("double").alias("__v"))
    rng = d.groupBy("pos").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    scale = F.col("__hi") - F.col("__lo")
    q = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.round((F.col("__v") - F.col("__lo")) / scale * 255.0, 0)
    )
    deq = F.col("__lo") + q * scale / 255.0
    err = F.col("__v") - deq
    out = (
        d.join(F.broadcast(rng), "pos")
        .select("pos", "__lo", "__hi", (err * err).alias("__e2"),
                F.abs(err).alias("__ae"), scale.alias("__sc"))
        .groupBy("pos", "__lo", "__hi", "__sc")
        .agg(
            F.avg("__e2").alias("__mse"),
            F.max("__ae").alias("__mx"),
        )
    )
    return out.select(
        F.col("pos").cast("long").alias("pos"),
        F.round("__lo", 6).alias("lo"),
        F.round("__hi", 6).alias("hi"),
        # 12 dp, not the corpus 6 (ADVICE r10): expected mse for a
        # unit-range dimension is step²/12 ≈ 1.3e-6, so 6 dp kept ~one
        # significant digit of the readout the docstring promises.
        F.round("__mse", 12).alias("mse"),
        F.round("__mx", 6).alias("max_abs_err"),
        F.when(
            F.col("__sc") > 0,
            F.round(F.sqrt(F.col("__mse")) / F.col("__sc"), 6),
        ).otherwise(F.lit(0.0)).alias("rmse_vs_range"),
    )


def quantize_sq8_oracle_sql(
    table: str, vec_sql: str = "embedding"
) -> str:
    """DuckDB replica of ``quantize_sq8`` — identical per-dimension
    range learn, encode/decode, and error aggregation."""
    return f"""WITH sqd AS (
      SELECT CAST(t.i AS BIGINT) - 1 AS pos,
             CAST({vec_sql}[t.i] AS DOUBLE) AS v
      FROM {table},
           unnest(generate_series(1, len({vec_sql}))) AS t(i)
      WHERE ({vec_sql}) IS NOT NULL),
    sqr AS (
      SELECT pos, min(v) AS lo, max(v) AS hi FROM sqd GROUP BY pos),
    sqe AS (
      SELECT d.pos, r.lo, r.hi, r.hi - r.lo AS sc,
             d.v - (r.lo + (CASE WHEN r.hi = r.lo THEN 0.0
                            ELSE round((d.v - r.lo) / (r.hi - r.lo)
                                       * 255.0, 0) END)
                    * (r.hi - r.lo) / 255.0) AS e
      FROM sqd d JOIN sqr r ON r.pos = d.pos),
    sqa AS (
      SELECT pos, lo, hi, sc, avg(e * e) AS mse, max(abs(e)) AS mx
      FROM sqe GROUP BY pos, lo, hi, sc)
    SELECT CAST(pos AS BIGINT) AS pos, round(lo, 6) AS lo,
           round(hi, 6) AS hi, round(mse, 12) AS mse,
           round(mx, 6) AS max_abs_err,
           CASE WHEN sc > 0 THEN round(sqrt(mse) / sc, 6)
                ELSE 0.0 END AS rmse_vs_range
    FROM sqa"""


def sq8_dequantize(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Round-trip an embedding column through the SQ8 code
    (``quantize_sq8``'s encode→decode) and hand back the dequantized
    vectors — the input a recall audit scores: (id, vec_col) with
    every element replaced by lo_d + round((v−lo_d)/(hi_d−lo_d)·255)·
    (hi_d−lo_d)/255. The per-dimension ranges collapse to ONE row of
    (lo[], hi[]) arrays (d-sized model state — the pca_project
    broadcast-literal discipline, built dataflow-side with
    array_sort(collect_list), no driver round trip) and broadcast into
    an index-aware transform; constant dimensions pass through
    exactly.

    Scale shape: one posexplode range pass partial-aggregated to d
    rows → 1 array row, then a map-only transform over the corpus."""
    d = emb.na.drop(subset=[vec_col]).select(
        F.posexplode(F.col(vec_col)).alias("pos", "__v")
    ).select("pos", F.col("__v").cast("double").alias("__v"))
    rng = d.groupBy("pos").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    arrs = rng.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "__lo"))),
            lambda x: x["__lo"],
        ).alias("__los"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "__hi"))),
            lambda x: x["__hi"],
        ).alias("__his"),
    )

    def deq(x, i):
        lo = F.element_at(F.col("__los"), i + 1)
        hi = F.element_at(F.col("__his"), i + 1)
        q = F.when(hi == lo, F.lit(0.0)).otherwise(
            F.round((x.cast("double") - lo) / (hi - lo) * 255.0, 0)
        )
        return lo + q * (hi - lo) / 255.0

    return emb.crossJoin(F.broadcast(arrs)).select(
        F.col(id_col),
        F.transform(F.col(vec_col), deq).alias(vec_col),
    )


def sq8_knn_recall(
    emb: DataFrame,
    query_pred,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall audit of the SQ8 storage code — the question
    ``quantize_sq8``'s per-dimension error table can't answer alone:
    after the 4× round trip, does each query still retrieve the SAME
    neighbors? Exact cosine top-k over the raw corpus (ground truth)
    vs exact top-k over the ``sq8_dequantize``d corpus, scored with
    the engine's standard ``ranking_metrics`` (recall@k + reciprocal
    rank per query, same tie-break on both sides). Returns one row
    per query: (query_id, n_relevant, n_hit, recall_at_k, rr).

    Scale shape: two broadcast-query brute-force scans (the
    knn_bruteforce shape — queries broadcast, corpus scanned once
    each) + one tiny top-k join; the IVF/LSH retrievers are the
    data-scale path, this is their evaluation harness pointed at the
    storage format."""
    truth = knn_bruteforce(emb, emb.filter(query_pred), k=k,
                           id_col=id_col, vec_col=vec_col)
    deq = sq8_dequantize(emb, vec_col=vec_col, id_col=id_col)
    approx = knn_bruteforce(deq, deq.filter(query_pred), k=k,
                            id_col=id_col, vec_col=vec_col)
    return ranking_metrics(approx, truth, k=k)


def truncation_recall(
    emb: DataFrame,
    query_pred,
    dims: tuple = (32, 16),
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncation audit — the dimension-vs-recall
    trade every embedding-storage decision needs beside ``quantize_sq8``'s
    bits-vs-recall: for each prefix length m in ``dims``, truncate every
    vector to its FIRST m components, run the exact cosine top-k on the
    truncated corpus, and score it against the full-dimension ground
    truth with the engine's standard ``ranking_metrics``. Returns one
    row per (dim, query): (dim, query_id, n_relevant, n_hit,
    recall_at_k, rr). A matryoshka-trained model holds recall ≈ 1 at
    m = d/2; independent-component embeddings (this synthetic corpus)
    degrade visibly — the measured number IS the decision input.

    Scale shape: one ground-truth brute-force pass (broadcast queries,
    corpus scanned once — the knn_bruteforce shape) reused across all
    dims via a lazy localCheckpoint, plus one truncated scan per dim;
    the scoring joins touch only (queries × k)-row frames. Cite:
    reference has no embedding tier; extends SURVEY §2.11 beside
    quantize_sq8/sq8_knn_recall."""
    truth = round_persist(knn_bruteforce(
        emb, emb.filter(query_pred), k=k, id_col=id_col, vec_col=vec_col
    ))  # persisted (r14): reused across every dim's scoring join
    out = None
    for m in dims:
        tr = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, int(m)).alias(vec_col),
        )
        got = knn_bruteforce(
            tr, tr.filter(query_pred), k=k, id_col=id_col,
            vec_col=vec_col,
        )
        r = ranking_metrics(got, truth, k=k).select(
            F.lit(int(m)).cast("int").alias("dim"), "*"
        )
        out = r if out is None else out.unionByName(r)
    return out


def _mmr_select(qsim: dict, sims: dict, lam: float, k: int) -> list:
    """The sequential MMR greedy over ONE query's candidate set —
    shared verbatim by the bounded driver fast path and the
    per-query ``applyInPandas`` workers (r13), so the two routes
    cannot diverge: 6-dp floor-half-up score (the louvain ΔQ
    discipline), ties to the smallest candidate id. ``qsim`` maps
    candidate → query similarity; ``sims`` maps (i, j) → pairwise
    similarity (every ordered pair of the query's candidates is
    present by construction). Returns [(rank, pick, qsim, score)]."""
    import math

    one_minus = 1.0 - lam
    sel: list = []
    out: list = []
    rem = set(qsim)
    for r in range(1, k + 1):
        if not rem:
            break
        best = None
        for i in rem:
            ms = max((sims[(i, s)] for s in sel), default=0.0)
            score = math.floor(
                (lam * qsim[i] - one_minus * ms) * 1_000_000.0 + 0.5
            ) / 1_000_000.0
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        _, pick, score = best
        out.append((r, pick, qsim[pick], score))
        sel.append(pick)
        rem.discard(pick)
    return out


def _mmr_rows(pdf, lam: float, k: int) -> list:
    """``_mmr_select`` for every query in ``pdf``, in query order:
    marker rows (``__ib == __ia``) map candidate ``__ia`` to its query
    similarity ``__qsim``, pair rows map (``__ia``, ``__ib``) to
    ``__sim``. Returns [(query_id, rank, vec_id, qsim, mmr_score)]."""
    m = pdf["__ia"] == pdf["__ib"]
    qsim: dict = {}
    sims: dict = {}
    for q, i, s in zip(pdf.loc[m, "query_id"], pdf.loc[m, "__ia"],
                       pdf.loc[m, "__qsim"]):
        qsim.setdefault(q, {})[i] = float(s)
    for q, ia, ib, s in zip(pdf.loc[~m, "query_id"], pdf.loc[~m, "__ia"],
                            pdf.loc[~m, "__ib"], pdf.loc[~m, "__sim"]):
        sims.setdefault(q, {})[(ia, ib)] = float(s)
    return [(q, r, pick, qs, score) for q in sorted(qsim)
            for r, pick, qs, score in _mmr_select(qsim[q], sims.get(q, {}),
                                                   lam, k)]


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 8,
    n_candidates: int = 32,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: str = "bruteforce",
    n_centroids: int = 16,
    n_probes: int = 3,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity-aware selection a RAG retriever runs after
    top-N recall: per query, greedily pick ``k`` of the ``n_candidates``
    nearest vectors maximizing λ·sim(q, d) − (1−λ)·max_{s∈selected}
    sim(d, s), so near-duplicate passages stop crowding the context
    window. Returns (query_id, rank, vec_id, qsim, mmr_score); rank 1
    is pure relevance (no selected set yet — the max term coalesces to
    0.0), later ranks trade relevance against redundancy.

    Determinism & parity: BOTH similarity surfaces are computed in
    Spark with the shared 6-dp-rounded cosine (``_cos_precomputed`` —
    index-ordered dot, so DuckDB's ``list_dot_product`` replays it
    bit-identically), and the greedy score uses the 6-dp
    floor-half-up (the louvain ΔQ discipline) so the selection
    trajectory is engine-portable; ties break to the smallest
    candidate id at every step.

    Scale shape (r13 — VERDICT r12 #2): candidate generation is
    ``knn_bruteforce`` or — ``candidates='ivf_seeded'``, the 100 TB
    path — ``knn_ivf_seeded`` (per-query cost bounded by the probed
    cells, trajectory still SQL-replicable); the
    pairwise-similarity frame is a bounded per-query self-join
    (n_queries × N × (N−1) rows — N is a caller-bounded constant like
    top-k's k) computed distributed. The greedy is sequential only
    WITHIN a query — across queries it is embarrassingly parallel.
    Both routes read one frame of marker and pair rows (Σ N_q² rows,
    N_q ≤ N candidates of query q) and run it through ``_mmr_rows``.
    When ``catalog.local_tail`` admits that frame, ONE bounded driver
    collect runs the greedy for every query and the result comes back
    as one ``catalog.local_frame`` (measured faster at bench scale: no
    Python-worker spin-up); otherwise the selection runs as
    ``groupBy(query_id).applyInPandas`` (each group is one query's
    N_q², so no executor ever holds more than one query's surface).
    The two routes are unit-pinned identical. There is no n_queries
    ceiling — only the route changes."""
    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    if k < 1 or n_candidates < k:
        raise ValueError("need 1 <= k <= n_candidates")
    if candidates == "bruteforce":
        cands = knn_bruteforce(
            corpus, queries, k=n_candidates, id_col=id_col, vec_col=vec_col
        )
    elif candidates == "ivf_seeded":
        # the 100 TB candidate path (r13): per-query cost is bounded by
        # the probed cells instead of the whole corpus; the seeded
        # quantizer keeps the whole trajectory SQL-replicable (the
        # knn_ivf_seeded contract). Swap-in is transparent — the greedy
        # re-ranks whatever candidate surface arrives.
        cands = knn_ivf_seeded(
            corpus, queries, k=n_candidates, n_centroids=n_centroids,
            id_col=id_col, vec_col=vec_col, n_probes=n_probes,
        )
    else:
        raise ValueError(
            f"candidates must be 'bruteforce' or 'ivf_seeded', "
            f"got {candidates!r}"
        )
    cv = corpus.select(
        F.col(id_col).alias("__cid"),
        _as_double(F.col(vec_col)).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    # lazy persist (r14): cf feeds the marker rows AND both sides of
    # the pairwise self-join — a bare lazy checkpoint re-ran the whole
    # candidate pipeline (bruteforce or IVF scoring) once per consumer
    cf = round_persist(
        cands.join(cv, cands["neighbor_id"] == F.col("__cid"))
        .select("query_id", "neighbor_id", "cosine_sim", "__cv", "__cn")
    )
    a = cf.select(F.col("query_id").alias("__qa"),
                  F.col("neighbor_id").alias("__ia"),
                  F.col("__cv").alias("__va"), F.col("__cn").alias("__na"))
    b = cf.select(F.col("query_id").alias("__qb"),
                  F.col("neighbor_id").alias("__ib"),
                  F.col("__cv").alias("__vb"), F.col("__cn").alias("__nb"))
    pair = (
        a.join(b, (F.col("__qa") == F.col("__qb"))
               & (F.col("__ia") != F.col("__ib")))
        .select(
            F.col("__qa").alias("query_id"), "__ia", "__ib",
            _cos_precomputed(F.col("__va"), F.col("__vb"),
                             F.col("__na"), F.col("__nb")).alias("__sim"),
        )
    )
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    qf = cands.schema["query_id"]
    nf = cands.schema["neighbor_id"]
    schema = StructType([
        StructField("query_id", qf.dataType, qf.nullable),
        StructField("rank", LongType(), False),
        StructField("vec_id", nf.dataType, nf.nullable),
        StructField("qsim", DoubleType(), True),
        StructField("mmr_score", DoubleType(), True),
    ])
    # ONE per-query frame for both routes: a marker row per candidate
    # (__ib = __ia, carrying qsim) plus the pairwise rows (__ib != __ia)
    # — Σ N_q² rows. A null marker would make a bigint __ib float64 in
    # pandas, and ids above 2⁵³ would no longer match their pairs.
    cand_rows = cf.select(
        "query_id",
        F.col("neighbor_id").alias("__ia"),
        F.col("neighbor_id").alias("__ib"),
        F.col("cosine_sim").alias("__qsim"),
        F.lit(None).cast("double").alias("__sim"),
    )
    pair_rows = pair.select(
        "query_id", "__ia", "__ib",
        F.lit(None).cast("double").alias("__qsim"), "__sim",
    )
    grouped = cand_rows.unionByName(pair_rows)
    pdf = local_tail(grouped, "query_id")
    if pdf is not None:
        rows = _mmr_rows(pdf, lam, k)
        return local_frame(corpus.sparkSession, schema,
                           [[r[i] for r in rows] for i in range(5)])
    # Distributed greedy (VERDICT r12 #2): grouped by query_id so each
    # Arrow batch holds exactly one query's bounded surface; the greedy
    # stays sequential only inside the group.
    def _mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(_mmr_rows(pdf, lam, k), columns=schema.names)

    return grouped.groupBy("query_id").applyInPandas(_mmr_group, schema)
