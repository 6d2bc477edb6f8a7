"""Deduplication operators (SURVEY.md §2.11 ⊕; north-star requirement).

Four tiers, all shuffle-shaped for 100 TB:

1. **Exact** — hash-groupBy on md5(text): one shuffle on a 16-byte key.
2. **N-gram Jaccard** — shingle-explode + self-equi-join on shingle +
   pair-count / sizes. Exact pairwise Jaccard; cost is bounded by shingle
   co-occurrence, so at scale it runs on an id-sampled or LSH-prefiltered
   candidate set.
3. **MinHash + LSH** — k minhashes (min over md5(seed||shingle)), banded
   into b bands; candidates are pairs sharing a band bucket — the classic
   sub-quadratic near-dup join. Band buckets are an equi-join key, so the
   whole pipeline is scan → explode → shuffle-on-bucket → verify.
4. **SimHash** — 32-bit sign-aggregated token hash; hamming-close docs
   collide on band substrings.

All built from Catalyst expressions (md5/transform/aggregate); no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.functions.text import shingles, tokens
from census_data_pipeline_spark.operators.cleaning import _quote
from census_data_pipeline_spark.sources.catalog import (
    ensure_parallelism,
    local_frame,
    local_tail,
    round_persist,
)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: keeps the minimum id per
    distinct text; ``n_copies`` reports group size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def dedup_rows(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Plain ``dropDuplicates`` passthrough (exact tier on arbitrary keys)."""
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def _pair_ids(a: Column, b: Column) -> tuple[Column, Column]:
    return F.least(a, b), F.greatest(a, b)


def _shingle_intersections(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Shared core of the exact set-overlap family: unordered pairs
    (id_a < id_b) sharing >= 1 word-n-gram shingle, with the
    intersection count and both set sizes. Plan shape: explode distinct
    shingles → self equi-join on shingle → groupBy pair count → two
    size joins — every step a hash shuffle on a compact key.

    The exploded frame is persisted: it feeds the sizes agg and both
    self-join sides (3 downstream scans). Lifetime is caller-scoped —
    Spark's ContextCleaner unpersists the blocks once the derived
    DataFrames are garbage-collected."""
    sh = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(shingles(text_col, n)).alias("shingle"),
    ).persist()
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
        .join(sizes.withColumnsRenamed(
            {"id": "id_a", "n_shingles": "size_a"}), "id_a")
        .join(sizes.withColumnsRenamed(
            {"id": "id_b", "n_shingles": "size_b"}), "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact pairwise Jaccard over word-n-gram shingle sets for all document
    pairs sharing >= 1 shingle. Output: (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold. Plan shape: see
    ``_shingle_intersections``.
    """
    inter = _shingle_intersections(df, id_col, text_col, n)
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Directed n-gram containment C(a -> b) = |A∩B| / |A| for document
    pairs sharing >= 1 shingle: (contained_id, container_id,
    containment) rows where at least ``threshold`` of the contained
    doc's shingles appear in the container. This is the SUBSET detector
    Jaccard structurally misses: a tweet quoted inside an article has
    J ~ |A|/|B| ~ 0 but C(tweet -> article) ~ 1 — the relation a
    curation pipeline needs for quote/excerpt/boilerplate-inclusion
    handling (drop the contained copy, keep the superset).

    Plan shape: the shared ``_shingle_intersections`` pipeline; the
    directed output is derived from the single unordered intersection
    count, so both directions cost ONE join pipeline. Same scale
    guidance as Jaccard: run on LSH candidates or an id-sample for
    all-pairs workloads; shingle co-occurrence bounds the join.
    """
    inter = _shingle_intersections(df, id_col, text_col, n)
    d1 = inter.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("n_common") / F.col("size_a"), 6).alias("containment"),
    )
    d2 = inter.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("n_common") / F.col("size_b"), 6).alias("containment"),
    )
    return d1.union(d2).filter(F.col("containment") >= threshold)


def minhash_signature(text_col: Column | str, num_hashes: int = 8,
                      n: int = 3) -> Column:
    """k-permutation minhash signature as array<string> (column form).

    Hash family: two seeded md5s per shingle (``md5('a|'||s)``,
    ``md5('b|'||s)``), each split into four 8-hex-char words — 8 hash
    functions from 2 digests. Deterministic and reproducible in any engine;
    lexicographic min over fixed-width hex == numeric min over 32-bit
    values. For the relational/scale path use ``minhash_lsh_pairs``."""
    if num_hashes > 8:
        raise ValueError("at most 8 hash functions (2 md5 digests x 4 words)")
    sh = shingles(text_col, n)

    def word_fn(seed: str, off: int):
        # closure factory — default-arg lambdas don't work here: PySpark
        # derives higher-order-function arity from the lambda's parameter
        # count, so `lambda s, seed=seed:` parses as a 2-arg lambda
        return lambda s: F.substring(F.md5(F.concat(F.lit(seed), s)), off, 8)

    out = []
    for i in range(num_hashes):
        seed, off = ("a|", i * 8 + 1) if i < 4 else ("b|", (i - 4) * 8 + 1)
        out.append(F.array_min(F.transform(sh, word_fn(seed, off))))
    return F.array(*out)


def _shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(id, sh): each document's id and its distinct word-n-gram
    shingle array, the exact-Jaccard verification's input."""
    return ensure_parallelism(df).select(
        F.col(_quote(id_col)).alias("id"),
        shingles(F.col(_quote(text_col)), n).alias("sh"),
    )


def _minhash_band_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    band_size: int,
    n: int,
) -> DataFrame:
    """(id, band, bucket) LSH band frame shared by the self-join dedup
    and the cross-corpus form: one shingle explode (md5 computed ONCE
    per (doc, shingle) — 8 hash fns from substrings of 2 digests), one
    groupBy(id) for the whole signature, band buckets inlined
    num_hashes/band_size rows per doc. Built as SQL text: one parse per
    stage instead of a py4j call per Column node."""
    # explode the shingle expression, not an (id, sh) frame's column:
    # over an attribute Catalyst infers a size/isnotnull filter, which
    # runs the shingle regex twice per row and lands under the
    # repartition, so the verification side can no longer reuse it
    sig = ensure_parallelism(df).select(
        F.col(_quote(id_col)).alias("id"),
        F.explode(shingles(F.col(_quote(text_col)), n)).alias("shingle"),
    ).selectExpr(
        "id",
        "md5(concat('a|', shingle)) AS ha",
        "md5(concat('b|', shingle)) AS hb",
    ).groupBy("id").agg(*[
        F.expr(f"min(substring({'ha' if i < 4 else 'hb'}, {i % 4 * 8 + 1}, 8))"
               f" AS m{i}")
        for i in range(num_hashes)
    ])
    bands = ", ".join(
        f"named_struct('band', {bi}, 'bucket', md5(concat_ws('|', "
        + ", ".join(f"m{bi * band_size + r}" for r in range(band_size))
        + ")))"
        for bi in range(num_hashes // band_size)
    )
    return sig.selectExpr("id", f"inline(array({bands}))")


def _cap_buckets(bands: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Hot-bucket guard: keep only the ``bucket_cap`` LOWEST ids per
    (band, bucket) — deterministic, so reruns and the two sides of a
    cross-frame join see the same survivors. The per-bucket sort puts one
    bucket's rows (3 narrow cols) in one task — linear in bucket size,
    vs the quadratic candidate blowup it prevents. ``None`` = no cap."""
    if bucket_cap is None:
        return bands
    rank = F.row_number().over(
        Window.partitionBy("band", "bucket").orderBy("id")
    )
    return (
        bands.withColumn("__rn", rank)
        .filter(F.col("__rn") <= bucket_cap)
        .drop("__rn")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup join: band the signature (b = k/band_size
    bands), bucket-join on (band_idx, band_hash), then verify candidates
    with exact shingle Jaccard. Output (id_a, id_b, jaccard >= threshold).

    Plan shape (built for scale — every stage is a narrow scan or a hash
    shuffle on a compact key):
      1. explode distinct shingles (one pass; md5 computed ONCE per
         (doc, shingle) — 8 hash fns come from substrings of 2 digests),
      2. one groupBy(id) computes the whole signature (8 min-aggs,
         map-side partial),
      3. band buckets ``inline`` num_hashes/band_size rows/doc (4 at
         the defaults); equi-self-join on (band, bucket) plus a distinct
         yields each candidate pair once, id_a < id_b — no all-pairs
         comparison anywhere,
      4. verification joins candidates back to the per-doc shingle ARRAYS
         and takes ``size(array_intersect(...))`` — data moved is
         ∝ candidates + docs, never the exploded shingle set. No
         broadcast hint: candidate volume is O(Σ bucket²) and a forced
         broadcast OOMs the driver on duplicate-heavy corpora; AQE
         broadcasts when the set is actually small.

    Every stage is built from SQL text (``selectExpr``/``F.expr``): one
    parse per stage instead of a py4j call per Column node. The output
    is the one-way pair list; ``dup_clusters`` gates it as is and
    symmetrizes on the driver, so this plan runs once per gate.

    ``bucket_cap``: optional hot-bucket guard. A (band, bucket) with b
    members emits b(b-1)/2 candidates — a million-row exact-duplicate
    cluster (common in web corpora) turns quadratic. With a cap, only the
    ``bucket_cap`` LOWEST ids per bucket generate candidates
    (deterministic), bounding per-bucket work at cap²/2. Near-dup
    (non-identical) docs live in small buckets and are unaffected;
    exact-duplicate mega-clusters should be removed by an exact-dedup
    pre-pass first (the composition ``corpus_clean_pipeline`` uses — see
    SCALING.md "Hot buckets in banded LSH").
    """
    if num_hashes > 8:
        raise ValueError("at most 8 hash functions (2 md5 digests x 4 words)")
    bands = _cap_buckets(
        _minhash_band_frame(df, id_col, text_col, num_hashes, band_size, n),
        bucket_cap,
    )

    candidates = (
        bands.alias("x").join(bands.alias("y"), on=["band", "bucket"])
        .where("x.id < y.id")
        .selectExpr("x.id AS id_a", "y.id AS id_b")
        .distinct()
    )
    arrays = _shingle_arrays(df, id_col, text_col, n)
    n_common = "size(array_intersect(sh_a, sh_b))"
    return (
        arrays.selectExpr("id AS id_a", "sh AS sh_a")
        .join(candidates, "id_a")
        .join(arrays.selectExpr("id AS id_b", "sh AS sh_b"), "id_b")
        .selectExpr("id_a", "id_b", f"round({n_common} / (size(sh_a) + "
                    f"size(sh_b) - {n_common}), 6) AS jaccard")
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_against(
    new_df: DataFrame,
    ref_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
    threshold: float = 0.5,
    bucket_cap: int | None = None,
    new_bucket_cap: int | None = None,
) -> DataFrame:
    """Cross-corpus near-dup flagging — INCREMENTAL curation's core
    join: which documents of a NEW batch are near-duplicates of an
    already-curated REFERENCE corpus (dedupe the fresh crawl against
    the training set you already have, without re-pairing the reference
    against itself). Returns flagged new-side rows
    (id, ref_id, jaccard): each new doc's BEST-matching reference doc
    at ``jaccard >= threshold`` (ties broken by smallest ref id); drop
    them with a left_anti on ``id``.

    Plan shape: both sides run the shared ``_minhash_band_frame`` (one
    shingle pass each), candidates come from the CROSS-frame equi-join
    on (band, bucket) — no self-pairs on either side — and exact
    shingle-Jaccard verification joins the candidate ids back to the
    per-doc shingle arrays, exactly the ``minhash_lsh_pairs`` shapes.
    At scale the reference band frame is write-once (persist it
    alongside the curated corpus) and each incremental batch only pays
    its own signature pass plus the bucket join.

    ``bucket_cap`` (VERDICT r4 #2): hot-bucket guard on the REFERENCE
    side. A (band, bucket) with r reference members and b new-batch
    members emits r×b candidate pairs — a mega-cluster in the curated
    reference (the exact corpus this function targets) colliding with a
    duplicate-heavy crawl batch turns quadratic, the same blowup
    ``minhash_lsh_pairs(bucket_cap=...)`` guards against. With a cap,
    only the ``bucket_cap`` LOWEST ref ids per (band, bucket) generate
    candidates (deterministic), bounding per-bucket work at
    cap×|new bucket| — LINEAR in batch size, which a flag-every-new-doc
    join pays anyway. Flag-recall is preserved: every new doc keeps its
    candidate rows, and in an identical mega-cluster every capped ref
    survivor is a true match (non-identical near-dups live in small
    buckets across all bands and are unaffected).

    The NEW side is deliberately NOT capped by ``bucket_cap``: dropping
    a new-side row from its buckets silently un-flags it — a duplicate
    would pass curation. A duplicate-heavy batch should be self-deduped
    first (exact-hash pre-pass or ``minhash_lsh_pairs(bucket_cap=...)``,
    the standard curation order), after which new-side buckets are
    small. ``new_bucket_cap`` exists as an explicit opt-in for callers
    who accept that recall trade to bound a pathological un-deduped
    batch (SCALING.md "Cross-corpus LSH cap")."""
    if num_hashes > 8:
        raise ValueError("at most 8 hash functions (2 md5 digests x 4 words)")
    nb = _cap_buckets(
        _minhash_band_frame(new_df, id_col, text_col, num_hashes,
                            band_size, n),
        new_bucket_cap,
    )
    rb = _cap_buckets(
        _minhash_band_frame(ref_df, id_col, text_col, num_hashes,
                            band_size, n),
        bucket_cap,
    )
    candidates = (
        nb.join(rb.withColumnsRenamed({"id": "ref_id"}),
                on=["band", "bucket"])
        .select("id", "ref_id")
        .distinct()
    )
    new_arr = _shingle_arrays(new_df, id_col, text_col, n)
    ref_arr = _shingle_arrays(ref_df, id_col, text_col, n).selectExpr(
        "id AS ref_id", "sh AS sh_r")
    return _verify_best_match(candidates, new_arr, ref_arr, threshold)


def _verify_best_match(
    candidates: DataFrame,
    new_arr: DataFrame,
    ref_arr: DataFrame,
    threshold: float,
) -> DataFrame:
    """Shared tail of the cross-corpus flaggers: exact shingle-Jaccard
    verification of (id, ref_id) candidates against the per-doc shingle
    arrays — (id, sh) new-side, (ref_id, sh_r) reference-side — then
    each flagged new doc's best reference match (max jaccard, ties to
    smallest ref id) via a groupBy min-struct — no window."""
    n_common = F.size(F.array_intersect("sh_n", "sh_r"))
    verified = (
        new_arr.withColumnRenamed("sh", "sh_n").join(candidates, "id")
        .join(ref_arr, "ref_id")
        .withColumn(
            "jaccard",
            F.round(
                n_common / (F.size("sh_n") + F.size("sh_r") - n_common), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return (
        verified.groupBy("id")
        .agg(
            F.min(
                F.struct((-F.col("jaccard")).alias("__nj"),
                         F.col("ref_id").alias("__r"))
            ).alias("__m")
        )
        .select(
            "id",
            F.col("__m.__r").alias("ref_id"),
            (-F.col("__m.__nj") + F.lit(0.0)).alias("jaccard"),
        )
    )


def write_dedup_index(
    ref_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Materialize the curated reference corpus's dedup index — the
    WRITE-ONCE asset the cross-corpus docstrings promise: incremental
    curation pays the reference's signature pass once per corpus
    version, and every fresh crawl batch then joins against the stored
    index instead of re-hashing the reference.

    Layout under ``path``:
    - ``bands/``    (band, bucket, id) parquet, PARTITIONED BY band.
      A full probe touches every band by construction (that is what
      banding means), so the partitioning buys file-level LOCALITY
      (each band's bucket join reads one directory) and enables
      pruning only for partial probes (re-probing a single band after
      a parameter sweep, or incremental band-at-a-time maintenance),
    - ``shingles/`` (ref_id, sh_r) parquet — the verification arrays,
    - ``meta/``     1-row (num_hashes, band_size, n) — parameter guard:
      an index probed with different parameters would silently produce
      disjoint buckets, so reads validate against this row.

    ``mode="append"`` grows the index with a newly curated batch (the
    post-dedup kept docs) — meta must match the existing index."""
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    spark = ref_df.sparkSession
    if mode == "append":
        existing = spark.read.parquet(path + "/meta").first()
        got = (existing.num_hashes, existing.band_size, existing.n)
        if got != (num_hashes, band_size, n):
            raise ValueError(
                f"index at {path} was built with (num_hashes, band_size, n)"
                f"={got}, refusing to append with "
                f"{(num_hashes, band_size, n)}"
            )
    bands = _minhash_band_frame(ref_df, id_col, text_col, num_hashes,
                                band_size, n)
    bands.write.partitionBy("band").mode(mode).parquet(path + "/bands")
    arrays = _shingle_arrays(ref_df, id_col, text_col, n)
    arrays.selectExpr("id AS ref_id", "sh AS sh_r").write.mode(mode).parquet(
        path + "/shingles")
    meta = local_frame(
        spark, T.StructType.fromDDL("num_hashes int, band_size int, n int"),
        [[num_hashes], [band_size], [n]],
    )
    meta.write.mode("overwrite").parquet(path + "/meta")


def minhash_dedup_against_index(
    new_df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Incremental cross-corpus dedup against a MATERIALIZED index
    (``write_dedup_index``): identical semantics and output to
    ``minhash_dedup_against(new_df, ref_df, ...)``, but the reference
    side comes from the stored band/shingle parquet — each batch pays
    only its own signature pass plus the bucket join. ``bucket_cap``
    caps the stored reference buckets exactly like the direct form
    (lowest-k ids per (band, bucket); flag-recall preserved)."""
    spark = new_df.sparkSession
    meta = spark.read.parquet(index_path + "/meta").first()
    nb = _minhash_band_frame(new_df, id_col, text_col, meta.num_hashes,
                             meta.band_size, meta.n)
    # cap BEFORE renaming: _cap_buckets ranks by the 'id' column
    rb = _cap_buckets(
        spark.read.parquet(index_path + "/bands"), bucket_cap
    ).withColumnsRenamed({"id": "ref_id"})
    candidates = (
        nb.join(rb, on=["band", "bucket"])
        .select("id", "ref_id")
        .distinct()
    )
    ref_arr = spark.read.parquet(index_path + "/shingles")
    new_arr = _shingle_arrays(new_df, id_col, text_col, meta.n)
    return _verify_best_match(candidates, new_arr, ref_arr, threshold)


def _simhash_from_hashes(hv_col: str) -> Column:
    """SimHash fold over a precomputed array of 32-bit token hashes."""
    terms = " + ".join(
        f"(CASE WHEN aggregate({hv_col}, 0, (acc, v) -> acc + "
        f"(CASE WHEN (shiftright(v, {j}) & 1) = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN cast({1 << j} as bigint) ELSE cast(0 as bigint) END)"
        for j in range(32)
    )
    return F.expr(f"cast({terms} as bigint)")


def simhash_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """32-bit SimHash over whitespace tokens: per bit j, sum +1/-1 weighted
    by whether bit j of md5(token)'s first 32 bits is set; simhash bit j = 1
    if the sum > 0. Hamming-near signatures <=> cosine-similar bags of
    tokens.

    Token hashes are materialized once into an array column, then the
    32 bit-votes fold over that array — md5 is computed tokens×1, not
    tokens×32 (the naive single-expression form is 32x more hashing)."""
    hv = (
        f"transform(split({text_col}, ' '), "
        "x -> cast(conv(substring(md5(x), 1, 8), 16, 10) as bigint))"
    )
    hashed = ensure_parallelism(df).select(F.col(id_col), F.expr(hv).alias("__hv"))
    return hashed.select(
        F.col(id_col), _simhash_from_hashes("__hv").alias("simhash")
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup PAIRS: (id_a, id_b, hamming) for all pairs whose
    32-bit simhashes differ in <= ``max_hamming`` bits.

    Banding the 32-bit space (SCALING.md): split signatures into
    ``n_bands`` contiguous bit bands; by pigeonhole, any pair with
    hamming <= n_bands - 1 agrees on at least one whole band, so with
    ``max_hamming < n_bands`` the band equi-self-join generates ALL
    qualifying pairs — recall is exactly 1, unlike minhash banding.
    Verification is a single ``bit_count(xor)`` per candidate. Plan shape:
    one signature aggregation, explode ×n_bands (8-byte payload), hash
    self-join on (band, band_bits), codegen verify — no all-pairs stage.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            "need max_hamming < n_bands for the pigeonhole recall guarantee"
        )
    if 32 % n_bands:
        raise ValueError("n_bands must divide 32")
    width = 32 // n_bands
    mask = (1 << width) - 1
    sig = simhash_table(df, id_col, text_col)
    bands = sig.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"),
             F.col("bb.bits").alias("bits"))
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(y, on=["band", "bits"])
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _dup_clusters_local(like: DataFrame, pdf) -> DataFrame:
    """The whole min-label fixpoint in ONE bounded driver pass (r14 —
    the graph tier's ``_cc_full_local`` discipline, applied to the
    dedup cluster resolver) over ``pdf``, the gate-collected one-way
    pair list (both code directions are added locally, a numpy int
    concat): run synchronous neighbor-min rounds to the no-change
    fixpoint in numpy and return the (doc_id, cluster_id) literal
    frame, typed like ``like``'s first column. Exact: labels are ids
    coded over the SORTED id universe (min-code ≡ min-id), no float
    arithmetic anywhere, and the fixpoint is the same component-minimum
    the distributed label loop's consistency stop — and the star
    rounds' converged star shape — certify."""
    import numpy as np

    from census_data_pipeline_spark.functions.graph import (
        _local_frame,
        _min_label_fixpoint,
        _sorted_codes,
    )

    svals = pdf["src"].to_numpy()
    dvals = pdf["dst"].to_numpy()
    if len(svals) == 0:
        return _local_frame(like, {"doc_id": [], "cluster_id": []})
    ids, (sc, dc) = _sorted_codes(svals, dvals)  # ≡ unique+searchsorted
    sc, dc = np.concatenate([sc, dc]), np.concatenate([dc, sc])
    lab = _min_label_fixpoint(sc, dc, len(ids))
    return _local_frame(like, {"doc_id": ids, "cluster_id": ids[lab]})


def dup_clusters(
    pairs: DataFrame,
    algorithm: str = "label",
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components over the pair graph, labeling every member with the minimum
    doc id of its component (the canonical keeper).

    ``algorithm='label'`` (default): iterative min-label propagation — the
    GraphX-free connected-components pattern: each round joins labels
    across edges and takes the min; stops when no label changes. Rounds
    are O(component diameter), which for dup clusters is tiny.
    ``localCheckpoint`` truncates lineage each round so the plan doesn't
    grow with iterations (mandatory for any iterative DataFrame
    algorithm).

    ``algorithm='star'``: alternating large-star/small-star (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14) — rounds
    are O(log² n) worst case and ~log n in practice, INDEPENDENT of
    component diameter. This is the adversarial-graph escape hatch: a
    duplicate chain of length d (doc₁≈doc₂≈...≈doc_d, e.g. a document
    drifting through d revisions) takes d label-propagation rounds but
    only ~log d star rounds (tested: a 100-node path converges in ≤15
    rounds, see tests/test_functions_ext.py).

    Output: (doc_id, cluster_id). Only docs that appear in >=1 pair are
    returned (singletons are their own cluster implicitly). Both
    algorithms give the same rows: ids are compared in the type the
    pair union widens them to, a self-pair makes its id a node, and a
    NULL id is the one node ``_with_null_id`` describes.
    """
    if algorithm == "star":
        return _dup_clusters_star(pairs)[0]
    if algorithm != "label":
        raise ValueError(f"algorithm must be 'label' or 'star', got {algorithm!r}")
    one_way, both, pdf = _gate_pairs(pairs)
    if pdf is not None:
        return _dup_clusters_local(both, pdf)
    # persisted: the pair-generation lineage upstream is routinely the
    # query's whole cost (edit-1 variant self-join, minhash banding),
    # and the label loop's per-round join AND the per-round consistency
    # count would each re-run it. The checkpoint of the gated object
    # reuses the stages the gate's count ran; the symmetrized edges'
    # checkpoint runs its distinct's map stage here, after which the
    # one-way cache has no reader.
    one_way = round_persist(one_way)
    edges = round_persist(_both_ways(one_way).distinct())
    one_way.unpersist()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=False).persist()
    )
    prior = labels
    while True:
        neighbor_labels = edges.join(
            labels.withColumnRenamed("id", "dst"), on="dst"
        ).select(F.col("src").alias("id"), "label")
        labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False).persist()
        )
        # Convergence = label CONSISTENCY across every edge (one action
        # per round, materializing the checkpoint as a side effect).
        # Consistent ⇒ each component uniformly labeled, and since labels
        # only ever take existing-node minima, the uniform value IS the
        # component min — so this stops one round EARLIER than waiting
        # for a no-change round (changed==0 needs diameter+1 rounds).
        inconsistent = (
            edges.join(
                labels.withColumnsRenamed({"id": "src", "label": "__ls"}), "src"
            )
            .join(
                labels.withColumnsRenamed({"id": "dst", "label": "__ld"}), "dst"
            )
            .filter(F.col("__ls") != F.col("__ld"))
            .limit(1)
            .count()
        )
        # the consistency count above materialized the new labels; the
        # previous round's cache is dead weight from here (r14)
        if prior is not labels:
            prior.unpersist()
            prior = labels
        if inconsistent == 0:
            break
    return _with_null_id(labels.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    ), edges)


def _both_ways(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _gate_pairs(pairs: DataFrame):
    """Both resolvers' local-tail gate: the one-way (src, dst) pair
    list with both ids cast to the type the symmetrized union gives
    them (int/bigint widen, bigint/string compare as strings), the
    union itself (analysis only, no job) and ``local_tail``'s pandas
    frame of the one-way list, or None. Gating the ONE-WAY list and
    symmetrizing on the driver plans the pair pipeline once; gating the
    union would plan it once per branch. Under the gate the min-label
    fixpoint replays off one Arrow collect, bit-identical
    (integer/string mins, no float arithmetic); 100 TB pair sets, and
    any pair set holding a NULL id, run the distributed rounds."""
    one_way = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    both = _both_ways(one_way)
    t = both.schema.fields[0].dataType  # analysis only, no job
    one_way = one_way.select(F.col("src").cast(t), F.col("dst").cast(t))
    return one_way, both, local_tail(one_way, "src", "dst", fanout=2)


def _with_null_id(labels: DataFrame, edges: DataFrame) -> DataFrame:
    """Give the NULL id of half-NULL pairs one well-defined row. An
    equi-join never matches NULL, so a NULL id joins no component; it is
    still a node, labeled with the least final ``cluster_id`` among its
    non-NULL partners (NULL when it has none). ``edges`` holds the pairs
    in both directions. Pair sets whose ids cannot be NULL pass through
    unchanged (a schema check, no job)."""
    if not any(f.nullable for f in edges.schema.fields):
        return labels
    t = labels.schema.fields[0].dataType
    valid = labels.filter(F.col("doc_id").isNotNull())
    partners = edges.filter(F.col("src").isNull()).select(
        F.col("dst").alias("doc_id"))
    null_row = (
        partners.join(valid, "doc_id", "left")
        .groupBy(F.lit(None).cast(t).alias("doc_id"))
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    return valid.unionByName(null_row)


def _dup_clusters_star(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components.

    Edges are kept directed child→parent with the invariant src > dst.
    Per round:

    - **large-star** (per node u over its FULL neighborhood Γ(u)):
      m = min(Γ(u) ∪ {u}); emit (v, m) for every neighbor v > u. Hooks
      tall subtrees directly onto the local minimum.
    - **small-star** (per node u over its SMALLER neighbors N⁻(u)):
      m = min(N⁻(u)); emit (v, m) for v ∈ N⁻(u)\\{m} plus (u, m).
      Flattens each node's parent set into a star.

    Both steps are groupBy-min + join — no collect_list, so a hot node's
    neighbor set never materializes in one task (the property that makes
    this the 100 TB-safe form). Convergence (r4): each round's ONLY
    action directly tests the converged SHAPE — star-ness (no node on
    both the src and dst side) plus functionality (every src has exactly
    one parent). A functional union-of-stars is a fixed point of both
    steps and per-round connectivity preservation makes it one star per
    original component (Kiveris et al. Thm 1/2), so the test is a sound
    stopping rule at ANY round — unlike the previous
    checksum-stability scheme it needs no extra confirming round and
    cannot false-positive. Returns (labels, rounds) — rounds exposed for
    the log-bound test."""
    # bare lazy checkpoints throughout (r14: the round_persist variant
    # — per-round persist + staged unpersist — was probed paired and
    # REGRESSED dedup_clusters_star 2.6→2.9 s and geo_dbscan_grid
    # 4.4→5.6 s; the checkpoint conversion already executes each round
    # under AQE, and the InMemoryRelation writes cost more than the
    # probe-scan recomputes they saved)
    #
    # Bounded local tail (r14, shared with the label path): the star
    # rounds' converged labels ARE the component minimum per node, so
    # the same exact min-label fixpoint replay applies. The per-round
    # convergence probes are the resolver's whole cost at bench scale
    # (geo_dbscan_grid measured 4.4 s, dominated by this loop).
    one_way, both, pdf = _gate_pairs(pairs)
    if pdf is not None:
        return _dup_clusters_local(both, pdf), 0
    # the checkpoint of the gated object reuses the count's stages
    one_way = one_way.localCheckpoint(eager=False)
    edges = one_way.filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    ).select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct().localCheckpoint(eager=False)
    # every non-NULL id is a node, a self-pair's too (it has no edge)
    all_nodes = one_way.select(F.col("src").alias("id")).union(
        one_way.select(F.col("dst").alias("id"))
    ).filter(F.col("id").isNotNull()).distinct()

    def not_converged(e: DataFrame) -> int:
        nonstar = (
            e.alias("a")
            .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.lit(1).alias("bad"))
        )
        multi_parent = (
            e.groupBy("src")
            .count()
            .filter(F.col("count") > 1)
            .select(F.lit(1).alias("bad"))
        )
        return nonstar.union(multi_parent).limit(1).count()

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        m = F.least(F.col("mn"), F.col("src"))
        # no trailing distinct: small_star's groupBy-min is duplicate-
        # insensitive and its own distinct dedupes the final edge set, so
        # deduping here would only add a shuffle per round
        return (
            sym.join(mins, on="src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("src").agg(F.min("dst").alias("mn"))
        with_min = e.join(mins, on="src")
        moved = with_min.filter(F.col("dst") != F.col("mn")).select(
            F.col("dst").alias("src"), F.col("mn").alias("dst")
        )
        hooked = mins.select("src", F.col("mn").alias("dst"))
        return (
            moved.union(hooked)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    rounds = 0
    while not_converged(edges):
        rounds += 1
        # lazy: the next not_converged() is the round's only action and
        # materializes the checkpoint as a side effect
        edges = small_star(large_star(edges)).localCheckpoint(eager=False)
    # converged edges are stars (v -> component min); roots map to themselves
    labels = all_nodes.join(
        edges.select(F.col("src").alias("id"), F.col("dst").alias("label")),
        on="id",
        how="left",
    ).select(
        F.col("id").alias("doc_id"),
        F.coalesce("label", "id").alias("cluster_id"),
    )
    return _with_null_id(labels, _both_ways(one_way)), rounds


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 16,
) -> DataFrame:
    """Corpus-level duplicate-SPAN removal (the C4/RefinedWeb line-dedup
    adapted to token windows): each document is cut into non-overlapping
    ``span_tokens``-token spans, a span occurrence survives only if it is
    the globally FIRST occurrence of its content (ordered by (doc id,
    span index)), and each document is reassembled from its surviving
    spans in order. Unlike document-level dedup this removes boilerplate
    repeated ACROSS documents (headers, navboxes, license blurbs) while
    keeping the unique remainder of every document.

    Returns one row per input document: ``n_spans``, ``n_kept`` and the
    reassembled ``text_dedup`` ('' when every span was seen before).

    Scale shape: one narrow posexplode fan-out; ONE shuffle on
    ``md5(span)`` for the first-occurrence rank (md5 keeps the shuffle
    key 32 bytes regardless of span text, and hash collisions affect
    Spark and the SQL oracle identically — both group on the digest);
    one shuffle on doc id to reassemble. No joins, no candidate blowup:
    heavy duplication COLLAPSES work here (a span duplicated a million
    times is one partition's rank), the opposite failure mode of pairwise
    LSH — which is why this is the recommended pre-pass for
    duplicate-heavy corpora (see SCALING.md hot-bucket note).
    """
    t = F.split(F.col(text_col), " ")
    n_spans = F.ceil(F.size(t) / F.lit(float(span_tokens)))
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(t, i * span_tokens + 1, span_tokens)
        ),
    )
    sp = ensure_parallelism(df).select(
        F.col(id_col), F.posexplode(spans).alias("__idx", "__span")
    )
    w = Window.partitionBy(F.md5("__span")).orderBy(id_col, "__idx")
    ranked = sp.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct("__idx", "__span")
    )
    return ranked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum((F.col("__rn") == 1).cast("int")).cast("long").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["__span"],
            ),
            " ",
        ).alias("text_dedup"),
    )
