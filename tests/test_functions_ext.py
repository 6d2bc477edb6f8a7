"""Extension tier: text analysis, dedup, similarity, multimodal."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from census_data_pipeline_spark.functions import decontam, dedup, multimodal, similarity, text


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- text ----------------------------------------------------------------
def test_tokens_and_shingles_edges(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b"), (3, "a")])
    out = df.select(
        "doc_id",
        text.token_count("text").alias("n"),
        text.shingles("text", 3).alias("sh"),
    ).orderBy("doc_id").collect()
    assert out[0].n == 4 and out[0].sh == ["a b c", "b c d"]
    assert out[1].sh == ["a b"]  # short doc -> whole-text shingle
    assert out[2].sh == ["a"]


def test_tokens_bpeish(spark):
    df = _docs(spark, [(1, "Hello, world!  It's fine.")])
    toks = df.select(text.tokens_bpeish("text").alias("t")).collect()[0].t
    assert toks == ["hello", ",", "world", "!", "it", "'", "s", "fine", "."]


def test_quality_score_bounds(spark):
    df = _docs(spark, [(1, "the a of to " * 30), (2, "x"), (3, "word " * 99 + "the")])
    rows = df.select(text.quality_score("text").alias("q")).collect()
    for r in rows:
        assert 0.0 <= r.q <= 1.0


def test_lang_id_markers(spark):
    df = _docs(spark, [(1, "the cat"), (2, "el gato"), (3, "xyz abc")])
    out = [r.l for r in df.select(text.lang_id("text").alias("l")).orderBy("doc_id").collect()]
    assert out == ["en", "es", "und"]


def test_fingerprint_identity(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "totally different words")])
    out = df.select("doc_id", text.fingerprint("text").alias("fp")).collect()
    fps = {r.doc_id: r.fp for r in out}
    assert fps[1] == fps[2] != fps[3]


# -- dedup ---------------------------------------------------------------
def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "same text"), (2, "same text"), (3, "other")])
    out = {r.doc_id: r.n_copies for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}  # min id kept per content hash


def test_bm25_rarity_saturation_and_length_norm(spark):
    """BM25 invariants on a hand corpus: a rarer term outweighs a common
    one at equal tf; repeated tf saturates (score grows sublinearly); a
    shorter doc beats a longer one at equal tf; n_matched counts hits."""
    from census_data_pipeline_spark.functions import search

    df = _docs(spark, [
        (1, "rare x x x"),               # rare term (df=2), short
        (2, "common x x x"),             # common term (df=4)
        (3, "common y y y"),
        (4, "common z z z"),
        (5, "rare rare rare x"),         # tf saturation vs doc 1
        (6, "common x x x y y y z"),     # same tf as 2, longer doc
    ])
    out = {r.doc_id: r for r in
           search.bm25_scores(df, ["rare", "common"]).collect()}
    assert out[1].score > out[2].score           # rarity
    assert out[5].score < 3 * out[1].score       # saturation
    assert out[2].score > out[6].score           # length norm
    assert out[2].n_matched == 1 and out[1].n_matched == 1
    top = search.bm25_topk(df, ["rare", "common"], k=2).collect()
    assert [r.doc_id for r in top] == [5, 1]
    with pytest.raises(ValueError):
        search.bm25_scores(df, [])


def test_span_dedup_keeps_first_occurrence_and_reassembles(spark):
    """4-token spans: doc 1 owns both spans; doc 2 repeats doc 1's first
    span then adds a fresh one; doc 3 is entirely doc 1's content
    (reassembles to ''); span order inside a doc is preserved."""
    df = _docs(spark, [
        (1, "a b c d e f g h"),
        (2, "a b c d x y z w"),
        (3, "e f g h a b c d"),
    ])
    out = {r.doc_id: r for r in
           dedup.span_dedup(df, span_tokens=4).collect()}
    assert (out[1].n_spans, out[1].n_kept) == (2, 2)
    assert out[1].text_dedup == "a b c d e f g h"
    assert (out[2].n_spans, out[2].n_kept) == (2, 1)
    assert out[2].text_dedup == "x y z w"
    assert (out[3].n_spans, out[3].n_kept) == (2, 0)
    assert out[3].text_dedup == ""


def test_ngram_jaccard_finds_near_dups(spark):
    base = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
    near = "w0 w1 w2 w3 w4 w5 w6 w7 w8 zz"
    df = _docs(spark, [(1, base), (2, near), (3, "completely unrelated text here")])
    pairs = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (1, 2) and 0.5 <= p.jaccard < 1.0


def test_minhash_lsh_identical_docs(spark):
    df = _docs(
        spark,
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "q r s t u v w x")],
    )
    pairs = dedup.minhash_lsh_pairs(df, n=3, threshold=0.9).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(df, num_hashes=16)


@pytest.mark.parametrize("prefix", ["my doc", "a.b", "x`y"])
def test_minhash_pairs_take_any_column_name(spark, prefix):
    """The SQL-text builders quote ``id_col`` and ``text_col``: a name
    with a space, a dot or a backtick names its one column."""
    df = _docs(spark, [(1, "a b c d e f g h"), (2, "a b c d e f g h"),
                       (3, "q r s t u v w x"), (4, "a b c d e f g x")])
    named = df.toDF(prefix + "_id", prefix + "_text")
    cols = {"id_col": prefix + "_id", "text_col": prefix + "_text"}
    for build in (
        lambda d, **kw: dedup.minhash_lsh_pairs(d, n=3, threshold=0.5, **kw),
        lambda d, **kw: dedup.minhash_dedup_against(
            d, d, n=3, threshold=0.5, **kw),
    ):
        want = sorted(map(tuple, build(df).collect()))
        assert want and sorted(map(tuple, build(named, **cols).collect())) == want


def test_minhash_bucket_cap_bounds_hot_buckets(spark):
    """SCALING.md 'Hot buckets in banded LSH': an exact-duplicate cluster
    of size b emits b(b-1)/2 candidates; bucket_cap bounds that at
    cap²/2 per bucket while leaving genuine near-dup (non-identical)
    pairs — which live in small buckets — untouched."""
    rows = [(i, "dup dup text common words here now") for i in range(60)]
    rows += [
        (1000, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        (1001, "w0 w1 w2 w3 w4 w5 w6 w7 w8 zz"),  # near-dup of 1000
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_lsh_pairs(df, n=3, threshold=0.5).count()
    capped = dedup.minhash_lsh_pairs(df, n=3, threshold=0.5, bucket_cap=8)
    got = capped.collect()
    # 60-identical cluster: 1770 pairs uncapped, C(8,2)=28 capped
    assert uncapped == 1770 + 1
    assert len(got) == 28 + 1
    # the genuine near-dup pair survives the cap, with its exact jaccard
    nd = [p for p in got if p.id_a == 1000]
    assert len(nd) == 1 and nd[0].id_b == 1001 and 0.5 <= nd[0].jaccard < 1.0


def test_simhash_bag_of_words_property(spark):
    # simhash is over the token multiset -> permutation-invariant
    df = _docs(spark, [(1, "a b c d"), (2, "d c b a"), (3, "p q r s")])
    out = {r.doc_id: r.simhash for r in dedup.simhash_table(df).collect()}
    assert out[1] == out[2] != out[3]
    assert 0 <= out[1] < 2**32


def test_simhash_hamming_pairs_equals_exact(spark):
    """Banded pair join == exact all-pairs hamming filter (pigeonhole:
    max_hamming < n_bands ⇒ recall is exactly 1, precision by verify)."""
    docs = _docs(spark, [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),       # identical -> hamming 0
        (3, "a b c d e f g x"),       # near
        (4, "p q r s t u v w"),       # far
        (5, "a b c d e f x y"),       # near-ish
        (6, "z z z y y y x x"),       # far
    ])
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_table(docs).collect()}
    exact = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs if a < b
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_hamming_pairs(docs, max_hamming=3).collect()
    }
    assert got == exact
    assert got[(1, 2)] == 0

    with pytest.raises(ValueError):
        dedup.simhash_hamming_pairs(docs, max_hamming=4, n_bands=4)
    with pytest.raises(ValueError):
        dedup.simhash_hamming_pairs(docs, n_bands=5)


def test_dedup_rows(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k long, v string")
    assert dedup.dedup_rows(df).count() == 2
    assert dedup.dedup_rows(df, ["v"]).count() == 2


# -- similarity ----------------------------------------------------------
def test_knn_bruteforce_exact(spark):
    vecs = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = similarity.knn_bruteforce(df, df.filter("vec_id = 0"), k=3).collect()
    ranked = [(r.rank, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [(1, 1), (2, 2), (3, 3)]  # by cosine to [1,0]
    top = [r for r in out if r.rank == 1][0]
    assert top.cosine_sim == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)


def test_knn_lsh_bucketing(spark):
    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # same sign bucket
        (2, [-1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0]),  # different bucket
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    # legacy axis-aligned bucket (EXPLICIT dim=None): vec 2 flips the
    # first sign bit
    out = similarity.knn_lsh(
        df, df.filter("vec_id = 0"), k=5, nbits=8, dim=None
    ).collect()
    assert [r.neighbor_id for r in out] == [1]  # bucket 2 never scored


def test_knn_lsh_default_is_seeded_family(spark):
    """ADVICE r3 / VERDICT r3 #5: a default knn_lsh call must get the
    seeded random-projection family (dim inferred from the corpus), not
    silently fall back to the axis-aligned bucket with its recall cliff.
    The seeded bucket is the array_join/zip_with fold over the broadcast
    coefficient frame — assert it's in the default call's plan, and that
    the result matches the explicit-dim call."""
    vecs = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)])
            for i in range(20)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 2")
    default_df = similarity.knn_lsh(df, q, k=3, nbits=4, n_tables=2)
    plan = default_df._jdf.queryExecution().optimizedPlan().toString()
    assert "zip_with" in plan  # seeded family marker (coefficient fold)
    explicit = similarity.knn_lsh(df, q, k=3, nbits=4, n_tables=2, dim=8)
    assert sorted(map(tuple, default_df.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_infer_dim_memoized_per_frame(spark, monkeypatch):
    """VERDICT r4 #6: the dim probe is one driver-side .first() job per
    (DataFrame, col) — repeated knn_lsh calls over the same loaded frame
    must pay it ONCE. Count probe jobs by instrumenting DataFrame.first;
    a fresh frame re-probes (cache lives on the object)."""
    vecs = [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(5)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    # patch the CONCRETE class (Spark 4: pyspark.sql.classic.dataframe
    # .DataFrame overrides the pyspark.sql.DataFrame base method)
    cls = type(df)
    probes = []
    orig = cls.first

    def counting_first(self):
        probes.append(1)
        return orig(self)

    monkeypatch.setattr(cls, "first", counting_first)
    assert similarity._infer_dim(df, "embedding") == 4
    assert similarity._infer_dim(df, "embedding") == 4
    assert len(probes) == 1  # second call served from the frame's cache
    # a different frame (even identical contents) probes again
    df2 = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    assert similarity._infer_dim(df2, "embedding") == 4
    assert len(probes) == 2
    # end-to-end: two default knn_lsh calls over one fresh corpus frame
    # -> exactly one probe job total
    probes.clear()
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = corpus.limit(1)
    similarity.knn_lsh(corpus, q, k=2, nbits=4).collect()
    similarity.knn_lsh(corpus, q, k=2, nbits=4).collect()
    assert len(probes) == 1


def test_bucket_frame_drops_null_vectors(spark):
    """ADVICE r3: null-vector rows (null column or null element) must not
    enter the bucket frame — otherwise coalesce('') pools them into one
    shared bucket in every table (quadratic candidates, null-cosine rows
    in top-k)."""
    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [0.9, 1.0, 1.0, 1.0]),
        (2, None),
        (3, [1.0, None, 1.0, 1.0]),
        (4, None),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    pairs = similarity.embedding_dup_pairs(
        df, threshold=0.9, dim=4, nbits=2, n_tables=2
    ).collect()
    ids = {p.id_a for p in pairs} | {p.id_b for p in pairs}
    assert ids <= {0, 1}  # null rows 2/3/4 never become candidates
    out = similarity.knn_lsh(df, df.filter("vec_id = 0"), k=5, nbits=2,
                             n_tables=2, dim=4).collect()
    assert all(r.neighbor_id in (1,) and r.cosine_sim is not None for r in out)


def _sf0001_embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _recall_at_10(truth_df, approx_df):
    truth, got = {}, {}
    for r in truth_df.collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx_df.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    per_q = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    return sum(per_q) / len(per_q)


@pytest.mark.slow
def test_knn_lsh_recall_floor(spark):
    """Random-projection LSH recall@10 vs the exact baseline on the real
    test lake. Floor 0.5 with 4 bits × 8 tables (measured 0.66 on this
    near-uniform data — see SCALING.md; the old axis-aligned first-8-dims
    bucket measured 0.07 here, which is the recall cliff the seeded family
    fixes)."""
    emb = _sf0001_embeddings(spark)
    queries = emb.filter("vec_id % 20 = 0")
    bf = similarity.knn_bruteforce(emb, queries, k=10)
    lsh = similarity.knn_lsh(
        emb, queries, k=10, nbits=4, n_tables=8, dim=64, seed=42
    )
    assert _recall_at_10(bf, lsh) >= 0.5


@pytest.mark.slow
def test_knn_ivf_seeded_recall_floor(spark):
    """The deterministic-quantizer IVF (oracle-checkable variant) still
    finds real neighbors: recall@10 vs brute force at 16 seed cells /
    3 probes on the sf0.001 lake."""
    emb = _sf0001_embeddings(spark)
    queries = emb.filter("vec_id % 20 = 0")
    bf = similarity.knn_bruteforce(emb, queries, k=10)
    seeded = similarity.knn_ivf_seeded(emb, queries, k=10,
                                       n_centroids=16, n_probes=3)
    assert _recall_at_10(bf, seeded) >= 0.3


@pytest.mark.slow
def test_knn_ivf_recall_floor_and_multiprobe_lever(spark):
    """IVF recall@10 floors vs the exact baseline, and the multi-probe
    monotonicity claim (measured on the near-uniform lake: 16 cells go
    0.27 → 0.61 → 0.82 recall at 1 → 3 → 6 probes)."""
    emb = _sf0001_embeddings(spark)
    queries = emb.filter("vec_id % 20 = 0")
    bf = similarity.knn_bruteforce(emb, queries, k=10)
    r1 = _recall_at_10(bf, similarity.knn_ivf(emb, queries, k=10,
                                              n_centroids=4, n_probes=1))
    assert r1 >= 0.3
    r3 = _recall_at_10(bf, similarity.knn_ivf(emb, queries, k=10,
                                              n_centroids=16, n_probes=3))
    assert r3 >= 0.45
    r6 = _recall_at_10(bf, similarity.knn_ivf(emb, queries, k=10,
                                              n_centroids=16, n_probes=6))
    assert r6 >= r3 >= 0.45 and r6 >= 0.7


@pytest.mark.slow
def test_knn_pq_seeded_recall_and_rerank_lever(spark):
    """PQ-ADC recall@10 vs brute force on the sf0.001 lake: ranking by
    approximate distance alone is weak on near-uniform data (measured
    0.16 at m=8/16 codes — quantization error ≈ the neighbor gap), and
    the exact re-rank of the top-100 ADC candidates is what lifts it to a
    usable 0.71. Pin both the floor and the lever."""
    emb = _sf0001_embeddings(spark)
    queries = emb.filter("vec_id % 20 = 0")
    bf = similarity.knn_bruteforce(emb, queries, k=10)
    adc_only = similarity.knn_pq_seeded(emb, queries, k=10, m=8,
                                        n_codes=16, dim=64, rerank=None)
    assert "approx_d2" in adc_only.columns
    r_adc = _recall_at_10(bf, adc_only)
    reranked = similarity.knn_pq_seeded(emb, queries, k=10, m=8,
                                        n_codes=16, dim=64, rerank=100)
    r_rr = _recall_at_10(bf, reranked)
    assert r_rr >= 0.6
    assert r_rr > r_adc


@pytest.mark.slow
def test_knn_ivfpq_recall_floor_and_probe_lever(spark):
    """IVF-PQ recall@10 vs brute force: bounded above by the IVF
    restriction (0.82 at 6 probes), reduced by PQ ranking error, rescued
    by the exact re-rank — measured 0.59 at 6 probes / m=8 / C=100, and
    more probes must not hurt."""
    emb = _sf0001_embeddings(spark)
    queries = emb.filter("vec_id % 20 = 0")
    bf = similarity.knn_bruteforce(emb, queries, k=10)
    r6 = _recall_at_10(bf, similarity.knn_ivfpq_seeded(
        emb, queries, k=10, n_centroids=16, n_probes=6,
        m=8, n_codes=16, dim=64, rerank=100))
    assert r6 >= 0.5
    r8 = _recall_at_10(bf, similarity.knn_ivfpq_seeded(
        emb, queries, k=10, n_centroids=16, n_probes=8,
        m=8, n_codes=16, dim=64, rerank=100))
    assert r8 >= r6


def test_knn_pq_seeded_rejects_indivisible_dim(spark):
    emb = _sf0001_embeddings(spark)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.knn_pq_seeded(emb, emb.limit(1), m=7, dim=64)


# -- multimodal ----------------------------------------------------------
def test_binary_payload_and_fake_features(spark):
    df = _docs(spark, [(1, "abc"), (2, "")])
    payloads = multimodal.attach_binary_payload(df)
    rows = {r.doc_id: r for r in payloads.collect()}
    assert rows[1].byte_len == 3 and len(rows[1].checksum) == 64
    feats = {r.doc_id: r for r in multimodal.extract_fake_features(payloads).collect()}
    assert feats[1].byte_len == 3
    assert feats[1].mean_byte == pytest.approx((97 + 98 + 99) / 3)
    assert feats[2].mean_byte == 0.0 and feats[2].n_zero == 0


def test_decode_image_gate_for_unknown_formats():
    # unknown magic stays behind the NotImplementedError gate
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFFnot an image payload")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")  # truncated signature
    # r4: GIF magic now dispatches to the real decoder — junk after the
    # signature fails the dimension bounds check
    with pytest.raises(ValueError):
        multimodal.decode_image(b"GIF87a junk that is not a gif")
    # r4: JPEG magic now dispatches to the real decoder — truncated junk
    # is a ValueError (total-operator fake path), not a crash
    with pytest.raises(ValueError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def _golden_png(filters: list[int]) -> tuple[bytes, "object"]:
    """Hand-build a 3x3 RGB PNG, one scanline per requested filter type,
    independent of the decoder under test. Returns (png_bytes, expected
    HWC uint8 array)."""
    import struct
    import zlib

    import numpy as np

    px = np.arange(3 * 3 * 3, dtype=np.uint8).reshape(3, 3, 3) * 7 % 251
    stride = 9
    raw = bytearray()
    prev = bytes(stride)
    for y, ftype in enumerate(filters):
        cur = px[y].reshape(-1)
        enc = bytearray()
        for i in range(stride):
            a = int(cur[i - 3]) if i >= 3 else 0
            b = int(prev[i])
            c = 0
            if ftype == 0:
                enc.append(int(cur[i]))
            elif ftype == 1:
                enc.append((int(cur[i]) - a) & 0xFF)
            elif ftype == 2:
                enc.append((int(cur[i]) - b) & 0xFF)
            elif ftype == 3:
                enc.append((int(cur[i]) - (a + b) // 2) & 0xFF)
            elif ftype == 4:
                if y > 0 and i >= 3:
                    c = int(prev[i - 3])
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((int(cur[i]) - pred) & 0xFF)
        raw.append(ftype)
        raw.extend(enc)
        prev = bytes(cur)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    return png, px


def test_decode_png_golden_pixels_all_filters():
    import numpy as np

    for filters in ([0, 0, 0], [0, 1, 2], [1, 3, 4], [4, 4, 4]):
        png, expected = _golden_png(filters)
        got = multimodal.decode_image(png)
        assert got.shape == (3, 3, 3)
        assert np.array_equal(got, expected), f"filters={filters}"


def test_decode_bmp_golden_pixels_and_roundtrip():
    import numpy as np

    px = (np.arange(2 * 5 * 3, dtype=np.uint8).reshape(2, 5, 3) * 13) % 256
    bmp = multimodal.encode_bmp(px)
    assert bmp[:2] == b"BM"
    got = multimodal.decode_image(bmp)
    assert np.array_equal(got, px)
    # hand-check one golden byte: bottom-up + BGR means the FIRST stored
    # pixel is row 1 (last row), col 0, blue channel = px[1,0,2]
    data_off = int.from_bytes(bmp[10:14], "little")
    assert bmp[data_off] == px[1, 0, 2]


def test_resize_nearest_golden():
    import numpy as np

    px = np.array(
        [[[0], [10], [20], [30]],
         [[40], [50], [60], [70]],
         [[80], [90], [100], [110]],
         [[120], [130], [140], [150]]],
        dtype=np.uint8,
    )
    out = multimodal.resize_nearest(px, 2, 2)
    # index map: out[i] = in[(i*4)//2] = in[0], in[2]
    assert np.array_equal(out.reshape(2, 2), np.array([[0, 20], [80, 100]]))


def test_decode_image_malformed_inputs():
    import struct
    import zlib

    import numpy as np

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    # bad filter byte (9) on the first scanline
    raw = bytes([9, 0, 0, 0, 0, 0, 0]) + bytes([0] * 7)
    with pytest.raises(ValueError, match="filter"):
        multimodal.decode_image(sig + ihdr + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    # truncated pixel data -> size mismatch
    with pytest.raises(ValueError, match="size"):
        multimodal.decode_image(sig + ihdr + chunk(b"IDAT", zlib.compress(b"\x00\x01")) + chunk(b"IEND", b""))
    # truncated interlaced PNG (no IDAT): size mismatch, not a crash
    ihdr_i = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
    with pytest.raises(ValueError, match="size"):
        multimodal.decode_image(sig + ihdr_i + chunk(b"IEND", b""))
    # invalid interlace method byte stays gated
    ihdr_b = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 2))
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(sig + ihdr_b + chunk(b"IEND", b""))
    # compressed (RLE) BMP stays gated
    bmp = bytearray(multimodal.encode_bmp(np.zeros((2, 2, 3), np.uint8)))
    bmp[30:34] = (1).to_bytes(4, "little")  # biCompression = BI_RLE8
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(bytes(bmp))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + ctype + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def test_decode_palette_png_golden():
    """8-bit palette PNG (color type 3): index scanlines + PLTE lookup,
    including a filtered (Sub) scanline over index bytes."""
    import struct
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    palette = bytes(
        [250, 1, 2,    3, 250, 4,    5, 6, 250,    9, 9, 9]
    )  # 4 entries
    # 3x2 image of palette indices
    idx = np.array([[0, 1, 2], [3, 2, 0]], dtype=np.uint8)
    raw = bytearray()
    raw += bytes([0]) + idx[0].tobytes()           # row 0: filter None
    # row 1: filter Sub over index bytes (bpp = 1 byte)
    r1 = idx[1].astype(int)  # plain ints: uint8 scalar subtract overflows
    enc = bytes([r1[0], (r1[1] - r1[0]) & 0xFF, (r1[2] - r1[1]) & 0xFF])
    raw += bytes([1]) + enc
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
    png = (
        sig + ihdr + _png_chunk(b"PLTE", palette)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    got = multimodal.decode_image(png)
    expected = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)[idx]
    assert got.shape == (2, 3, 3)
    assert np.array_equal(got, expected)
    # missing PLTE -> ValueError (total-operator fake path, not a crash)
    bad = sig + ihdr + _png_chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="PLTE"):
        multimodal.decode_image(bad)
    # index beyond palette -> ValueError
    raw2 = bytes([0, 0, 1, 200]) + bytes([0]) + idx[1].tobytes()
    bad2 = sig + ihdr + _png_chunk(b"PLTE", palette) \
        + _png_chunk(b"IDAT", zlib.compress(raw2)) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="index"):
        multimodal.decode_image(bad2)


def test_decode_interlaced_png_golden():
    """Adam7 interlaced RGB PNG (r4): passes built independently in the
    test (spec §8.2 origins/strides, filter None and Up rows), decoder
    must reassemble the original pixel grid."""
    import struct
    import zlib

    import numpy as np

    w = h = 5
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
              (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    raw = bytearray()
    for x0, y0, dx, dy in passes:
        ys = list(range(y0, h, dy))
        xs = list(range(x0, w, dx))
        if not ys or not xs:
            continue
        prev = np.zeros(len(xs) * 3, dtype=np.int32)
        for ri, y in enumerate(ys):
            row = px[y, xs].reshape(-1).astype(np.int32)
            if ri % 2 == 0:  # filter None
                raw += bytes([0]) + row.astype(np.uint8).tobytes()
            else:  # filter Up against the previous PASS row
                raw += bytes([2]) + ((row - prev) & 0xFF).astype(np.uint8).tobytes()
            prev = row
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
    png = sig + ihdr + _png_chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + _png_chunk(b"IEND", b"")
    got = multimodal.decode_image(png)
    assert np.array_equal(got, px)


# -- JPEG (r4) -------------------------------------------------------------
# Minimal baseline-JPEG writer, independent of the decoder under test.
# Tiny custom huffman tables: 8 symbols at code length 3 for both DC and
# AC (DHT carries the tables, so the decoder must honor whatever we emit).
_J_DC_SYMS = [0, 1, 2, 3, 4, 5, 6, 7]
_J_AC_SYMS = [0x00, 0x01, 0x02, 0x03, 0x04, 0x05, 0x06, 0x07,
              0x11, 0x21, 0x31, 0x41, 0x12, 0x22, 0x32, 0xF0]


def _j_codes(symbols, length):
    return {sym: (length, i) for i, sym in enumerate(symbols)}


class _JBits:
    def __init__(self):
        self.acc, self.n, self.out = 0, 0, bytearray()

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.n = 0, 0

    def flush(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # 1-pad
        return bytes(self.out)


def _encode_block(bits, coef_zz, pred, dc_codes, ac_codes):
    """coef_zz: 64 coefficients in ZIGZAG order."""
    diff = coef_zz[0] - pred
    t = max(diff.bit_length(), (-diff).bit_length()) if diff else 0
    ln, code = dc_codes[t]
    bits.put(code, ln)
    if t:
        bits.put(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = coef_zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            ln, code = ac_codes[0xF0]
            bits.put(code, ln)
            run -= 16
        s = max(v.bit_length(), (-v).bit_length())
        ln, code = ac_codes[(run << 4) | s]
        bits.put(code, ln)
        bits.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        ln, code = ac_codes[0x00]
        bits.put(code, ln)
    return coef_zz[0]


def _make_jpeg(w, h, comps, mcu_blocks, restart_interval=0):
    """comps: list of (h_samp, v_samp); mcu_blocks: per MCU, per comp, a
    list of 64-elem zigzag coefficient lists (quant table is all-ones)."""
    import struct

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = b"\xff\xd8"
    out += seg(0xDB, bytes([0]) + bytes([1] * 64))  # DQT id 0, all ones
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for i, (hs, vs) in enumerate(comps):
        sof += bytes([i + 1, (hs << 4) | vs, 0])
    out += seg(0xC0, sof)
    out += seg(0xC4, bytes([0x00]) + bytes([0, 0, 8] + [0] * 13)
               + bytes(_J_DC_SYMS))
    out += seg(0xC4, bytes([0x10]) + bytes([0, 0, 0, 16] + [0] * 12)
               + bytes(_J_AC_SYMS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([len(comps)])
    for i in range(len(comps)):
        sos += bytes([i + 1, 0x00])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    dc_codes, ac_codes = _j_codes(_J_DC_SYMS, 3), _j_codes(_J_AC_SYMS, 4)
    entropy = b""
    bits = _JBits()
    preds = [0] * len(comps)
    rst = 0
    for mi, mcu in enumerate(mcu_blocks):
        if restart_interval and mi and mi % restart_interval == 0:
            entropy += bits.flush() + bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            bits = _JBits()
            preds = [0] * len(comps)  # DC predictors reset at restart
        for ci, blocks in enumerate(mcu):
            for zz in blocks:
                preds[ci] = _encode_block(bits, zz, preds[ci], dc_codes, ac_codes)
    entropy += bits.flush()
    return out + entropy + b"\xff\xd9"


def _dc_only(dc):
    return [dc] + [0] * 63


def test_decode_jpeg_flat_gray():
    """DC-only block with unit quant: IDCT of F(0,0)=c is uniformly c/8,
    level-shifted +128 — hand-computable golden."""
    import numpy as np

    png = _make_jpeg(8, 8, [(1, 1)], [[[_dc_only(64)]]])
    got = multimodal.decode_image(png)
    assert got.shape == (8, 8, 1)
    assert np.all(got == 136)  # 64/8 + 128
    neg = _make_jpeg(8, 8, [(1, 1)], [[[_dc_only(-64)]]])
    assert np.all(multimodal.decode_image(neg) == 120)


def test_decode_jpeg_single_ac_coefficient():
    """One AC coefficient F(0,1)=40: expected from the spec's IDCT sum,
    written directly in the test (independent of the decoder's matrix
    form)."""
    import math

    import numpy as np

    zz = [0] * 64
    zz[1] = 40  # zigzag index 1 == position (u=0, v=1) horizontal freq
    jpg = _make_jpeg(8, 8, [(1, 1)], [[[zz]]])
    got = multimodal.decode_image(jpg)[:, :, 0].astype(float)
    exp = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.25 * (1 / math.sqrt(2)) * 1.0 * 40 \
                * math.cos((2 * x + 1) * 1 * math.pi / 16) * 1.0
            exp[y, x] = min(max(round(s + 128), 0), 255)
    assert np.array_equal(got, exp)


def test_decode_jpeg_color_and_420_subsampling():
    """3-component flat color: 4:4:4 single MCU and 4:2:0 16x16 MCU
    (4 Y blocks + 1 Cb + 1 Cr) must both produce the JFIF-converted flat
    RGB everywhere."""
    import numpy as np

    y_dc, cb_dc, cr_dc = 0, 64, -64  # Y=128, Cb=136, Cr=120
    yv, cbv, crv = 128.0, 136.0 - 128, 120.0 - 128
    exp = [
        min(max(round(yv + 1.402 * crv), 0), 255),
        min(max(round(yv - 0.344136 * cbv - 0.714136 * crv), 0), 255),
        min(max(round(yv + 1.772 * cbv), 0), 255),
    ]
    j444 = _make_jpeg(
        8, 8, [(1, 1), (1, 1), (1, 1)],
        [[[_dc_only(y_dc)], [_dc_only(cb_dc)], [_dc_only(cr_dc)]]],
    )
    got = multimodal.decode_image(j444)
    assert got.shape == (8, 8, 3)
    assert np.all(got == np.array(exp, dtype=np.uint8))
    j420 = _make_jpeg(
        16, 16, [(2, 2), (1, 1), (1, 1)],
        [[[_dc_only(y_dc)] * 4, [_dc_only(cb_dc)], [_dc_only(cr_dc)]]],
    )
    got2 = multimodal.decode_image(j420)
    assert got2.shape == (16, 16, 3)
    assert np.all(got2 == np.array(exp, dtype=np.uint8))


def test_decode_jpeg_stuffing_gate_and_crop():
    """Byte-stuffed entropy data decodes (0xFF00 in stream), non-multiple
    -of-8 dims crop, and progressive JPEG stays gated."""
    import struct

    import numpy as np

    # DC diff 127 -> size 7, bits 1111111 + 3-bit codes of 1s produce
    # 0xFF bytes the writer must stuff
    jpg = _make_jpeg(8, 8, [(1, 1)], [[[_dc_only(127)]]])
    scan = jpg[jpg.index(b"\xff\xda"):]
    assert b"\xff\x00" in scan
    got = multimodal.decode_image(jpg)
    assert np.all(got == min(255, round(127 / 8 + 128)))
    # 5x6 image: one padded MCU, cropped output
    crop = multimodal.decode_image(_make_jpeg(5, 6, [(1, 1)], [[[_dc_only(64)]]]))
    assert crop.shape == (6, 5, 1) and np.all(crop == 136)
    # progressive (SOF2) gated
    prog = _make_jpeg(8, 8, [(1, 1)], [[[_dc_only(0)]]]).replace(
        b"\xff\xc0", b"\xff\xc2", 1
    )
    with pytest.raises(NotImplementedError, match="SOF"):
        multimodal.decode_image(prog)


def test_decode_jpeg_restart_markers():
    """DRI=2: RSTn markers between MCU groups reset the bit stream and DC
    predictors — a 32x8 gray image (4 MCUs, 2 restarts) with per-MCU DC
    values must decode to its per-block flat values."""
    import numpy as np

    dcs = [8, 16, -8, 24]  # absolute DC per MCU (preds reset every 2)
    mcus, prev = [], 0
    for i, dc in enumerate(dcs):
        if i % 2 == 0:
            prev = 0  # writer resets predictor at each restart boundary
        mcus.append([[_dc_only(dc)]])
        prev = dc
    # writer tracks predictors itself; feed ABSOLUTE values via coef[0]
    jpg = _make_jpeg(32, 8, [(1, 1)], mcus, restart_interval=2)
    assert any(bytes([0xFF, 0xD0 + i]) in jpg for i in range(8))
    got = multimodal.decode_image(jpg)[:, :, 0]
    for i, dc in enumerate(dcs):
        assert np.all(got[:, i * 8:(i + 1) * 8] == dc // 8 + 128), i


def test_resize_images_real_jpeg_payload(spark):
    """A real baseline JPEG through the Spark resize path: decoded (not
    faked), resampled, re-encoded as BMP with recomputed metadata."""
    import hashlib

    jpg = _make_jpeg(8, 8, [(1, 1)], [[[_dc_only(64)]]])
    df = spark.createDataFrame(
        [(1, jpg, "image/jpeg")],
        "doc_id long, payload binary, media_type string",
    )
    row = multimodal.resize_images(df, 4, 4).collect()[0]
    assert row.media_type == "image/bmp" and row.payload[:2] == b"BM"
    px = multimodal.decode_image(bytes(row.payload))
    assert px.shape == (4, 4, 3)
    assert (px == 136).all()  # flat gray survives resample + BMP round-trip
    assert row.checksum == hashlib.sha256(bytes(row.payload)).hexdigest()


def test_decode_16bit_png_golden():
    """Depth-16 RGB PNG: filters run over 6-byte pixel lanes (Sub's left
    distance = channels x 2), output keeps the big-endian high byte."""
    import struct
    import zlib

    import numpy as np

    # 2x2 RGB, 16-bit samples; high bytes chosen distinct per pixel
    hi = np.array([[[10, 20, 30], [40, 50, 60]],
                   [[70, 80, 90], [100, 110, 120]]], dtype=np.uint8)
    lo = 0xAB
    rows = bytearray()
    # row 0: filter None — interleave high/low bytes
    r0 = bytearray()
    for p in range(2):
        for c in range(3):
            r0 += bytes([hi[0, p, c], lo])
    rows += bytes([0]) + r0
    # row 1: filter Sub with bpp=6 — second pixel stored as delta
    r1raw = bytearray()
    for p in range(2):
        for c in range(3):
            r1raw += bytes([hi[1, p, c], lo])
    r1 = bytearray(r1raw[:6])
    for i in range(6, 12):
        r1.append((r1raw[i] - r1raw[i - 6]) & 0xFF)
    rows += bytes([1]) + r1
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    png = sig + ihdr + _png_chunk(b"IDAT", zlib.compress(bytes(rows))) \
        + _png_chunk(b"IEND", b"")
    got = multimodal.decode_image(png)
    assert got.shape == (2, 2, 3)
    assert np.array_equal(got, hi)
    # 16-bit palette is spec-invalid and stays gated
    ihdr_p = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(sig + ihdr_p + _png_chunk(b"IEND", b""))


def test_decode_sub8bit_png_golden():
    """1/2/4-bit packed PNGs: MSB-first unpack after unfiltering, gray
    scaled to full range, palette indexed; row padding bits trimmed."""
    import struct
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    # 4-bit palette, 3x2: indices 0..5 pack two-per-byte, odd width pads
    pal = bytes([10, 0, 0,  0, 20, 0,  0, 0, 30,  40, 40, 40,
                 50, 0, 50,  0, 60, 60])
    idx = np.array([[0, 1, 2], [3, 4, 5]], dtype=np.uint8)
    raw = bytes([0, 0x01, 0x20]) + bytes([0, 0x34, 0x50])
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 4, 3, 0, 0, 0))
    png = sig + ihdr + _png_chunk(b"PLTE", pal) \
        + _png_chunk(b"IDAT", zlib.compress(raw)) + _png_chunk(b"IEND", b"")
    got = multimodal.decode_image(png)
    exp = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)[idx]
    assert np.array_equal(got, exp)
    # 1-bit gray, 10x1: bits 1100110011 -> 255/0 scaled, pad trimmed
    bits = bytes([0, 0b11001100, 0b11000000])
    ihdr1 = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 1, 1, 0, 0, 0, 0))
    png1 = sig + ihdr1 + _png_chunk(b"IDAT", zlib.compress(bits)) \
        + _png_chunk(b"IEND", b"")
    got1 = multimodal.decode_image(png1)[:, :, 0]
    assert np.array_equal(
        got1[0], np.array([1, 1, 0, 0, 1, 1, 0, 0, 1, 1]) * 255
    )
    # 2-bit gray scaling: 0,1,2,3 -> 0,85,170,255
    bits2 = bytes([0, 0b00011011])
    ihdr2 = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 1, 2, 0, 0, 0, 0))
    png2 = sig + ihdr2 + _png_chunk(b"IDAT", zlib.compress(bits2)) \
        + _png_chunk(b"IEND", b"")
    assert list(multimodal.decode_image(png2)[0, :, 0]) == [0, 85, 170, 255]


def _make_avi(frame_payloads):
    """Minimal RIFF/AVI with a movi LIST of 00dc chunks."""
    import struct

    movi = b"movi"
    for f in frame_payloads:
        movi += b"00dc" + struct.pack("<I", len(f)) + f + (b"\x00" * (len(f) & 1))
    body = b"AVI " + b"LIST" + struct.pack("<I", len(movi)) + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_decode_video_frames_mjpeg(spark):
    """MJPEG-in-AVI: container parse yields the JPEG frames, each of
    which the image decoder can decode — then the Spark sampler keeps
    every 2nd frame as real JPEG payloads."""
    import numpy as np

    jpegs = [_make_jpeg(8, 8, [(1, 1)], [[[_dc_only(dc)]]])
             for dc in (8, 16, 24, 32, 40)]
    avi = _make_avi(jpegs)
    frames = multimodal.decode_video_frames(avi)
    assert frames == jpegs
    for f, dc in zip(frames, (8, 16, 24, 32, 40)):
        assert np.all(multimodal.decode_image(f) == dc // 8 + 128)
    with pytest.raises(ValueError):
        multimodal.decode_video_frames(b"RIFF\x04\x00\x00\x00WAVE")
    df = spark.createDataFrame([(1, avi), (2, b"not a video")],
                               "doc_id long, payload binary")
    rows = multimodal.sample_frames(df, frame_bytes=4, every_n=2).collect()
    real = sorted((r.frame_idx, bytes(r.frame)) for r in rows if r.doc_id == 1)
    assert real == [(0, jpegs[0]), (2, jpegs[2]), (4, jpegs[4])]
    fake = [r for r in rows if r.doc_id == 2]
    # 11 bytes -> floor(11/4)=2 fake slices, every 2nd kept -> idx 0 only
    assert len(fake) == 1 and bytes(fake[0].frame) == b"not "


# -- WAV audio (r4) --------------------------------------------------------
def _make_wav(samples_i16, rate=8000, channels=1, bits=16, tag=1):
    import struct

    import numpy as np

    if bits == 16:
        data = np.asarray(samples_i16, dtype="<i2").tobytes()
    elif bits == 8:
        data = bytes(np.asarray(samples_i16, dtype=np.uint8))
    else:
        data = np.asarray(samples_i16, dtype="<i4").tobytes()
    block = channels * bits // 8
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, tag, channels, rate,
                                rate * block, block, bits)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_decode_wav_pcm_golden():
    import numpy as np

    # 16-bit: exact power-of-two amplitudes
    samples, rate = multimodal.decode_wav(_make_wav([16384, -16384, 0, 32767]))
    assert rate == 8000 and samples.shape == (4, 1)
    assert np.allclose(samples[:, 0], [0.5, -0.5, 0.0, 32767 / 32768])
    # 8-bit unsigned: 128 -> 0.0, 255 -> ~1, 0 -> -1
    s8, _ = multimodal.decode_wav(_make_wav([128, 255, 0], bits=8))
    assert np.allclose(s8[:, 0], [0.0, 127 / 128, -1.0])
    # stereo framing
    st, _ = multimodal.decode_wav(_make_wav([100, -100, 200, -200], channels=2))
    assert st.shape == (2, 2)
    # gates: non-PCM tag and bad magic
    with pytest.raises(NotImplementedError):
        multimodal.decode_wav(_make_wav([0], tag=3))
    with pytest.raises(ValueError):
        multimodal.decode_wav(b"RIFX not a wave")


def test_audio_features_square_wave():
    import numpy as np

    half = np.concatenate([np.full(40, 0.375), np.full(40, -0.375)])
    mono = np.tile(half, 10).reshape(-1, 1)  # 800 frames
    f = multimodal.audio_features(mono, 8000)
    assert f["n_frames"] == 800
    assert f["duration_s"] == 800 / 8000
    assert f["rms"] == 0.375 and f["peak"] == 0.375
    assert f["zero_crossings"] == 800 // 40 - 1


def test_extract_audio_features_total_on_junk(spark):
    """Real WAV decodes; junk and truncated RIFF fall back to the
    deterministic byte-stat fake — the operator is total."""
    wav = _make_wav([16384, -16384] * 100)
    rows = [(1, wav), (2, b"not audio at all"), (3, b"RIFF\x00\x00\x00\x00WAVE")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in multimodal.extract_audio_features(df).collect()}
    assert out[1].decoded and out[1].n_frames == 200
    assert out[1].rms == 0.5 and out[1].zero_crossings == 199
    assert not out[2].decoded and out[2].n_frames == len(b"not audio at all")
    assert not out[3].decoded


def test_decode_png_bomb_and_bounds_guard():
    """ADVICE r3: a tiny payload must not be able to allocate gigabytes —
    dims are bounded BEFORE decompression, and decompression itself is
    capped at the declared output size."""
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"
    # declared 60000x60000 RGB = ~10 GB output from a ~100-byte payload
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0))
    with pytest.raises(ValueError, match="bounds"):
        multimodal.decode_image(
            sig + ihdr + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + _png_chunk(b"IEND", b"")
        )
    # bomb: tiny declared dims (2x2) but 16 MB of decompressible zeros —
    # bounded decompress stops at expected+1 and reports a size mismatch
    ihdr_small = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    bomb = _png_chunk(b"IDAT", zlib.compress(b"\x00" * (16 << 20)))
    with pytest.raises(ValueError, match="size"):
        multimodal.decode_image(sig + ihdr_small + bomb + _png_chunk(b"IEND", b""))


def test_resize_images_total_on_malformed_payloads(spark):
    """ADVICE r3: valid magic + truncated header (struct.error) and
    corrupt IDAT (zlib.error) must fall back to the deterministic fake,
    not fail the job — the operator is total."""
    import struct

    valid = multimodal.encode_bmp(
        __import__("numpy").arange(48, dtype="uint8").reshape(4, 4, 3)
    )
    truncated_bmp = b"BM" + b"\x00" * 8          # struct.error territory
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    corrupt_idat = sig + ihdr + _png_chunk(b"IDAT", b"\xde\xad\xbe\xef") \
        + _png_chunk(b"IEND", b"")
    short_png = sig + _png_chunk(b"IHDR", b"\x00\x00")  # short IHDR struct
    rows = [(1, valid, "image/bmp"), (2, truncated_bmp, "image/bmp"),
            (3, corrupt_idat, "image/png"), (4, short_png, "image/png")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, media_type string")
    out = {r.doc_id: r for r in multimodal.resize_images(df, 4, 4).collect()}
    assert len(out) == 4
    assert out[1].media_type == "image/bmp" and out[1].payload[:2] == b"BM"
    # malformed ones got the fake (original media_type, width*height bytes)
    for d in (2, 3, 4):
        assert len(out[d].payload) == 16 and out[d].media_type.endswith(
            ("bmp", "png")
        )


def test_resize_closure_ships_by_value(spark, tmp_path):
    """ADVICE r3: the decode path must reach workers WITHOUT importing
    this package (cloudpickle by-value contract). Proven by unpickling
    the decoder in a subprocess whose sys.path cannot see the repo."""
    import subprocess
    import sys

    import numpy as np
    from pyspark import cloudpickle

    from census_data_pipeline_spark.functions import multimodal as mm

    df = spark.createDataFrame([(1, b"x", "t")],
                               "doc_id long, payload binary, media_type string")
    mm.resize_images(df, 2, 2)  # lazy; registers the module by-value
    blob = tmp_path / "fn.pkl"
    blob.write_bytes(cloudpickle.dumps(mm.decode_image))
    bmp = tmp_path / "img.bmp"
    bmp.write_bytes(mm.encode_bmp(np.zeros((3, 2, 3), np.uint8)))
    script = (
        "import sys, pickle\n"
        "sys.path = [p for p in sys.path if 'repo' not in p and p not in ('', '.')]\n"
        "fn = pickle.loads(open(sys.argv[1], 'rb').read())\n"
        "assert 'census_data_pipeline_spark' not in sys.modules, 'pkg imported!'\n"
        "px = fn(open(sys.argv[2], 'rb').read())\n"
        "assert px.shape == (3, 2, 3), px.shape\n"
        "print('BY_VALUE_OK')\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", script, str(blob), str(bmp)],
        capture_output=True, text=True, cwd=str(tmp_path), timeout=120,
    )
    assert "BY_VALUE_OK" in res.stdout, res.stderr


def test_png_unfilter_vectorized_speedup():
    """VERDICT r3 #8: Sub/Up scanlines are numpy-vectorized (cumsum /
    vector add); Paeth stays per-byte. Self-calibrating ratio: decoding
    an all-Up image must be >=3x faster than the same-size all-Paeth
    image (both decode to correct pixels)."""
    import struct
    import time
    import zlib

    import numpy as np

    n = 192
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (n, n, 3), dtype=np.uint8).astype(np.int32)

    def build(filter_type: int) -> bytes:
        raw = bytearray()
        prev = np.zeros(n * 3, dtype=np.int32)
        for y in range(n):
            cur = px[y].reshape(-1)
            if filter_type == 2:  # Up
                enc = (cur - prev) & 0xFF
            else:  # Paeth with a=left(recon), b=up, c=up-left
                a = np.concatenate([np.zeros(3, np.int32), cur[:-3]])
                c = np.concatenate([np.zeros(3, np.int32), prev[:-3]])
                p = a + prev - c
                pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
                pred = np.where((pa <= pb) & (pa <= pc), a,
                                np.where(pb <= pc, prev, c))
                enc = (cur - pred) & 0xFF
            raw.append(filter_type)
            raw.extend(enc.astype(np.uint8).tobytes())
            prev = cur
        sig = b"\x89PNG\r\n\x1a\n"
        ihdr = _png_chunk(b"IHDR", struct.pack(">IIBBBBB", n, n, 8, 2, 0, 0, 0))
        return sig + ihdr + _png_chunk(b"IDAT", zlib.compress(bytes(raw))) \
            + _png_chunk(b"IEND", b"")

    up_png, paeth_png = build(2), build(4)
    # correctness first
    assert np.array_equal(multimodal.decode_image(up_png), px.astype(np.uint8))
    assert np.array_equal(multimodal.decode_image(paeth_png), px.astype(np.uint8))
    t0 = time.perf_counter()
    for _ in range(3):
        multimodal.decode_image(up_png)
    t_up = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(3):
        multimodal.decode_image(paeth_png)
    t_paeth = time.perf_counter() - t0
    assert t_paeth / t_up >= 3, (t_up, t_paeth)


def test_bmp_roundtrip_property():
    """encode_bmp -> decode_image is the identity for arbitrary RGB
    arrays (row padding, bottom-up order, BGR swap all invert cleanly)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=40, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(1, 9), st.integers(1, 9), st.just(3)
            ),
        )
    )
    def check(px):
        assert np.array_equal(multimodal.decode_image(multimodal.encode_bmp(px)), px)

    check()


def test_resize_nearest_properties():
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=40, deadline=None)
    @given(
        arrays(np.uint8, st.tuples(st.integers(1, 12), st.integers(1, 12), st.just(3))),
        st.integers(1, 16),
        st.integers(1, 16),
    )
    def check(px, w, h):
        out = multimodal.resize_nearest(px, w, h)
        assert out.shape == (h, w, 3)
        # same-size resize is the identity
        same = multimodal.resize_nearest(px, px.shape[1], px.shape[0])
        assert np.array_equal(same, px)
        # every output pixel exists in the input (nearest never invents values)
        assert set(map(tuple, out.reshape(-1, 3))) <= set(map(tuple, px.reshape(-1, 3)))

    check()


def test_resize_images_real_decode_path(spark):
    import hashlib

    import numpy as np

    px = (np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3) * 5) % 256
    bmp = multimodal.encode_bmp(px)
    df = spark.createDataFrame(
        [(1, bytearray(bmp), "image/bmp"), (2, bytearray(b"not an image"), "text/plain")],
        "doc_id long, payload binary, media_type string",
    )
    out = {r.doc_id: r for r in multimodal.resize_images(df, 2, 2).collect()}
    # real path: decoded, nearest-resampled, re-encoded BMP
    expected = multimodal.encode_bmp(multimodal.resize_nearest(px, 2, 2))
    assert bytes(out[1].payload) == expected
    assert out[1].media_type == "image/bmp"
    assert out[1].checksum == hashlib.sha256(expected).hexdigest()
    # fake path: undecodable payload keeps the deterministic byte fake
    # (first width*height = 4 payload bytes)
    assert bytes(out[2].payload) == b"not "
    assert out[2].media_type == "text/plain"


def test_embedding_dup_pairs_blas(spark):
    vecs = [
        (0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_dup_pairs(df, threshold=0.9, method="exact").collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(0, 1)]
    assert pairs[0].cosine_sim > 0.99


def test_embedding_dup_pairs_blas_id_type_follows_input(spark):
    # ADVICE r1: the BLAS path hardcoded 'id_a long' — ids must keep the
    # input column's type (string ids here)
    vecs = [("a", [1.0, 0.0]), ("b", [0.999, 0.01]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id string, embedding array<float>")
    out = similarity.embedding_dup_pairs(df, threshold=0.9, method="exact")
    assert dict(out.dtypes)["id_a"] == "string"
    assert [(p.id_a, p.id_b) for p in out.collect()] == [("a", "b")]


@pytest.mark.slow
def test_embedding_dup_pairs_lsh_subset_of_exact(spark):
    """The LSH path may miss pairs (recall < 1) but must never invent one,
    and every emitted cosine must equal the exact path's value."""
    emb = _sf0001_embeddings(spark)
    exact = {
        (p.id_a, p.id_b): p.cosine_sim
        for p in similarity.embedding_dup_pairs(
            emb, threshold=0.4, method="exact"
        ).collect()
    }
    lsh = similarity.embedding_dup_pairs(
        emb, threshold=0.4, dim=64, nbits=4, n_tables=8, seed=42
    ).collect()
    assert lsh, "LSH path found no pairs at all"
    for p in lsh:
        assert (p.id_a, p.id_b) in exact
        assert p.cosine_sim == exact[(p.id_a, p.id_b)]
    # recall floor at these params (measured 0.83 on the sf lake)
    assert len(lsh) / len(exact) >= 0.6


def test_embedding_dup_pairs_lsh_no_driver_materialization(spark):
    """Plan-shape guard (VERDICT r1): the default dup-pairs path must be a
    pure DataFrame plan — joins on bucket keys, no mapInPandas/collect
    stage, and constructing it must not launch a Spark job."""
    vecs = [(i, [float(i % 3) - 1.0] * 4) for i in range(6)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    out = similarity.embedding_dup_pairs(df, threshold=0.9, dim=4, nbits=2,
                                         n_tables=2, seed=7)
    jobs_after = len(tracker.getJobIdsForGroup() or [])
    assert jobs_after == jobs_before  # lazy construction, no driver collect
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "mapInPandas" not in plan
    assert "Join" in plan


def test_ingest_binary_files(spark, tmp_path):
    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-b")
    (tmp_path / "skip.txt").write_text("not matched")
    df = multimodal.ingest_binary_files(spark, str(tmp_path), glob="*.bin")
    rows = {r.source_path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert rows["a.bin"].byte_len == 11 and len(rows["a.bin"].checksum) == 64
    feats = multimodal.extract_fake_features(df)
    assert feats.count() == 2


def test_dup_clusters_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (10, 11), (11, 12), (3, 4)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7, 10: 10, 11: 10, 12: 10}
    out = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(pairs).collect()}
    # chains 1-2-3-4, 7-8, 10-11-12 -> components labeled by min id
    assert out == expected
    star = {
        r.doc_id: r.cluster_id
        for r in dedup.dup_clusters(pairs, algorithm="star").collect()
    }
    assert star == expected


def test_dup_clusters_star_path_graph_log_rounds(spark, distributed):
    """VERDICT r2 #6: a 100-node path (the adversarial long-chain dup
    graph) must converge in O(log n) star rounds, not O(diameter).
    Label propagation would need ~99 rounds here; large-star/small-star
    is bounded by ~2·log2(100) ≈ 14."""
    n = 100
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    # forced distributed: the bound being tested is the DISTRIBUTED star
    # rounds' (the r14 local tail would resolve this in 0 rounds)
    with distributed():
        labels_df, rounds = dedup._dup_clusters_star(pairs)
    labels = {r.doc_id: r.cluster_id for r in labels_df.collect()}
    assert labels == {i: 0 for i in range(n)}
    assert rounds >= 1, "distributed star rounds must actually run"
    assert rounds <= 15, f"star CC took {rounds} rounds on a 100-path"
    # r14 local-tail parity: the fixpoint replay returns the identical
    # component-min labels the star rounds converged to
    tail = {
        r.doc_id: r.cluster_id
        for r in dedup._dup_clusters_star(pairs)[0].collect()
    }
    assert tail == labels


def test_dup_clusters_star_matches_label_on_random_graph(spark):
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    label = {r.doc_id: r.cluster_id for r in dedup.dup_clusters(df).collect()}
    star = {
        r.doc_id: r.cluster_id
        for r in dedup.dup_clusters(df, algorithm="star").collect()
    }
    assert star == label


def test_minhash_signature_column_form(spark):
    df = _docs(spark, [(1, "a b c d e"), (2, "a b c d e"), (3, "z y x w v")])
    out = {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id", dedup.minhash_signature("text", 8, 3).alias("sig")
        ).collect()
    }
    assert out[1] == out[2] != out[3]
    assert len(out[1]) == 8 and all(len(w) == 8 for w in out[1])
    with pytest.raises(ValueError):
        df.select(dedup.minhash_signature("text", 16))

def test_resize_images_plumbing(spark):
    df = _docs(spark, [(1, "abcdefghij"), (2, "xy")])
    payloads = multimodal.attach_binary_payload(df)
    out = {r.doc_id: r for r in multimodal.resize_images(payloads, 2, 3).collect()}
    # fake resize: first w*h bytes, zero-padded; metadata recomputed
    assert bytes(out[1].payload) == b"abcdef"
    assert bytes(out[2].payload) == b"xy\x00\x00\x00\x00"
    assert out[1].byte_len == 6 and out[1].width == 2 and out[1].height == 3
    import hashlib

    assert out[2].checksum == hashlib.sha256(b"xy\x00\x00\x00\x00").hexdigest()


def test_sample_frames_row_expansion(spark):
    df = _docs(spark, [(1, "a" * 1024), (2, "b")])  # 4 frames / 1 short frame
    payloads = multimodal.attach_binary_payload(df)
    rows = multimodal.sample_frames(payloads, frame_bytes=256, every_n=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert sorted(r.frame_idx for r in by_doc[1]) == [0, 2]  # every 2nd of 4
    assert len(by_doc[2]) == 1 and bytes(by_doc[2][0].frame) == b"b"
    assert all(len(r.checksum) == 64 for r in rows)


def test_chunk_texts_windows_and_tail(spark):
    import pytest as _pytest

    words = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = _docs(spark, [(1, words), (2, "a b")])
    out = text.chunk_texts(df, chunk_size=4, stride=3)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_text, r.chunk_tokens) for r in out.collect())
    )
    # doc 1: ceil((10-4)/3)+1 = 3 chunks at starts 1,4,7
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
    ]
    # doc 2 fits one (short) chunk
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b", 2)]
    with _pytest.raises(ValueError):
        text.chunk_texts(df, chunk_size=0)


def test_scrub_pii_counts_and_redacts(spark):
    df = _docs(spark, [
        (1, "mail a@b.io and c.d+x@e-f.org ssn 123-45-6789"),
        (2, "phone (555)123-4567 and 555 123-4567 clean"),
        (3, "nothing here"),
    ])
    out = {r.doc_id: r for r in text.scrub_pii(df, "text").collect()}
    assert out[1].n_email == 2 and out[1].n_ssn == 1 and out[1].n_phone == 0
    assert "[EMAIL]" in out[1].text and "[SSN]" in out[1].text
    assert "@" not in out[1].text and "123-45-6789" not in out[1].text
    assert out[2].n_phone == 2 and "[PHONE]" in out[2].text
    assert out[3].text == "nothing here"
    assert (out[3].n_email, out[3].n_ssn, out[3].n_phone) == (0, 0, 0)


def test_pack_token_bins_straddle_and_groups(spark):
    rows = [
        # source a: token counts 100, 100, 100 -> bins 0, 0, 0 (first
        # token of doc 3 lands at 200 < 256; it straddles into bin 1)
        ("a", 1, 100), ("a", 2, 100), ("a", 3, 100),
        # source b restarts its own bins
        ("b", 1, 300), ("b", 2, 10),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = {(r.source, r.doc_id): r.bin_id
           for r in text.pack_token_bins(df, budget=256).collect()}
    assert out[("a", 1)] == 0 and out[("a", 2)] == 0 and out[("a", 3)] == 0
    assert out[("b", 1)] == 0 and out[("b", 2)] == 1  # starts at 300


def test_repetition_stats_values(spark):
    rows = [
        (1, "x y x y x y"),          # one 2-gram "x y" 3x of 5 grams; 3-grams all dup-heavy
        (2, "a b c d e f"),          # no repetition
        (3, "w"),                    # shorter than n: single whole-text gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.repetition_stats(df).collect()}
    # doc1 2-grams: [x y, y x, x y, y x, x y] -> max 3 / total 5
    assert out[1].top_gram_frac == pytest.approx(3 / 5)
    # doc1 3-grams: [x y x, y x y, x y x, y x y] -> 2 distinct of 4
    assert out[1].dup_gram_frac == pytest.approx(2 / 4)
    assert out[2].top_gram_frac == pytest.approx(1 / 5)
    assert out[2].dup_gram_frac == 0.0
    assert out[3].top_gram_frac == 1.0 and out[3].dup_gram_frac == 0.0


def test_decontaminate_drops_overlapping_docs(spark):
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox runs away")], "doc_id long, text string"
    )
    flagged = decontam.ngram_overlap_contamination(train, ev, n=3).collect()
    assert [(r.doc_id, r.n_overlap) for r in flagged] == [(1, 1)]  # "quick brown fox"
    kept = decontam.decontaminate(train, ev, n=3).select("doc_id").collect()
    assert [r.doc_id for r in kept] == [2]


def test_decontaminate_no_overlap_keeps_everything(spark):
    train = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(9, "iota kappa lambda mu")],
                               "doc_id long, text string")
    assert decontam.ngram_overlap_contamination(train, ev, n=3).count() == 0
    kept = sorted(r.doc_id for r in decontam.decontaminate(train, ev, n=3).collect())
    assert kept == [1, 2]


# -- graph ---------------------------------------------------------------
def test_pagerank_matches_reference_power_iteration(spark):
    """Exact parity with a NumPy-free Python power iteration on a small
    graph with a cycle, a hub, and a dangling node; ranks sum to 1."""
    from census_data_pipeline_spark.functions.graph import pagerank

    edge_list = [("a", "b"), ("b", "a"), ("a", "c"), ("d", "c")]
    edges = spark.createDataFrame(edge_list, "src string, dst string")

    def ref(iters, d=0.85):
        nodes = sorted({x for e in edge_list for x in e})
        n = len(nodes)
        out = {}
        for s, _ in edge_list:
            out[s] = out.get(s, 0) + 1
        r = {v: 1.0 / n for v in nodes}
        for _ in range(iters):
            dm = sum(r[v] for v in nodes if v not in out)
            nxt = {}
            for v in nodes:
                c = sum(r[s] / out[s] for s, t in edge_list if t == v)
                nxt[v] = (1.0 - d) / n + d * (c + dm / n)
            r = nxt
        return r

    for bcast in (False, True):
        got = {r.id: r.rank for r in
               pagerank(edges, iterations=3,
                        broadcast_ranks=bcast).collect()}
        want = ref(3)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
        assert abs(sum(got.values()) - 1.0) < 1e-9
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_unigram_logprob_ranks_unusual_text_lower(spark):
    """MLE unigram scoring: a doc of corpus-common tokens scores higher
    (less negative) than one of rare tokens; ppl = exp(-avg) of the
    rounded average; n_tokens exact."""
    df = _docs(spark, [
        (1, "a a a a"), (2, "a a a b"), (3, "a a b c"),
    ])
    out = {r.doc_id: r for r in text.unigram_logprob(df).collect()}
    assert out[1].avg_logprob > out[2].avg_logprob > out[3].avg_logprob
    assert out[1].n_tokens == 4
    import math
    for r in out.values():
        assert abs(r.ppl_proxy - round(math.exp(-r.avg_logprob), 4)) < 1e-9
    # doc of only the most common token: p("a") = 9/12
    assert abs(out[1].avg_logprob - round(math.log(9 / 12), 6)) < 1e-9


# -- GIF decode (r4) ------------------------------------------------------
def _encode_gif(width, height, palette, indices, interlaced=False):
    """Minimal valid GIF89a writer for test fixtures: 'uncompressed'
    LZW (root codes only, clear emitted before the dictionary would
    force a width bump), LSB-first packing per the spec."""
    import struct

    n_pal = max(2, 1 << (max(palette.keys()) + 1).bit_length()) \
        if isinstance(palette, dict) else len(palette)
    # round palette size to a power of two >= 2
    size = 2
    while size < n_pal:
        size *= 2
    pal_bytes = bytearray()
    pal = palette if isinstance(palette, list) else []
    for i in range(size):
        rgb = pal[i] if i < len(pal) else (0, 0, 0)
        pal_bytes += bytes(rgb)
    gct_bits = size.bit_length() - 2  # 2^(n+1) = size
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | gct_bits, 0, 0)
    out += pal_bytes
    ipacked = 0x40 if interlaced else 0
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, ipacked)
    mcs = max(2, (size - 1).bit_length())
    out += bytes([mcs])
    clear, end = 1 << mcs, (1 << mcs) + 1
    width_bits = mcs + 1
    codes = []
    budget = (1 << width_bits) - end - 2  # emits before width would grow
    pending = 0
    codes.append(clear)
    rows = list(range(height))
    if interlaced:
        rows = ([r for r in range(0, height, 8)]
                + [r for r in range(4, height, 8)]
                + [r for r in range(2, height, 4)]
                + [r for r in range(1, height, 2)])
    for r in rows:
        for c in range(width):
            if pending >= budget:
                codes.append(clear)
                pending = 0
            codes.append(indices[r][c])
            pending += 1
    codes.append(end)
    acc = nbits = 0
    data = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_decode_gif_golden():
    import numpy as np

    from census_data_pipeline_spark.functions.multimodal import decode_image

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    idx = [[0, 1, 2, 3],
           [3, 2, 1, 0],
           [1, 1, 2, 2],
           [0, 3, 0, 3]]
    px = decode_image(_encode_gif(4, 4, pal, idx))
    assert px.shape == (4, 4, 3)
    expected = np.array([[pal[i] for i in row] for row in idx], np.uint8)
    assert (px == expected).all()


def test_decode_gif_interlaced_matches_linear():
    from census_data_pipeline_spark.functions.multimodal import decode_image

    pal = [(i, 2 * i, 3 * i) for i in range(8)]
    idx = [[(r * 7 + c) % 8 for c in range(5)] for r in range(9)]
    lin = decode_image(_encode_gif(5, 9, pal, idx, interlaced=False))
    ila = decode_image(_encode_gif(5, 9, pal, idx, interlaced=True))
    assert (lin == ila).all()


def test_decode_gif_failure_modes():
    import struct as _struct

    import pytest as _pytest

    from census_data_pipeline_spark.functions.multimodal import decode_image

    pal = [(1, 2, 3), (4, 5, 6)]
    good = _encode_gif(3, 3, pal, [[0, 1, 0]] * 3)
    # truncated payloads raise ValueError or struct.error — both are in
    # the except tuple the total-operator callers (resize_one) catch
    with _pytest.raises((ValueError, _struct.error, IndexError)):
        decode_image(good[:20])
    with _pytest.raises(ValueError):
        # trailer immediately after screen descriptor: no image at all
        decode_image(good[:13 + 6] + b"\x3b")


def _gif_lzw_blocks(indices, size):
    """mcs byte + chunked 'uncompressed' LZW data + block terminator for
    an index grid — the same root-codes-only scheme as _encode_gif."""
    mcs = max(2, (size - 1).bit_length())
    clear, end = 1 << mcs, (1 << mcs) + 1
    width_bits = mcs + 1
    budget = (1 << width_bits) - end - 2
    codes, pending = [clear], 0
    for row in indices:
        for v in row:
            if pending >= budget:
                codes.append(clear)
                pending = 0
            codes.append(v)
            pending += 1
    codes.append(end)
    acc = nbits = 0
    data = bytearray()
    for code in codes:
        acc |= code << nbits
        nbits += width_bits
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    out = bytearray([mcs])
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def _encode_gif_anim(width, height, palette, frames, bg=0):
    """Multi-frame GIF89a with per-frame Graphic Control Extensions:
    each frame is {left, top, indices, disposal, transparent} — the
    partial-frame/disposal fixture _encode_gif can't express."""
    import struct

    size = 2
    while size < len(palette):
        size *= 2
    pal_bytes = bytearray()
    for i in range(size):
        rgb = palette[i] if i < len(palette) else (0, 0, 0)
        pal_bytes += bytes(rgb)
    gct_bits = size.bit_length() - 2
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | gct_bits, bg, 0)
    out += pal_bytes
    for f in frames:
        disposal = f.get("disposal", 0)
        transparent = f.get("transparent")
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        out += b"\x21\xf9\x04" + bytes([flags, 0, 0, transparent or 0])
        out += b"\x00"
        idx = f["indices"]
        fh, fw = len(idx), len(idx[0])
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), fw, fh, 0
        )
        out += _gif_lzw_blocks(idx, size)
    out += b"\x3b"
    return bytes(out)


def test_gif_disposal_composition_golden():
    """VERDICT r4 #7: partial frames must composite onto the accumulated
    canvas per the GCE — transparency shows the canvas through, disposal
    2 restores the frame rectangle to background, disposal 3 restores it
    to the pre-frame canvas."""
    import numpy as np

    from census_data_pipeline_spark.functions.multimodal import (
        decode_gif_composited,
    )

    BG, RED, GRN, BLU = (10, 10, 10), (255, 0, 0), (0, 255, 0), (0, 0, 255)
    pal = [BG, RED, GRN, BLU]
    anim = _encode_gif_anim(4, 4, pal, [
        # frame 1: full red screen, leave in place
        {"indices": [[1] * 4 for _ in range(4)], "disposal": 0},
        # frame 2: 2x2 at (1,1), transparent index 0, then restore the
        # rectangle to background
        {"left": 1, "top": 1, "indices": [[2, 0], [0, 3]],
         "disposal": 2, "transparent": 0},
        # frame 3: 1x1 green at (0,0), restore-to-previous
        {"left": 0, "top": 0, "indices": [[2]], "disposal": 3},
        # frame 4: 1x1 blue at (3,3)
        {"left": 3, "top": 3, "indices": [[3]]},
    ])
    frames = decode_gif_composited(anim)
    assert len(frames) == 4 and frames[0].shape == (4, 4, 3)

    f1 = np.array([[RED] * 4] * 4, np.uint8)
    assert (frames[0] == f1).all()

    # frame 2 draws only its opaque pixels onto the red canvas
    f2 = f1.copy()
    f2[1, 1], f2[2, 2] = GRN, BLU          # opaque
    assert (frames[1] == f2).all()         # (1,2),(2,1) still red

    # frame 2's disposal=2 wiped its 2x2 rectangle to BG before frame 3
    f3 = f1.copy()
    f3[1:3, 1:3] = BG
    f3[0, 0] = GRN
    assert (frames[2] == f3).all()

    # frame 3's disposal=3 restored (0,0) to pre-frame (red)
    f4 = f1.copy()
    f4[1:3, 1:3] = BG
    f4[3, 3] = BLU
    assert (frames[3] == f4).all()


def test_gif_composited_matches_decode_for_full_frames():
    """Full-frame animations: composition degenerates to independent
    decode — pin against _decode_gif on the split frames."""
    import numpy as np

    from census_data_pipeline_spark.functions.multimodal import (
        decode_gif_composited,
        decode_image,
        decode_video_frames,
    )

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 7, 7)]
    f1 = [[0, 1], [2, 3]]
    f2 = [[3, 2], [1, 0]]
    anim = _encode_gif_anim(2, 2, pal, [
        {"indices": f1}, {"indices": f2},
    ])
    composed = decode_gif_composited(anim)
    split = [decode_image(p) for p in decode_video_frames(anim)]
    assert len(composed) == len(split) == 2
    for c, s in zip(composed, split):
        assert (c == s).all()
    # out-of-bounds frame placement is an error, not silent clipping
    import pytest as _pytest
    bad = _encode_gif_anim(2, 2, pal, [
        {"left": 1, "top": 1, "indices": [[0, 1], [2, 3]]},
    ])
    with _pytest.raises(ValueError):
        decode_gif_composited(bad)


def test_gif_animation_frames_split_and_decode():
    import numpy as np

    from census_data_pipeline_spark.functions.multimodal import (
        decode_image,
        decode_video_frames,
    )

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 7, 7)]
    f1 = [[0, 1], [2, 3]]
    f2 = [[3, 2], [1, 0]]
    # build a 2-frame animation by splicing a second image block into a
    # single-frame fixture (same global palette, full-frame frames)
    g1 = _encode_gif(2, 2, pal, f1)
    g2 = _encode_gif(2, 2, pal, f2)
    hdr_len = 13 + 3 * 4  # header + 4-entry GCT
    anim = g1[:-1] + g2[hdr_len:]  # strip g1 trailer, append g2 blocks
    frames = decode_video_frames(anim)
    assert len(frames) == 2
    d1, d2 = decode_image(frames[0]), decode_image(frames[1])
    assert (d1 == np.array([[pal[i] for i in r] for r in f1], np.uint8)).all()
    assert (d2 == np.array([[pal[i] for i in r] for r in f2], np.uint8)).all()
