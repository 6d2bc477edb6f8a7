#!/usr/bin/env python
"""Amplified-data scale rehearsal (VERDICT r4 #4): the 2× perf gate runs
at sf0.1 and every 100 TB claim is plan-shape reasoning — this script
MEASURES how the five heaviest families scale by running them at 1× and
10× of sf0.1, where the 10× corpus is a deterministic union of
key-shifted copies plus one adversarial mega-duplicate cluster.

Amplification model (all deterministic, no RNG):
- documents ×10: copy k shifts doc_id by k·10⁷ and suffixes every TOKEN
  with a per-copy marker, so copies are NOT near-duplicates of each
  other (realistic growth: new content at the same internal
  duplicate-rate), while each copy preserves sf0.1's own dup structure.
- adversarial mega-cluster: n identical documents (n scales with the
  corpus: 200 at 1×, 2000 at 10×) — the exact shape that turns banded
  LSH quadratic, present at BOTH scales so capped-vs-uncapped deltas
  are apples-to-apples.
- embeddings ×10: vec_id shift + deterministic per-copy element offset
  (copies are near but not identical vectors).
- purchase graph ×10: key-shifted custkey/suppkey per copy — ten
  disconnected copies of the real orders⋈lineitem graph.

For each family: min-of-2 wall at each scale, scaling exponent
α = log(t₁₀/t₁)/log(10) (α=1 linear, α=2 quadratic). Emits one JSON
line and a markdown table for SCALING.md.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from census_data_pipeline_spark.session import get_spark  # noqa: E402
from census_data_pipeline_spark.functions import (  # noqa: E402
    dedup,
    graph,
    similarity,
)
from census_data_pipeline_spark.sources import catalog  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
MEGA_TEXT = "dup dup boilerplate license blurb repeated across the crawl " * 5


def _salt_tokens(text_col, k: int):
    """Suffix every token with a per-copy marker — shingles of copy k
    are disjoint from copy j's, so amplification adds VOLUME, not
    cross-copy near-duplicates."""
    if k == 0:
        return F.col(text_col)
    return F.array_join(
        F.transform(F.split(F.col(text_col), " "),
                    lambda x: F.concat(x, F.lit(f"§{k}"))),
        " ",
    )


def amplify_docs(docs: DataFrame, copies: int, mega: int) -> DataFrame:
    parts = [
        docs.select(
            (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
            _salt_tokens("text", k).alias("text"),
        )
        for k in range(copies)
    ]
    spark = docs.sparkSession
    mega_df = spark.range(mega).select(
        (F.col("id") + 900_000_000).alias("doc_id"),
        F.lit(MEGA_TEXT).alias("text"),
    )
    return reduce(DataFrame.unionAll, parts + [mega_df])


def amplify_embeddings(emb: DataFrame, copies: int) -> DataFrame:
    parts = [
        emb.select(
            (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + F.lit(0.001 * k) * ((i % 7) - 3),
            ).alias("embedding"),
        )
        for k in range(copies)
    ]
    return reduce(DataFrame.unionAll, parts)


def amplify_edges(edges: DataFrame, copies: int) -> DataFrame:
    parts = [
        edges.select(
            F.concat(F.lit(f"k{k}_"), "src").alias("src"),
            F.concat(F.lit(f"k{k}_"), "dst").alias("dst"),
        )
        for k in range(copies)
    ]
    return reduce(DataFrame.unionAll, parts)


def amplify_events(ev: DataFrame, copies: int) -> DataFrame:
    """Events ×copies along BOTH scaling axes a real deployment grows:
    copy k shifts user_id (10× users for the survival per-user agg) and
    suffixes event_type (10× forecast keys, so the per-key
    horizon-bounded fold frame grows with the corpus, not just the
    data-scale hourly agg)."""
    parts = [
        ev.select(
            (F.col("user_id") + k * 10_000_000).alias("user_id"),
            F.concat(F.col("event_type"), F.lit(f"_{k}"))
            .alias("event_type"),
            "ts",
        )
        for k in range(copies)
    ]
    return reduce(DataFrame.unionAll, parts)


@contextlib.contextmanager
def distributed_path():
    """Set ``catalog.LOCAL_TAIL_ROWS`` to 0 for the block (or the
    decorated family): the rehearsal then measures the DISTRIBUTED
    path a 100 TB graph takes — the bounded local tails would otherwise
    absorb the 1x/10x decades (their cap admits up to 2M rows) and the
    exponent would compare paths, not scaling."""
    saved = catalog.LOCAL_TAIL_ROWS
    catalog.LOCAL_TAIL_ROWS = 0
    try:
        yield
    finally:
        catalog.LOCAL_TAIL_ROWS = saved


def timed(build, runs: int | None = None) -> float:
    # SPARK_GRAFT_REHEARSAL_RUNS overrides the min-of-2 protocol —
    # min-of-1 trades sampling robustness for fitting more families in
    # a round's rehearsal budget; records carry the runs used.
    if runs is None:
        runs = int(os.environ.get("SPARK_GRAFT_REHEARSAL_RUNS", "2"))
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    spark = get_spark(app_name="scale_rehearsal")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    edges1 = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), "o_custkey").alias("src"),
            F.concat(F.lit("s"), "l_suppkey").alias("dst"),
        )
        .distinct()
    )

    # materialize the scales once so amplification cost isn't timed.
    # SPARK_GRAFT_REHEARSAL_SCALES overrides (label:copies:mega,...) —
    # e.g. "1x:1:200,100x:100:20000" for a two-decade probe;
    # SPARK_GRAFT_REHEARSAL_FAMILIES comma-filters the family set.
    spec = os.environ.get(
        "SPARK_GRAFT_REHEARSAL_SCALES", "1x:1:200,10x:10:2000"
    )
    scale_list = []
    for part in spec.split(","):
        label, copies, mega = part.split(":")
        scale_list.append((label, int(copies), int(mega)))
    from census_data_pipeline_spark.sources.catalog import load_table

    events1 = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", "ts"
    )
    # materialize only the inputs the selected families read — a
    # family-filtered run must not pay for amplifying 100x of inputs it
    # never touches (the 100x salted-docs build alone dominates a
    # graph-only rehearsal otherwise)
    _family_inputs = {
        "minhash_lsh_capped": "d", "minhash_lsh_uncapped": "d",
        "cross_corpus_dedup": "d", "cc_star": "d", "span_dedup": "d",
        "pagerank": "g", "ivfpq": "e", "bpe_train": "d",
        "tag_keywords": "d", "token_budget": "d",
        "label_propagation": "g", "logreg": "d", "tree_hist": "d",
        "gbt_stumps": "d", "trustrank": "g", "dbscan": "d",
        "pca_catalyst": "e", "pca_arrow": "e", "bfs": "g",
        "forecast_hw": "v", "survival_km": "v", "random_forest": "d",
        "kcore": "g", "coreness": "g", "louvain": "g",
        "louvain_multilevel": "g", "louvain_weighted": "g",
        "lpa_weighted": "g", "leiden": "g", "mmr": "e",
        "hits": "g", "weighted_bf": "g",
        "components": "g", "markov": "v", "wasserstein_w1": "v",
        "bootstrap_ci": "v",
    }
    _filter_env = os.environ.get("SPARK_GRAFT_REHEARSAL_FAMILIES")
    if _filter_env:
        needed = {
            _family_inputs.get(f, "degv")
            for f in _filter_env.split(",")
        }
        needed = set("".join(needed))
    else:
        needed = set("degv")

    scales = {}
    for label, copies, mega in scale_list:
        d = amplify_docs(docs, copies, mega)
        e = amplify_embeddings(emb, copies)
        g = amplify_edges(edges1, copies)
        v = amplify_events(events1, copies)
        counts = []
        if "d" in needed:
            d = d.localCheckpoint()
            counts.append(f"docs={d.count()}")
        if "e" in needed:
            e = e.localCheckpoint()
            counts.append(f"emb={e.count()}")
        if "g" in needed:
            g = g.localCheckpoint()
            counts.append(f"edges={g.count()}")
        if "v" in needed:
            v = v.localCheckpoint()
            counts.append(f"events={v.count()}")
        scales[label] = (d, e, g, v)
        print(f"# scale {label}: {' '.join(counts)}", file=sys.stderr)

    def fam_minhash_capped(d, e, g, v):
        return dedup.minhash_lsh_pairs(d, threshold=0.5, bucket_cap=8)

    def fam_minhash_uncapped(d, e, g, v):
        return dedup.minhash_lsh_pairs(d, threshold=0.5)

    def fam_cross_corpus(d, e, g, v):
        ref = d.filter(F.col("doc_id") % 3 == 0)
        new = d.filter(F.col("doc_id") % 3 != 0)
        return dedup.minhash_dedup_against(new, ref, threshold=0.5,
                                           bucket_cap=8)

    def fam_cc_star(d, e, g, v):
        pairs = dedup.minhash_lsh_pairs(d, threshold=0.5, bucket_cap=8)
        return dedup.dup_clusters(pairs, algorithm="star")

    def fam_span_dedup(d, e, g, v):
        return dedup.span_dedup(d, span_tokens=16)

    def fam_pagerank(d, e, g, v):
        return graph.pagerank(g, iterations=5, broadcast_ranks=True)

    def fam_ivfpq(d, e, g, v):
        q = e.filter(F.col("vec_id") < 50)
        return similarity.knn_ivfpq_seeded(e, q, k=10)

    def fam_bpe_train(d, e, g, v):
        from census_data_pipeline_spark.functions import text
        return text.bpe_train(d, num_merges=6)

    def fam_tag_keywords(d, e, g, v):
        from census_data_pipeline_spark.functions import text
        phrases = d.sparkSession.createDataFrame(
            [("dup dup",), ("boilerplate license",), ("stream",)],
            "phrase string",
        )
        return text.tag_keywords(d, phrases)

    def fam_token_budget(d, e, g, v):
        from census_data_pipeline_spark.functions import sampling
        src = d.withColumn("source", (F.col("doc_id") % 20).cast("string"))
        return sampling.token_budget_sample(src, budget_tokens=2000,
                                            key_bits=32)

    def fam_label_propagation(d, e, g, v):
        return graph.label_propagation(g, iterations=5,
                                       broadcast_labels=True)

    def fam_logreg(d, e, g, v):
        from census_data_pipeline_spark.functions import classify
        return classify.logreg_train(
            d,
            (F.col("doc_id") % 2 == 0).cast("double"),
            [
                ("f_chars", F.length("text")),
                ("f_words",
                 F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(" "),
                                      F.lit(""))) + F.lit(1)),
                ("f_e", F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit("e"),
                                      F.lit("")))),
            ],
            iterations=8,
        )

    def fam_tree_hist(d, e, g, v):
        from census_data_pipeline_spark.functions import classify
        return classify.decision_tree_train(
            d,
            (F.col("doc_id") % 2 == 0).cast("int"),
            [
                ("f_chars", F.length("text")),
                ("f_words",
                 F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(" "),
                                      F.lit(""))) + F.lit(1)),
                ("f_e", F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit("e"),
                                      F.lit("")))),
            ],
            bins=16,
            depth=2,
        )

    def fam_gbt_stumps(d, e, g, v):
        from census_data_pipeline_spark.functions import classify
        return classify.boost_stumps_train(
            d,
            (F.length("text") % 97).cast("double"),
            [
                ("f_chars", F.length("text")),
                ("f_words",
                 F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(" "),
                                      F.lit(""))) + F.lit(1)),
            ],
            rounds=4,
            bins=16,
        )

    def fam_trustrank(d, e, g, v):
        seeds = g.filter(F.col("src").rlike("_c17$|^c17$")).select(
            F.col("src").alias("id")
        ).distinct()
        return graph.pagerank(g, iterations=5, broadcast_ranks=True,
                              personalization=seeds)

    def fam_dbscan(d, e, g, v):
        # blob index spreads with the copy number, so amplification adds
        # AREA at constant density (new content, same local structure —
        # the amplify_docs philosophy); the 900M-id mega-duplicate rows
        # form one coincident-point cell, the irreducibly-quadratic
        # adversarial shape (DBSCAN pair count is Σ|cell|²)
        from census_data_pipeline_spark.operators.geo import dbscan_grid
        k = F.col("doc_id")
        blob = (k % 4) + 4 * F.floor(k / 10_000_000)
        pts = d.select(
            k.alias("id"),
            F.when(k % 13 == 0, (k * 29 % 500).cast("double") / 2.0)
            .otherwise(40.0 * blob + (k * 7 % 23).cast("double") * 0.4)
            .alias("x"),
            F.when(k % 13 == 0, (k * 31 % 500).cast("double") / 2.0)
            .otherwise(30.0 * blob + (k * 11 % 19).cast("double") * 0.4)
            .alias("y"),
        )
        return dbscan_grid(pts, eps=1.6, min_pts=4)

    def fam_pca_catalyst(d, e, g, v):
        return similarity.pca_power_dominant(e, "embedding", iterations=8,
                                             moments="catalyst")

    def fam_pca_arrow(d, e, g, v):
        return similarity.pca_power_dominant(e, "embedding", iterations=8,
                                             moments="arrow")

    def fam_bfs(d, e, g, v):
        # one seed per amplified copy (the k{copy}_c17 customer), so the
        # seed set grows with the corpus like a real watchlist would
        seeds = g.filter(F.col("src").rlike("_c17$")).select(
            "src"
        ).distinct()
        return graph.bfs_distances(g, seeds, max_hops=4,
                                   broadcast_frontier=True)

    def fam_forecast_hw(d, e, g, v):
        # mirrors events_forecast_hourly: one data-scale hourly hash agg
        # onto a zero-filled grid, then the Catalyst-aggregate HW fold —
        # amplification grows BOTH the scan and the key count (suffixed
        # event types), so the per-key fold frame scales with the data
        from census_data_pipeline_spark.operators import forecast
        hourly = v.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hb")
        ).agg(F.count("*").alias("y"))
        bounds = hourly.groupBy("event_type").agg(
            F.min("hb").alias("lo"), F.max("hb").alias("hi")
        )
        grid = bounds.select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hb"),
        )
        series = grid.join(hourly, ["event_type", "hb"], "left").select(
            "event_type", "hb",
            F.coalesce(F.col("y"), F.lit(0)).cast("double").alias("y"),
        )
        return forecast.holt_winters_forecast(
            series, ["event_type"], "hb", "y", m=24,
            alpha=0.2, beta=0.1, gamma=0.3, horizon=24,
        )

    def fam_survival_km(d, e, g, v):
        # mirrors survival_by_segment: one per-user data-scale agg (10×
        # users per decade), then cohort-partitioned windows over the
        # |cohorts|×|durations| frame
        from census_data_pipeline_spark.operators import survival
        u = v.groupBy("user_id").agg(
            F.min("ts").alias("t0"),
            F.min(F.when(F.col("event_type").startswith("purchase"),
                         F.col("ts"))).alias("p"),
        )
        h = v.agg(F.max("ts").alias("hmax"))
        dur = u.crossJoin(F.broadcast(h)).select(
            F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd")
            .alias("cohort"),
            F.floor(
                (F.unix_micros(F.coalesce("p", "hmax"))
                 - F.unix_micros("t0")) / 3_600_000_000.0
            ).cast("long").alias("duration"),
            F.when(F.col("p").isNotNull(), 1).otherwise(0)
            .alias("observed"),
        )
        return survival.kaplan_meier_grouped(dur)

    def fam_random_forest(d, e, g, v):
        from census_data_pipeline_spark.functions import classify
        return classify.random_forest_train(
            d,
            (F.col("doc_id") % 2 == 0).cast("int"),
            [
                ("f_chars", F.length("text")),
                ("f_words",
                 F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit(" "),
                                      F.lit(""))) + F.lit(1)),
                ("f_e", F.length("text")
                 - F.length(F.replace(F.col("text"), F.lit("e"),
                                      F.lit("")))),
            ],
            F.col("doc_id").cast("string"),
            n_trees=3,
            row_keep=12,
            bins=16,
            depth=2,
        )

    def fam_kcore(d, e, g, v):
        from census_data_pipeline_spark.functions import graph as _g
        return _g.kcore_nodes(g, k=4, rounds=8)

    def fam_components(d, e, g, v):
        # iterative min-label propagation; the amplified graph is
        # disconnected key-shifted copies, so ROUND count (diameter)
        # stays constant across decades while per-round join cost
        # grows with the data — the same design claim coreness checks
        from census_data_pipeline_spark.functions import graph as _g
        return _g.connected_components(g)

    def fam_markov(d, e, g, v):
        # the data-scale cost is the per-user lead window; the k² chain
        # frame grows with the suffixed event types (k×copies states),
        # so the 30 bounded-frame iterations also scale in WIDTH
        from census_data_pipeline_spark.operators import rollup as _r
        return _r.markov_stationary(v, "ts", "user_id", "event_type",
                                    "ts", iterations=30)

    def fam_wasserstein_w1(d, e, g, v):
        # pooled distinct-value frame grows with the data: three
        # bucketed prefix sums + the successor-gap equi-join
        from census_data_pipeline_spark.operators import drift as _dr
        a = v.filter(F.col("event_type").startswith("click")).select(
            (F.unix_micros("ts") % 100_000).cast("double").alias("val")
        )
        b = v.filter(F.col("event_type").startswith("error")).select(
            (F.unix_micros("ts") % 100_000).cast("double").alias("val")
        )
        return _dr.wasserstein_1(a, b, "val")

    def fam_bootstrap_ci(d, e, g, v):
        # n·B fan-out partial-aggregated to the B-row replicate frame —
        # B held constant (20) so the exponent isolates the data axis
        from census_data_pipeline_spark.operators import rollup as _r
        rows = v.filter(
            F.col("event_type").startswith("purchase")
        ).select(
            F.concat_ws("-", "user_id",
                        F.unix_micros("ts").cast("string")).alias("rid"),
            "user_id",
            (F.unix_micros("ts") % 1000).cast("double").alias("val"),
        )
        return _r.bootstrap_mean_diff(rows, "rid",
                                      F.col("user_id") % 2 == 0,
                                      "val", n_boot=20)

    @distributed_path()
    def fam_louvain(d, e, g, v):
        # LPA init + 4 disjoint-move rounds (the graph_louvain_move
        # shape); disconnected key-shifted copies keep the round count
        # constant across decades while per-round joins grow with data.
        from census_data_pipeline_spark.functions import graph as _g
        lpa = _g.label_propagation(g, iterations=5,
                                   broadcast_labels=True)
        lab = _g.louvain_local_move(g, rounds=4, init_labels=lpa)
        return _g.modularity(g, lab, label_col="community")

    @distributed_path()
    def fam_louvain_multilevel(d, e, g, v):
        # the graph_louvain_multilevel shape (4 levels x 10 rounds,
        # singleton init) on the distributed path — contraction keeps
        # the level-1+ frames community-scale, so the claim under test
        # is that the LEVEL-0 rounds dominate and scale like the move
        # family above
        from census_data_pipeline_spark.functions import graph as _g
        lab = _g.louvain_multilevel(g, levels=4, rounds=10)
        return _g.modularity(g, lab)

    def _weighted_edges(g):
        # deterministic integer-valued multiplicities (1..5) so every
        # weighted sum stays an exact double — the community tier's
        # parity convention — without amplifying a separate input
        return g.withColumn(
            "w", ((F.abs(F.hash("src", "dst")) % 5) + 1).cast("double")
        )

    @distributed_path()
    def fam_louvain_weighted(d, e, g, v):
        # the graph_louvain_weighted shape on the distributed path:
        # weighted move rounds + weighted modularity score — the r12
        # weight plumbing adds one weight-sum pass per symmetrize and
        # weighted aggregates per round; claim under test is that the
        # weights change constants, not the exponent
        from census_data_pipeline_spark.functions import graph as _g
        ew = _weighted_edges(g)
        lab = _g.louvain_local_move(ew, rounds=4, weight_col="w")
        return _g.modularity(ew, lab, weight_col="w",
                             label_col="community")

    @distributed_path()
    def fam_lpa_weighted(d, e, g, v):
        # weighted vote rounds (r13): per round the (dst, label) sum
        # aggregates weights instead of counts — same join shape
        from census_data_pipeline_spark.functions import graph as _g
        return _g.label_propagation(_weighted_edges(g), iterations=5,
                                    broadcast_labels=True,
                                    weight_col="w")

    @distributed_path()
    def fam_leiden(d, e, g, v):
        # the graph_leiden DATAFLOW on the distributed path: move
        # rounds + per-level min-label component refinement +
        # contraction + final connectivity pass; disconnected
        # key-shifted copies keep refinement diameters constant across
        # decades while per-round join cost grows with data. 2 levels
        # × 4 rounds (not the query's 4×14): the rehearsal measures
        # the EXPONENT of the per-round/per-pass dataflow, and the
        # fixed round count is a constant multiplier — the full config
        # at 100× would burn ~3 h of rehearsal budget on the same
        # per-round shapes measured here
        from census_data_pipeline_spark.functions import graph as _g
        lab = _g.leiden(g, levels=2, rounds=4)
        return _g.modularity(g, lab, label_col="community")

    @distributed_path()
    def fam_mmr(d, e, g, v):
        # the r13 distributed MMR greedy (the applyInPandas route):
        # fixed query count, so candidate generation (one corpus scan
        # per batch of queries) is the data-scale term and the
        # per-query greedy is O(N²) constant
        from census_data_pipeline_spark.functions import similarity as _s
        q = e.filter(F.col("vec_id") < 30)
        return _s.mmr_rerank(e, q, k=8, n_candidates=32)

    def fam_hits(d, e, g, v):
        from census_data_pipeline_spark.functions import graph as _g
        return _g.hits_scores(g, iterations=5, broadcast_scores=True)

    def fam_weighted_bf(d, e, g, v):
        # closeness weights over the deduped amplified graph; seeds =
        # a fixed slice of src nodes so the frontier is node-bounded
        from census_data_pipeline_spark.functions import graph as _g
        ew = g.groupBy("src", "dst").agg(
            (F.lit(1.0) / F.count("*")).alias("w")
        )
        sym = ew.unionByName(
            ew.select(F.col("dst").alias("src"),
                      F.col("src").alias("dst"), "w")
        )
        seeds = g.select("src").distinct().filter(
            F.abs(F.hash("src")) % 100 == 0
        )
        return _g.weighted_distances(sym, seeds, weight_col="w",
                                     rounds=4)

    def fam_coreness(d, e, g, v):
        # full all-k decomposition; the amplified graph is disconnected
        # key-shifted copies, so the peel DEPTH stays constant across
        # decades (copies peel in parallel) while per-round cost grows
        # with the data — the design claim the rehearsal checks
        from census_data_pipeline_spark.functions import graph as _g
        return _g.coreness(g)

    families = {
        "minhash_lsh_capped": fam_minhash_capped,
        "minhash_lsh_uncapped": fam_minhash_uncapped,
        "cross_corpus_dedup": fam_cross_corpus,
        "cc_star": fam_cc_star,
        "span_dedup": fam_span_dedup,
        "pagerank": fam_pagerank,
        "ivfpq": fam_ivfpq,
        "bpe_train": fam_bpe_train,
        "tag_keywords": fam_tag_keywords,
        "token_budget": fam_token_budget,
        "label_propagation": fam_label_propagation,
        "logreg": fam_logreg,
        "tree_hist": fam_tree_hist,
        "gbt_stumps": fam_gbt_stumps,
        "trustrank": fam_trustrank,
        "dbscan": fam_dbscan,
        "pca_catalyst": fam_pca_catalyst,
        "pca_arrow": fam_pca_arrow,
        "forecast_hw": fam_forecast_hw,
        "survival_km": fam_survival_km,
        "random_forest": fam_random_forest,
        "kcore": fam_kcore,
        "coreness": fam_coreness,
        "louvain": fam_louvain,
        "louvain_multilevel": fam_louvain_multilevel,
        "louvain_weighted": fam_louvain_weighted,
        "lpa_weighted": fam_lpa_weighted,
        "leiden": fam_leiden,
        "mmr": fam_mmr,
        "hits": fam_hits,
        "weighted_bf": fam_weighted_bf,
        "bfs": fam_bfs,
        "components": fam_components,
        "markov": fam_markov,
        "wasserstein_w1": fam_wasserstein_w1,
        "bootstrap_ci": fam_bootstrap_ci,
    }

    family_filter = os.environ.get("SPARK_GRAFT_REHEARSAL_FAMILIES")
    if family_filter:
        # filter ORDER is honored so a budgeted run can sequence its
        # heaviest families last (partial stderr progress stays useful
        # if the run is cut)
        families = {n: families[n]
                    for n in family_filter.split(",") if n in families}

    labels = [label for label, _, _ in scale_list]
    first, last = labels[0], labels[-1]
    ratio = scale_list[-1][1] / scale_list[0][1]
    results: dict[str, dict] = {}
    for name, fn in families.items():
        row: dict = {}
        for label in labels:
            d, e, g, v = scales[label]
            row[label] = round(timed(lambda: fn(d, e, g, v)), 3)
            print(f"# {name} @{label}: {row[label]} s", file=sys.stderr)
        row["exponent"] = round(
            math.log(max(row[last], 1e-9) / max(row[first], 1e-9))
            / math.log(ratio),
            3,
        )
        # per-consecutive-decade marginal exponents — the >1.05 alarm
        # reads the LAST decade (superlinear growth hides in the tail
        # when the overall exponent is averaged over a flat first decade)
        for (la, ca, _), (lb, cb, _) in zip(scale_list, scale_list[1:]):
            r = cb / ca
            row[f"alpha_{la}_{lb}"] = round(
                math.log(max(row[lb], 1e-9) / max(row[la], 1e-9))
                / math.log(r),
                3,
            )
        results[name] = row

    print(json.dumps({"sf_base": SF_DIR, "scales": labels,
                      "families": results}))
    header = " | ".join(f"{lb} (s)" for lb in labels)
    print(f"\n| family | {header} | exponent |", file=sys.stderr)
    print("|---" * (len(labels) + 2) + "|", file=sys.stderr)
    for name, row in results.items():
        cells = " | ".join(str(row[lb]) for lb in labels)
        print(f"| {name} | {cells} | {row['exponent']} |", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
