"""10× scale-up stress for the round-9 second-wave operators
(SCALING.md §Round-9 second-wave measured scale-up).

Extends the round-9 key-shifted ×10 events synthesis (SCALING.md) to EVERY
table the new operators consume — events, orders, customer (FK-consistent
with orders), lineitem (order/part/supp keys all shifted so the bipartite
graph genuinely grows), documents, embeddings — then times each operator
warm at 1× vs 10×. Operators whose inputs are value-capped (BPE doc cap,
prefix-filter doc cap, shortest-path user cap, skyline's unscaled part
table) ride along as fixed-input controls: their 10× time should be flat.

Usage: python tools/scaleup_r9b.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = os.environ.get("SCALEUP_BASE", "/root/testdata/sf0.1")
SCRATCH = "/tmp/avro_parquet_spark_example_spark_scaleup_r9b"
FACTOR = 10

#: (query, scaling tables or "control")
OPS = [
    ("ts_max_concurrency", "events"),
    ("mine_itemset_triples", "events"),
    ("ts_anomaly_seasonal_residual", "events"),
    ("agg_exact_median_distributed", "lineitem"),
    ("agg_weighted_median_distributed", "lineitem"),
    ("eval_auc_exact", "lineitem"),
    ("eval_calibration_bins", "lineitem"),
    ("bipartite_project_full", "lineitem (REAL 10x: library op, no part filter, error-mode degree cap)"),
    ("graph_hits_bipartite", "lineitem"),
    ("dq_referential_integrity", "lineitem+orders+customer"),
    ("agg_gini_concentration", "orders"),
    ("ml_target_encode_loo", "orders+customer"),
    ("ml_normal_equations", "embeddings"),
    ("ml_linreg_gd", "embeddings"),
    ("simsearch_range_threshold", "embeddings"),
    ("ml_naive_bayes_model", "documents"),
    ("ml_feature_hashing", "documents"),
    ("sample_systematic_every_k", "documents"),
    ("mine_skyline_pareto", "control (part 1x)"),
    ("neardup_jaccard_prefix_filter", "control (doc cap)"),
    ("text_bpe_train", "control (doc cap)"),
    ("graph_shortest_path_k3", "control (user cap)"),
    # round-10 additions
    ("vec_knn_graph_ivf", "embeddings (full table; IVF-cell candidate join)"),
    ("vec_cluster_silhouette_sampled", "embeddings (md5 ~25% sample all-pairs)"),
    ("graph_personalized_pagerank", "events (seed frontier, 3 rounds)"),
    ("ts_holt_winters", "events (per-type day-grid fold)"),
    ("agg_theil_index", "orders (two map-side aggregates)"),
    ("eval_pr_auc_exact", "lineitem (distinct-value prefix sums)"),
    ("dq_drift_jsd", "orders (10-bucket CASE-sum)"),
    # round-11 additions
    ("agg_spearman_rank_corr", "lineitem (joint-matrix rank maps; matrix is domain-bounded)"),
    ("agg_kendall_tau_b", "lineitem (matrix self-join; cells domain-bounded)"),
    ("agg_mutual_information", "orders (|X|x|Y| cells per year)"),
    ("agg_hhi_concentration", "lineitem (per-(nation,supp) revenue roll-up)"),
    ("dq_simpsons_reversal", "orders (two one-scan aggregates)"),
    ("ts_cusum_drift", "events (day-grid fold)"),
    ("ts_rolling_median_trend", "events (day-grid window)"),
    ("ml_decision_stump", "lineitem (distinct-value prefix sums)"),
    ("graph_degree_assortativity", "events (UNCAPPED edge build + degree joins)"),
    ("graph_clustering_coefficient", "control (TRI_MAX_USER node cap)"),
    ("vec_nearest_centroid_assign", "embeddings (|labels| fan-out per element)"),
    ("eval_cohens_kappa", "embeddings (centroid-assign plan + marginals)"),
    ("cluster_kcenter_greedy", "embeddings (k-1 linear passes)"),
    ("dedup_cluster_quality_pick", "control (doc_id<150 CC fixture cap)"),
    ("ts_lead_lag_xcorr", "events (day-grid lag joins)"),
    ("text_log_odds_monroe", "documents (vocab-sized z table)"),
    ("window_percent_rank_cume", "lineitem (r12: domain-matrix + broadcast decorate — no full-table window; 10x cost is the 10x output itself)"),
    ("agg_cramers_v", "events (|types|x7 contingency)"),
    ("eval_mcc_multiclass", "embeddings (centroid-assign plan + moments)"),
    ("ts_anova_weekday", "events (day-grid group moments)"),
    ("text_ttr_hapax", "documents (vocab-keyed count)"),
    # round-12 additions
    ("agg_quantile_bands_exact", "lineitem (domain-matrix windows)"),
    ("agg_trimmed_winsorized_mean", "lineitem (domain-matrix rank overlaps)"),
    ("agg_mad_robust", "lineitem (two chained domain matrices)"),
    ("dq_outlier_mad_flags", "lineitem (MAD plan + one broadcast join)"),
    ("agg_hodges_lehmann_shift", "lineitem (histogram convolution, |Vx|x|Vy| grid)"),
    ("ts_autocorr_acf", "events (day-grid lag self-joins)"),
    ("ts_burstiness_fano", "events (day-grid moment roll-up)"),
    ("vec_dim_variance_topk", "embeddings (64-row moment aggregate)"),
    ("text_doclen_quantiles", "documents (length-domain matrix)"),
    ("dedup_cluster_size_histogram", "documents (key shuffle + size histogram)"),
    ("dq_column_profile", "orders (one multi-distinct aggregate pass)"),
    # round-12 backward extension of the 10x rule: the graph family
    # (VERDICT r11 task #7 — the oldest iterative operators)
    ("graph_triangle_count", "control (TRI_MAX_USER node cap)"),
    ("graph_label_propagation", "events (UNCAPPED edge build, 3 LPA rounds)"),
    ("graph_kcore_peel", "events (UNCAPPED edge build, iterative peel)"),
    ("graph_modularity", "events (UNCAPPED edge build + community roll-up)"),
    # round-12 second backward family: text retrieval / corpus statistics
    ("text_inverted_index", "documents (posting lists, df-cap contract)"),
    ("text_bm25_topk", "documents (posting join + corpus stats)"),
    ("text_sparse_cosine_topk", "documents (query-term posting join)"),
    ("text_tfidf_topterms", "documents (df join + per-doc top terms)"),
    ("text_collocations_pmi", "documents (bigram + unigram joins)"),
    ("text_keyness_llr", "documents (two-corpus vocab join)"),
    ("text_token_entropy", "documents (vocab-keyed count + 1-row total)"),
    ("text_zipf_slope", "documents (rank-frequency regression, vocab-sized)"),
    # round-12 batch 3
    ("eval_ece_calibration", "lineitem (per-value bins, integer ECE)"),
    ("eval_brier_score", "lineitem (one integer-square aggregate)"),
    ("dq_drift_kl", "orders (10-bucket CASE-sum, PSI plan)"),
    ("ts_theil_sen_slope", "events (day-grid pair self-join, slope matrix)"),
]


def synthesize(spark) -> str:
    from pyspark.sql import functions as F

    out = os.path.join(SCRATCH, f"x{FACTOR}")
    marker = os.path.join(out, "_DONE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)

    def mx(df, col):
        return df.agg(F.max(col)).collect()[0][0] + 1

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    od = spark.read.parquet(f"{BASE}/orders.parquet")
    cu = spark.read.parquet(f"{BASE}/customer.parquet")
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    dc = spark.read.parquet(f"{BASE}/documents.parquet")
    em = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_user, n_evt = mx(ev, "user_id"), ev.count()
    n_cust, n_ord = mx(od, "o_custkey"), mx(od, "o_orderkey")
    n_part, n_supp = mx(li, "l_partkey"), mx(li, "l_suppkey")
    n_doc, n_vec = mx(dc, "doc_id"), mx(em, "vec_id")

    def rep(df, shifts):
        big = None
        for i in range(FACTOR):
            d = df
            for col, base in shifts:
                d = d.withColumn(col, F.col(col) + F.lit(i * base))
            big = d if big is None else big.unionByName(d)
        return big

    rep(ev, [("user_id", n_user), ("event_id", n_evt)]).write.mode(
        "overwrite"
    ).parquet(f"{out}/events.parquet")
    rep(od, [("o_custkey", n_cust), ("o_orderkey", n_ord)]).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    rep(cu, [("c_custkey", n_cust)]).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )
    rep(
        li,
        [("l_orderkey", n_ord), ("l_partkey", n_part), ("l_suppkey", n_supp)],
    ).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    rep(dc, [("doc_id", n_doc)]).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    rep(em, [("vec_id", n_vec)]).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    for t in ("region", "nation", "supplier", "part"):
        dst = f"{out}/{t}.parquet"
        if not os.path.exists(dst):
            os.symlink(f"{BASE}/{t}.parquet", dst)
    open(marker, "w").close()
    return out


def time_op(fn, spark, sf_dir: str) -> tuple[float, int]:
    fn(spark, sf_dir).collect()  # warm
    t0 = time.time()
    rows = fn(spark, sf_dir).collect()
    return time.time() - t0, len(rows)


def _bipartite_project_full(spark, sf_dir: str):
    """REAL 10× bipartite leg (r10, closes VERDICT r9 #1's 'de-facto
    control' note): project the ENTIRE part-supplier membership frame —
    no fixture part filter, so the 10× key-shifted copies all
    contribute — through the library op with the production degree cap
    in exact-or-fail mode (TPC-H degrees ~4, far under the 256 cap, so
    error mode passes while proving the cap machinery runs at 10×)."""
    from pyspark.sql import functions as F

    from avro_parquet_spark_example_spark.operators.graph import (
        bipartite_project,
    )

    m = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            F.col("l_partkey").alias("part"), F.col("l_suppkey").alias("supp")
        )
        .distinct()
    )
    return bipartite_project(m, on_oversized="error")


def _ivf_scaled_anchors_leg(spark, base: str, big: str) -> None:
    """The √corpus anchor dial, measured (VERDICT r10 task #3): at 10×
    corpus the anchors scale 8 → 25 (≈ 8·√10) via
    ``scaled_anchor_count``. For a flat two-level quantizer the dial's
    theoretical candidate growth is Θ(corpus^1.5) — the balanced optimum
    of assignment (n·anchors) vs scoring (nprobe·n²/anchors) — so the
    pass line is ~corpus_ratio^1.5 (≈31.6× at 10×), against ~100× for
    the r10 fixed-anchor caveat; truly linear candidates need a
    hierarchical quantizer (anchors ∝ n), outside this operator."""
    import math

    from avro_parquet_spark_example_spark.operators.simsearch import (
        KNN_IVF_ANCHORS,
        ivf_candidates,
        knn_graph_ivf,
        scaled_anchor_count,
    )

    pool1 = spark.read.parquet(f"{base}/embeddings.parquet")
    pool10 = spark.read.parquet(f"{big}/embeddings.parquet")
    n1, n10 = pool1.count(), pool10.count()
    a1 = KNN_IVF_ANCHORS
    a10 = scaled_anchor_count(n10, ref_rows=n1, ref_anchors=a1)
    c1 = ivf_candidates(pool1, n_anchors=a1).count()
    c10 = ivf_candidates(pool10, n_anchors=a10).count()
    t1, r1 = time_op(lambda s, d: knn_graph_ivf(pool1, n_anchors=a1), spark, base)
    t10, r10 = time_op(
        lambda s, d: knn_graph_ivf(pool10, n_anchors=a10), spark, big
    )
    corpus_ratio = n10 / n1
    cand_ratio = c10 / c1
    theory = corpus_ratio**1.5
    print(
        f"vec_knn_graph_ivf_scaled_anchors: anchors {a1}->{a10} "
        f"(sqrt-corpus dial), corpus {n1}->{n10} ({corpus_ratio:.1f}x), "
        f"candidates {c1}->{c10} ({cand_ratio:.1f}x; theory "
        f"corpus^1.5 = {theory:.1f}x, fixed-anchor would be "
        f"~{corpus_ratio**2:.0f}x), wall 1x {t1:.2f}s ({r1} rows) | "
        f"{FACTOR}x {t10:.2f}s ({r10} rows) | ratio {t10 / max(t1, 1e-9):.1f}x"
    )
    # the flat-quantizer balanced-dial line is corpus^1.5; allow 1.5x
    # slack for cell-occupancy skew of the id-prefix anchors. The
    # failure mode this guards against (fixed anchors) is corpus^2.
    assert cand_ratio <= 1.5 * theory, (
        f"candidate pairs grew {cand_ratio:.1f}x at {corpus_ratio:.1f}x "
        f"corpus (theory {theory:.1f}x) — the sqrt-corpus dial is not "
        f"holding"
    )
    assert not math.isnan(cand_ratio)


def main() -> None:
    from avro_parquet_spark_example_spark.registry import get_query
    from avro_parquet_spark_example_spark.session import get_session

    only = set(sys.argv[1:])
    spark = get_session(
        app_name="scaleup-r9b", master="local[32]", shuffle_partitions=32
    )
    big = synthesize(spark)
    print(f"# {FACTOR}x all-tables stress ({BASE} -> {big})")
    if not only or "ivf_scaled" in only:
        _ivf_scaled_anchors_leg(spark, BASE, big)
    for name, scaling in OPS:
        if only and name not in only:
            continue
        fn = (
            _bipartite_project_full
            if name == "bipartite_project_full"
            else get_query(name).fn
        )
        t1, r1 = time_op(fn, spark, BASE)
        t10, r10 = time_op(fn, spark, big)
        print(
            f"{name}: 1x {t1:.2f}s ({r1} rows) | {FACTOR}x {t10:.2f}s "
            f"({r10} rows) | ratio {t10 / max(t1, 1e-9):.1f}x | {scaling}"
        )


if __name__ == "__main__":
    main()
