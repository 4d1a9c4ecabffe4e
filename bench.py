"""Benchmark harness: runs the headline suite queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized through the noop sink (no collect —
measures engine time, not driver transfer).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from platform_etl_literature_spark.session import build_session
from platform_etl_literature_spark.suite import SUITE

HEADLINE = [
    "pricing_summary",
    "harmonic_relevance",
    "theta_self_join",
    "running_collect",
    "two_level_window_min",
    "grouped_json",
    "evidence_cooc_analog",
    "word_tf",
    "ngram_jaccard",
    "window_dup_stats",
    "minhash_pairs",
    "winnow_pairs",
    "minhash_banded",
    "simhash",
    "simhash_near_pairs",
    "semantic_dedup",
    "scrub_dup_passages",
    "ann_cosine_topk",
    "ann_topk_blocked",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "binary_ann_topk",
    "pq_ann_topk",
    "ivfpq_topk",
    "knn_label_vote",
    "doc_profile",
    "lm_doc_logprob",
    "tfidf_terms",
    "json_props_extract",
    "hash_split",
    "salted_agg",
    "token_packing",
    "length_batches",
    "value_quantiles",
    "decontaminate",
    "mixture_sample",
    "vocab_coverage",
    "pii_protect",
    "incremental_dedup",
    "doc_chunks",
    "epoch_repeat",
    "eval_sample",
    "bm25_topk",
    "rrf_hybrid",
    "doc_repetition",
    "corpus_curation",
    "user_ewma",
    "user_ewma_segmented",
    "events_hourly",
    "events_sliding",
    "events_segment_hourly",
    "sessionize",
    "interval_join_views_clicks",
    "prefix_jaccard",
    "hll_rollup",
    "corpus_upsert",
    "corpus_diff",
    "scd2_history",
    "zorder_locality",
    "multimodal_img_stats",
    "salted_join",
    "bpe_encode",
    # round-6 families: graphs, sketches, IVM, quality, edit-distance —
    # added with measured sf0.1 costs on BOTH engines (graph_triangles
    # is a Spark 2x WIN at 4.5 vs 9.1 s; the headline ratio stays well
    # inside the 2x bar on both accountings after the additions)
    "graph_triangles",
    "pagerank",
    "hdr_quantile_sketch",
    "kmv_distinct_users",
    "cms_join_size",
    "incremental_agg",
    "dq_verify",
    "robust_outliers",
    "edit_distance_join",
    "literature_pipeline",
    # round-6 session-6 families: point-in-time + range joins, resample,
    # versioned reads, compaction planning — measured before promotion
    # (spark/duck at sf0.1: asof .56/.06, interval .36/.02, point .33/.15,
    # gap_fill .88/1.07 — a Spark WIN, scd2 .59/.02, compaction .72/.01);
    # headline ratio stays inside the 2x bar on both accountings
    "asof_enrich",
    "interval_overlap",
    "point_in_interval",
    "gap_fill_ffill",
    "scd2_time_travel",
    "compaction_plan",
    # round-7 families: point-in-time dim join, OHLC resample, composed
    # record linkage — measured before promotion (spark/duck at sf0.1,
    # clean-machine run: scd2_temporal 0.76/0.03, ohlc 0.29/0.06,
    # linkage 2.09/0.20); the headline stays inside the 2x bar on both
    # accountings (1.02x raw, 1.44x honest) and the floor-adjusted
    # subtotal in BENCH_NOTES.md keeps the composition cost transparent
    "scd2_temporal_join",
    "ohlc_bars",
    "record_linkage",
    # round-7 session-7 families: linear-interpolation resample,
    # multi-touch attribution, grouping-id cube — measured before
    # promotion (spark/duck at sf0.1: interp 1.61/1.18 — after fixing
    # the O(grid²) unbounded-following frame to a reversed running
    # frame, 10.3 -> 1.6 s; attribution 0.51/0.14; cube 0.94/0.10).
    # label_propagation stays OUT of the headline (iterative peel
    # paying ~4x the per-job floor, the k_core rule); its scale story
    # lives in SCALE.md.
    "gap_fill_interpolate",
    "touch_attribution",
    "cube_summary",
    # round-7 session-7 second batch: KN LM scoring, the drift family,
    # weighted median, windowed funnel — measured before promotion
    # (spark/duck at sf0.1: kn 1.47/0.25, psi 0.74/0.04, metric-drift
    # 0.96/0.04, wmedian 0.49/0.04, funnel_w 0.78/0.03).  The layout
    # accountability harnesses (hilbert/bloomindex/skewed-skip/
    # binning_balance) and mmr/rp stay OUT: diagnostics-shaped rows
    # paying multi-job floors against millisecond DuckDB times — the
    # ann_recall_at_k rule; all parity-gated.
    "kn_lm_score",
    "psi_drift",
    "metric_drift",
    "weighted_median",
    "funnel_windowed",
    # round-7 session-8 third batch: graph link prediction, seasonal
    # decomposition, containment join, Moore-Lewis selection — measured
    # before promotion (spark/duck at sf0.1, min of 3: link_pred
    # 2.40/2.09 — near-parity on the identical capped-wedge algorithm,
    # seasonal 0.30/0.02 (floor row), containment 1.86/1.37,
    # moore_lewis 1.46/0.21 — two bigram LMs in one scoring pass).
    "link_prediction",
    "seasonal_profile",
    "ngram_containment",
    "moore_lewis_select",
    # round-7 session-8 fourth batch: evaluation metrics — measured
    # before promotion (spark/duck at sf0.1, min of 3: ranking_eval
    # 0.66/0.02 — floor row, one agg + one window; lang_id_report
    # 3.28/1.94 — the HOF language-ID replay dominates both engines).
    # lang_id_kappa stays OUT (it re-pays the same lang_id cost for a
    # 1-row fold — within-family redundant with the report's grid);
    # dedup_recall stays OUT by the accountability-row rule
    # (ann_recall_at_k precedent) — its exact bigram-Jaccard truth side
    # is a deliberate Σdf² measurement, not a race.
    "ranking_eval",
    "lang_id_report",
    # round-7 session-9 fifth batch: the exact drift family (KS +
    # chi-squared joining PSI), grouped OLS trend fitting, and the KMV
    # source-overlap matrix — measured before promotion (spark/duck at
    # sf0.1, min of 3: ks_drift 1.50/0.06, chi2_drift 0.93/0.02,
    # grouped_ols 1.01/0.03 — floor rows, cell-collapse plans with no
    # join; kmv_overlap 2.44/0.65 — one data-sized sketch pass, then
    # 190 pair estimates on k-row sketches).  bfs_distances stays OUT
    # of the headline by the k_core/label_propagation rule (iterative
    # superstep op paying ~8 per-job floors; min-of-reps ~4.5 s but
    # checkpoint-accumulation GC makes rep tails unstable); it is
    # parity-gated and carries SCALE.md cells.
    "ks_drift",
    "chi2_drift",
    "grouped_ols",
    "kmv_source_overlap",
    # round-7 session-9 sixth batch: series-similarity join, CUSUM
    # change-point, Markov transition matrix — measured before
    # promotion (spark/duck at sf0.1, clean machine, min of 4:
    # ts_similar 2.17/0.08 at promotion; round 8 rebuilt the verify
    # stage as dense per-id vectors + zip_with dot product (no
    # per-pair cell shuffle); cusum 0.54/0.02 and transitions
    # 0.47/0.03 — floor rows, no-join window/agg plans).  ts_recall
    # stays OUT by the accountability-row rule; bfs_distances stays
    # OUT by the superstep rule.
    "ts_similar",
    "cusum_changepoint",
    "event_transitions",
    # composed health report (measured 1.35/0.04 at sf0.1, min of 4:
    # three cell-collapse folds + key-count-sized joins)
    "metric_health",
    # robust trend (measured 1.98/0.04: the declared per-group pair
    # join + two exact rank-selection medians pay ~8 job floors; the
    # floor-adjusted subtotal in BENCH_NOTES.md is the structural
    # read)
    "theil_sen",
    # session-10: one row per new family — bigram PMI (measured
    # 1.04/0.19 at sf0.1, min of 3: data-sized tokenize + vocab-keyed
    # counts on both engines) and the Welch A/B readout (0.63/0.01:
    # arm-collapse floor row).  acf_lags / lift_table / woe_iv stay
    # parity-gated suite rows by the within-family-redundancy rule
    # (trend and eval families already carry headline rows).
    "pmi_collocations",
    "ab_welch",
    # in-engine classifier train+score (measured 1.93/0.42 at sf0.1,
    # min of 3: the classes × token-occurrences pass is data-sized on
    # both engines).
    "naive_bayes",
    # round-8 expansion (the r7 verdict's ask: record the session-9/10
    # families' DuckDB-race ratios before the next rotation; n >= 130).
    # All measured on BOTH engines at sf0.1 before promotion (min of
    # 2 after warmup).  Survival: kaplan_meier 0.83/0.03, nelson_aalen
    # 0.63/0.02, logrank 0.88/0.03.  Trend: mann_kendall 0.99/0.02,
    # acf_lags 0.86/0.05, ccf_lags 0.83/0.08.  Eval: auc_roc 0.32/0.02,
    # lift_table 0.34/0.02, woe_iv 0.34/0.01.  Segmentation:
    # rfm_segments 2.13/0.02 at promotion (three range-exchange rank
    # passes; round 9 fused them into ONE tag-stacked exchange +
    # pivot-back — measured 0.94 s).  Distributional: burstiness
    # 0.44/0.02, gini 0.26/0.01, benford 0.45/0.02.  ALL floor-shaped
    # (cell collapses against millisecond DuckDB times); the
    # floor-adjusted subtotal in BENCH_NOTES.md is the structural read.
    "kaplan_meier",
    "nelson_aalen",
    "logrank",
    "mann_kendall",
    "acf_lags",
    "ccf_lags",
    "auc_roc",
    "lift_table",
    "woe_iv",
    "rfm_segments",
    "burstiness",
    "gini",
    "benford",
    # round-8 expansion, second batch: the SURVEY §2 core-construct
    # rows the bench never raced (driver-hashed since round 2; each a
    # one-or-two-stage plan measuring Spark's scheduling floor against
    # DuckDB's in-process dispatch — measured at sf0.1: top1 0.25/0.01,
    # anti 0.24/0.02, outer 0.51/0.03, rank_lut 0.71/0.02,
    # win_distinct 0.56/0.14, union 0.38/0.01, strings 0.14/0.05,
    # dates 0.28/0.02, vectors 0.11/0.00, funnel 0.65/0.03,
    # asof 0.38/0.04).  suffix_dedup / dedup_components / cluster_split
    # stay OUT: their oracles are recursive-CTE / all-pairs ground
    # truths that run 1-2 ORDERS slower than the Spark side at sf0.1
    # (cluster_split measured 13.0 Spark vs 87.3 DuckDB) — racing them
    # would pad Spark's ratio with oracle-shaped wins and minutes of
    # driver wall; mmr_rerank stays OUT by the diagnostics rule.
    "top1_per_group",
    "anti_join",
    "outer_join_coalesce",
    "broadcast_rank_lut",
    "window_distinct_count",
    "union_by_name",
    "string_funcs",
    "date_parts",
    "vectors_norm_category",
    "funnel_steps",
    "asof_join",
    # round-8 session-2 batch: corpus statistics + contrastive mining —
    # measured before promotion (spark/duck at sf0.1, min of 3:
    # skipgram_cooc 1.06/1.21 — a Spark WIN on the identical
    # probe-equijoin plan; heaps_law 1.15/0.07 — the range-exchange
    # prefix-sum claim, pays the offsets-collect job; hard_negatives
    # 0.66/0.09 — two Arrow kernels vs DuckDB's in-process cross
    # product).  zipf_fit (0.47/0.04), categorical_mi (0.58/0.01),
    # kendall_tau (1.16/0.03), winsorized_stats (0.87/0.04) stay
    # parity-gated by the within-family-redundancy rule: their OLS /
    # level-fold / pair-join / rank-window shapes are already raced
    # through grouped-OLS-family, chi2/psi, theil_sen/mann_kendall,
    # and gini/lift rows.
    "skipgram_cooc",
    "heaps_law",
    "hard_negatives",
    # round-9 promotions (the r8 verdict's ask: race one representative
    # per un-raced family; n_queries 134 -> 142).  Measured before
    # promotion (spark/duck at sf0.1, idle box, min of 3):
    # isotonic_calibration 1.18/0.07 — the non-iterative PAV minimax
    # chain (interval equijoin + suffix-min window + max agg);
    # jaro_winkler_join 0.51/0.05 — blocked Arrow-kernel verify;
    # corr_matrix 0.60/0.02 — the one-agg M-metric pairwise Pearson;
    # w2v_frozen_synonyms 1.07/0.19 — frozen-artifact cosine top-k;
    # literature_relevance 1.27/0.02 — the production disambiguate +
    # literature_index relevance slice (three windows + the harmonic
    # zip_with fold); ingest_dedup_replay 2.32/0.02 — the K-batch
    # streaming fold as one plan (4 chained anti-joins pay ~4 job
    # floors BY CONSTRUCTION — the streaming batch-equivalence
    # witness, not a batch-optimal dedup; exact_dedup races that);
    # winsorized_stats 0.92/0.05 and zipf_fit 0.42/0.04 — rank-clip
    # and bounded-top-R OLS folds.  bootstrap_ci stays OUT by the
    # round-8 rationale (a deliberate 5M-draw md5 stream, 7.4/3.1 —
    # the md5-uniform machinery is already raced via hash_split /
    # eval_sample); all floor-shaped rows keep the floor-adjusted
    # subtotal in BENCH_NOTES.md as the structural read.
    "isotonic_calibration",
    "jaro_winkler_join",
    "corr_matrix",
    "w2v_frozen_synonyms",
    "literature_relevance",
    "ingest_dedup_replay",
    "winsorized_stats",
    "zipf_fit",
    # round-10 promotions (the r9 verdict's ask: race the unbenched
    # driver-window residents; n_queries 142 -> 163).  Measured before
    # promotion via tools/measure_promotions.py (spark/duck at sf0.1,
    # min of 3 — a slower-than-r9 box session; compare ratios):
    # ingest_neardedup_replay 5.45/1.82 — the 4-batch band-index fold
    # as ONE plan (chained bucket anti-joins pay ~4 job floors BY
    # CONSTRUCTION, the streaming batch-equivalence witness);
    # label_propagation 2.67/0.31 and k_core 4.06/0.47 — iterative
    # peeling/propagation pay one job floor PER ROUND by semantics;
    # evidence_pipeline 5.34/0.28 — the full grounded-evidence chain
    # (W2V-frozen cosine + harmonic + co-occurrence);
    # literature_pipeline_frozen 4.44/3.50 — the flagship e2e race
    # (LUT build + keying + grounding + disambiguation + index) at
    # 1.27x, the closest big-plan race in the suite;
    # suffix_dedup 1.40/1.81 — a Spark WIN on the distributed suffix
    # sort; multimodal_frames 2.99/0.14 and multimodal_resize
    # 0.72/0.02 — Arrow mapInPandas codec kernels vs native list ops;
    # hilbert_skip 2.23/0.30, bloom_join_prune 1.74/0.13,
    # scan_provenance 1.68/0.00 — layout/skipping machinery, file-op
    # floors dominate; bloom_decontaminate 1.61/1.03 — broadcast-
    # Bloom map-only scan; ece_calibration 1.50/0.14, quality_logreg
    # 1.13/0.77, sorted_neighborhood 0.89/0.02, char_entropy
    # 0.47/0.27, cube_rollup 0.48/0.07, asof_nearest 0.39/0.09,
    # asof_forward_tolerance 0.31/0.74 (a Spark win),
    # retention_cohorts 0.31/0.03, struct_expand 0.04/0.00 —
    # floor-shaped §2/events rows, priced by the floor-adjusted
    # subtotal in BENCH_NOTES.md.
    # Exempt with RECORDED races (BENCH_NOTES.md round-10):
    # dedup_components 2.77/84.35 and cluster_split 2.56/93.27 —
    # Spark wins 30x, but the oracle's recursive-CTE closure would
    # triple the bench's DuckDB wall per rep (runtime budget, not
    # redundancy); text_keys_nostem 0.97/19.17 — Spark wins 20x, same
    # oracle-runtime budget; prefix_jaccard_best 4.45/23.48 — its
    # oracle is the deliberately-quadratic brute-force ground truth
    # and the all-pairs sibling already races the identical-algorithm
    # override; bootstrap_ci stays out by the r8 rationale.
    # dedup_embedding_lsh measured 19.62/0.21 under its OLD fixed
    # n_bits=4 (below the log2(n/25) schedule at sf0.1 — saturated
    # buckets, ~1M pair verifies); the row now runs the adaptive
    # masked-plane schedule (buckets at the 12-bit cap, masked to the
    # count-derived width, oracle replays schedule+mask) and
    # re-measured 2.51/0.26 — promoted.
    "ingest_neardedup_replay",
    "label_propagation",
    "k_core",
    "multimodal_resize",
    "cube_rollup",
    "bloom_decontaminate",
    "sorted_neighborhood",
    "evidence_pipeline",
    "struct_expand",
    "retention_cohorts",
    "asof_nearest",
    "asof_forward_tolerance",
    "char_entropy",
    "quality_logreg",
    "literature_pipeline_frozen",
    "suffix_dedup",
    "multimodal_frames",
    "hilbert_skip",
    "bloom_join_prune",
    "scan_provenance",
    "ece_calibration",
    "dedup_embedding_lsh",
]

# prefix_jaccard's SUITE oracle is deliberately the brute-force all-pairs
# join — a ground-truth LOSSLESSNESS proof for the PPJoin prefix filter,
# not a fair single-node baseline.  For the bench comparison DuckDB runs
# the SAME prefix-filter algorithm (rare-first rank, prefix explode,
# candidate equijoin, rank-set verify) so both engines race the same
# plan shape.
DUCKDB_OVERRIDE: dict[str, str] = {
    "prefix_jaccard": """
WITH w AS (
  SELECT doc_id AS id,
         list_distinct(list_filter(string_split(text, ' '), x -> x != '')) AS toks
  FROM documents),
flat AS (SELECT id, unnest(toks) AS t FROM w),
dfc AS (SELECT t, count(*) AS c FROM flat GROUP BY 1),
rk AS (SELECT t, row_number() OVER (ORDER BY c ASC, t ASC) AS r FROM dfc),
rs AS (
  SELECT id, list_sort(list(r)) AS rs, count(*) AS n
  FROM flat JOIN rk USING (t) GROUP BY id),
pref AS (
  SELECT id, n, p, rs[p] AS r
  FROM (SELECT id, n, rs,
               unnest(generate_series(1, CAST(n - ceil(0.85 * n) + 1 AS INT))) AS p
        FROM rs)),
cand AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM pref a JOIN pref b ON a.r = b.r AND a.id < b.id
  WHERE b.n >= (0.85 - 1e-6) * a.n AND a.n >= (0.85 - 1e-6) * b.n
  GROUP BY 1, 2
  HAVING min(least(a.p - 1, b.p - 1) + 1
             + least(a.n - a.p, b.n - b.p)
             - ((0.85 - 1e-6) / (1.85 - 1e-6)) * (a.n + b.n)) >= 0
     AND CAST(count(*) + least(max(a.n) - max(a.p), max(b.n) - max(b.p))
              AS DOUBLE)
         >= ((0.85 - 1e-6) / (1.85 - 1e-6)) * (max(a.n) + max(b.n))),
v AS (
  SELECT id_a, id_b, sa.n AS n_a, sb.n AS n_b,
         len(list_intersect(sa.rs, sb.rs)) AS n_inter
  FROM cand JOIN rs sa ON sa.id = id_a JOIN rs sb ON sb.id = id_b)
SELECT id_a, id_b, n_a, n_b, n_inter,
  round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6) AS jaccard
FROM v
WHERE round(n_inter / CAST(n_a + n_b - n_inter AS DOUBLE), 6) >= 0.85
"""
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # 4 reps: min-of-2 still carried one-off GC/page-cache interference
    # into several sub-second queries (observed 2-4x swings between
    # whole-bench runs, sometimes persisting across a 3-rep window);
    # the extra reps stabilize the min for BOTH engines' timings.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "4"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = build_session("bench")
    timings: dict[str, float] = {}
    # warm the JVM/session on the smallest table once
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    t_all = time.time()
    for name in HEADLINE:
        # min-of-N: rep 1 pays one-time costs (plan compilation, codegen,
        # cache population); the min is the steady-state engine time.
        # clearCache between queries so one query's persisted
        # intermediates can't skew its successors' measurements.
        best = None
        for _ in range(max(reps, 1)):
            t0 = time.time()
            df = SUITE[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        spark.catalog.clearCache()
    del t_all  # value = sum of per-query steady-state times, not rep wall
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "suite_wall_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "sf": sf,
    }
    detail: dict = {"queries": timings}
    # single-node comparison: run each headline query's DuckDB oracle on
    # the same parquet (best of N, full materialization) — the
    # "matches-or-beats single-node throughput" evidence.  Additive keys;
    # disable with SPARK_GRAFT_BENCH_DUCKDB=0.  Totals are like-for-like:
    # both sides are summed over the intersection of queries that have an
    # oracle (ivf_ann_topk / literature_pipeline etc. have no DuckDB
    # counterpart and are excluded from BOTH subtotals).
    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        try:
            duck = _duckdb_timings(sf_dir, reps)
            common = [q for q in duck if q in timings]
            payload["duckdb_total"] = round(sum(duck[q] for q in common), 3)
            payload["spark_oracle_subtotal"] = round(
                sum(timings[q] for q in common), 3
            )
            detail["duckdb_queries"] = duck
        except Exception as e:  # pragma: no cover - comparison is best-effort
            payload["duckdb_error"] = str(e)[:200]
    # ALL per-query timings (Spark and DuckDB) go to the side file — the
    # stdout record must stay ONE short line (< ~300 bytes): the driver
    # captures a bounded tail of stdout and parses the last line as
    # JSON, and the round-1 record failed to parse because the inline
    # per-query dict pushed the line past the capture buffer.
    detail.update(payload)
    payload["detail"] = "BENCH_DETAIL.json"
    # Two side files (round-11 harness ask): BENCH_DETAIL.json stays the
    # "latest run" pointer the stdout line names, and a per-(sf, cpus)
    # snapshot survives successive driver runs — the round-10 PERF diff
    # came up empty because the 8-core scaling run OVERWROTE the 32-core
    # per-query detail.  Additions-only: same content, one extra file.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        detail["cpus"] = int(cpus)
    except ValueError:  # a malformed value must not cost the stdout line
        detail["cpus"] = cpus
    here = os.path.dirname(os.path.abspath(__file__))
    for fname in (
        "BENCH_DETAIL.json",
        f"BENCH_DETAIL_sf{sf}_c{cpus}.json",
    ):
        try:
            with open(os.path.join(here, fname), "w") as fh:
                json.dump(detail, fh, indent=1)
        except OSError as e:  # best-effort side file: never lose stdout
            payload["detail_write_error"] = str(e)[:120]
    sys.stdout.flush()
    print(json.dumps(payload, separators=(",", ":")))
    sys.stdout.flush()


def _duckdb_timings(sf_dir: str, reps: int) -> dict[str, float]:
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict[str, float] = {}
    for name in HEADLINE:
        oracle = DUCKDB_OVERRIDE.get(name, SUITE[name].oracle)
        if oracle is None:
            continue
        best = None
        for _ in range(max(reps, 1)):
            t0 = time.time()
            con.execute(oracle).fetchall()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
    return out


if __name__ == "__main__":
    main()
