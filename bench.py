"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Timing excludes session startup and (via a warmup query) JVM/codegen
warm-up; each query is fully materialized through the no-op sink so the
measured cost is scan→compute→(discarded) write, not driver collect.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Headline set: one representative per operator family, weighted toward
# the queries that scale with sf (lineitem/orders/events-backed).
# PINNED at 48 entries (r5): additions/removals change the headline
# total and break round-over-round comparability — any change requires
# a docs/BENCH_NOTES.md entry explaining the delta. The emitted JSON
# puts "value" (the total) FIRST so a truncated artifact tail never
# loses the headline number.
HEADLINE = [
    "agg_group",          # flagship Q1-shape hash agg
    "filter_pred",        # pushed-down predicates
    "expr_arith",         # projection/codegen
    "join_broadcast",     # broadcast dim join + agg
    "join_multiway",      # 4-way join chain
    "join_left",          # outer join + agg
    "agg_distinct",       # distinct agg
    "window_rank",        # ranking window
    "window_running",     # running frame
    "window_range_frame", # time-based RANGE frame
    "sort_limit_topk",    # TakeOrderedAndProject
    "subquery_cte",       # CTE + correlated subquery
    "stream_tumbling_batch",  # windowed agg over events
    "udf_pandas",         # Arrow-vectorized Python path
    "dedup_exact",        # Tier C exact dedup
    "dedup_minhash",      # Tier C MinHash+LSH near-dup (band join)
    "dedup_simhash",      # Tier C SimHash chunk-blocked near-dup
    "topk_similarity",    # Tier C cosine top-k
    "ann_ivf_topk",       # Tier C IVF ANN (k-means + cell probe, per-query train)
    "ann_ivf_persisted",  # Tier C IVF ANN from persisted index (amortized probe)
    "embedding_centroids",  # Tier C per-label centroid agg
    "text_quality",       # Tier C text scoring
    "tpch_q1",            # composite: pricing-summary scan-aggregate (r5)
    "tpch_q3_shape",      # composite: filtered 3-way join + grouped top-k
    "tpch_q6",            # composite: pushdown scan-filter-aggregate
    "tpch_q10_shape",     # composite: 4-way join + grouped top-20
    "tpch_q18",           # composite: HAVING semi-join + grouped top-k (r5)
    "pipeline_curate",    # capstone: dedup -> quality -> lang -> report
    "pipeline_pack",      # sequence packing (per-shard running-sum window)
    "pipeline_decontaminate",  # eval-gram broadcast probe + per-doc count
    "pipeline_chunk",     # context-window chunking (projection + explode)
    "embedding_quantize", # int8 quantization (pure projection)
    "text_bm25",          # BM25 scoring (broadcast stats, term filter)
    "sample_stratified",  # md5-threshold stratified sampling
    "merge_upsert",       # CDC broadcast-anti merge (r4 wired)
    "pipeline_shuffle",   # corpus shuffle+shard (window per shard)
    "text_pii",           # regex redaction (codegen projection)
    "dedup_embedding",    # semantic dedup (blocked cosine pairs, r4)
    "multimodal_frames",  # frame-sampling fan-out via mapInPandas (r4)
    "dedup_incremental",  # batch-vs-store anti-join dedup (r5)
    "pipeline_mix",       # budget-weighted corpus mixing (r5)
    "cdc_scd2",           # SCD2 history fold (single-shuffle window, r5)
    "sketch_cms_freq",    # count-min build + broadcast probe (r5)
    "sketch_histogram_q", # histogram sketch + quantile interpolation (r5)
    "quality_report",     # 5-rule audit gate over orders (r5)
    "events_funnel",      # ordered-sequence funnel over the event log (r5)
    "events_retention",   # weekly retention cohorts (r5)
]

# staged_total membership (VERDICT r11 ask #8): PINNED at the 53 staged
# entries timed every round since r10, so the staged set finally has a
# round-over-round-comparable total like the headline. New debuts ride
# along in the "staged" dict but do NOT join this total; changing the
# pin requires a docs/BENCH_NOTES.md entry (the headline rule).
STAGED_TOTAL_PIN = (
    "ann_pq_persisted", "ann_pq_topk", "dedup_cluster_cc",
    "dedup_cluster_incremental", "dedup_jaccard_incremental",
    "dedup_keep_best", "dedup_minhash_incremental", "dedup_semantic",
    "dedup_semantic_ivf", "dedup_substring", "drift_psi",
    "events_anomaly", "events_estimate", "events_heavy_hitters",
    "events_ohlc", "events_paths", "events_resample",
    "events_transitions", "events_winsorize", "join_bloom_prune",
    "join_explosion", "join_interval", "join_strategy", "knn_classify",
    "pipeline_curriculum", "pipeline_temperature", "privacy_dp_counts",
    "privacy_kanon", "sample_split_group", "score_calibrate",
    "similarity_tfidf", "sketch_bloom_probe", "sketch_kmv_overlap",
    "skew_profile", "table_profile", "text_bpe_tokens", "text_pmi",
    "tpch_q11_shape", "tpch_q12_shape", "tpch_q13_shape",
    "tpch_q14_shape", "tpch_q15_shape", "tpch_q16_shape",
    "tpch_q17_shape", "tpch_q19_shape", "tpch_q20_shape",
    "tpch_q21_shape", "tpch_q22_shape", "tpch_q2_shape",
    "tpch_q4_shape", "tpch_q7_shape", "tpch_q8_shape", "tpch_q9_shape",
)


#: The driver keeps the last 2000 characters of stdout; the contract
#: line must fit in them whole.
CONTRACT_LINE_LIMIT = 2000


def contract_line(
    total: float,
    timings: dict[str, float],
    sf: float,
    staged_total: float,
    loadavg_start: list[float],
) -> str:
    """The last stdout line, the one the driver parses: the headline
    total and the per-query map rounded to 2 decimals. A line that would
    not fit the capture drops the per-query map (warning on stderr)
    instead of losing its head, and with it the total."""
    line = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": sf,
        "runs": 2,
        "agg": "min",
        "staged_total": staged_total,
        "loadavg_start": loadavg_start,
    }
    out = json.dumps(line, separators=(",", ":"))
    if len(out) < CONTRACT_LINE_LIMIT:
        return out
    print(
        f"bench: contract line is {len(out)} chars, over the "
        f"{CONTRACT_LINE_LIMIT}-char capture; per-query map left out of it",
        file=sys.stderr,
    )
    del line["queries"]
    return json.dumps(line, separators=(",", ":"))


def main() -> None:
    from mysql2parquet_spark.queries import all_queries
    from mysql2parquet_spark.session import get_spark

    # Host-load indicator (VERDICT r11 ask #3): the r11 artifact showed
    # a UNIFORM 1.34x median slowdown across unchanged queries — the
    # signature of noisy-neighbor load, but the artifact couldn't prove
    # it. Recording 1/5/15-min loadavg at bench start makes an
    # artifact-vs-quiet-host discrepancy self-explaining.
    loadavg_start = [round(x, 2) for x in os.getloadavg()]

    spark = get_spark(
        "mysql2parquet_spark-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(name: str) -> tuple[float, int]:
        """Wall seconds + number of stages THIS run scheduled — stage
        counts make constant-factor regressions (an extra exchange, a
        lost WindowGroupLimit) visible in BENCH_r{N} diffs without a
        profiler. getJobIdsForGroup is CUMULATIVE across every run that
        shared the group name (warmups included), so the ids present
        before the run are excluded — the r7 artifact recorded
        ann_ivf_persisted at 30 stages purely because the warmup's
        one-time index build (16 stages, fired on a fresh-fixture cache
        key) leaked into run 1's count (BENCH_NOTES r8)."""
        before = set(tracker.getJobIdsForGroup(name))
        sc.setJobGroup(name, name)
        try:
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
        finally:
            sc.setJobGroup(None, None)
        n_stages = 0
        for jid in tracker.getJobIdsForGroup(name):
            if jid in before:
                continue
            info = tracker.getJobInfo(jid)
            if info is not None:
                n_stages += len(info.stageIds)
        return wall, n_stages

    run("agg_group")  # warmup: JIT, codegen, parquet footer caches
    # Warm the persisted IVF index: its contract is build-at-WRITE-time,
    # amortized across queries — the timed run below measures the probe
    # (pruned scan + fold + top-k), not the one-time index construction.
    # The first call builds the index if absent; subsequent calls reuse.
    run("ann_ivf_persisted")

    # Best-of-2 per query: the sandbox host shows noisy-neighbor minutes
    # (observed 2-5x uniform slowdowns that vanish on re-run), and a
    # single sample can charge one-time Python-worker spawn to whichever
    # Arrow query runs first. min-of-2 reports steady-state cost; the
    # "runs"/"agg" keys record the protocol.
    timings: dict[str, float] = {}
    stages: dict[str, int] = {}
    for name in HEADLINE:
        wall1, n_stages = run(name)
        wall2, _ = run(name)
        timings[name] = round(min(wall1, wall2), 3)
        stages[name] = n_stages

    # The reference's actual workload (main.go: extract -> parquet file):
    # full lineitem scan -> parquet write, distributed writer.
    import tempfile

    from mysql2parquet_spark.io import load_table, write_parquet

    with tempfile.TemporaryDirectory() as td:
        t0 = time.time()
        write_parquet(load_table(spark, SF_DIR, "lineitem"), f"{td}/out")
        timings["export_parquet"] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)

    # The r7-registered debut cohort (queries/staged.py): timed for the
    # record but NOT in the headline total — "value" stays comparable
    # round-over-round against the pinned 48-entry set. The key stays
    # "staged" for artifact continuity with BENCH_r06. Emitted LAST so a
    # truncated artifact loses these first.
    from mysql2parquet_spark.queries.staged import STAGED

    # Ride-along set: debut-cohort queries timed each round so every
    # registered-but-unadjudicated query has per-round timings on
    # record (NOT in any pinned total).
    ride_along = {
        "dedup_jaccard_incremental",
        "dedup_minhash_incremental",
        "join_strategy",
        "join_bloom_prune",
        "join_interval",
        "privacy_kanon",
        "events_winsorize",
        "events_paths",
        "dedup_semantic",
        "pipeline_curriculum",
        # r9 debuts (D33/D34/D35)
        "events_estimate",
        "events_heavy_hitters",
        "text_bpe_tokens",
        "ann_pq_topk",
        # r9-added scale-path pair (r10 debuts). ann_pq_persisted's
        # min-of-2 times the PROBE: run 1 builds the artifact on a
        # fresh cache key (the at-write-time cost), run 2 reuses it.
        "ann_pq_persisted",
        "dedup_semantic_ivf",
        # r9-added D38-D43 (r10 debuts, exact oracles)
        "dedup_keep_best",
        "table_profile",
        "privacy_dp_counts",
        "dedup_cluster_incremental",
        "score_calibrate",
        "similarity_tfidf",
        "pipeline_temperature",
        # r11-added D62-D74b (r12 debuts) — timed for the record,
        # NOT in staged_total (the pin rule)
        "dedup_spans",
        "dedup_spans_trim",
        "text_novelty",
        "text_entropy",
        "text_zipf",
        "dedup_source_overlap",
        "embedding_health",
        "sample_kcenter",
        "text_hashed_features",
        "events_trimmed_mean",
        "pipeline_decontaminate_spans",
        "text_heaps",
        "pipeline_token_budget",
        "dedup_soft_weights",
        "dedup_lsh_plan",
        # r12-added D75-D81 (r13 debuts) — same ride-along rule
        "text_classifier_nb",
        "text_lm3_score",
        "text_winnow_words",
        "events_attribution",
        "text_source_kl",
        "embedding_jl_project",
        "text_burstiness",
        "text_readability",
        "text_vocab_composition",
        "events_sessions",
        "dedup_minhash_planned",
        "text_classifier_lr",
        "text_langid_ngram",
        # r13-added D88-D94 (r14 debuts) — same ride-along rule
        "pipeline_curate_classifier",
        "text_classifier_lr_prob",
        "pipeline_curate_langid",
        "text_mojibake",
        "events_mad_outliers",
        "text_fertility",
        "events_changepoint",
        "text_classifier_agreement",
        "text_classifier_auc",
        "drift_wasserstein",
        "text_classifier_calibration",
        "text_classifier_pr_curve",
        # min-of-2 times the PROBE: run 1 builds the model artifact
        # on a fresh cache key (the at-write-time cost), run 2 serves
        # from it (the ann_pq_persisted precedent).
        "text_classifier_lr_persisted",
        "pipeline_curate_lm",
    }
    staged_timings: dict[str, float] = {}
    for name in sorted(set(STAGED) | ride_along):
        wall1, _ = run(name)
        wall2, _ = run(name)
        staged_timings[name] = round(min(wall1, wall2), 3)

    # staged_total (VERDICT r11 ask #8): the staged set had no pinned
    # total, so regressions there surfaced only via manual diffs. The
    # membership below is PINNED at the 54 entries timed since r10 —
    # additions ride along in "staged" but do NOT join the total; any
    # pin change requires a docs/BENCH_NOTES.md entry (the headline
    # rule).
    staged_total = round(
        sum(staged_timings[n] for n in STAGED_TOTAL_PIN), 3
    )

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "") or "0.1"
    # Truncation armor, r15 revision (VERDICT r14 ask #3 — the r14
    # adjudicator got per_query: {} because the complete per-query dict
    # lived only in a >2000-char first line whose HEAD the driver's
    # 2000-char tail capture cut off, and the compact final line had no
    # "queries" key at all). Line order, sized against the 2000-char
    # window:
    #   1. full-precision archive line (everything, 3-decimal) — FIRST,
    #      truncated away in the artifact but kept whole in local logs
    #      and plans/r15/bench_close_runs.jsonl;
    #   2. {"staged2": {...}} — the staged per-query map rounded to
    #      2 decimals; its TAIL (~800 chars, ~30 entries) survives the
    #      capture for human reconstruction;
    #   3. the contract line LAST (``contract_line``, ~1.2 KB, checked
    #      against the 2000-char capture): metric / value / unit / sf AND
    #      the full headline "queries" map rounded to 2 decimals — the
    #      driver's parse target carries per-query data. Methodology
    #      (same queries, same min-of-2, same noop sink) unchanged; this
    #      is output format only (OPTIMIZATION_r15.md item 3).
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "stages": stages,
                "runs": 2,
                "agg": "min",
                "sf": float(sf),
                "loadavg_start": loadavg_start,
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
                "staged_total": staged_total,
                "staged": staged_timings,
            }
        )
    )
    print(
        json.dumps(
            {"staged2": {k: round(v, 2) for k, v in staged_timings.items()}},
            separators=(",", ":"),
        )
    )
    print(contract_line(total, timings, float(sf), staged_total, loadavg_start))
    spark.stop()


if __name__ == "__main__":
    main()
