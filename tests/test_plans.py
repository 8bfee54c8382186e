"""Physical-plan assertions (SURVEY.md §4.2/C6): the properties that make
these queries viable at 100 TB, pinned so a refactor can't silently
regress them. Each assertion names the failure mode it guards against."""

from __future__ import annotations

import re

import pytest

from mysql2parquet_spark.queries import REGISTRY, _load

_load()


def plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(spark, sf_dir, "filter_pred")
    # every predicate must reach the parquet reader, or a 100 TB scan
    # decompresses everything before filtering
    assert "GreaterThanOrEqual(l_quantity,10.0)" in p
    assert "In(l_returnflag, [A,R])" in p
    assert "LessThan(l_shipdate" in p


def test_column_pruning(spark, sf_dir):
    p = plan(spark, sf_dir, "scan_project")
    # a 3-column projection must not read the other 8 lineitem columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity:double>" in p


def test_small_dim_joins_broadcast(spark, sf_dir):
    # mode=simple: formatted prints 'Exchange (n)' with args on separate
    # Arguments lines, so 'Exchange hashpartitioning' never literally
    # appears and the not-in assert below would be vacuous
    p = plan(spark, sf_dir, "join_broadcast", mode="simple")
    assert "BroadcastHashJoin" in p
    # The fact side must NOT be exchanged to reach the join. In printed
    # tree order PARENTS come first, so the legit post-aggregation
    # exchange sits BEFORE the join line and the join's children (fact
    # scan + broadcast side) come after — that after-section must be
    # exchange-free. (The original pre-join split checked the parent
    # section and, in formatted mode, was doubly vacuous.)
    below_join = p.split("BroadcastHashJoin", 1)[1]
    assert "Exchange hashpartitioning" not in below_join, p
    assert p.count("Exchange hashpartitioning") <= 1, p  # post-agg only


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    p = plan(spark, sf_dir, "join_multiway")
    assert p.count("BroadcastExchange") >= 2  # nation and region at least


def test_topk_avoids_global_sort(spark, sf_dir):
    p = plan(spark, sf_dir, "sort_limit_topk", mode="simple")  # see broadcast test
    assert "TakeOrderedAndProject" in p
    assert "Exchange rangepartitioning" not in p  # no global sort shuffle


def test_agg_partial_combine(spark, sf_dir):
    p = plan(spark, sf_dir, "agg_group")
    # map-side combine: shuffle carries |groups| rows, not |input| rows
    assert "partial_sum" in p
    assert p.count("HashAggregate") >= 2


def test_agg_shares_duplicate_aggregates(spark, sf_dir):
    p = plan(spark, sf_dir, "agg_group")
    # sum(l_quantity) feeds both sum_qty and avg_qty: must aggregate once,
    # as the three limb sums of its cents column (_q)
    assert len(re.findall(r"partial_sum\([^)]*\b_q#", p)) == 3, p


def test_tpch_q1_partial_aggregate_keeps_bigint_buffers(spark, sf_dir):
    """Q1's money sums run on the fixed-point kernel: the map-side
    aggregate holds only BIGINT buffers (limb sums and the count). A
    DECIMAL sum buffer here means a BigDecimal add per row, and its
    input a Double->BigDecimal cast per value."""
    p = plan(spark, sf_dir, "tpch_q1")
    partial = [
        sec for sec in p.split("\n\n")
        if ") HashAggregate" in sec and "partial_sum" in sec
    ]
    assert len(partial) == 1, p
    attrs = re.search(r"Aggregate Attributes \[\d+\]: \[(.*)\]", partial[0])
    assert attrs, partial[0]
    buffers = attrs.group(1).split(", ")
    assert len(buffers) == 16, buffers  # 5 sums x 3 limbs + count
    assert all(re.fullmatch(r"(sum|count)#\d+L", b) for b in buffers), buffers


def test_scans_stay_codegen(spark, sf_dir):
    p = plan(spark, sf_dir, "filter_pred", mode="simple")
    assert "*" in p  # WholeStageCodegen stages present


def test_range_join_broadcasts_band_side(spark, sf_dir):
    p = plan(spark, sf_dir, "join_range")
    # non-equi join: the tiny band table must broadcast so the big side
    # streams once (BroadcastNestedLoopJoin), never a cartesian shuffle
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_minhash_no_cross_join(spark, sf_dir):
    p = plan(spark, sf_dir, "dedup_minhash", mode="simple")
    # LSH candidate generation joins on band keys — all-pairs would be
    # a BroadcastNestedLoopJoin/CartesianProduct here
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_minhash_pair_shuffles_carry_estimates_not_signatures(spark, sf_dir):
    """r3 fix, pinned: everything downstream of the band-collision join
    moves (id_a, id_b, est) — 8-byte estimates — never the two 32-int
    signatures (~512 bytes/pair). A regression shows up as sig columns
    surviving into a post-join aggregate/exchange (e.g. first(sig...))."""
    p = plan(spark, sf_dir, "dedup_minhash", mode="simple")
    assert "first(sig" not in p
    # the dedup path needs no pair-level distinct at all: the only
    # aggregate keys downstream of the join are the loser ids
    assert "HashAggregate(keys=[id_a" not in p


def test_minhash_signature_relation_is_codegen(spark, sf_dir):
    """The signature relation every MinHash face bands from is plain
    relational operators: no lambda functions (an interpreted
    higher-order fold allocates arrays per shingle outside codegen),
    and its per-doc min aggregate runs inside WholeStageCodegen."""
    from mysql2parquet_spark.io import load_table
    from mysql2parquet_spark.operators import dedup

    sigs = dedup.minhash_signature_relation(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        shingle_n=3, num_hashes=32,
    )
    sigs.collect()  # AQE prints the final (codegen-marked) plan after a run
    p = sigs._jdf.queryExecution().executedPlan().toString()
    assert "lambda" not in p.lower(), p
    final = p.split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final, p
    aggs = [ln for ln in final.splitlines() if "HashAggregate(" in ln]
    assert aggs, p
    assert all("*(" in ln.split("HashAggregate(")[0] for ln in aggs), p


def test_no_collect_in_operator_paths():
    """No operator/query module may materialize DATA to the driver —
    grep-level guard; .collect() belongs to tests and the driver only.
    The single sanctioned exception is collecting bounded METADATA
    (e.g. k×dim k-means centroids between Lloyd's iterations), which
    must be annotated ``# bounded-metadata`` on the same line."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "mysql2parquet_spark"
    offenders = []
    for f in root.rglob("*.py"):
        for i, line in enumerate(f.read_text().splitlines(), 1):
            if (".collect()" in line or ".toPandas()" in line) and (
                "bounded-metadata" not in line
            ):
                offenders.append(f"{f}:{i}")
    assert not offenders, f"driver-side materialization in: {offenders}"


@pytest.mark.parametrize(
    "name",
    ["agg_group", "join_broadcast", "window_rank", "stream_tumbling_batch", "tpch_q1"],
)
def test_single_shuffle_queries(spark, sf_dir, name):
    """These shapes need exactly one data exchange (plus broadcasts)."""
    p = plan(spark, sf_dir, name, mode="simple")  # formatted counts 0, vacuously
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_tpch_q18_single_lineitem_scan_broadcasts_big_orders(spark, sf_dir):
    """Q18's HAVING aggregate already holds each big order's quantity
    sum, and the outer group is one-row-per-order — so the plan must
    scan lineitem exactly ONCE (the r14 rewrite removed the second
    scan, the LeftSemi and the outer re-aggregation; a second lineitem
    reference here would re-scan the biggest table at 100 TB) and probe
    the ~0.3%-of-orders big relation as a broadcast join, never a
    shuffled one. The broadcast threshold is pinned to the session
    default so legitimate try/finally toggles elsewhere in the suite
    can't change the decision itself."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
    try:
        p = plan(spark, sf_dir, "tpch_q18", mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "LeftSemi" not in p, p
    assert p.count("lineitem") == 1, p
    assert "BroadcastHashJoin" in p, p


def test_ivf_assignment_never_shuffles_corpus(spark, sf_dir):
    """IVF cell assignment is a literal-centroid argmax projection; a
    hashpartitioning(vec_id) exchange here would shuffle the entire
    corpus once per assignment call (and once per k-means iteration)."""
    p = plan(spark, sf_dir, "ann_ivf_topk")
    assert "hashpartitioning(vec_id" not in p, p


def test_grouping_sets_single_pass(spark, sf_dir):
    """GROUPING SETS must plan ONE Expand + one shuffled aggregate —
    n sets costing n input passes would be 3× the scan at 100 TB."""
    p = plan(spark, sf_dir, "agg_grouping_sets", mode="simple")
    assert "Expand" in p
    assert p.count("Scan parquet") == 1, p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_scalar_subquery_broadcasts_one_row(spark, sf_dir):
    """The scalar aggregate reduces to 1 row and must broadcast; the
    outer customer scan must never hash-exchange."""
    p = plan(spark, sf_dir, "subquery_scalar", mode="simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p, p


def test_window_percent_single_window(spark, sf_dir):
    """PERCENT_RANK and CUME_DIST share one Window operator and one
    exchange — two sorts over orders would double the heavy lifting."""
    p = plan(spark, sf_dir, "window_percent", mode="simple")
    assert p.count("Window") == 1, p
    assert p.count("Exchange hashpartitioning") <= 1, p


def test_bm25_stats_join_broadcasts(spark, sf_dir):
    """BM25's corpus stats and df joins must be broadcasts — a sort-merge
    join on the tiny aggregates would shuffle the per-doc term rows
    twice for nothing."""
    p = plan(spark, sf_dir, "text_bm25")
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in p


def test_top_terms_limits_below_shuffle(spark, sf_dir):
    """Grouped top-k must run through WindowGroupLimit so each task cuts
    to k rows per group BEFORE the window shuffle — a full sort per
    language at corpus scale is the regression this pins."""
    p = plan(spark, sf_dir, "text_top_terms")
    assert "WindowGroupLimit" in p


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The eval-gram membership probe must be a broadcast hash join —
    shuffling the exploded training grams on gram value would be the
    dominant cost at corpus scale."""
    p = plan(spark, sf_dir, "pipeline_decontaminate")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """Corpus shuffle+shard is ONE hash exchange (on shard) + one window
    — a second exchange (e.g. a join-back for payload, or a global sort)
    would double the largest shuffle in the training-prep pipeline."""
    p = plan(spark, sf_dir, "pipeline_shuffle", mode="simple")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "Exchange rangepartitioning" not in p, p  # no global sort


def test_pii_redaction_zero_shuffle(spark, sf_dir):
    """PII redaction is a pure codegen projection over the scan — any
    Exchange here means the regex work stopped pipelining with the scan
    stage."""
    p = plan(spark, sf_dir, "text_pii")
    assert "Exchange" not in p, p


def test_merge_upsert_target_never_exchanges(spark, sf_dir):
    """The CDC merge contract: with a broadcast delta the target
    (snapshot) lineage is scanned once and never hash-exchanged on the
    merge key — at 100 TB a target shuffle IS the cost of the job.

    mode=simple, NOT formatted: formatted prints exchanges as bare
    'Exchange (n)' with arguments elsewhere, so a substring assertion on
    'Exchange hashpartitioning(key' passes vacuously. The pin is
    structural: the target parquet scan must be the DIRECT left child of
    the broadcast anti-join — a target shuffle would interpose an
    Exchange/Sort there (and plan a SortMergeJoin). Source-side key
    exchanges (the dup-guard window over the delta) are allowed."""
    from tests.conftest import target_feeds_anti_directly

    p = plan(spark, sf_dir, "merge_upsert", mode="simple")
    assert "BroadcastHashJoin" in p
    assert p.count("LeftAnti") >= 2  # upsert anti + delete anti
    assert "SortMergeJoin" not in p  # anti joins must stay broadcast
    assert target_feeds_anti_directly(p), p


def test_mix_corpus_one_window_exchange_broadcast_weights(spark, sf_dir):
    """Budget mixing is ONE hash exchange (the per-source window) plus a
    broadcast of the weights table — a shuffled weights join or a second
    exchange would re-move the corpus for a len(weights)-row lookup."""
    p = plan(spark, sf_dir, "pipeline_mix", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "SortMergeJoin" not in p, p


def test_incremental_dedup_anti_join_on_fingerprint(spark, sf_dir):
    """The store probe is an anti-join keyed on the 16-byte fingerprint
    — never a join on the document text, and never a cartesian shape.
    The batch's own dedup window plus the anti-join's exchanges are the
    only data movement; the HISTORICAL corpus contributes fingerprints,
    not text, to the shuffle."""
    p = plan(spark, sf_dir, "dedup_incremental", mode="simple")
    assert "LeftAnti" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def _rows_sorted(df):
    return sorted(map(tuple, df.collect()))


def _without_auto_broadcast(spark, name, sf_dir):
    """Run a head query with auto-broadcast disabled — proves its
    correctness does not depend on any join side fitting in memory
    (the plan AQE falls back to at 100 TB)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _rows_sorted(REGISTRY[name].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_retention_correct_without_broadcast(spark, sf_dir):
    """Negative plan pin (VERDICT r5 'What's wrong' #1): events_retention
    used to FORCE-broadcast first_seen — one row per user, an executor
    OOM at 100 TB that a hint prevents AQE from overriding. The hint is
    gone; same answer with broadcasting disabled entirely (the shuffled
    user_id join is the 100x plan)."""
    assert _rows_sorted(REGISTRY["events_retention"].fn(spark, sf_dir)) == \
        _without_auto_broadcast(spark, "events_retention", sf_dir)


def test_q3_correct_without_broadcast(spark, sf_dir):
    """Same genus, milder: tpch_q3_shape force-broadcast the
    segment-filtered customer — a side that grows linearly with scale
    factor. Hint removed; AQE owns the strategy, answer unchanged when
    broadcasting is impossible."""
    assert _rows_sorted(REGISTRY["tpch_q3_shape"].fn(spark, sf_dir)) == \
        _without_auto_broadcast(spark, "tpch_q3_shape", sf_dir)


def test_q5_correct_without_broadcast(spark, sf_dir):
    """tpch_q5_shape dropped the forced supplier broadcast (linear in
    SF); region/nation keep theirs (5/25 rows at any SF). Disabling
    auto-broadcast must not change the answer."""
    assert _rows_sorted(REGISTRY["tpch_q5_shape"].fn(spark, sf_dir)) == \
        _without_auto_broadcast(spark, "tpch_q5_shape", sf_dir)


# The 100x broadcast contract (docs/SCALE.md "Joins"): a forced
# F.broadcast() hint is only legal on a side whose size is BOUNDED
# independent of the fact/corpus scale — a fixed-cardinality dim
# (nation/region), an absolute key cap, a per-batch delta, a query/eval
# set, or sketch/centroid metadata. Sides that grow with the data
# (per-user tables, SF-linear dims) must stay hint-free so AQE can pick
# shuffle vs broadcast at runtime. Every call site below is reviewed
# against that contract; the sweep fails on any NEW site until it is
# reviewed and listed here.
BROADCAST_ALLOWLIST = {
    ("operators/constraints.py", "referential_violations"):
        "caller-gated (broadcast_parent flag); default is dim KEY-SET",
    ("operators/merge.py", "merge_upsert"):
        "per-batch delta keys — bounded by the CDC batch, not the target",
    ("operators/merge.py", "scd2_apply_batch"):
        "per-batch delta keys — bounded by the CDC batch, not history",
    ("operators/drift.py", "categorical_drift"):
        "top-k surviving categories — ≤ top_k rows by construction",
    ("operators/pipeline.py", "contamination_report"):
        "eval-set n-grams — benchmark suites are bounded metadata",
    ("operators/pipeline.py", "mix_corpus"):
        "one row per corpus source — bounded config, not data",
    ("operators/similarity.py", "score_against"):
        "query vectors — bounded by contract (top-k query side)",
    ("operators/similarity.py", "lsh_topk"):
        "query-side band buckets — bounded by the query set",
    ("operators/sketches.py", "cms_estimate"):
        "CMS cells — kilobytes of sketch state by construction",
    ("operators/sketches.py", "bloom_contains"):
        "bloom bit positions — ≤ m rows by geometry at any data volume",
    ("operators/text.py", "bm25_scores"):
        "df over the QUERY terms (isin-filtered) + one-row corpus stats",
    ("operators/text.py", "term_cooccurrence_pmi"):
        "top-N term list (TakeOrderedAndProject heap, ≤ top_n rows) + "
        "one-row n_docs aggregate — both bounded by construction",
    ("operators/scale.py", "key_skew_profile"):
        "one-row totals aggregate over the count table",
    ("operators/scale.py", "join_explosion_estimate"):
        "one-row totals + top_k-row product sum — bounded aggregates",
    ("operators/scale.py", "join_strategy_advice"):
        "three one-row aggregates (side totals + matched/output counts)",
    ("operators/pipeline.py", "curriculum_order"):
        "per-(band, salt) offset relation — |bands| x 16^salt_chars "
        "rows (256 per band at the default salt_chars=2) regardless of "
        "data volume; the broadcast is what keeps the big table at "
        "exactly ONE keyed exchange",
    ("operators/heavyhitters.py", "heavy_hitters"):
        "candidate key set (<= (m+1) x partitions rows of Misra-Gries "
        "survivors — bounded by the counter budget, not the data) and "
        "the 1-row certificate relation",
    ("operators/bloomjoin.py", "bloom_prune_join"):
        "sparkContext.broadcast of the OR-merged bloom BYTES — "
        "num_bits/8 regardless of key cardinality (the operator's "
        "whole point); not an F.broadcast join hint at all",
    ("operators/pipeline.py", "temperature_sample"):
        "|domains|-row fractions relation (one count aggregate over "
        "the domain key — bounded by domain cardinality, not data)",
    ("operators/tfidf.py", "tfidf_signatures"):
        "one-row corpus-size relation (the N in idf) — rides as a "
        "broadcast instead of a driver scalar so the plan stays lazy",
    ("operators/tfidf.py", "tfidf_topk_similar"):
        "query-doc id list for the left-semi prune — bounded by the "
        "operator's contract (query_pred selects the FEW probe docs; "
        "a corpus-scale query side should skip query_pred and pair "
        "both sides through the term join directly, docstring note)",
    ("queries/advanced.py", "events_funnel"):
        "one-row entry-population aggregate",
    ("queries/relext.py", "subquery_scalar"):
        "one-row scalar aggregate",
    ("queries/tierb.py", "join_broadcast"):
        "part capped by absolute key range (<=500 rows at any SF)",
    ("queries/tierb.py", "join_range"):
        "static band table — fixed row count",
    ("queries/tierb.py", "join_multiway"):
        "nation (25) + region (5) — fixed-cardinality dims",
    ("queries/tierb.py", "agg_rollup"):
        "nation — fixed-cardinality dim",
    ("queries/tierb.py", "agg_groupconcat"):
        "nation — fixed-cardinality dim",
    ("queries/tierc.py", "ann_ivf_topk"):
        "probe centroid ids — k rows",
    ("operators/numeric.py", "quantile_normalize_global"):
        "|range-partitions|-row cumulative-offset relation — bounded "
        "by the partition count, never the data",
    ("operators/numeric.py", "quantiles_exact_global"):
        "|range-partitions|-row offsets + |qs|-row quantile targets — "
        "both bounded by configuration, never the data",
    ("operators/scale.py", "quota_sample"):
        "|strata|-row quota allocation — one count aggregate over the "
        "stratum key, bounded by stratum cardinality",
    ("operators/lm.py", "lm_score"):
        "one-row vocabulary-size relation — rides as a broadcast "
        "instead of a driver scalar so the plan stays lazy",
    ("operators/pipeline.py", "dsir_log_ratios"):
        "two 1-row bag-model totals relations — ride as broadcasts "
        "instead of driver scalars so the plan stays lazy",
    ("operators/pipeline.py", "dsir_weights"):
        "bucket log-ratio relation — ≤ 16^hex_chars rows (256 at the "
        "default) regardless of corpus size",
    ("queries/tpch.py", "tpch_q5_shape"):
        "nation (25) + region (5) only; supplier/customer hint-free",
    ("queries/tpch.py", "tpch_q10_shape"):
        "nation — fixed-cardinality dim",
    ("streaming/windows.py", "enrich_with_dimension"):
        "caller-gated (broadcast_dim flag) with documented size contract",
    ("operators/text.py", "zipf_report"):
        "one-row slope aggregate over the ≤ top_v ranked relation — "
        "bounded by configuration, never the data",
    ("operators/dedup.py", "source_overlap_matrix"):
        "|sources|-row per-source totals relation (one count aggregate "
        "over the source key — bounded by source cardinality, not data)",
    ("operators/dedup.py", "remove_matching_spans"):
        "DISTINCT-ed needle (eval/benchmark) gram relation — eval "
        "suites are bounded metadata next to the corpus (the D16 "
        "contamination_report contract)",
    ("operators/text.py", "heaps_growth"):
        "1-row max-id relation (bucket boundaries) + one-row β-fit "
        "aggregate over the ≤ n_buckets curve — both bounded by "
        "construction, never the data",
    ("operators/pipeline.py", "token_budget_allocation"):
        "1-row waterline aggregate over the ≤ |sources| cap relation — "
        "bounded by source cardinality, never the data",
    ("operators/classifier.py", "nb_log_odds"):
        "1-row class-totals relation — rides as a broadcast instead "
        "of a driver scalar so the plan stays lazy",
    ("operators/classifier.py", "nb_classifier_score"):
        "≤16^hex_chars-row log-odds model + 1-row prior — bounded by "
        "the hashed feature space, never the data",
    ("operators/classifier.py", "_lr_serve"):
        "≤16^hex_chars-row trained model + 1-row bias — bounded by "
        "the hashed feature space, never the data",
    ("operators/lm.py", "lm3_score"):
        "1-row (N, V) totals relation — rides as a broadcast instead "
        "of a driver scalar so the plan stays lazy",
    ("operators/text.py", "burstiness_report"):
        "1-row document-count relation joined onto the ≤ top_v "
        "bounded top-k — never the data",
    ("operators/text.py", "source_kl_report"):
        "16^hex_chars-row bucket grid + ≤B-row corpus marginal + "
        "1-row total — all bounded by the fixed bucket space",
    ("operators/text.py", "ngram_langid"):
        "≤|langs|·profile_size-row trigram rank profiles + the "
        "|langs|-row language list — char-trigram vocabulary is "
        "charset³-bounded, never the data",
    ("operators/pipeline.py", "curate_with_classifier"):
        "1-row score-sum/doc-count relation (the relative-threshold "
        "mean) — bounded by construction, never the data",
    ("operators/numeric.py", "exact_auc"):
        "|partitions|-row negative-count offset relation (the "
        "D45/D61 distributed-ORDER-BY machinery) — bounded by the "
        "partition count, never the data",
    ("operators/drift.py", "wasserstein_drift"):
        "bounded support list, |support|-row pool counts, and the "
        "1-row pool total — value-bounded relations (bucket first "
        "for continuous columns), never the data",
    ("operators/classifier.py", "pr_curve_report"):
        "|thresholds|-row cutoff grid + the 1-row positive total — "
        "bounded by configuration, never the data",
    ("operators/pipeline.py", "curate_with_lm"):
        "1-row cross-entropy-sum/doc-count relation (the relative-"
        "threshold mean) — bounded by construction, never the data",
}


def test_broadcast_hints_only_on_bounded_sides():
    """Sweep (VERDICT r5 ask #2): enumerate every F.broadcast() call site
    in the package via AST and assert each enclosing function is on the
    reviewed allowlist — so a forced hint on a side that scales with the
    fact table (the events_retention class of bug) cannot land silently."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "mysql2parquet_spark"
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        src = path.read_text()
        if "broadcast(" not in src:
            continue
        tree = ast.parse(src)
        spans = [
            (n.lineno, n.end_lineno, n.name)
            for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
            ):
                enc = [nm for a, b, nm in spans if a <= node.lineno <= b]
                sites.add(
                    (str(path.relative_to(pkg)), enc[-1] if enc else "<module>")
                )
    unreviewed = sites - set(BROADCAST_ALLOWLIST)
    assert not unreviewed, (
        f"unreviewed F.broadcast() sites (add to BROADCAST_ALLOWLIST only "
        f"after checking the side is bounded at 100 TB): {sorted(unreviewed)}"
    )
    stale = set(BROADCAST_ALLOWLIST) - sites
    assert not stale, f"allowlist entries with no call site: {sorted(stale)}"


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark, sf_dir):
    """100 TB posture: when a selectively-filtered build side feeds a
    shuffle join, Spark's runtime bloom filter (on by default since 3.4)
    injects a might_contain() probe on the fact side so filtered-out
    keys die at the scan instead of crossing the exchange. Locally the
    10 GB application-side threshold keeps it dormant, so this pin
    lowers the threshold and proves the injection FIRES on our join
    shape — a session-default or join-shape refactor that silenced it
    would quietly cost a full fact-table shuffle at scale. Result
    equivalence with the filter dormant is asserted too (the filter
    must only prune, never change the answer)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    q = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled"
        ) == "true", "runtime bloom filtering disabled — scans lose join pruning"
        phys = q._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in phys.lower() or "bloomfilter" in phys.lower(), (
            "runtime bloom filter did not inject on a selective dim->fact "
            f"shuffle join:\n{phys[:2000]}"
        )
        pruned = _rows_sorted(q)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert pruned == _rows_sorted(q)


def test_incremental_neardup_plans_never_pair_documents(spark, sf_dir):
    """r7 incremental near-dup pair: documents must only meet through
    shared gram / band KEYS (equi-joins) — a nested loop or cartesian
    here is the O(batch x history) blowup the operators exist to avoid.
    The jaccard path's count aggregate must keep map-side partials."""
    for name in ("dedup_jaccard_incremental", "dedup_minhash_incremental"):
        p = plan(spark, sf_dir, name, mode="simple")
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    p = plan(spark, sf_dir, "dedup_jaccard_incremental", mode="simple")
    assert "partial_count" in p, "gram-pair intersection lost map-side combine"


def test_gram_index_fans_out_narrow_scans(spark, sf_dir):
    """r7 regression pin (the dedup_substring one-split class,
    re-found in dedup_jaccard_incremental): the inverted gram index
    must not hang its tokenize+explode chain off a single-split scan —
    a small parquet file arrives as ONE split and serializes the whole
    build onto one core at any cluster size."""
    from mysql2parquet_spark.io import load_table
    from mysql2parquet_spark.operators.dedup import _gram_index

    docs = load_table(spark, sf_dir, "documents")
    gi = _gram_index(docs, "doc_id", "text", 2)
    assert (
        gi.rdd.getNumPartitions()
        >= spark.sparkContext.defaultParallelism
    )


def test_incremental_minhash_cap_is_a_window_group_limit(spark, sf_dir):
    """The hot-band cap in dedup_minhash_incremental must compile to
    WindowGroupLimit (map-side per-bucket top-k) on BOTH capped sides —
    a full per-bucket sort, or a silently dropped cap, re-opens the
    quadratic boilerplate bucket this query ships the cap for
    (r7: 21 s -> 3 s at sf0.1)."""
    from mysql2parquet_spark.queries import REGISTRY

    df = REGISTRY["dedup_minhash_incremental"].fn(spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("WindowGroupLimit") >= 2, p


def test_bucketed_band_store_probe_needs_no_store_exchange(spark, sf_dir):
    """The minhash_band_store docstring's at-scale claim, proven: a
    store written bucketed on (band_idx, band_key) feeds the
    incremental probe with NO store-side Exchange — the bucket layout
    satisfies BOTH the hot-band cap's Window partitioning and the
    probe join's distribution, so the corpus-sized side never
    reshuffles (only the nightly batch exchanges to meet it). Store
    columns are aliased s_idx/s_key before the join, so any store
    re-exchange would name them."""
    from pyspark.sql import functions as F

    from mysql2parquet_spark.io import load_table, write_bucketed
    from mysql2parquet_spark.operators import dedup

    d = load_table(spark, sf_dir, "documents")
    hist = d.filter(F.col("doc_id") % 4 == 2)
    batch = d.filter(F.col("doc_id") % 4 == 0)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(
            dedup.minhash_band_store(hist, shingle_n=2),
            "b_band_store_probe",
            bucket_by=["band_idx", "band_key"],
            num_buckets=8,
        )
        out = dedup.incremental_minhash_dedup(
            batch,
            spark.table("b_band_store_probe"),
            shingle_n=2,
            threshold=0.5,
            max_band_width=16,
        )
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p, p[:2000]
        assert "Exchange hashpartitioning(s_idx" not in p, p[:3000]
        assert out.count() >= 0  # plan executes
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_band_store_probe")


# ---------------------------------------------------------------- D29-D32
# Plan pins for the r8-debut surfaces (VERDICT r7 ask #2): each pin
# names the scale property its docstring claims, so a refactor can't
# silently regress it.


def test_curriculum_refuses_global_sort(spark, sf_dir):
    """pipeline_curriculum's whole point is reproducing the oracle's
    global ROW_NUMBER *without* the single-task global sort: the big
    table must take exactly ONE (band, salt)-keyed exchange, the
    offsets side must come back as a broadcast, and no
    rangepartitioning exchange may appear anywhere. The second
    hashpartitioning exchange is the |bands|x256-row partial-agg
    metadata relation, and the SinglePartition exchange is the tiny
    cumulative-offset window over it — both bounded by construction.
    The NULL-id/band raise_error guard must survive optimization
    (ADVICE r7 #3)."""
    p = plan(spark, sf_dir, "pipeline_curriculum", mode="simple")
    assert "Exchange rangepartitioning" not in p, p[:3000]
    assert p.count("Exchange hashpartitioning") == 2, p[:3000]
    assert "BroadcastHashJoin" in p, p[:3000]
    assert "raise_error" in p, p[:3000]  # NULL guard not optimized away


def test_winsorize_report_bounds_are_partial_agg(spark, sf_dir):
    """events_winsorize: the percentile bounds must partial-aggregate
    (map-side combine) before their one group-keyed exchange, the clip
    counts must partial-aggregate too, and nothing may global-sort.
    <= 2 hashpartitioning exchanges total: bounds + (statically
    planned) count agg — the row stream itself is never shuffled
    row-to-row."""
    p = plan(spark, sf_dir, "events_winsorize", mode="simple")
    assert "partial_percentile" in p, p[:3000]
    assert "partial_count" in p, p[:3000]
    assert "Exchange rangepartitioning" not in p, p[:3000]
    assert p.count("Exchange hashpartitioning") <= 2, p[:3000]


def test_events_paths_single_window_single_sort(spark, sf_dir):
    """events_paths: all k-1 lead() calls share one window spec, so the
    plan must carry exactly ONE Window operator and ONE Sort (a second
    sort would mean the leads split across specs); top-20 must be a
    TakeOrderedAndProject heap, never a global sort exchange. Two
    hashpartitioning exchanges: the entity window + the path agg."""
    p = plan(spark, sf_dir, "events_paths", mode="simple")
    assert p.count("+- Window") + p.count(":- Window") == 1, p[:3000]
    assert p.count("+- Sort") + p.count(":- Sort") == 1, p[:3000]
    assert "TakeOrderedAndProject" in p, p[:3000]
    assert "Exchange rangepartitioning" not in p, p[:3000]
    assert p.count("Exchange hashpartitioning") == 2, p[:3000]


def test_semantic_dedup_pairs_are_equi_join(spark, sf_dir):
    """dedup_semantic: assignment is a zero-shuffle literal-fold
    projection and the within-cluster verify is an EQUI-join on
    centroid_id — never a cartesian/nested-loop pair blowup. The only
    row-stream exchange is the final distinct (at sf the pair join
    broadcasts; at scale AQE shuffles it on _cid — both equi)."""
    p = plan(spark, sf_dir, "dedup_semantic", mode="simple")
    assert "CartesianProduct" not in p, p[:3000]
    assert "BroadcastNestedLoopJoin" not in p, p[:3000]
    assert p.count("Exchange hashpartitioning") == 1, p[:3000]
    assert "Exchange rangepartitioning" not in p, p[:3000]
