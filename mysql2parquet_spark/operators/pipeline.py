"""End-to-end corpus curation — the composition the individual operators
exist for: dedup → quality gate → language filter → stats. One
declarative plan: Catalyst fuses the projections, the only shuffles are
the dedup key exchange and the final rollup.

At 100 TB this pipeline is: one scan of the corpus, one hash-partition
on the md5 fingerprint (constant-width key), per-row quality/lang
scoring inside whole-stage codegen, and a tiny aggregation — no
intermediate materialization unless the caller writes checkpoints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mysql2parquet_spark.operators.dedup import fingerprint_dedup
from mysql2parquet_spark.operators.text import with_quality_score


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    languages: list[str] | None = None,
    lang_col: str = "lang",
) -> DataFrame:
    """Curated document set: content-deduped (md5, min-id survivor),
    quality-scored and thresholded, language-filtered."""
    out = fingerprint_dedup(docs, text_col, id_col)
    out = with_quality_score(out, text_col)
    out = out.filter(F.col("quality") >= min_quality)
    if languages:
        out = out.filter(F.col(lang_col).isin(*languages))
    return out


def curate_with_classifier(
    docs: DataFrame,
    target_pred,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
    hex_chars: int = 2,
    k: float = 1.0,
    min_score_micro: int | None = None,
) -> DataFrame:
    """TRAINED-filter curation (D88 — the GPT-3 Appendix-A pipeline
    end-to-end, Brown et al. 2020: dedup the corpus, train a cheap
    classifier on trusted-vs-raw, keep what the classifier likes —
    closing the D75→C6 composition VERDICT r12 ask #5 named).
    Replaces ``curate_corpus``'s HEURISTIC quality gate
    (min(n/100,1)·distinct_ratio — which rewards long token-diverse
    gibberish and punishes short clean prose) with the D75 trained NB
    decision.

    Threshold: ``min_score_micro=None`` (default) keeps documents
    scoring ABOVE THE CORPUS MEAN — a relative gate, because the
    absolute NB log-odds level is corpus-dependent (a corpus whose
    classes share vocabulary scores everything below 0, making an
    absolute gate vacuous). The mean is exact integer arithmetic
    (``score·N > Σscores``, both int64 — |score|≲10⁷ micro-nats, so
    the product stays far inside int64 up to N≈10¹¹ docs) and a
    one-row broadcast aggregate — no global sort / order statistic.
    Pass an explicit ``min_score_micro`` for an absolute gate (e.g. 0
    = the MAP decision when the classes are genuinely separable).

    Steps: md5 fingerprint dedup (min-id survivor) → train NB on the
    DEDUPED corpus (dedup first, or duplicated junk inflates its own
    class bag) with ``target_pred`` as the trusted label → keep
    scored docs above the threshold. Returns
    ``(id_col, *keep_cols, n_tokens, score_micro)`` — all integers,
    so the whole dedup→train→filter pipeline hash-adjudicates.

    Scale shape: the dedup is one constant-width md5 exchange; the NB
    train/score adds two ≤16^hex_chars-row bag aggregates + one
    (id, bucket) exchange (the D75 plan); the keep filter and the
    metadata join-back ride the existing id partitioning.
    """
    from mysql2parquet_spark.operators.classifier import (
        nb_classifier_score,
    )

    from mysql2parquet_spark.operators.scale import pin_shared

    # Pin the two multiply-consumed relations (r15, guide §1.2 "don't
    # compute twice"): ``deduped`` feeds the NB train/score passes AND
    # the metadata join-back, ``scored`` feeds the mean-gate aggregate
    # AND the keep filter — unpinned, Catalyst re-inlines the whole
    # md5-dedup window + classifier per consumer (the standing
    # no-ReusedExchange finding). Interleaved A/B min-of-5
    # (plans/r15/curate_pin_probes.md): sf0.1/32c median 2.75→2.31 s,
    # 4×SF/8c (saturated) min 2.35→2.19 s — the r14 "redundant-but-
    # parallel wins" note applied to pinning the MODEL relations (many
    # small serial checkpoints), not these two corpus-per-doc
    # relations (one checkpoint each; ``deduped`` holds the full
    # document text, see pin_shared).
    deduped = pin_shared(fingerprint_dedup(docs, text_col, id_col))
    scored = pin_shared(
        nb_classifier_score(
            deduped,
            target_pred,
            id_col=id_col,
            text_col=text_col,
            hex_chars=hex_chars,
            k=k,
        )
    )
    if min_score_micro is None:
        stats = scored.agg(
            F.sum("score_micro").alias("_tot"),
            F.count(F.lit(1)).cast("long").alias("_n"),
        )
        kept = scored.crossJoin(F.broadcast(stats)).filter(
            F.col("score_micro") * F.col("_n") > F.col("_tot")
        )
    else:
        kept = scored.filter(F.col("score_micro") > min_score_micro)
    meta = deduped.select(id_col, *keep_cols)
    return kept.join(meta, id_col).select(
        id_col, *keep_cols, "n_tokens", "score_micro"
    )


def curate_corpus_langid(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_quality: float = 0.2,
    languages: list[str] | None = None,
    profile_size: int = 100,
    doc_profile_size: int = 50,
) -> DataFrame:
    """Curation with the TRAINED language gate (D90 — VERDICT r12 ask
    #7, the C4→D44 composition): like ``curate_corpus`` but the
    language filter applies to the D87 Cavnar-Trenkle n-gram
    PREDICTION (``lang_pred``), not the metadata label or the
    stopword-ratio heuristic. Metadata labels are frequently missing
    or wrong at corpus scale, and the stopword heuristic misroutes
    any language outside its hand-curated word lists (or stopword-free
    text within them); rank profiles self-trained on the labeled
    subset classify every document, including the unlabeled.

    Steps: md5 fingerprint dedup → heuristic quality gate (unchanged)
    → ``ngram_langid`` self-trained on the deduped corpus's own
    ``lang_col`` labels → keep docs whose ``lang_pred`` is in
    ``languages``. Returns the curated docs with ``quality``,
    ``n_tokens`` and ``lang_pred`` attached (feed to
    ``curation_report(group_col='lang_pred')`` for the rollup).

    Scale shape: dedup is one md5 exchange; quality scoring fuses
    into codegen; the langid adds one (doc, gram) exchange + one
    per-doc rank window against broadcast charset³-bounded profiles
    (the D87 plan); the final filter+join rides the id partitioning.
    """
    from mysql2parquet_spark.operators.scale import pin_shared
    from mysql2parquet_spark.operators.text import ngram_langid

    # Pin the deduped corpus (r15): it feeds the quality gate, the
    # langid train side (profile build) and the langid doc side — three
    # full re-inlines of the md5-dedup window unpinned. Interleaved A/B
    # min-of-5 (plans/r15/curate_pin_probes.md): dedup-pin won 4/5
    # paired reps at sf0.1/32c (median 4.86→4.05 s) and 5/5 at 4×SF/8c
    # (min 7.34→6.12 s).
    deduped = pin_shared(fingerprint_dedup(docs, text_col, id_col))
    gated = with_quality_score(deduped, text_col).filter(
        F.col("quality") >= min_quality
    )
    preds = ngram_langid(
        deduped,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        profile_size=profile_size,
        doc_profile_size=doc_profile_size,
    )
    out = gated.join(preds, id_col)
    if languages:
        out = out.filter(F.col("lang_pred").isin(*languages))
    return out


def curate_with_lm(
    docs: DataFrame,
    trusted_pred,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = ("source",),
    alpha: float = 0.4,
) -> DataFrame:
    """PERPLEXITY-gated curation (D101 — the literal CCNet selection,
    Wenzek et al. 2020 §3.3: train a language model on a trusted
    corpus, score raw text, keep the low-perplexity documents; the LM
    sibling of D88's classifier gate, completing the second of the two
    published trained-filter recipes). md5 fingerprint dedup (min-id
    survivor, the D88 discipline) → D76 trigram stupid-backoff LM
    trained on the DEDUPED trusted slice → keep documents whose
    average cross-entropy is BELOW THE CORPUS MEAN.

    The gate is relative for the same reason D88's is (absolute
    perplexity levels are corpus- and tokenizer-dependent; CCNet
    itself uses corpus-relative thirds) and EXACT: per-doc
    cross-entropy stays on the integer micro-nat grid
    (``ce_micro = (−Σlq) div n_trigrams``) and the mean compare is
    ``ce·N < Σce`` — int64 throughout, one 1-row broadcast aggregate,
    no order statistic. Returns
    ``(id_col, *keep_cols, n_trigrams, ce_micro)`` — all integers, so
    the whole dedup→train→score→keep pipeline hash-adjudicates.

    Documents with fewer than 3 tokens carry no trigram and are
    absent (from the output AND the mean — the D76 contract); an
    EMPTY trusted slice yields NULL scores and an empty keep set
    (stated — the try_divide contract).

    Scale shape: one md5 dedup exchange; the D76 plan (four
    vocabulary-bounded model aggregates, gram-keyed scoring joins,
    one id-keyed reduce); the keep filter and metadata join-back ride
    the id partitioning. The deduped corpus and the per-doc score
    relation each materialize ONCE (localCheckpoint) because both
    have multiple consumers — see the pin comments below.
    """
    from mysql2parquet_spark.operators.lm import lm3_score
    from mysql2parquet_spark.operators.scale import pin_shared

    # Pin the two multiply-consumed CORPUS relations (r15, VERDICT r14
    # ask #1 — the saturated-core re-measure): unpinned, ``deduped``
    # re-inlines ~15× (trusted side ×6 through lm3's model aggregates,
    # doc side, metadata join-back — per ``scored`` consumer) and
    # ``scored`` re-inlines twice (mean gate + keep filter), the
    # 64-Exchange-ref plan. lm3_score's MODEL relations (bi/uni) stay
    # unpinned — pinning those was the measured r14 regression (many
    # small serial checkpoint jobs); these two are one checkpoint each
    # over per-doc rows, ``deduped``'s with the full text (see
    # pin_shared). Interleaved A/B min-of-5
    # (plans/r15/curate_pin_probes.md): sf0.1/32c none→both median
    # 2.97→2.30 s (win on every paired rep), 4×SF/8c (saturated)
    # 4.68→3.92 s median.
    deduped = pin_shared(fingerprint_dedup(docs, text_col, id_col))
    trusted = deduped.filter(trusted_pred).select(id_col, text_col)
    scored = pin_shared(
        lm3_score(
            deduped.select(id_col, text_col),
            train=trusted,
            id_col=id_col,
            text_col=text_col,
            alpha=alpha,
            as_micro=True,
        )
    )
    stats = scored.agg(
        F.sum("ce_micro").alias("_tot"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    )
    kept = scored.crossJoin(F.broadcast(stats)).filter(
        F.col("ce_micro") * F.col("_n") < F.col("_tot")
    )
    meta = deduped.select(id_col, *keep_cols)
    return kept.join(meta, id_col).select(
        id_col, *keep_cols, "n_trigrams", "ce_micro"
    )


def pack_sequences(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    n_shards: int = 8,
) -> DataFrame:
    """Greedy sequential packing: assign documents to fixed token-budget
    bins — the standard pre-training data-prep step (concatenate docs
    into ~budget-token training sequences).

    Distributed shape: shard docs (deterministic ``id % n_shards``),
    then ONE window per shard — each doc's bin is the budget-quotient of
    the running token count at the doc's START. No driver coordination,
    no iteration: bin boundaries are pure window arithmetic, so the
    assignment is reproducible at any cluster size and oracle-checkable
    in SQL. A doc longer than the budget occupies its own bin(s), as in
    real packers. At 100 TB: one shuffle on the shard key; each shard's
    window is a streaming running sum (no per-group materialization).
    """
    if budget <= 0 or n_shards <= 0:
        raise ValueError("budget and n_shards must be positive")
    tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    shard = (F.col(id_col) % n_shards).alias("shard")
    sized = docs.select(F.col(id_col), shard, tok.alias("n_toks"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_toks").over(w) - F.col("n_toks")
    return sized.select(
        id_col,
        "shard",
        "n_toks",
        F.floor(start / F.lit(float(budget))).cast("bigint").alias("bin"),
    )


def contamination_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: which training documents share at least
    one word n-gram with an evaluation set, and how many distinct n-grams
    they share. The standard pre-training hygiene step (drop or flag
    train docs that leak eval content).

    Distributed shape: both sides n-gram via a single whole-stage-codegen
    projection (``shingles`` — the bound-variable form, no per-element
    re-expansion), the eval side is distinct-ed and **broadcast** (real
    eval suites are tiny relative to a 100 TB corpus), so the membership
    probe is a map-side hash join on the exploded training grams; the
    only shuffle is the final per-doc count aggregation on ``id_col``.
    Anti-joining ``docs`` against the returned ids yields the clean set.
    ``broadcast_eval=False`` falls back to a shuffled join for an eval
    set too large to broadcast (rare; both sides then exchange on gram).
    """
    from mysql2parquet_spark.functions.hashing import shingles

    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col), F.explode(shingles(text_col, n)).alias("gram")
        )

    eval_grams = grams(eval_docs).select("gram").distinct()
    if broadcast_eval:
        eval_grams = F.broadcast(eval_grams)
    hits = grams(docs).join(eval_grams, "gram")
    return hits.groupBy(id_col).agg(
        F.count_distinct("gram").alias("n_hit_grams")
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token-window chunking: split each document into
    chunks of ``window`` tokens advancing by ``stride`` (context-window
    prep for embedding / training pipelines).

    Chunk boundaries are pure integer arithmetic on the token count —
    ``1 + ceil(max(n_tokens - window, 0) / stride)`` chunks per doc —
    so the op is one narrow projection + explode: no shuffle at all,
    no per-element lambda over large arrays (the sequence is over chunk
    indices, ~n/stride elements). The last chunk is the only short one.
    """
    if window <= 0 or stride <= 0 or stride > window:
        raise ValueError(
            "need 0 < stride <= window (stride > window would skip tokens)"
        )
    tk = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(F.col(id_col), tk.alias("_tk"), F.size(tk).alias("_n"))
    n_chunks = (
        F.lit(1)
        + F.floor(
            (F.greatest(F.col("_n") - window, F.lit(0)) + (stride - 1))
            / F.lit(float(stride))
        ).cast("bigint")
    )
    exploded = base.select(
        id_col,
        "_tk",
        "_n",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx") * stride + 1
    return exploded.select(
        id_col,
        "chunk_idx",
        start.cast("bigint").alias("chunk_start"),
        F.least(F.lit(window).cast("bigint"), F.col("_n") - start + 1).alias(
            "chunk_len"
        ),
        F.element_at("_tk", start.cast("int")).alias("first_tok"),
    )


def curation_report(curated: DataFrame, *, group_col: str = "lang") -> DataFrame:
    """Per-group corpus statistics of a curated set."""
    return curated.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(F.avg(F.col("n_tokens").cast("double")), 2).alias("avg_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def shuffle_shards(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: int = 42,
    n_shards: int = 16,
) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the final
    step before training: break source/temporal ordering so every shard
    (and every within-shard prefix) is an unbiased corpus sample, with a
    seed-reproducible order that is identical on any cluster size.

    Shape: ``hx = md5(seed:id)`` is the shuffle key; ``shard`` comes from
    the first two hex chars (256 buckets, folded mod ``n_shards``);
    ``pos`` is the within-shard rank by ``(hx, id)``. ``id_col`` must
    uniquely identify rows for the full reproducibility contract: with
    DUPLICATE ids the (id, shard, pos) multiset is still deterministic,
    but which payload row of a duplicate group gets which pos is
    partition-dependent (they tie on the whole sort key) — dedup first
    if payload→pos stability matters. All payload columns are carried
    through (the window only ADDS ``shard``/``pos``; no join-back
    needed). One projection + one window (the only
    exchange: hash on ``shard``). There is NO global sort — readers get
    order by sorting each shard by ``pos`` on read, which is a per-shard
    (embarrassingly parallel) sort. md5 is used instead of xxhash64 so
    the op has an exact cross-engine oracle. At 100 TB widen to more hex
    chars (16^k buckets) and more shards; the plan shape is unchanged.
    """
    if n_shards <= 0 or n_shards > 256:
        raise ValueError("n_shards must be in 1..256 (two hex chars)")
    if id_col not in docs.columns:
        raise ValueError(f"shuffle_shards: id_col {id_col!r} not in DataFrame")
    from pyspark.sql import Window

    hx = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    hexpos = "instr('0123456789abcdef', substring(_hx, {i}, 1)) - 1"
    bucket = F.expr(f"({hexpos.format(i=1)}) * 16 + ({hexpos.format(i=2)})")
    keyed = docs.withColumn("_hx", hx).withColumn(
        "shard", F.pmod(bucket, F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_hx", id_col)
    return keyed.withColumn(
        "pos", F.row_number().over(w).cast("bigint")
    ).drop("_hx")


def mix_corpus(
    docs: DataFrame,
    weights: dict[str, float],
    budget: int,
    *,
    source_col: str = "source",
    size_col: str = "n_chars",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Token-budget-weighted corpus mixing — compose a training corpus
    of ~``budget`` total units (chars/tokens) with per-source proportions
    given by ``weights`` (e.g. ``{"wiki": 3.0, "web": 1.0}`` = 3:1).
    The core data-mixture step of every pretraining run.

    Deterministic greedy prefix per source: docs are ordered by
    ``md5(seed:id)`` (a content-addressed shuffle — stable across runs,
    engines, and cluster sizes, unlike ``rand()``), and a doc is kept
    iff the running size of docs BEFORE it is still under its source's
    share ``weight/sum(weights) * budget`` — so the first doc crossing
    the boundary is included (standard bin-packing convention; each
    source overshoots by at most one document). Sources not in
    ``weights`` are dropped.

    Scale shape: ONE shuffle (window partitioned by source, streamed
    running sum); the weights table is a broadcast of len(weights) rows.
    A skewed source is one window partition — at real scale pre-shard
    hot sources (the ``pack_sequences`` shard trick) or mix per-shard
    with per-shard budgets; the greedy-prefix semantics compose.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if not weights:
        raise ValueError("weights must name at least one source")
    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("weights must sum to a positive value")
    from pyspark.sql import Window

    spark = docs.sparkSession
    shares = spark.createDataFrame(
        [(s, float(w) / total_w * budget) for s, w in weights.items()],
        f"{source_col} string, _share double",
    )
    hx = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = (
        Window.partitionBy(source_col)
        .orderBy("_hx", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keyed = docs.join(F.broadcast(shares), source_col).withColumn("_hx", hx)
    return (
        keyed.withColumn(
            "_cum_before", F.coalesce(F.sum(size_col).over(w), F.lit(0))
        )
        .filter(F.col("_cum_before") < F.col("_share"))
        .drop("_hx", "_cum_before", "_share")
    )


def curriculum_order(
    df: DataFrame,
    id_col: str,
    band_col,
    *,
    seed: str = "curriculum",
    salt_chars: int = 2,
) -> DataFrame:
    """Deterministic curriculum position: easy bands first, shuffled
    WITHIN each band — the epoch ordering a curriculum-training run
    consumes (order by difficulty band, random-but-reproducible inside
    the band so no source/length clumping survives).

    Returns ``(id_col, band, position)`` where ``position`` is the
    1-based rank under the total order ``(band ASC, md5(id||seed) ASC,
    id ASC)`` — exactly ``ROW_NUMBER() OVER (ORDER BY band, md5, id)``,
    WITHOUT the single-task global sort that window would plan. The
    distributed construction exploits md5-prefix consistency:

    - salt = the first ``salt_chars`` hex chars of the row's md5. The
      salt is a PREFIX of the sort key, so ordering by
      ``(band, salt, md5)`` IS ordering by ``(band, md5)`` — splitting
      each band into 16^salt_chars sub-partitions changes the physical
      grouping, never the total order.
    - within-(band, salt) rank: one row_number window whose partition
      count is |bands| x 256 (salt_chars=2) — parallelism no longer
      capped by the handful of bands (the events_anomaly 5-key lesson,
      structurally applied).
    - global offsets: per-(band, salt) counts (a partial-agg exchange
      carrying |bands|x256 rows) cumulated by one tiny ordered window
      over that metadata relation, broadcast back.

    ``position = offset + within_rank`` reproduces the global row
    number with ZERO global sorts: the big table takes exactly ONE
    (band, salt)-keyed exchange. ``band_col`` may be a column name or a
    Column expression (e.g. a width_bucket over length or a quality
    score). NULL ids or bands RAISE (in-plan ``raise_error`` guard) —
    an epoch-ordering operator must never silently drop rows; drop or
    impute NULLs upstream.
    """
    from pyspark.sql import Window

    band = F.col(band_col) if isinstance(band_col, str) else band_col
    # NULL id or band would otherwise vanish SILENTLY (NULL md5 salt
    # fails the inner offset join; NULL band sorts differently across
    # engines) — silent row loss in an epoch-ordering operator is
    # corruption, so the contract is enforced with an in-plan guard.
    # The raise_error must FEED the hash expression (the join_interval
    # lesson: a free-standing assert column is pruned, and identical
    # when-branches collapse under SimplifyConditionals), so it rides
    # the otherwise() of the id the hash consumes (ADVICE r7 #3).
    id_checked = F.when(
        F.col(id_col).isNotNull() & band.isNotNull(),
        F.col(id_col).cast("string"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "curriculum_order: NULL id or band — every row must "
                "carry both (drop or impute upstream)"
            )
        ).cast("string")
    )
    h = F.md5(F.concat(id_checked, F.lit(":" + seed)))
    base = df.select(
        F.col(id_col), band.alias("band"), h.alias("_h")
    ).withColumn("_salt", F.substring("_h", 1, salt_chars))

    w_in = Window.partitionBy("band", "_salt").orderBy("_h", id_col)
    ranked = base.withColumn("_rk", F.row_number().over(w_in))

    counts = base.groupBy("band", "_salt").agg(
        F.count(F.lit(1)).alias("_n")
    )
    w_off = (
        Window.orderBy("band", "_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("band", "_salt", "_off")

    return (
        ranked.join(F.broadcast(offsets), ["band", "_salt"], "inner")
        .select(
            id_col,
            "band",
            (F.col("_off") + F.col("_rk")).alias("position"),
        )
    )


def temperature_fractions(
    df: DataFrame,
    domain_col: str,
    *,
    alpha: float = 0.5,
    target_rows: int,
) -> DataFrame:
    """Temperature-based domain mixing weights (D44): the standard
    multi-domain LLM recipe (T5 / multilingual-sampling lineage) —
    sample domain d proportionally to ``n_d^alpha``, so ``alpha=1`` is
    natural proportions, ``alpha -> 0`` approaches uniform-per-domain,
    and 0.3-0.7 up-weights tail domains without drowning the head.

    Returns one row per domain: ``domain_col``, ``n`` (true count),
    ``weight`` (normalized n^alpha), ``fraction_q`` — the keep
    probability ``min(1, target_rows * weight / n)`` QUANTIZED to a
    32-bit integer grid (``floor(p * 2^32)``), which is what makes the
    downstream membership test integer-exact across engines. A
    |domains|-row relation from ONE count aggregate; NULL domains are
    dropped (no content address — the sampler contract).

    This computes the budgets FROM the data; ``mix_corpus`` consumes
    explicitly-declared budgets. At 100 TB the count aggregate is one
    domain-keyed exchange of partial counts.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0: {alpha}")
    if target_rows < 1:
        raise ValueError(f"target_rows must be >= 1: {target_rows}")
    counts = (
        df.filter(F.col(domain_col).isNotNull())
        .groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_raw = F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
    tot = Window.partitionBy()
    weight = w_raw / F.sum(w_raw).over(tot)
    frac = F.least(
        F.lit(1.0), F.lit(float(target_rows)) * weight / F.col("n")
    )
    return counts.select(
        domain_col,
        "n",
        F.round(weight, 6).alias("weight"),
        F.floor(frac * F.lit(float(1 << 32))).cast("long").alias(
            "fraction_q"
        ),
    )


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    *,
    id_col: str,
    alpha: float = 0.5,
    target_rows: int,
    salt: str = "tsamp",
) -> DataFrame:
    """Apply temperature mixing: keep a row iff its content-addressed
    32-bit uniform sorts below its domain's quantized keep probability
    (``temperature_fractions``). Expected output size ≈ ``target_rows``
    (binomial per domain; upsampling is out of scope — a domain needing
    fraction > 1 caps at keeping everything, stated by ``fraction_q =
    2^32``).

    Determinism contract: membership is a pure function of
    (id, salt, domain counts) — integer compare of the md5-derived
    uniform against the integer grid, so the kept set is reproducible
    across engines, runs, and partitionings (oracle-exact). The
    fractions relation is |domains| rows and broadcasts; the data-side
    cost is one codegen projection + filter, zero extra exchanges.
    """
    fr = temperature_fractions(
        df, domain_col, alpha=alpha, target_rows=target_rows
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(fr), domain_col)  # |domains|-row relation
        .filter(u < F.col("fraction_q"))
        .drop("n", "weight", "fraction_q")
    )


def dsir_log_ratios(
    docs: DataFrame,
    target_pred,
    *,
    text_col: str = "text",
    hex_chars: int = 2,
) -> DataFrame:
    """DSIR bucket log-ratios (D51, Xie et al. 2023 "Data Selection
    for Language Models via Importance Resampling"): hash every token
    into ``16^hex_chars`` buckets (the md5-hex prefix IS the bucket
    key — no integer conversion, so the oracle mirrors char-for-char),
    estimate add-one-smoothed unigram bag models over the TARGET slice
    (rows matching ``target_pred``) and the RAW corpus, and emit one
    row per observed bucket with the quantized log importance ratio

        lam_micro = floor((ln(ct+1) - ln(Nt+B) - ln(cr+1) + ln(Nr+B))
                          * 1e6)

    in integer micro-nats (the D48 recipe: quantize ONCE, then every
    downstream sum is order-independent 64-bit integer math).

    Scale shape: tokenize+hash is a zero-shuffle projection; each bag
    model is ONE bucket-keyed partial-agg exchange over a relation
    bounded by B (≤ 65536 at hex_chars=4), and the totals ride as
    broadcast 1-row relations — nothing is collected. Buckets unseen
    in the target smooth to ct=0 (add-one keeps every ratio finite);
    an EMPTY target degrades to a pure rarity score (ct=0 everywhere),
    coalesced rather than raised, documented here.
    """
    if not 1 <= hex_chars <= 8:
        raise ValueError(f"hex_chars must be in [1, 8]: {hex_chars}")
    b_count = 16 ** hex_chars
    toks = docs.select(
        target_pred.alias("_is_target"),
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("w"),
    ).filter(F.col("w") != "")
    hashed = toks.select(
        "_is_target", F.substring(F.md5("w"), 1, hex_chars).alias("b")
    )
    raw = hashed.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        hashed.filter(F.col("_is_target"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    nr = raw.agg(F.sum("cr").alias("nr"))
    nt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
    joined = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(nr))  # 1-row totals relation
        .crossJoin(F.broadcast(nt))  # 1-row totals relation
    )
    lam = F.floor(
        (
            F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
            - F.log(F.col("nt") + F.lit(b_count))
            - F.log(F.col("cr") + F.lit(1))
            + F.log(F.col("nr") + F.lit(b_count))
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    return joined.select("b", lam.alias("lam_micro"))


def dsir_weights(
    docs: DataFrame,
    target_pred,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
) -> DataFrame:
    """Per-document DSIR importance weight: ``(id_col, weight_micro)``
    where ``weight_micro = Σ_buckets count_d(b) · lam_micro(b)`` — the
    log-likelihood ratio of the document under the target vs raw bag
    models, in integer micro-nats (exact: counts ≤ doc length, ratios
    ≤ ~2·10⁷ micro-nats, sums ≤ ~10¹¹ — far inside int64). Documents
    with zero tokens carry no evidence and are absent.

    Plan: per-doc bucket counts are one (id, bucket)-keyed exchange;
    the ≤ B-row ratio relation broadcasts onto it; one id-keyed sum
    finishes. Three data exchanges total regardless of corpus size.
    """
    lam = dsir_log_ratios(
        docs, target_pred, text_col=text_col, hex_chars=hex_chars
    )
    dc = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .select(id_col, F.substring(F.md5("w"), 1, hex_chars).alias("b"))
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        dc.join(F.broadcast(lam), "b")  # ≤ 16^hex_chars-row relation
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("lam_micro")).alias("weight_micro"))
    )


def dsir_select(
    docs: DataFrame,
    target_pred,
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    hex_chars: int = 2,
) -> DataFrame:
    """Top-k DSIR selection: the k documents whose hashed-unigram
    likelihood ratio most favors the target domain — the published
    recipe's hard-top-k face (the paper resamples with Gumbel noise;
    the deterministic top-k keeps the relation oracle-exact, and a
    caller wanting the stochastic face adds a content-addressed
    Gumbel like D44's sampler). Ties break by ``id_col`` ascending so
    the selected SET is engine-exact, not just the scores. Spark plans
    the limit as TakeOrderedAndProject (per-partition heaps + one k-row
    merge), never a global sort.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    w = dsir_weights(
        docs, target_pred, id_col=id_col, text_col=text_col,
        hex_chars=hex_chars,
    )
    return w.orderBy(
        F.col("weight_micro").desc(), F.col(id_col).asc()
    ).limit(k)


def length_bucket_batches(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 16,
    batch_size: int = 32,
    n_shards: int = 8,
    salt: str = "lbb",
) -> DataFrame:
    """Length-bucketed batch assignment (D54) — the sorted-batching
    trick every padded-training pipeline uses (fairseq's
    ``--required-batch-size-multiple`` lineage): documents batch with
    OTHERS OF SIMILAR LENGTH, so each batch pads to its own max
    instead of the corpus max. Bucket = ``floor(n_tokens /
    bucket_width)``; within a (bucket, shard) the order is
    content-addressed (md5 of the id — deterministic at any
    parallelism, and a free shuffle against length-correlated input
    order); ``batch_idx`` fills batches of ``batch_size`` in that
    order.

    Returns ``(id_col, n_toks, bucket, shard, batch_idx)``.

    Scale shape: ONE (bucket, shard)-keyed window exchange. The shard
    key is what keeps this 100 TB-safe — real corpora concentrate in a
    few length buckets, and an unsharded bucket window would funnel
    the modal bucket through one task (the D42/D45 lesson); sharding
    bounds every window partition at ~1/n_shards of its bucket while
    leaving batch QUALITY untouched (same-length docs still batch
    together — padding waste is identical in expectation).
    """
    if bucket_width < 1 or batch_size < 1 or n_shards < 1:
        raise ValueError(
            "bucket_width, batch_size, n_shards must all be >= 1"
        )
    n = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    sized = docs.select(
        F.col(id_col),
        n.alias("n_toks"),
        F.floor(n / F.lit(float(bucket_width))).cast("long").alias(
            "bucket"
        ),
        (F.col(id_col) % n_shards).alias("shard"),
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit(":" + salt))
        ).alias("_r"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("_r", id_col)
    return sized.withColumn(
        "batch_idx",
        F.floor(
            (F.row_number().over(w) - F.lit(1))
            / F.lit(float(batch_size))
        ).cast("long"),
    ).drop("_r")


def padding_waste_report(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_width: int = 16,
    batch_size: int = 32,
    n_shards: int = 8,
    salt: str = "lbb",
) -> DataFrame:
    """Per-batch padding accounting over ``length_bucket_batches``:
    ``(bucket, shard, batch_idx, n_rows, max_toks, sum_toks,
    padding_waste)`` where ``padding_waste = n_rows·max_toks −
    sum_toks`` — the tokens a padded batch burns on padding. Summing
    the column and comparing against the same sum at
    ``bucket_width=∞`` (one bucket) is the standard before/after
    efficiency argument for sorted batching. One extra
    (bucket, shard, batch)-keyed aggregate; all-integer output."""
    b = length_bucket_batches(
        docs, id_col=id_col, text_col=text_col,
        bucket_width=bucket_width, batch_size=batch_size,
        n_shards=n_shards, salt=salt,
    )
    return (
        b.groupBy("bucket", "shard", "batch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("n_toks").alias("max_toks"),
            F.sum("n_toks").alias("sum_toks"),
        )
        .select(
            "bucket",
            "shard",
            "batch_idx",
            "n_rows",
            "max_toks",
            "sum_toks",
            (
                F.col("n_rows") * F.col("max_toks") - F.col("sum_toks")
            ).alias("padding_waste"),
        )
    )


def token_budget_allocation(
    df: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
    budget_tokens: int,
    max_epochs: int = 4,
) -> DataFrame:
    """Data-constrained token-budget allocation (D73 — Muennighoff et
    al. 2023, "Scaling Data-Constrained Language Models": repeating
    data is worth it up to ~4 epochs, after which returns collapse):
    given a training budget of ``budget_tokens`` and a per-source
    repeat cap of ``max_epochs``, decide how many tokens to take from
    each source by WATER-FILLING — every source drinks up to the
    shared waterline θ or its own cap ``max_epochs·available``,
    whichever is lower, with θ set so the total meets the budget.
    This is the allocation step between D44's temperature mixing
    (which sets proportions with no cap semantics) and the samplers
    that then materialize the rows.

    Exactness: availability counts are integers; the waterline is
    derived from integer prefix sums over the caps sorted ascending
    (``n_capped`` = sources whose cap sits fully under the line,
    ``θ = floor((B − Σ capped) / (m − n_capped))``), so every
    allocation is engine-exact integer arithmetic; the per-source
    epochs ratio is floor-quantized 1e-4 (D52 tie rule). Total
    allocated ≤ budget with slack < m from the floor — stated, not
    hidden. A budget exceeding Σ caps allocates every cap in full.

    Scale shape: ONE source-keyed token-count aggregate over the
    corpus (``size(split())`` per row, map-side combined — the only
    data-scale stage); everything after runs on the ≤ |sources|
    bounded relation (sorted-prefix window + a 1-row waterline
    aggregate joined back as a reviewed broadcast — the D59/D65
    funnel discipline).
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0: {budget_tokens}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1: {max_epochs}")
    from mysql2parquet_spark.functions.hashing import tokens

    avail = (
        df.select(
            F.col(source_col).alias("source"),
            F.size(
                F.filter(
                    tokens(F.col(text_col)), lambda t: t != ""
                )
            ).alias("_nt"),
        )
        .groupBy("source")
        .agg(F.sum("_nt").cast("long").alias("avail_tokens"))
        .withColumn(
            "cap_tokens",
            (F.col("avail_tokens") * F.lit(max_epochs)).cast("long"),
        )
    )
    w = Window.orderBy(F.col("cap_tokens").asc(), F.col("source").asc())
    ranked = avail.select(
        "source",
        "avail_tokens",
        "cap_tokens",
        F.row_number().over(w).alias("_j"),
        F.sum("cap_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("_pfx"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("_m"),
    ).select(
        "*", F.coalesce(F.col("_pfx"), F.lit(0)).alias("_p")
    ).drop("_pfx")
    b = F.lit(int(budget_tokens))
    # source j is fully capped iff even giving everyone >= cap_j still
    # fits: prefix-before + (m - j + 1) * cap_j <= B
    capped = (
        F.col("_p")
        + (F.col("_m") - F.col("_j") + 1) * F.col("cap_tokens")
    ) <= b
    line = ranked.select(
        F.sum(capped.cast("long")).alias("_nc"),
        F.sum(F.when(capped, F.col("cap_tokens"))).alias("_pc"),
        F.max("_m").alias("_mm"),
    ).select(
        F.when(
            F.col("_nc") < F.col("_mm"),
            F.floor(
                (b - F.coalesce(F.col("_pc"), F.lit(0))).cast("double")
                / (F.col("_mm") - F.col("_nc")).cast("double")
            ).cast("long"),
        ).alias("_theta")
    )
    return (
        ranked.crossJoin(F.broadcast(line))
        .select(
            "source",
            "avail_tokens",
            "cap_tokens",
            F.when(
                F.col("_theta").isNull(), F.col("cap_tokens")
            )
            .otherwise(
                F.least(
                    F.col("cap_tokens"), F.greatest(F.col("_theta"), F.lit(0))
                )
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .withColumn(
            "epochs",
            F.when(
                F.col("avail_tokens") > 0,
                F.floor(
                    F.col("alloc_tokens").cast("double")
                    / F.col("avail_tokens").cast("double")
                    * F.lit(10_000.0)
                )
                / F.lit(10_000.0),
            ),
        )
    )
