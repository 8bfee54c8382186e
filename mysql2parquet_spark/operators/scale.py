"""Scale-posture operators (SURVEY.md C6): skew salting and
deterministic stratified sampling. These change nothing semantically —
they reshape the same computation so it survives pathological data
distributions at 100 TB. (Bucketed co-located-join LAYOUT lives with
the other layout writers: io.write_bucketed.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_group_count(
    df: DataFrame,
    key_cols: list[str],
    *,
    salt_buckets: int = 16,
    agg_exprs: dict[str, str] | None = None,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    Phase 1 groups on (key, salt) — a hot key splits across
    ``salt_buckets`` reducers instead of melting one; phase 2 merges the
    partials on the bare key. AQE's skew handling covers joins; this is
    the equivalent for aggregations whose partial combine isn't enough
    (e.g. high-cardinality payloads per hot key).

    ``agg_exprs``: {output_col: input_col} summed in both phases;
    row counts are always produced as ``cnt``.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int").alias("_salt")
    aggs1 = [F.count("*").alias("cnt")] + [
        F.sum(src).alias(out) for out, src in (agg_exprs or {}).items()
    ]
    phase1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(*aggs1)
    aggs2 = [F.sum("cnt").alias("cnt")] + [
        F.sum(out).alias(out) for out in (agg_exprs or {})
    ]
    return phase1.groupBy(*key_cols).agg(*aggs2)


def salted_join(
    big: DataFrame,
    skewed_small: DataFrame,
    on: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: the big side gets a random salt, the
    small side is exploded ``salt_buckets``× so every (key, salt)
    combination exists. A hot key's rows then spread over
    ``salt_buckets`` tasks. Prefer AQE skew-join first; use this when
    the skew is known and extreme (AQE splits partitions, but a single
    hot KEY within one partition can't be split without salting).

    Only big-side-preserving joins are sound: ``inner``/``left``/
    ``left_semi``/``left_anti``. The big side keeps exactly one salt per
    row, so left-anti is exact (a big row matches iff its key exists —
    the small side is exploded with EVERY salt), while right/full-outer
    would surface each unmatched small-side key once PER SALT BUCKET
    (salt_buckets duplicates). Those variants are rejected rather than
    silently wrong.
    """
    allowed = {
        "inner", "left", "left_outer", "leftouter",
        "left_semi", "leftsemi", "left_anti", "leftanti",
    }
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports how in {sorted(allowed)} — '{how}' would "
            "duplicate unmatched small-side keys once per salt bucket"
        )
    salted_big = big.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    exploded_small = skewed_small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(exploded_small, [on, "_salt"], how)
    return out.drop("_salt")


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    *,
    key_col: str,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic content-addressed stratified sampling: keep a row
    iff the first two hex chars of ``md5(key || ':' || salt)`` sort
    below the stratum's threshold (fixed-width lowercase hex compares
    lexicographically = numerically in every engine — no rand(), no
    engine RNG). Resolution is 1/256 per stratum; strata absent from
    ``fractions`` are dropped.

    Why this beats ``df.sampleBy`` at 100 TB: the kept set is a pure
    function of row CONTENT — stable across reruns, engines, cluster
    sizes, and partitionings (``sampleBy`` reshuffles membership with
    the split of the input) — and nested: the sample at fraction f is a
    strict superset of the sample at f' < f under the same salt, so
    growing a training mix never discards previously-selected data.
    Zero shuffle: one codegen projection + filter.
    """
    for k, f_ in fractions.items():
        if not 0.0 <= f_ <= 1.0:
            raise ValueError(f"fraction for {k!r} outside [0,1]: {f_}")
    bucket = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))), 1, 2
    )
    thr: F.Column = F.lit("00")
    for k, f_ in fractions.items():
        n = int(round(f_ * 256))
        # 256 would format as 3-char "100", which sorts BELOW "ff" —
        # keep-all needs a sentinel that sorts after every hex pair.
        hex_thr = "zz" if n >= 256 else f"{n:02x}"
        thr = F.when(F.col(strata_col) == k, F.lit(hex_thr)).otherwise(thr)
    return df.filter(bucket < thr)


def sample_n_per_group(
    df: DataFrame,
    strata_col: str,
    n: int,
    *,
    key_col: str,
    salt: str = "npg",
) -> DataFrame:
    """Exactly min(n, group size) rows per stratum, chosen by
    content-addressed rank: rows sort by ``md5(key || ':' || salt)``
    within their stratum and the first ``n`` win.

    Same determinism contract as ``stratified_sample`` (pure function
    of row content — stable across engines, reruns, cluster sizes) but
    for FIXED-SIZE quotas instead of fractions: eval-set carving,
    per-language caps, "give me 10k docs per source" curation. Changing
    ``n`` grows/shrinks the selection monotonically (rank order is
    fixed by content), so a bigger quota strictly extends a smaller
    one. Rows with a NULL ``key_col`` are dropped (they have no
    content address — same contract as the md5-threshold samplers).
    One shuffle on the stratum (the window); Spark's WindowGroupLimit
    pushes the rank filter below the sort at scale.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
        key_col,  # total order even under md5 collisions
    )
    # NULL keys have a NULL md5 AND a NULL tiebreak: they'd all tie at
    # rank 1 (NULLS FIRST), crowding out real rows nondeterministically.
    # Drop them — the same silent behavior the md5-comparison samplers
    # have (NULL predicates filter false).
    return (
        df.filter(F.col(key_col).isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def sample_weighted(
    df: DataFrame,
    weight_col: str,
    *,
    key_col: str,
    salt: str = "wsamp",
) -> DataFrame:
    """Per-row Bernoulli sampling with a PER-ROW keep probability:
    keep iff ``u(key) < weight``, where ``u`` is the row's md5-derived
    uniform in [0, 1) — content-addressed like ``stratified_sample``
    (stable across engines/reruns/partitionings, zero shuffle, no RNG
    state) but with the probability a COLUMN, not a constant: quality
    -weighted keeps, temperature-scaled source curves, per-domain
    down-weighting — anywhere the keep rate is a function of the row.

    Weights clamp to [0, 1] (a weight ≥ 1 always keeps, ≤ 0 never;
    NaN/NULL weights keep NOTHING — an undefined score must not decay
    into keep-always).
    ``u`` uses the first 8 md5 hex chars → 32-bit resolution (~2.3e-10
    granularity), so tiny weights still land proportionally. Nested
    like the other samplers: raising a row's weight can only ADD it to
    the kept set, never evict others.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 32))
    )
    wc = F.col(weight_col).cast("double")
    # NaN sorts ABOVE everything in Spark, so greatest(0, NaN)=NaN and
    # least(1, NaN)=1 — an undefined score (0/0 in a quality pipeline)
    # would silently become keep-always. NaN and NULL mean "no weight":
    # keep nothing.
    wc = F.when(F.isnan(wc) | wc.isNull(), F.lit(0.0)).otherwise(wc)
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), wc))
    return df.filter(u < w)


def assign_split(
    df: DataFrame,
    key_cols: list[str],
    fractions: dict[str, float],
    *,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic content-addressed multi-way split: every row gets a
    split label from ``fractions`` (e.g. ``{"train": .98, "val": .01,
    "test": .01}``) by hashing ``key_cols`` — no RNG state, so the
    assignment is identical across runs, engines, partitionings, and
    cluster sizes, and adding data never reshuffles existing rows'
    splits. Zero shuffle: one codegen projection.

    The 100 TB leakage contract lives in the CHOICE of ``key_cols``:
    key by document id and near-duplicate documents can straddle the
    train/eval boundary (the classic contamination path); key by the
    GROUPING that shares content — source, domain, license bucket — and
    every row of a group lands in the SAME split by construction (the
    hash input is the group key, so the label is a pure function of
    it). Group-disjointness and cross-cluster-shape determinism are
    pinned in tests.

    Fractions must be positive and sum to 1 (±1e-9). Boundaries use the
    md5-derived 32-bit uniform ``u(key) in [0,1)`` against cumulative
    fraction edges — the same primitive every sampler here uses, so
    splits compose with them (a stratified sample of train is itself
    stable).
    """
    if not key_cols:
        raise ValueError("assign_split requires at least one key column")
    if not fractions:
        raise ValueError("assign_split requires at least one split")
    bad = {n: f for n, f in fractions.items() if not (0.0 < f <= 1.0)}
    if bad:
        raise ValueError(f"split fractions must be in (0, 1]: {bad}")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols], F.lit(salt)
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        / F.lit(float(1 << 32))
    )
    # deterministic label order: dict insertion order defines the
    # cumulative ranges, so the same spec always carves the same bands
    expr = None
    edge = 0.0
    names = list(fractions)
    for name in names[:-1]:
        edge += fractions[name]
        cond = u < F.lit(edge)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def key_skew_profile(
    df: DataFrame, key_cols: list[str], *, top_k: int = 20
) -> DataFrame:
    """Heavy-hitter profile of a prospective join/group key — the
    measurement that DECIDES between a plain shuffle, ``salted_join``,
    and a broadcast, instead of guessing.

    One partially-aggregated ``groupBy(key).count()`` scan (the
    exchange carries |keys| rows per map task), then:

    - the ``top_k`` hottest keys via ``orderBy(cnt desc).limit(k)`` —
      TakeOrderedAndProject (per-task heaps + a k-row driver merge),
      never a global sort;
    - totals (row count, key count) as a one-row aggregate broadcast
      back over the k rows.

    Output, one row per hot key: ``rank, key…, cnt, share`` (of all
    rows), ``skew_x_avg`` (this key's count over the mean count per
    key — 1.0 means perfectly uniform), and ``salt_hint`` =
    ``ceil(skew_x_avg)``, the ``salt_buckets`` that flattens this key
    to roughly average reducer load. Deterministic: ties rank by key
    value. Doubles round to 6 so reports compare exactly across runs
    and engines.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(
        F.desc("cnt"), *[F.asc(c) for c in key_cols]
    ).limit(top_k)
    totals = counts.agg(
        F.sum("cnt").alias("_total"), F.count(F.lit(1)).alias("_nkeys")
    )
    w = Window.orderBy(F.desc("cnt"), *[F.asc(c) for c in key_cols])
    avg = F.col("_total") / F.col("_nkeys")
    return (
        top.crossJoin(F.broadcast(totals))
        .select(
            F.row_number().over(w).alias("rank"),
            *key_cols,
            "cnt",
            F.round(F.col("cnt") / F.col("_total"), 6).alias("share"),
            F.round(F.col("cnt") / avg, 6).alias("skew_x_avg"),
            F.ceil(F.col("cnt") / avg).cast("int").alias("salt_hint"),
        )
    )


def join_explosion_estimate(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: list[str],
    *,
    top_k: int = 5,
) -> DataFrame:
    """Predict an equi-join's output size BEFORE launching it — the
    companion measurement to ``key_skew_profile``: that one flags a
    skewed shuffle, this one flags a many-to-many blowup (the join that
    "works" and then writes 100× its inputs).

    EXACT arithmetic, cheap inputs: one partially-aggregated count per
    side (the exchanges carry |keys| rows), joined on the key —
    ``output_rows = Σ_k cnt_a(k) · cnt_b(k)`` is the true inner-join
    cardinality, not an estimate. Output is ONE row:

    - ``rows_a, rows_b, matched_keys``
    - ``output_rows`` — exact inner-join row count
    - ``explosion_x`` — output_rows / max(rows_a, rows_b), rounded 4;
      > 1 means the join AMPLIFIES its larger input (many-to-many)
    - ``top_key_rows`` — output rows contributed by the heaviest
      ``top_k`` keys (TakeOrderedAndProject, ties by key), the part a
      skew-split has to absorb

    Reading the row: explosion_x ≈ 1 with low top-key share → plain
    shuffle join; explosion_x ≈ 1 with one dominant key →
    ``salted_join``; explosion_x >> 1 → the join itself is mis-keyed
    (or needs pre-aggregation) and no physical strategy will save it.
    """
    ca = df_a.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_ca"))
    cb = df_b.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_cb"))
    per_key = ca.join(cb, key_cols).select(
        *key_cols, (F.col("_ca") * F.col("_cb")).alias("_prod")
    )
    tot_a = df_a.agg(F.count(F.lit(1)).alias("rows_a"))
    tot_b = df_b.agg(F.count(F.lit(1)).alias("rows_b"))
    top_sum = (
        per_key.orderBy(F.desc("_prod"), *[F.asc(c) for c in key_cols])
        .limit(top_k)
        .agg(F.sum("_prod").alias("top_key_rows"))
    )
    agg = per_key.agg(
        F.count(F.lit(1)).alias("matched_keys"),
        F.sum("_prod").alias("output_rows"),
    )
    return (
        agg.crossJoin(F.broadcast(tot_a))
        .crossJoin(F.broadcast(tot_b))
        .crossJoin(F.broadcast(top_sum))
        .select(
            "rows_a",
            "rows_b",
            "matched_keys",
            "output_rows",
            F.round(
                F.col("output_rows")
                / F.greatest(F.col("rows_a"), F.col("rows_b")),
                4,
            ).alias("explosion_x"),
            "top_key_rows",
        )
    )


def join_strategy_advice(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: list[str],
    *,
    broadcast_max_rows: int = 1_000_000,
    skew_x_threshold: float = 4.0,
    explosion_x_threshold: float = 4.0,
) -> DataFrame:
    """Turn the D19 pre-join measurements into a DECISION: one row
    naming the physical strategy the measured distributions call for,
    instead of leaving the operator choice to intuition.

    Inputs are the same exact, cheap aggregates ``key_skew_profile``
    and ``join_explosion_estimate`` compute — one partially-aggregated
    count scan per side (each exchange carries |keys| rows, never data
    rows), joined on the key for the exact inner-join cardinality.
    Nothing here is an estimate, so the recommendation is
    reproducible and oracle-checkable.

    Decision ladder (first match wins, applied to the ROUNDED metrics
    so two engines computing the row agree exactly at the thresholds):

    1. ``least(rows_a, rows_b) <= broadcast_max_rows`` →
       ``broadcast_a``/``broadcast_b`` (the smaller side ships; skew
       and explosion are irrelevant when one side fits in memory —
       a broadcast join never shuffles the big side at all).
    2. ``explosion_x > explosion_x_threshold`` → ``pre_aggregate``:
       the join AMPLIFIES its larger input many-to-many; no physical
       strategy absorbs that — the fix is re-keying or aggregating a
       side first, so that is what the advisor says.
    3. ``greatest(max_skew_a, max_skew_b) > skew_x_threshold`` →
       ``salted`` with ``salt_buckets = ceil(max skew)``, the bucket
       count that flattens the hottest key to ~average reducer load
       (feed it to ``salted_join``).
    4. otherwise ``shuffle`` — a plain sort-merge/hash shuffle join is
       already the right plan; don't "optimize" it.

    ``max_skew_*`` is each side's heaviest key count over its mean
    per-key count (1.0 = perfectly uniform) — the same statistic
    ``key_skew_profile`` reports per key, collapsed to the max.
    Output (one row): ``rows_a, rows_b, matched_keys, output_rows,
    explosion_x, max_skew_a, max_skew_b, strategy, salt_buckets``
    (0 unless salted). Doubles round (4/6) before comparison so
    reports compare exactly across runs and engines.
    """
    ca = df_a.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_ca"))
    cb = df_b.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_cb"))
    sa = ca.agg(
        F.sum("_ca").alias("rows_a"),
        F.count(F.lit(1)).alias("_nkeys_a"),
        F.max("_ca").alias("_max_a"),
    )
    sb = cb.agg(
        F.sum("_cb").alias("rows_b"),
        F.count(F.lit(1)).alias("_nkeys_b"),
        F.max("_cb").alias("_max_b"),
    )
    pk = ca.join(cb, key_cols).agg(
        F.count(F.lit(1)).alias("matched_keys"),
        F.sum(F.col("_ca") * F.col("_cb")).alias("output_rows"),
    )
    m = (
        pk.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .select(
            "rows_a",
            "rows_b",
            "matched_keys",
            "output_rows",
            F.round(
                F.col("output_rows")
                / F.greatest(F.col("rows_a"), F.col("rows_b")),
                4,
            ).alias("explosion_x"),
            F.round(
                F.col("_max_a") * F.col("_nkeys_a") / F.col("rows_a"), 6
            ).alias("max_skew_a"),
            F.round(
                F.col("_max_b") * F.col("_nkeys_b") / F.col("rows_b"), 6
            ).alias("max_skew_b"),
        )
    )
    is_broadcast = F.least(F.col("rows_a"), F.col("rows_b")) <= F.lit(
        broadcast_max_rows
    )
    is_explosion = F.col("explosion_x") > F.lit(float(explosion_x_threshold))
    is_skewed = F.greatest(F.col("max_skew_a"), F.col("max_skew_b")) > F.lit(
        float(skew_x_threshold)
    )
    strategy = (
        F.when(
            is_broadcast,
            F.when(
                F.col("rows_a") <= F.col("rows_b"), F.lit("broadcast_a")
            ).otherwise(F.lit("broadcast_b")),
        )
        .when(is_explosion, F.lit("pre_aggregate"))
        .when(is_skewed, F.lit("salted"))
        .otherwise(F.lit("shuffle"))
    )
    salt = (
        F.when(
            ~is_broadcast & ~is_explosion & is_skewed,
            F.ceil(F.greatest(F.col("max_skew_a"), F.col("max_skew_b"))),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    return m.select(
        "*", strategy.alias("strategy"), salt.alias("salt_buckets")
    )


def fan_out(df, key=None):
    """Spread an expression-heavy derivation across the cluster when the
    upstream scan under-partitions it.

    A small parquet file arrives as ONE input split, so a per-row-costly
    chain hung directly off the scan (k-gram explode + md5, codec UDFs)
    runs single-threaded no matter how many cores exist — at sf0.1 the
    substring-dedup gram build was 32x under-parallelized for exactly
    this reason. At 100 TB the same scan has thousands of natural splits
    and an unconditional repartition would add a pure-cost shuffle of
    raw text, so the exchange is GATED: only when the scan's partition
    count is below the session's default parallelism. The probe is
    driver-side plan metadata (no job runs); ``key`` keeps the exchange
    hash-partitioned on a column when downstream wants that
    co-location, otherwise round-robin spreads rows evenly.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    from pyspark.sql import functions as F

    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def pin_shared(df: DataFrame) -> DataFrame:
    """Materialize a shared intermediate ONCE (eager localCheckpoint).

    A relation consumed by k branches of one plan is otherwise rebuilt
    k times. Exchange reuse does not prevent that: it shares a
    shuffle's output, not the operators above it. The MinHash signature
    relation shows it: unpinned, the two band-join sides reuse the
    ``(doc, text)`` spread exchange (a ReusedExchange in the final AQE
    plan) but each runs the signature aggregate, hashing every shingle
    twice (sf0.1 documents, 4 cores, best of 3: 0.83 s unpinned, 0.68 s
    pinned). Pinning trades one eager materialization for k−1 rebuilt
    passes. Use ONLY where the plan shows ≥2 consumers of an expensive
    build; single-consumer relations stay lazy.

    A pin holds whatever rows the caller passes. The MinHash, planner
    and model pins are narrow (ids plus signatures, counts or weights),
    but the three curate pipelines (``operators/pipeline.py``) pin
    ``fingerprint_dedup(docs)``, full document text included: their
    checkpoint blocks are about the size of the deduplicated corpus.

    ``persist()`` would be wrong here: cache lookup is by
    analyzed-plan equality, so a later identical query in the same
    session would silently reuse the first run's result — cross-run
    result caching, which the bench contract forbids. localCheckpoint
    does not register with the cache manager; every run recomputes.
    (``materialize_column`` below is the SUB-plan sibling: it pins an
    expression to one evaluation per row *within* one subtree; this
    pins a whole relation *across* subtrees.)"""
    return df.localCheckpoint(eager=True)


def materialize_column(df, name, col):
    """Pin an expensive expression to ONE evaluation per row by routing
    it through a one-element explode (a Generate node).

    Catalyst's CollapseProject + ColumnPruning will re-inline a plain
    ``select`` alias into every downstream consumer — for the substring
    -dedup token array that meant the regex split re-ran inside every
    k-gram slice lambda and every pushed filter, a measured 5x wall
    cost at sf0.1 (15 split() evaluations in the optimized plan vs 3
    after the barrier). Projections do not collapse across Generate,
    so the expression is computed exactly once per row and downstream
    operators consume the materialized attribute. The 1-element
    explode itself is a no-op row-wise (1 row in, 1 row out) and stays
    inside whole-stage codegen.
    """
    from pyspark.sql import functions as F

    return df.select("*", F.explode(F.array(col)).alias(name))


def quota_allocate(
    df: DataFrame,
    strata_col: str,
    total: int,
    *,
    alpha: float = 1.0,
    weight_quant: int = 1_000_000,
) -> DataFrame:
    """Largest-remainder integer quota allocation (D46): split a TOTAL
    row budget across strata proportionally to ``n_g^alpha`` so the
    quotas are EXACT integers summing to ``total`` — the deterministic
    exact-count counterpart of D44's probabilistic temperature mixing
    (a Bernoulli keep hits the budget only in expectation; an eval-set
    carve or a fixed token budget needs the exact number).

    Returns the |strata|-row relation ``strata_col, n, quota``.

    Integer-exact across engines BY CONSTRUCTION (the D43/D44 recipe):
    the only float op is ``n^alpha``, quantized once to
    ``wq = floor(n^alpha * weight_quant)``; everything after is 64-bit
    integer arithmetic — ``base_g = (total*wq_g) div Σwq`` and
    ``rem_g = (total*wq_g) mod Σwq`` (Hamilton's method), with the
    ``total - Σbase`` leftover units going to the largest remainders
    (ties broken by strata value ASC). No float sum whose ordering a
    shuffle could change ever feeds a floor. Overflow bound: needs
    ``total · max(wq) < 2⁶³`` — at the default grid that is
    ``total · max(n)^alpha < 9.2e12``, plenty for eval carving and
    documented for anything bigger (drop ``weight_quant``).

    Capacity: a stratum never receives more than its ``n`` rows —
    ``quota = least(n, base + bonus)``. When ``total`` exceeds what
    the weights can place (some strata saturate), the shortfall is NOT
    silently redistributed: the allocation relation shows exactly
    which strata capped, and the caller re-runs with the saturated
    strata excluded if exact totals matter (stated, not silent —
    the D44 keep-everything-cap convention).

    Scale shape: ONE strata-keyed partial-agg exchange for the counts;
    the allocation windows run over the |strata|-row relation —
    bounded METADATA, the same contract as D44's fractions.
    ``alpha=0.5`` keeps the float step IEEE-exact on both engines
    (sqrt is correctly rounded; pow in general is libm-dependent).
    """
    if total < 1:
        raise ValueError(f"total must be >= 1: {total}")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0: {alpha}")
    if weight_quant < 1:
        raise ValueError(f"weight_quant must be >= 1: {weight_quant}")
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wq = F.floor(
        F.pow(F.col("n").cast("double"), F.lit(float(alpha)))
        * F.lit(weight_quant)
    ).cast("long")
    # windows below run over the |strata|-row metadata relation
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sized = counts.select(
        strata_col, "n", wq.alias("_wq")
    ).withColumn("_sum_wq", F.sum("_wq").over(wall))
    num = F.lit(int(total)) * F.col("_wq")
    based = sized.select(
        strata_col,
        "n",
        ((num - F.pmod(num, F.col("_sum_wq"))) / F.col("_sum_wq"))
        .cast("long")
        .alias("_base"),
        F.pmod(num, F.col("_sum_wq")).alias("_rem"),
    )
    wrem = Window.orderBy(F.col("_rem").desc(), F.col(strata_col).asc())
    alloc = (
        based.withColumn("_rk", F.row_number().over(wrem))
        .withColumn(
            "_leftover", F.lit(int(total)) - F.sum("_base").over(wall)
        )
        .select(
            strata_col,
            "n",
            F.least(
                F.col("n"),
                F.col("_base")
                + (F.col("_rk") <= F.col("_leftover")).cast("long"),
            ).alias("quota"),
        )
    )
    return alloc


def quota_sample(
    df: DataFrame,
    strata_col: str,
    total: int,
    *,
    key_col: str,
    alpha: float = 1.0,
    salt: str = "quota",
    weight_quant: int = 1_000_000,
) -> DataFrame:
    """Exactly ``total`` rows (capacity permitting — see
    ``quota_allocate``), allocated across strata by largest-remainder
    integer quotas and selected within each stratum by
    content-addressed md5 rank (the ``sample_n_per_group`` contract:
    deterministic across engines/reruns/partitionings, a larger total
    extends a smaller one under the same salt).

    Plan: one strata-keyed window exchange for the rank; the
    |strata|-row allocation broadcasts back — the data stream moves
    once. NULL strata and NULL keys are dropped (no content address).
    """
    alloc = quota_allocate(
        df, strata_col, total, alpha=alpha, weight_quant=weight_quant
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))),
        key_col,
    )
    return (
        df.filter(F.col(strata_col).isNotNull())
        .filter(F.col(key_col).isNotNull())
        .withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(alloc.drop("n")), strata_col)
        .filter(F.col("_rk") <= F.col("quota"))
        .drop("_rk", "quota")
    )


def weighted_sample_exact_k(
    df: DataFrame,
    weight_col: str,
    k: int,
    *,
    key_col: str,
    salt: str = "aes",
) -> DataFrame:
    """Exact-size weighted sampling WITHOUT replacement (D57 —
    Efraimidis & Spirakis 2006's A-ES): every row draws a
    content-addressed uniform u and competes on the key
    ``ln(u) / weight``; the k LARGEST keys win. That single-pass
    top-k is distributionally identical to sequential weighted draws
    without replacement — the missing face of the sampler family
    (``sample_weighted`` = Bernoulli with EXPECTED size;
    ``quota_sample`` = exact counts per STRATUM; this = exact k by
    ROW weight).

    u = (u32 + 1) / 2³² from md5(key:salt) — content-addressed (the
    C6 contract: reruns, engines, and partitionings agree; no RNG),
    never 0 so ln is finite. Rows with NULL or non-positive weight
    cannot win and are dropped, stated not silent. Ties are
    measure-zero but broken by ``key_col`` so the selected SET is
    engine-exact.

    Scale shape: one codegen projection (md5 + ln + divide) and a
    TakeOrderedAndProject top-k (per-partition heaps, one k-row
    merge) — never a global sort, nothing collected. Returns the
    winning rows with their ``_aes_key`` (floor-quantized micro-nats,
    for audit); selection compares UNROUNDED.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    u = (u32 + F.lit(1)).cast("double") / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("_aes", key)
        .orderBy(F.col("_aes").desc(), F.col(key_col).asc())
        .limit(k)
        .withColumn(
            "_aes_key",
            F.floor(F.col("_aes") * F.lit(1_000_000.0)).cast("long"),
        )
        .drop("_aes")
    )
