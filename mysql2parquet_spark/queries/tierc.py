"""Tier C — LLM-data-pipeline extensions (SURVEY.md §2.3). Not present in
the reference (/root/reference is a MySQL→Parquet exporter only); these
are the training-data operators: dedup (exact / fingerprint / MinHash /
SimHash / n-gram Jaccard), similarity search (brute-force + LSH + IVF),
text analysis, and multimodal plumbing.

Exact/deterministic ops carry DuckDB oracles. Approximate ops (MinHash,
SimHash, LSH ANN) are rows-only here and quality-checked (recall vs the
exact answer) in tests/test_tierc.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mysql2parquet_spark.io import load_table
from mysql2parquet_spark.operators import dedup, similarity, text
from mysql2parquet_spark.operators.multimodal import text_as_binary_assets
from mysql2parquet_spark.queries import register


def T(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# C1 — deduplication (exact)
# --------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source, n_chars
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    "C1: exact dedup on a key tuple, deterministic min-id keeper — one "
    "shuffle on the key, no collect.",
)
def dedup_exact(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return dedup.exact_dedup(d, ["lang", "source", "n_chars"], "doc_id")


@register(
    "dedup_fingerprint",
    """
    SELECT doc_id, lang, md5(text) AS fp FROM (
      SELECT doc_id, lang, text,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    "C1: content-hash (md5) dedup — constant-width key independent of "
    "document size; the standard first pass at corpus scale.",
)
def dedup_fingerprint(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    kept = dedup.fingerprint_dedup(d, "text", "doc_id")
    return kept.select("doc_id", "lang", F.md5("text").alias("fp"))


@register(
    "dedup_incremental",
    """
    WITH batch AS (
      SELECT doc_id, lang, source, md5(text) AS fp,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents WHERE doc_id >= 250
    ), hist AS (
      SELECT DISTINCT md5(text) AS fp FROM documents WHERE doc_id < 250
    )
    SELECT doc_id, lang, source, fp FROM batch
    WHERE rn = 1 AND fp NOT IN (SELECT fp FROM hist)
    """,
    "C1: incremental dedup (operators/dedup.incremental_dedup) — "
    "tonight's batch deduped in-batch AND against the accumulated "
    "fingerprint store of every prior night, without rescanning the "
    "historical corpus. The store side is 16-byte keys only; the "
    "anti-join hashes on the fingerprint. Here history = doc_id<250, "
    "batch = the rest.",
)
def dedup_incremental(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 250)
    batch = d.filter(F.col("doc_id") >= 250)
    seen = dedup.accepted_fingerprints(dedup.fingerprint(history, "text"))
    out = dedup.incremental_dedup(batch, seen)
    return out.select("doc_id", "lang", "source", "fp")


_GRAMS2 = """list_distinct(list_transform(
      range(1, greatest(len(string_split(trim(text), ' ')) - 1, 1) + 1),
      i -> array_to_string(string_split(trim(text), ' ')[i:i+1], ' ')))"""

_GRAMS3 = """list_distinct(list_transform(
      range(1, greatest(len(string_split(trim(text), ' ')) - 2, 1) + 1),
      i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')))"""


@register(
    "dedup_jaccard_incremental",
    f"""
    WITH b AS (
      SELECT doc_id, lang, source, {_GRAMS2} AS g
      FROM documents WHERE doc_id % 4 = 0
    ), a AS (
      SELECT doc_id, {_GRAMS2} AS g
      FROM documents WHERE doc_id % 4 = 2
    ), cross_losers AS (
      SELECT DISTINCT b.doc_id FROM b, a
      WHERE CAST(len(list_intersect(b.g, a.g)) AS DOUBLE)
            / CAST(len(b.g) + len(a.g)
                   - len(list_intersect(b.g, a.g)) AS DOUBLE) >= 0.5
    ), within_losers AS (
      SELECT DISTINCT y.doc_id FROM b x, b y
      WHERE x.doc_id < y.doc_id
        AND CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
            / CAST(len(x.g) + len(y.g)
                   - len(list_intersect(x.g, y.g)) AS DOUBLE) >= 0.5
    )
    SELECT doc_id, lang, source FROM b
    WHERE doc_id NOT IN (SELECT doc_id FROM cross_losers)
      AND doc_id NOT IN (SELECT doc_id FROM within_losers)
    """,
    "C2/C1: incremental NEAR-dup — tonight's batch (doc_id%4=0) drops "
    "exact-jaccard >=0.5 copies of accepted history (doc_id%4=2) plus "
    "its own in-batch near-dups, via the inverted gram index "
    "(operators/dedup.gram_jaccard_pairs_indexed): documents meet only "
    "through shared grams, intersections fall out of a count "
    "aggregate, and the history corpus is never rescanned as "
    "documents. The oracle recomputes the same integer ratios "
    "cross-engine (no rounding before the threshold). r8 debut "
    "(NEXT_ROUND_BACKLOG).",
)
def dedup_jaccard_incremental(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 4 == 0)
    accepted = d.filter(F.col("doc_id") % 4 == 2)
    out = dedup.incremental_jaccard_dedup(
        batch, accepted, shingle_n=2, threshold=0.5
    )
    return out.select("doc_id", "lang", "source")


@register(
    "dedup_minhash_incremental",
    None,  # approximate (LSH band-store probe) — rows-only; pytest-gated
    "C2: incremental MinHash near-dup — the batch probes a persisted "
    "LSH band store of accepted history (operators/dedup."
    "minhash_band_store + incremental_minhash_dedup): only colliding "
    "band buckets are touched, history is never re-mined. Approximate "
    "by construction (signature agreement vs true jaccard); recall "
    "and replay-idempotence pinned in tests/test_tierc.py. r8 debut "
    "(NEXT_ROUND_BACKLOG).",
)
def dedup_minhash_incremental(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 4 == 0)
    accepted = d.filter(F.col("doc_id") % 4 == 2)
    store = dedup.minhash_band_store(accepted, shingle_n=2)
    # max_band_width=16: same explicit hot-band cap as dedup_minhash on
    # this fixture — bigram signatures make boilerplate band buckets
    # quadratic without it (r7 tail sweep: 10-21 s -> ~2 s at sf0.1)
    out = dedup.incremental_minhash_dedup(
        batch, store, shingle_n=2, threshold=0.5, max_band_width=16
    )
    return out.select("doc_id", "lang", "source")


@register(
    "dedup_minhash",
    None,  # approximate (LSH banding) — rows-only; recall tested in pytest
    "C2: MinHash+LSH near-dup dedup — signature projection, band-key "
    "join (never O(n²)); survivors of threshold 0.5.",
)
def dedup_minhash(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # Explicit hot-band cap: boilerplate-heavy corpora make band buckets
    # quadratic without it (the cap is opt-in because it trades recall).
    kept = dedup.minhash_dedup(
        d, "doc_id", "text", threshold=0.5, max_band_width=16
    )
    return kept.select("doc_id", "lang", "source")


@register(
    "dedup_minhash_verified",
    None,  # LSH candidate recall is approximate — rows-only; exact
    # precision (never drop on an estimate) is pinned in pytest
    "C2: two-stage near-dup dedup — LSH proposes, EXACT n-gram Jaccard "
    "verifies before any doc is dropped (production shape: precision "
    "exact by construction, recall = the LSH stage's).",
)
def dedup_minhash_verified(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    kept = dedup.minhash_dedup_verified(d, "doc_id", "text", threshold=0.5)
    return kept.select("doc_id", "lang", "source")


@register(
    "dedup_minhash_cc",
    None,  # iterative (label propagation) — non-SQL-expressible; rows-only
    "C2: component-exact near-dup dedup — LSH pairs → iterative min-"
    "label connected components → one representative per duplicate "
    "CLUSTER (one-pass dedup over-keeps on non-monotone chains).",
)
def dedup_minhash_cc(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    kept = dedup.minhash_dedup_cc(d, "doc_id", "text", threshold=0.5)
    return kept.select("doc_id", "lang", "source")


@register(
    "dedup_minhash_ml",
    None,  # approximate — rows-only; recall tested in tests/test_tierc.py
    "C2: Spark ML MinHashLSH variant (HashingTF shingle vectors + "
    "approxSimilarityJoin with OR-amplified hash tables) — same API "
    "shape as the hand-rolled band join.",
)
def dedup_minhash_ml(spark, sf_dir):
    from mysql2parquet_spark.operators.ml_lsh import minhash_lsh_ml

    d = T(spark, sf_dir, "documents")
    return minhash_lsh_ml(d, "doc_id", "text", max_jaccard_distance=0.5)


@register(
    "dedup_simhash",
    None,  # approximate — rows-only
    "C2: SimHash near-dup candidates — 64-bit fingerprint, 16-bit chunk "
    "blocking, Hamming ≤ 3 verification.",
)
def dedup_simhash(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return dedup.simhash_candidates(d, "doc_id", "text", max_hamming=3)


@register(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(string_split(trim(text), ' ')) - 1, 1) + 1),
               i -> array_to_string(string_split(trim(text), ' ')[i:i+1], ' ')
             )) AS grams
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                   / CAST(len(a.grams) + len(b.grams)
                          - len(list_intersect(a.grams, b.grams)) AS DOUBLE), 4)
               AS jaccard
      FROM sh a, sh b
      WHERE a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.05
    """,
    "C2: EXACT n-gram (2-gram) Jaccard pairs on a blocked subset — the "
    "verification stage that follows LSH blocking at scale.",
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return dedup.ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_n=2, threshold=0.05,
        allow_quadratic=True,  # bounded: 10% id-blocked subset
    )


# --------------------------------------------------------------------------
# C3 — similarity search
# --------------------------------------------------------------------------

_COS_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             list_sum(list_transform(list_zip(e.embedding, q.qv),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / ( sqrt(list_sum(list_transform(e.embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) )
             AS score
      FROM embeddings e, q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(score, 4) + 0 AS cos_sim
    FROM scored
    ORDER BY score DESC, vec_id
    LIMIT 10
"""


@register(
    "topk_similarity",
    _COS_SQL,
    "C3: exact brute-force cosine top-10 for one query vector — broadcast "
    "query, JVM higher-order-function fold, TakeOrderedAndProject.",
)
def topk_similarity(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    res = similarity.brute_force_topk(e, q, k=10)
    return res.select("vec_id", (F.round("score", 4) + 0.0).alias("cos_sim"))


@register(
    "similarity_pairs",
    """
    SELECT id_a, id_b, cos_sim FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(
               list_sum(list_transform(list_zip(a.embedding, b.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / ( sqrt(list_sum(list_transform(a.embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) ), 4)
               AS cos_sim
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id AND a.vec_id < 100 AND b.vec_id < 100
    ) WHERE cos_sim >= 0.25
    """,
    "C3/C2: embedding near-dup pairs (cosine ≥ 0.25) on a blocked subset "
    "— exact verification stage; LSH-bucketed variant is ann_lsh_topk.",
)
def similarity_pairs(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    # bounded candidate set (100 vectors) — quadratic verify is the point
    return similarity.cosine_pairs(e, threshold=0.25, allow_quadratic=True)


@register(
    "similarity_pairs_blocked",
    """
    WITH b AS (
      SELECT vec_id, embedding,
             CAST(embedding[1] >= 0 AS INT) * 2
             + CAST(embedding[2] >= 0 AS INT) AS blk
      FROM embeddings WHERE vec_id < 400
    )
    SELECT id_a, id_b, cos_sim FROM (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             ROUND(
               list_sum(list_transform(list_zip(x.embedding, y.embedding),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / ( sqrt(list_sum(list_transform(x.embedding,
                         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                 * sqrt(list_sum(list_transform(y.embedding,
                         v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) ), 4)
               AS cos_sim
      FROM b x JOIN b y ON x.blk = y.blk AND x.vec_id < y.vec_id
    ) WHERE cos_sim >= 0.25
    """,
    "C3/C2: the AT-SCALE blocked pair path, oracle-verified — pairs form "
    "only within deterministic coordinate-sign blocks (sign of the first "
    "two components), an equi-join both engines compute identically; the "
    "LSH-bucket variant swaps in hyperplane buckets (block_dim=).",
)
def similarity_pairs_blocked(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    blocked = e.withColumn(
        "blk",
        (F.col("embedding")[0] >= 0).cast("int") * 2
        + (F.col("embedding")[1] >= 0).cast("int"),
    )
    return similarity.cosine_pairs(blocked, threshold=0.25, block_col="blk")


@register(
    "ann_lsh_topk",
    None,  # approximate by construction — recall vs exact tested in pytest
    "C3: LSH-bucketed approximate top-k (random hyperplane signs) — "
    "queries only touch their bucket, ~n/2^planes rows instead of n.",
)
def ann_lsh_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    res = similarity.lsh_topk(e, q, k=10, dim=64, num_planes=4)
    return res.select("vec_id", F.round("score", 4).alias("cos_sim"))


@register(
    "ann_ivf_topk",
    None,  # approximate (IVF probe subset) — rows-only
    "C3: IVF ANN — k-means-trained coarse quantizer (kmeans_lite, "
    "deterministic hash-spread init), corpus assigned to cells "
    "(write-time partition column at scale); query probes its cell.",
)
def ann_ivf_topk(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    # Train the coarse quantizer on a SAMPLE: Lloyd's never needs the
    # full corpus (each iteration is a full Arrow pass), and cell quality
    # is statistically equivalent — the same rule ivf_build applies.
    cents = similarity.kmeans_lite(e.sample(fraction=0.25, seed=42), k=8, iters=2)
    assigned = similarity.ivf_assign(e, cents)
    q = assigned.filter(F.col("vec_id") == 0)
    probe = q.select(F.col("centroid_id").alias("_probe"))
    cell = assigned.join(F.broadcast(probe), assigned.centroid_id == probe._probe)
    res = similarity.brute_force_topk(
        cell.select("vec_id", "embedding"), q.select("vec_id", "embedding"), k=10
    )
    return res.select("vec_id", F.round("score", 4).alias("cos_sim"))


@register(
    "ann_ivf_persisted",
    None,  # approximate (IVF probe subset) — rows-only
    "C3: IVF ANN served from a PERSISTED index — kmeans_lite trained on "
    "a 25% sample, corpus written partitionBy(centroid_id), probe scans "
    "only its nprobe cells via partition pruning (the at-scale contract: "
    "build once at write time, amortize across queries).",
)
def ann_ivf_persisted(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    e = T(spark, sf_dir, "embeddings")
    # Build-once-reuse: the index lives outside the query, keyed by the
    # source dir AND the source file's identity (mtime+size) — the
    # fixture parquet is regenerated with fresh content at the SAME path
    # periodically, and a path-only key would silently serve neighbors
    # from the previous corpus. Deterministic to rebuild (seeded sample,
    # deterministic k-means).
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"m2p_ivf_{key}")
    if not (
        os.path.exists(f"{idx}/data/_SUCCESS")
        and os.path.exists(f"{idx}/centroids/_SUCCESS")
    ):
        similarity.ivf_build(e, idx, k=8, iters=2, train_fraction=0.25)
    qvec = [  # bounded-metadata: the 1×dim query vector itself
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    res = similarity.ivf_probe(
        spark, idx, qvec, k=10, nprobe=2, exclude_id=0
    )
    return res.select("vec_id", F.round("score", 4).alias("cos_sim"))


@register(
    "pipeline_curate",
    """
    WITH deduped AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id, lang,
             len(string_split(trim(text), ' ')) AS n_toks,
             ROUND(LEAST(CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
                         / 100.0, 1.0)
                   * ROUND(CAST(len(list_distinct(string_split(trim(text), ' ')))
                                AS DOUBLE)
                           / CAST(len(string_split(trim(text), ' ')) AS DOUBLE),
                           4), 4) AS quality
      FROM deduped
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(AVG(quality), 4) AS avg_quality,
           ROUND(AVG(CAST(n_toks AS DOUBLE)), 2) AS avg_tokens,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens
    FROM scored
    WHERE quality >= 0.2 AND lang IN ('en', 'es', 'de', 'fr', 'zh')
    GROUP BY lang
    """,
    "Capstone pipeline: content dedup → quality gate → language filter "
    "→ per-language report, as ONE declarative plan (scan once, shuffle "
    "on the md5 key + the 5-group rollup; scoring fuses into codegen).",
)
def pipeline_curate(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import (
        curate_corpus,
        curation_report,
    )

    d = T(spark, sf_dir, "documents")
    # min_quality=0.2: the synthetic corpus scores 0.06-0.31, so 0.2 is a
    # real gate that still leaves rows at sf0.01 — a 0.5 gate returned 0
    # rows and made the driver's hash-match vacuous (VERDICT r2 #2).
    curated = curate_corpus(
        d, min_quality=0.2, languages=["en", "es", "de", "fr", "zh"]
    )
    return curation_report(curated)


@register(
    "pipeline_pack",
    """
    SELECT doc_id, shard, n_toks,
           CAST(FLOOR((SUM(n_toks) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_toks)
                      / 512.0) AS BIGINT) AS bin
    FROM (
      SELECT doc_id, doc_id % 8 AS shard,
             len(string_split(trim(text), ' ')) AS n_toks
      FROM documents
    )
    """,
    "Pipeline: greedy sequence packing — assign docs to fixed 512-token "
    "bins per shard (the pre-training 'concat into training sequences' "
    "step) as pure window arithmetic: one shuffle, reproducible at any "
    "cluster size, exact SQL oracle.",
)
def pipeline_pack(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import pack_sequences

    d = T(spark, sf_dir, "documents")
    return pack_sequences(d, budget=512, n_shards=8)


@register(
    "pipeline_decontaminate",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
               FROM documents),
    g AS (SELECT doc_id, array_to_string(tk[i:i+2], ' ') AS gram
          FROM t, unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS u(i)),
    e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
    SELECT g.doc_id, CAST(COUNT(DISTINCT g.gram) AS BIGINT) AS n_hit_grams
    FROM g JOIN e USING (gram)
    WHERE g.doc_id % 100 <> 0
    GROUP BY g.doc_id
    """,
    "Pipeline: benchmark decontamination — flag training docs sharing "
    "any word 3-gram with the eval slice (doc_id % 100 = 0), with the "
    "distinct shared-gram count. Eval grams are broadcast (map-side "
    "membership probe); the only shuffle is the per-doc count.",
)
def pipeline_decontaminate(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import contamination_report

    d = T(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 100 != 0)
    holdout = d.filter(F.col("doc_id") % 100 == 0)
    return contamination_report(train, holdout, n=3)


@register(
    "pipeline_chunk",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
               FROM documents),
    s AS (SELECT doc_id, tk, len(tk) AS n,
                 1 + CAST(FLOOR((GREATEST(len(tk) - 64, 0) + 47) / 48.0)
                          AS BIGINT) AS nc
          FROM t)
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(i * 48 + 1 AS BIGINT) AS chunk_start,
           CAST(LEAST(64, n - i * 48) AS BIGINT) AS chunk_len,
           tk[CAST(i * 48 + 1 AS INT)] AS first_tok
    FROM s, unnest(generate_series(0, nc - 1)) AS u(i)
    """,
    "Pipeline: overlapping 64-token / stride-48 context-window chunking "
    "— chunk boundaries are pure integer arithmetic on the token count, "
    "so the op is a narrow projection + explode with NO shuffle.",
)
def pipeline_chunk(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import chunk_documents

    d = T(spark, sf_dir, "documents")
    return chunk_documents(d, window=64, stride=48)


@register(
    "embedding_quantize",
    """
    SELECT vec_id, CAST(pos AS INT) AS pos, q8_val FROM (
      SELECT vec_id,
             unnest(generate_series(0, len(q8) - 1)) AS pos,
             unnest(q8) AS q8_val
      FROM (
        SELECT vec_id,
               list_transform(embedding, x ->
                 CASE WHEN s = 0 THEN CAST(0 AS BIGINT)
                      ELSE CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / s + 0.5)
                                AS BIGINT) END) AS q8
        FROM (
          SELECT vec_id, embedding,
                 list_max(list_transform(embedding,
                                         x -> abs(CAST(x AS DOUBLE)))) AS s
          FROM embeddings
        )
      )
    )
    """,
    "Symmetric int8 embedding quantization (floor(x*127/max|x| + 0.5) — "
    "closed-form half-up, bit-identical across engines; all-zero "
    "vectors -> zeros). Pure per-row projection, no shuffle. The declared "
    "output is posexploded to scalar (vec_id, pos, q8_val) rows — still "
    "EXACT, and hashable by the driver's canonicalizer (top-level array "
    "columns are not; see the head-shape lint in tests/test_registry.py).",
)
def embedding_quantize(spark, sf_dir):
    from mysql2parquet_spark.functions.vector import quantize_int8

    e = T(spark, sf_dir, "embeddings")
    q = e.select("vec_id", quantize_int8("embedding").alias("q8"))
    return q.select("vec_id", F.posexplode("q8").alias("pos", "q8_val"))


@register(
    "embedding_project",
    None,  # seeded-RNG matrix is not SQL-expressible — rows-only check;
    # geometry preservation + cross-partitioning determinism gated in
    # tests/test_tierc.py::test_random_projection_properties
    "C3: seeded Gaussian random projection 64→16 dims (JL-style "
    "dimensionality reduction before clustering/ANN) — deterministic "
    "from the seed alone (no fitted model to ship), Arrow matmul per "
    "batch, zero shuffle. Declared output is posexploded to scalar "
    "(vec_id, label, pos, val) rows — driver-head queries must not "
    "output top-level arrays (head-shape lint, tests/test_registry.py).",
)
def embedding_project(spark, sf_dir):
    from mysql2parquet_spark.operators.similarity import random_projection

    e = T(spark, sf_dir, "embeddings")
    p = random_projection(e, 16, keep_cols=("label",))
    return p.select(
        "vec_id", "label", F.posexplode("projected").alias("pos", "val")
    )


@register(
    "sample_stratified",
    """
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, n_chars,
             substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 2) AS b,
             CASE lang WHEN 'en' THEN '80' WHEN 'de' THEN '40'
                       WHEN 'fr' THEN '40' WHEN 'es' THEN '20'
                       WHEN 'zh' THEN '20' ELSE '00' END AS thr
      FROM documents
    )
    WHERE b < thr
    GROUP BY lang
    """,
    "C6/pipeline: deterministic stratified sampling — per-language keep "
    "fractions via md5-hex threshold comparison (content-addressed: "
    "stable across engines/cluster sizes, and nested — smaller "
    "fractions are subsets of larger ones). Zero shuffle before the "
    "report agg.",
)
def sample_stratified(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import stratified_sample

    d = T(spark, sf_dir, "documents")
    s = stratified_sample(
        d,
        "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.125, "zh": 0.125},
        key_col="doc_id",
    )
    return s.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "sample_split",
    """
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT n_chars,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 1)
                       IN ('0','1','2') THEN 'val' ELSE 'train' END AS split
      FROM documents
    ) GROUP BY split
    """,
    "C6/pipeline: deterministic content-addressed train/val split — "
    "md5(key)-prefix bucketing gives a stable ~3/16 holdout that never "
    "changes across runs, engines, or cluster sizes (rand() does). The "
    "standard way to carve reproducible splits at 100 TB.",
)
def sample_split(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 1
    )
    return (
        d.withColumn(
            "split",
            F.when(bucket.isin("0", "1", "2"), "val").otherwise("train"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "agg_salted",
    """
    SELECT o_orderstatus,
           CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(total AS DOUBLE), 2) AS total
    FROM (
      SELECT o_orderstatus, COUNT(*) AS cnt,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
      FROM orders GROUP BY o_orderstatus
    )
    """,
    "C6: skew-salted two-phase aggregation (operators/scale.py) — the "
    "answer when one hot key melts a reducer and AQE can't split a "
    "single key. Oracle = the plain GROUP BY: salting must be "
    "semantically invisible. The sum is decimal-exact internally; the "
    "DECLARED column is ROUND(CAST(... AS DOUBLE), 2) per the SURVEY "
    "§2.2 determinism rule — a top-level DECIMAL tripped the driver "
    "canonicalizer in r4 (values were bit-identical; shape was not).",
)
def agg_salted(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import salted_group_count

    o = T(spark, sf_dir, "orders").withColumn(
        "_price_dec", F.col("o_totalprice").cast("decimal(18,2)")
    )
    out = salted_group_count(
        o, ["o_orderstatus"], agg_exprs={"total": "_price_dec"}
    )
    return out.select(
        "o_orderstatus",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("total").cast("double"), 2).alias("total"),
    )


@register(
    "embedding_centroids",
    """
    SELECT label, CAST(i AS INT) AS pos,
           ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid_val
    FROM embeddings, range(64) t(i)
    GROUP BY label, i
    """,
    "C3: per-label centroids (element-wise vector average) via "
    "posexplode + hash agg — shuffle carries (label, pos) partials, "
    "never whole vector groups; the k-means/IVF-training primitive.",
)
def embedding_centroids(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.label_centroids_long(e).select(
        "label", "pos", F.round("centroid_val", 6).alias("centroid_val")
    )


# --------------------------------------------------------------------------
# C4 — text analysis
# --------------------------------------------------------------------------

@register(
    "text_stats",
    """
    SELECT lang,
           COUNT(*) AS doc_cnt,
           ROUND(AVG(n_chars), 2) AS avg_chars,
           ROUND(AVG(CAST(len(string_split(trim(text), ' ')) AS DOUBLE)), 2)
             AS avg_tokens
    FROM documents GROUP BY lang
    """,
    "C4: per-language corpus stats — tokenization is a projection; only "
    "the 5-group agg shuffles.",
)
def text_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("doc_cnt"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.round(F.avg(text.token_count("text").cast("double")), 2).alias(
            "avg_tokens"
        ),
    )


@register(
    "text_tokens",
    """
    SELECT doc_id,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_tokens,
           CAST(len(list_distinct(string_split(trim(text), ' '))) AS INT)
             AS n_distinct,
           n_chars
    FROM documents
    """,
    "C4: per-document token counting (whitespace tokenizer).",
)
def text_tokens(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    toks = text.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        "n_chars",
    )


@register(
    "text_quality",
    """
    WITH t AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS toks FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(toks) AS INT) AS n_tokens,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE), 4) AS distinct_ratio,
           ROUND(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                 / CAST(len(toks) AS DOUBLE), 4) AS mean_token_len,
           ROUND(LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
                 * ROUND(CAST(len(list_distinct(toks)) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE), 4), 4) AS quality
    FROM t
    """,
    "C4: heuristic quality scoring (length × token diversity), "
    "deterministic arithmetic with an exact SQL oracle.",
)
def text_quality(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return text.with_quality_score(d, "text").select(
        "doc_id", "lang", "n_tokens", "distinct_ratio", "mean_token_len", "quality"
    )


@register(
    "text_langid",
    """
    WITH t AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS toks FROM documents
    )
    SELECT doc_id, lang AS lang_true,
           ROUND(CAST(len(list_filter(toks,
                 x -> x IN ('the','a','of','and','to','in','is','it')))
                 AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4) AS score_en
    FROM t
    """,
    "C4: language-ID heuristic (stopword-hit ratio); the en-score column "
    "is oracle-checked, the full argmax prediction is unit-tested.",
)
def text_langid(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    scored = text.with_lang_scores(d, "text")
    return scored.select(
        "doc_id", F.col("lang").alias("lang_true"), "score_en"
    )


@register(
    "text_tokens_regex",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS INT) AS n_bpe_tokens,
           CAST(len(string_split(trim(text), ' ')) AS INT) AS n_ws_tokens
    FROM documents
    """,
    "C4: BPE-ish regex token counting (GPT-2-style pre-tokenization: "
    "letter runs / digit runs / punctuation) alongside the whitespace "
    "count — the cheap corpus-scale token estimator.",
)
def text_tokens_regex(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(text.regex_tokens("text")).alias("n_bpe_tokens"),
        F.size(text.tokens("text")).alias("n_ws_tokens"),
    )


@register(
    "text_fingerprint_winnow",
    None,  # rows-only: the winnowing min-selection has no clean SQL oracle;
           # determinism + edit-robustness are pytest-gated (test_text.py)
    "C4: winnowing document fingerprints (min rolling hash per window of "
    "k-gram hashes, Schleimer et al. simplified) — the near-dup "
    "signature robust to small edits; pure projection.",
)
def text_fingerprint_winnow(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # Stage-barriered fingerprint build: with_winnow_fingerprints pins
    # char codes / rolling hashes / window-min each to ONE evaluation
    # per row (the column form embeds the split subtree ~30x — 37 s vs
    # 1.4 s at sf0.1). "_fp" is a materialized attribute, so the two
    # output references below are free reads.
    d2 = text.with_winnow_fingerprints(d, "text", out="_fp")
    return d2.select(
        "doc_id",
        F.size("_fp").alias("n_fingerprints"),
        F.hash("_fp").alias("fp_set_hash"),
    )


@register(
    "text_termfreq",
    """
    SELECT token, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(trim(text), ' ')) AS token FROM documents)
    GROUP BY token HAVING COUNT(*) >= 10
    """,
    "C4: corpus term frequency (explode + partial-agg groupBy).",
)
def text_termfreq(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return text.term_frequencies(d, "text", min_count=10)


@register(
    "text_repetition",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
               FROM documents),
    g AS (SELECT doc_id, array_to_string(tk[i:i+1], ' ') AS gram
          FROM t, unnest(generate_series(1, greatest(len(tk) - 1, 1))) AS u(i))
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS INT) AS n_distinct_grams,
           ROUND(1 - COUNT(DISTINCT gram) / CAST(COUNT(*) AS DOUBLE), 4) + 0
             AS rep_ratio
    FROM g GROUP BY doc_id
    """,
    "C4: intra-document repetition score (1 - distinct/total 2-grams) — "
    "the MassiveText-style repetition filter, complementing INTER-doc "
    "dedup. Pure codegen projection (array_distinct on the bound shingle "
    "array), zero shuffle.",
)
def text_repetition(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return text.with_repetition_score(d, "text", n=2).select(
        "doc_id", "n_grams", "n_distinct_grams", "rep_ratio"
    )


@register(
    "text_top_terms",
    """
    SELECT lang, token, freq, rk FROM (
      SELECT lang, token, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY freq DESC, token) AS INT) AS rk
      FROM (
        SELECT lang, token, COUNT(*) AS freq
        FROM (SELECT lang, unnest(string_split(trim(text), ' ')) AS token
              FROM documents)
        GROUP BY 1, 2
      )
    ) WHERE rk <= 5
    """,
    "C4: per-language top-5 terms — explode + partial-agg groupBy, then "
    "grouped top-k via ranking window (WindowGroupLimit pushes the "
    "k-cut below the shuffle). Deterministic tie-break (freq desc, "
    "token asc).",
)
def text_top_terms(spark, sf_dir):
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents")
    freqs = (
        d.select("lang", F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("token"))
    return (
        freqs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("lang", "token", "freq", "rk")
    )


@register(
    "text_bm25",
    """
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
               FROM documents),
    sized AS (SELECT doc_id, len(tk) AS dl, tk FROM t),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(CAST(dl AS DOUBLE)) AS avgdl
              FROM sized),
    tf AS (SELECT doc_id, dl, token, COUNT(*) AS tf
           FROM (SELECT doc_id, dl, unnest(tk) AS token FROM sized)
           WHERE token IN ('spark', 'join', 'window')
           GROUP BY 1, 2, 3),
    dfc AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1)
    SELECT doc_id,
           ROUND(CAST(SUM(CAST(ROUND(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)),
           8) AS DECIMAL(18,8))) AS DOUBLE), 4) + 0 AS bm25
    FROM tf JOIN dfc USING (token) CROSS JOIN stats
    GROUP BY doc_id
    """,
    "C4: BM25 relevance vs a literal query-term bag — tokens filtered "
    "to the terms BEFORE any shuffle (grouped state is docs×terms, not "
    "corpus-sized); N/avgdl/df joined back by broadcast; per-term "
    "contributions rounded to 8 dp and summed as DECIMAL so the score "
    "is partitioning-independent.",
)
def text_bm25(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return text.bm25_scores(d, ["spark", "join", "window"])


@register(
    "text_normalize",
    """
    SELECT c_custkey,
           trim(regexp_replace(
                 regexp_replace(lower(c_name), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g')) AS norm_name
    FROM customer
    """,
    "C4: canonical text normalization (lowercase, strip punctuation, "
    "collapse whitespace) — the preprocessing step before dedup keys / "
    "matching. Identical regex semantics both engines; exercised on "
    "c_name, which really carries case + punctuation.",
)
def text_normalize(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", text.normalize_text("c_name").alias("norm_name")
    )


# --------------------------------------------------------------------------
# C5 — multimodal plumbing (binary columns)
# --------------------------------------------------------------------------

@register(
    "multimodal_binary",
    """
    SELECT doc_id AS asset_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(n_chars AS INT) AS meta_chars
    FROM documents
    """,
    "C5: multimodal asset table — opaque binary payload + typed metadata; "
    "byte length proves the binary column round-trips. Feature extraction "
    "over the payload (mapInPandas) is tested in tests/test_multimodal.py.",
)
def multimodal_binary(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    assets = text_as_binary_assets(d)
    return assets.select(
        "asset_id",
        "media_type",
        F.length("content").alias("n_bytes"),
        F.col("meta.n_chars").cast("int").alias("meta_chars"),
    )


# --------------------------------------------------------------------------
# Incremental export (MERGE/CDC), corpus shuffle, PII redaction — the
# r3 operators wired with oracles (VERDICT r3 ask #2).
# --------------------------------------------------------------------------

@register(
    "merge_upsert",
    """
    WITH base AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
    ),
    upd AS (
      SELECT c_custkey, 'upd:' || c_name AS c_name, c_nationkey,
             c_acctbal + 1000 AS c_acctbal
      FROM base WHERE c_custkey % 10 = 3
    ),
    ins AS (
      SELECT c_custkey + 1000000 AS c_custkey, 'new:' || c_name AS c_name,
             c_nationkey, c_acctbal
      FROM base WHERE c_custkey % 100 = 7
    ),
    src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    kept AS (
      SELECT * FROM base
      WHERE c_custkey NOT IN (SELECT c_custkey FROM src)
    ),
    merged AS (SELECT * FROM src UNION ALL SELECT * FROM kept)
    SELECT * FROM merged
    WHERE c_custkey NOT IN (SELECT c_custkey FROM base WHERE c_custkey % 10 = 5)
    """,
    "MERGE/upsert — the reference's nightly full re-export "
    "(/root/reference/main.go:87-165) done incrementally: updates replace "
    "key-matched rows, inserts append, tombstones delete. Broadcast-anti "
    "join + union: the target (snapshot) side is never shuffled.",
)
def merge_upsert_query(spark, sf_dir):
    from mysql2parquet_spark.operators.merge import merge_upsert

    base = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    upd = base.filter(F.col("c_custkey") % 10 == 3).select(
        "c_custkey",
        F.concat(F.lit("upd:"), "c_name").alias("c_name"),
        "c_nationkey",
        (F.col("c_acctbal") + 1000).alias("c_acctbal"),
    )
    ins = base.filter(F.col("c_custkey") % 100 == 7).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new:"), "c_name").alias("c_name"),
        "c_nationkey",
        "c_acctbal",
    )
    dels = base.filter(F.col("c_custkey") % 10 == 5).select("c_custkey")
    return merge_upsert(
        base,
        upd.unionByName(ins),
        ["c_custkey"],
        deletes=dels,
        broadcast_source=True,
    )


@register(
    "pipeline_shuffle",
    """
    WITH k AS (
      SELECT doc_id, lang,
             md5('42:' || CAST(doc_id AS VARCHAR)) AS hx
      FROM documents
    ),
    b AS (
      SELECT doc_id, lang, hx,
             CAST(((instr('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
                   + (instr('0123456789abcdef', substring(hx, 2, 1)) - 1))
                  % 16 AS INT) AS shard
      FROM k
    )
    SELECT doc_id, lang, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos
    FROM b
    """,
    "Deterministic corpus shuffle + shard assignment (pre-training final "
    "step): md5(seed:id) shuffle key, 16 shards from the leading hex "
    "chars, within-shard rank with an id tiebreaker. Payload columns "
    "carried through; the only exchange is the hash on shard. Exact "
    "cross-engine oracle because the key is md5, not xxhash.",
)
def pipeline_shuffle(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import shuffle_shards

    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return shuffle_shards(d, seed=42, n_shards=16)


@register(
    "pipeline_mix",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             COALESCE(SUM(n_chars) OVER (
               PARTITION BY source
               ORDER BY md5(concat('42:', CAST(doc_id AS VARCHAR))), doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
      FROM documents WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked
    WHERE cum_before < CASE source WHEN 'src0' THEN 4000.0 ELSE 2000.0 END
    """,
    "C6/pipeline: token-budget-weighted corpus mixing "
    "(operators/pipeline.mix_corpus) — compose a training mixture with "
    "2:1:1 source proportions against a total char budget via a "
    "content-addressed greedy prefix (md5 order, deterministic at any "
    "cluster size). One window shuffle; the weights join is a "
    "broadcast. Oracle = the same window arithmetic with the shares "
    "inlined (2/4*8000, 1/4*8000).",
)
def pipeline_mix(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import mix_corpus

    d = T(spark, sf_dir, "documents")
    out = mix_corpus(
        d,
        {"src0": 2.0, "src1": 1.0, "src2": 1.0},
        budget=8000,
        seed=42,
    )
    return out.select("doc_id", "source", F.col("n_chars").cast("long"))


@register(
    "text_pii",
    """
    WITH planted AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact bob.smith+x@example.com or admin@test.org'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' from 192.168.1.100 call 555-123-4567'
                     ELSE '' END
             || CASE WHEN doc_id % 13 = 0
                     THEN ' card 4111-1111-1111-1111 on file'
                     ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(text,
             '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b')) AS INT) AS n_card,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'),
             '\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b', '<CARD>', 'g') AS redacted
    FROM planted
    """,
    "PII redaction before training — emails, IPv4s, phones, card-shaped "
    "digit runs scrubbed and counted (counts on the ORIGINAL text). PII "
    "is planted deterministically by doc_id residue so the counts are "
    "non-vacuous at any SF. Pure codegen projection, zero shuffle; the "
    "patterns are restricted to Java-regex ∩ RE2 syntax so the DuckDB "
    "oracle is exact.",
)
def text_pii(spark, sf_dir):
    from mysql2parquet_spark.operators.text import with_pii_redaction

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" contact bob.smith+x@example.com or admin@test.org"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" from 192.168.1.100 call 555-123-4567"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.lit(" card 4111-1111-1111-1111 on file"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = with_pii_redaction(planted)
    return out.select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "n_card", "redacted"
    )


@register(
    "dedup_embedding",
    """
    WITH b AS (
      SELECT vec_id, label, embedding,
             CAST(embedding[1] >= 0 AS INT) * 2
             + CAST(embedding[2] >= 0 AS INT) AS blk
      FROM embeddings WHERE vec_id < 400
    ),
    losers AS (
      SELECT DISTINCT id_b FROM (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b,
               ROUND(
                 list_sum(list_transform(list_zip(x.embedding, y.embedding),
                          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / ( sqrt(list_sum(list_transform(x.embedding,
                           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                   * sqrt(list_sum(list_transform(y.embedding,
                           v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) ), 4)
                 AS cos_sim
        FROM b x JOIN b y ON x.blk = y.blk AND x.vec_id < y.vec_id
      ) WHERE cos_sim >= 0.5
    )
    SELECT vec_id, label FROM b
    WHERE vec_id NOT IN (SELECT id_b FROM losers)
    """,
    "C2: embedding-cosine near-dup removal (semantic dedup — catches "
    "paraphrases MinHash's shingles miss). Pairs form inside "
    "deterministic coordinate-sign blocks (the at-scale blocked join, "
    "cross-engine-exact); each pair's min id wins, one-pass removal "
    "like the other dedup faces.",
)
def dedup_embedding(spark, sf_dir):
    from mysql2parquet_spark.operators.dedup import embedding_dedup

    e = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 400)
    blocked = e.withColumn(
        "blk",
        (F.col("embedding")[0] >= 0).cast("int") * 2
        + (F.col("embedding")[1] >= 0).cast("int"),
    )
    kept = embedding_dedup(blocked, threshold=0.5, block_col="blk")
    return kept.select("vec_id", "label")


@register(
    "multimodal_frames",
    None,  # byte-level segment histograms are not practically
    # SQL-expressible — rows-only; per-frame values + fan-out shape are
    # pinned in tests/test_multimodal.py (WAV windows + determinism)
    "C5: frame-sampling stage — 1 asset → n_frames rows via mapInPandas "
    "(the video/audio batch fan-out shape; WAV payloads use REAL decoded "
    "PCM windows, others the deterministic byte-segment histograms). "
    "Declared output digests each frame's feature vector to a scalar so "
    "the row set is hashable.",
)
def multimodal_frames(spark, sf_dir):
    from mysql2parquet_spark.operators.multimodal import sample_frames

    d = T(spark, sf_dir, "documents")
    assets = text_as_binary_assets(d)
    frames = sample_frames(assets, n_frames=4)
    return frames.select(
        "asset_id",
        "frame_idx",
        F.round(
            F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4
        ).alias("f_sum"),
    )


# --------------------------------------------------------------------------
# SCD Type 2 history over a CDC event log (operators/merge.py — the
# warehouse-dimension counterpart of the reference's nightly full export,
# /root/reference/main.go:87-165: keep every version, not just the last).
# --------------------------------------------------------------------------

@register(
    "cdc_scd2",
    """
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             event_type AS status, value
      FROM events
    ),
    v AS (
      SELECT user_id, ts, event_id, op, status, value,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS effective_to
      FROM log
    )
    SELECT user_id, status, value,
           ts AS effective_from, effective_to,
           CAST(effective_to IS NULL AS INT) AS is_current
    FROM v WHERE op <> 'D'
    """,
    "SCD Type 2 fold: every non-delete CDC event opens a key version, "
    "closed by the NEXT event of that key (deletes close but emit "
    "nothing). One window shuffle on the key, then projection — "
    "full-history rebuild is a single pass at any scale.",
)
def cdc_scd2(spark, sf_dir):
    from mysql2parquet_spark.operators.merge import scd2_history

    log = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("event_type").alias("status"),
        "value",
    )
    hist = scd2_history(
        log,
        ["user_id"],
        seq_col="ts",
        op_col="op",
        tiebreak_cols=["event_id"],
    )
    return hist.select(
        "user_id",
        "status",
        "value",
        "effective_from",
        "effective_to",
        "is_current",
    )


@register(
    "cdc_scd2_asof",
    """
    WITH log AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             event_type AS status, value
      FROM events
    ),
    v AS (
      SELECT user_id, ts, event_id, op, status, value,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS effective_to
      FROM log
    )
    SELECT user_id, status, ROUND(value, 2) AS val
    FROM v
    WHERE op <> 'D'
      AND ts <= TIMESTAMP '2024-01-15 00:00:00'
      AND (effective_to IS NULL
           OR effective_to > TIMESTAMP '2024-01-15 00:00:00')
    """,
    "Point-in-time (time-travel) lookup over the SCD2 history: the one "
    "version of each key live at the as-of instant. Half-open intervals "
    "guarantee at most one match per key; the filter is a pure "
    "projection-side predicate (zero extra shuffle beyond the fold).",
)
def cdc_scd2_asof(spark, sf_dir):
    import datetime

    from mysql2parquet_spark.operators.merge import scd2_asof, scd2_history

    log = T(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("event_type").alias("status"),
        "value",
    )
    hist = scd2_history(
        log, ["user_id"], seq_col="ts", op_col="op", tiebreak_cols=["event_id"]
    )
    live = scd2_asof(hist, datetime.datetime(2024, 1, 15), seq_col="ts")
    return live.select(
        "user_id", "status", F.round("value", 2).alias("val")
    )


# --------------------------------------------------------------------------
# Mergeable sketches (operators/sketches.py) — approximate by design,
# rows-only here; accuracy vs exact answers is gated in
# tests/test_sketches.py (HLL ±3σ, count-min never-undercount + ε·N).
# --------------------------------------------------------------------------

@register(
    "sketch_hll_rollup",
    None,  # HLL estimates are approximate — rows-only by design
    "Mergeable distinct-count rollup: per-event-type HLL sketches of "
    "user_id fold to the global distinct estimate WITHOUT re-scanning "
    "raw events — the shuffle carries few-KB sketch state, not keys. "
    "The union estimate is pinned equal to a single-pass estimate in "
    "tests/test_sketches.py.",
)
def sketch_hll_rollup(spark, sf_dir):
    from mysql2parquet_spark.operators.sketches import (
        distinct_sketches,
        merge_sketch_estimates,
    )

    e = T(spark, sf_dir, "events")
    shards = distinct_sketches(e, "user_id", ["event_type"])
    rolled = merge_sketch_estimates(shards, [])
    return rolled.select(
        F.col("approx_distinct").cast("long").alias("approx_users"),
        F.col("n_rows").cast("long").alias("n_rows"),
    )


@register(
    "sketch_cms_freq",
    None,  # count-min estimates are approximate — rows-only by design
    "Count-min frequency sketch: event_type occurrence estimates from a "
    "geometry-capped cell matrix (depth 5 × width 2048 ≈ 80 KB at ANY "
    "corpus size). Never undercounts; overcount ≤ ε·N gated in "
    "tests/test_sketches.py. The probe side streams; the sketch "
    "broadcasts.",
)
def sketch_cms_freq(spark, sf_dir):
    from mysql2parquet_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    e = T(spark, sf_dir, "events")
    sk = cms_sketch(e, "event_type", [])
    keys = e.select("event_type").dropDuplicates(["event_type"])
    return cms_estimate(sk, keys, "event_type").select(
        "event_type", F.col("approx_count").cast("long").alias("approx_count")
    )


# --------------------------------------------------------------------------
# Data-quality constraint validation (operators/constraints.py) — the
# AUDIT step of write-audit-publish; the reference publishes unchecked
# (/root/reference/main.go:106-203).
# --------------------------------------------------------------------------

@register(
    "quality_report",
    """
    SELECT 'not_null(o_custkey)' AS rule,
           (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS violations
    UNION ALL
    SELECT 'unique(o_orderkey)',
           -- CAST: DuckDB's SUM(BIGINT) yields HUGEINT, which promotes the
           -- whole UNION ALL column and Arrow-exports as decimal128(38,0) —
           -- the driver's type-tagged hash then sees Decimal vs Spark's
           -- int64 (the one red row in CORRECTNESS_r06). Same pattern as
           -- join_explosion's oracle; tests/test_oracle_types.py now lints
           -- every oracle for this class.
           (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM (
              SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey
              HAVING COUNT(*) > 1))
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)',
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F', 'O')
              AND o_orderstatus IS NOT NULL)
    UNION ALL
    SELECT 'positive_total',
           (SELECT COUNT(*) FROM orders
            WHERE NOT COALESCE(o_totalprice > 0, FALSE))
    UNION ALL
    SELECT 'referential(o_custkey)',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    """,
    "Constraint-validation report over orders: not-null, key "
    "uniqueness, accepted values (catches the third TPC-H status 'P'), "
    "an SQL expression rule, and FK integrity vs customer — one lazy "
    "union of one-row aggregates; publish gates on all-zeros. "
    "Cross-engine: the whole report hash-matches DuckDB.",
)
def quality_report(spark, sf_dir):
    from mysql2parquet_spark.operators.constraints import validate

    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return validate(
        o,
        [
            {"type": "not_null", "cols": ["o_custkey"]},
            {"type": "unique", "cols": ["o_orderkey"]},
            {"type": "accepted_values", "col": "o_orderstatus", "values": ["F", "O"]},
            {"type": "expression", "name": "positive_total", "expr": "o_totalprice > 0"},
            {"type": "referential", "parent": "customer", "on": [("o_custkey", "c_custkey")]},
        ],
        tables={"customer": c},
    )


@register(
    "sketch_histogram_q",
    """
    WITH h AS (
      SELECT LEAST(255, GREATEST(0,
               CAST(FLOOR((value - 0.0) / 3.90625) AS INT))) AS bin,
             COUNT(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin) AS cum,
             SUM(cnt) OVER () AS tot
      FROM h
    ),
    qs AS (SELECT CAST(UNNEST(ARRAY[0.1, 0.5, 0.9, 0.99]) AS DOUBLE) AS q),
    hit AS (
      SELECT qs.q, c.bin, c.cnt, c.cum, c.tot
      FROM qs JOIN c ON c.cum >= qs.q * c.tot
    ),
    f AS (SELECT q, MIN(bin) AS bin FROM hit GROUP BY q),
    j AS (
      SELECT f.q, f.bin, c.cnt, c.cum, c.tot
      FROM f JOIN c ON c.bin = f.bin
    )
    SELECT q,
           ROUND(0.0 + (bin + LEAST(1.0,
                 (q * tot - (cum - cnt)) / cnt)) * 3.90625, 6) AS est
    FROM j
    """,
    "Mergeable equi-width histogram sketch (256 bins over [0,1000)) → "
    "quantile estimates by in-bin linear interpolation. Deterministic "
    "arithmetic, so unlike percentile_approx it carries a FULL "
    "cross-engine oracle; error ≤ one bin width is separately gated "
    "against exact percentiles in tests/test_sketches.py. The persisted "
    "sketch answers any later quantile by plain-SUM rollup.",
)
def sketch_histogram_q(spark, sf_dir):
    from mysql2parquet_spark.operators.sketches import (
        histogram_quantile,
        histogram_sketch,
    )

    e = T(spark, sf_dir, "events")
    sk = histogram_sketch(e, "value", [], lo=0.0, hi=1000.0, bins=256)
    return histogram_quantile(
        sk, [0.1, 0.5, 0.9, 0.99], [], lo=0.0, hi=1000.0, bins=256
    )


@register(
    "rollup_incremental",
    """
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 3 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 10 = 3 THEN price + 1 ELSE price END
               AS price
      FROM base WHERE o_orderkey % 10 <> 5
      UNION ALL
      SELECT o_orderkey + 10000000, 'N', price
      FROM base WHERE o_orderkey % 100 = 7
    )
    SELECT o_orderstatus,
           COUNT(*) AS cnt,
           ROUND(CAST(SUM(price) AS DOUBLE), 2) AS total
    FROM v1 GROUP BY o_orderstatus
    """,
    "Incremental aggregate maintenance, externally adjudicated: the "
    "rollup of a modified orders table computed as old-rollup + diff "
    "deltas (adds for I, subtracts for D, both for U — including rows "
    "MOVING between groups and a group born from the update) must "
    "equal the DuckDB recompute over the modified table. Decimal "
    "arithmetic keeps add/subtract bitwise-equal to recompute.",
)
def rollup_incremental(spark, sf_dir):
    from mysql2parquet_spark.operators.rollup import (
        aggregate_snapshot,
        incremental_agg_update,
    )

    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    agg_old = aggregate_snapshot(base, ["o_orderstatus"], {"total": "price"})

    upd = base.filter(F.col("o_orderkey") % 10 == 3)
    dels = base.filter(F.col("o_orderkey") % 10 == 5)
    ins = base.filter(F.col("o_orderkey") % 100 == 7)
    diff = (
        upd.select(
            F.lit("U").alias("change"),
            F.lit("X").alias("o_orderstatus"),
            (F.col("price") + 1).alias("price"),
            F.col("o_orderstatus").alias("old_o_orderstatus"),
            F.col("price").alias("old_price"),
        )
        .unionByName(
            dels.select(
                F.lit("D").alias("change"),
                "o_orderstatus",
                "price",
                F.col("o_orderstatus").alias("old_o_orderstatus"),
                F.col("price").alias("old_price"),
            )
        )
        .unionByName(
            ins.select(
                F.lit("I").alias("change"),
                F.lit("N").alias("o_orderstatus"),
                "price",
                F.lit(None).cast("string").alias("old_o_orderstatus"),
                F.lit(None).cast("decimal(18,2)").alias("old_price"),
            )
        )
    )
    updated = incremental_agg_update(
        agg_old, diff, ["o_orderstatus"], {"total": "price"}
    )
    return updated.select(
        "o_orderstatus",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("total").cast("double"), 2).alias("total"),
    )


@register(
    "sample_topn_group",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':npg'), doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 40
    """,
    "C6: fixed-quota per-stratum sampling — exactly 40 docs per "
    "language by content-addressed md5 rank (doc_id tiebreak), the "
    "eval-carving / per-source-cap primitive. Deterministic across "
    "engines and cluster sizes; a larger quota strictly extends a "
    "smaller one. One window shuffle; WindowGroupLimit prunes below "
    "the sort.",
)
def sample_topn_group(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import sample_n_per_group

    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return sample_n_per_group(d, "lang", 40, key_col="doc_id")


@register(
    "fuzzy_name_pairs",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS c_name_a, b.c_name AS c_name_b,
           levenshtein(a.c_name, b.c_name) AS distance
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 2
    """,
    "Entity resolution: customer-name pairs within 2 edits, blocked by "
    "nation — the record-linkage primitive for short strings where "
    "shingle-MinHash is the wrong tool. Blocked equi-self-join (the "
    "cosine_pairs/LSH never-O(n²) contract); Spark's thresholded "
    "levenshtein short-circuits verification inside blocks.",
)
def fuzzy_name_pairs(spark, sf_dir):
    from mysql2parquet_spark.operators.text import fuzzy_pairs

    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    return fuzzy_pairs(
        c, "c_custkey", "c_name", max_distance=2, block_cols=["c_nationkey"]
    )


@register(
    "sample_weighted_rows",
    """
    SELECT o_orderkey, (o_orderkey % 256) / 256.0 AS w
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR) || ':wsamp'), 1, 8)
          < printf('%08x', CAST(o_orderkey % 256 AS BIGINT) * 16777216)
    """,
    "C6: per-row weighted Bernoulli keep (content-addressed md5 "
    "uniform vs a per-row probability column) — quality-weighted / "
    "temperature-curve retention. The declared weights are dyadic "
    "(k/256, exact multiples of 2^-32), so the operator's numeric "
    "u < w compare and the oracle's zero-padded-hex string compare "
    "are EXACTLY equivalent — no tie ambiguity at any row.",
)
def sample_weighted_rows(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import sample_weighted

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", ((F.col("o_orderkey") % 256) / 256.0).alias("w")
    )
    return sample_weighted(o, "w", key_col="o_orderkey")


# --------------------------------------------------------------------------
# D26: join-strategy advisor + Bloom-pruned join (operators/scale.py,
# operators/bloomjoin.py) — the reference delegates every join to MySQL
# (/root/reference/main.go:106); here the engine both MEASURES the join
# it is about to run and PRUNES the one it runs. r8 debuts per
# ROTATION.md.
# --------------------------------------------------------------------------

@register(
    "join_strategy",
    """
    WITH ca AS (SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM lineitem GROUP BY 1),
         cb AS (SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM orders GROUP BY 1),
         sa AS (SELECT CAST(SUM(cnt) AS BIGINT) AS rows_a,
                       CAST(COUNT(*) AS BIGINT) AS nkeys_a,
                       CAST(MAX(cnt) AS BIGINT) AS max_a FROM ca),
         sb AS (SELECT CAST(SUM(cnt) AS BIGINT) AS rows_b,
                       CAST(COUNT(*) AS BIGINT) AS nkeys_b,
                       CAST(MAX(cnt) AS BIGINT) AS max_b FROM cb),
         pk AS (SELECT CAST(COUNT(*) AS BIGINT) AS matched_keys,
                       CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS output_rows
                FROM ca JOIN cb USING (k)),
         m AS (SELECT rows_a, rows_b, matched_keys, output_rows,
                      ROUND(CAST(output_rows AS DOUBLE)
                            / CAST(GREATEST(rows_a, rows_b) AS DOUBLE), 4)
                          AS explosion_x,
                      ROUND(CAST(max_a * nkeys_a AS DOUBLE) / rows_a, 6)
                          AS max_skew_a,
                      ROUND(CAST(max_b * nkeys_b AS DOUBLE) / rows_b, 6)
                          AS max_skew_b
               FROM pk, sa, sb)
    SELECT rows_a, rows_b, matched_keys, output_rows, explosion_x,
           max_skew_a, max_skew_b,
           CASE WHEN LEAST(rows_a, rows_b) <= 10000
                THEN (CASE WHEN rows_a <= rows_b
                           THEN 'broadcast_a' ELSE 'broadcast_b' END)
                WHEN explosion_x > 4.0 THEN 'pre_aggregate'
                WHEN GREATEST(max_skew_a, max_skew_b) > 4.0 THEN 'salted'
                ELSE 'shuffle' END AS strategy,
           CAST(CASE WHEN LEAST(rows_a, rows_b) > 10000
                      AND explosion_x <= 4.0
                      AND GREATEST(max_skew_a, max_skew_b) > 4.0
                     THEN CEIL(GREATEST(max_skew_a, max_skew_b))
                     ELSE 0 END AS INT) AS salt_buckets
    FROM m
    """,
    "D26: the join-strategy ADVISOR — the same exact count-scan "
    "measurements as skew_profile/join_explosion, collapsed into the "
    "decision they exist to inform: broadcast the side that fits, "
    "pre-aggregate a many-to-many blowup, salt a hot key (with the "
    "bucket count), or leave the plain shuffle alone. Thresholds "
    "compare on ROUNDED metrics so both engines agree exactly at the "
    "boundaries. On the fixture (broadcast_max_rows=10000 so neither "
    "side fits) the lineitem⋈orders key is uniform and 1:N bounded → "
    "'shuffle', salt_buckets 0.",
)
def join_strategy(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import join_strategy_advice

    li = T(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = T(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    return join_strategy_advice(li, o, ["k"], broadcast_max_rows=10_000)


@register(
    "join_bloom_prune",
    """
    SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey,
           o.o_custkey, o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 400000
    """,
    "D26: Bloom-pruned equi-join — the dim side (high-value orders, "
    "~20% of keys) folds into a 128 KiB bit array (one mapInPandas "
    "scan, JVM-side xxhash64, driver OR-merge of bounded partials); "
    "the fact side is Arrow-batch probed and filtered BEFORE its join "
    "exchange, then the survivors run the ordinary equi-join. Bloom "
    "filters have no false negatives and the verify join kills false "
    "positives, so the result is bit-identical to the plain join — "
    "which is exactly what the oracle runs.",
)
def join_bloom_prune(spark, sf_dir):
    from mysql2parquet_spark.operators.bloomjoin import bloom_prune_join

    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    dim = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            "o_custkey",
            "o_orderpriority",
        )
    )
    return bloom_prune_join(li, dim, ["l_orderkey"], num_bits=1 << 20)


@register(
    "join_interval",
    """
    WITH a AS (
      SELECT event_id AS l_id, event_type, ts AS l_start,
             ts + to_milliseconds(CAST(FLOOR(value * 1000) AS BIGINT)) AS l_end
      FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL
    ), b AS (
      SELECT event_id AS r_id, event_type, ts AS r_start,
             ts + to_milliseconds(CAST(FLOOR(value * 1000) AS BIGINT)) AS r_end
      FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL
    )
    SELECT a.event_type, a.l_id, b.r_id
    FROM a JOIN b ON a.event_type = b.event_type
     AND a.l_start <= b.r_end AND b.r_start <= a.l_end
    """,
    "D27: interval OVERLAP join — concurrent activity windows of two "
    "user cohorts per event type. The oracle is the declarative "
    "non-equi join (which MySQL/DuckDB nested-loop); the Spark side is "
    "the bucketized rewrite (operators/asof.py::interval_join): "
    "explode each interval over the hour buckets it touches, equi-join "
    "on (event_type, bucket), emit each pair only in its first common "
    "bucket — exact, dedup-free, and shuffle-partitionable where the "
    "naive theta join is a BroadcastNestedLoopJoin.",
)
def join_interval(spark, sf_dir):
    from mysql2parquet_spark.operators.asof import interval_join

    ev = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dur = F.floor(F.col("value") * 1000).cast("long")
    end = F.expr("timestampadd(MILLISECOND, _dur, ts)")
    base = ev.withColumn("_dur", dur)
    a = base.filter(F.col("user_id") % 2 == 0).select(
        F.col("event_id").alias("l_id"),
        "event_type",
        F.col("ts").alias("l_start"),
        end.alias("l_end"),
    )
    b = base.filter(F.col("user_id") % 2 == 1).select(
        F.col("event_id").alias("r_id"),
        "event_type",
        F.col("ts").alias("r_start"),
        end.alias("r_end"),
    )
    return interval_join(
        a, b,
        left_start="l_start", left_end="l_end",
        right_start="r_start", right_end="r_end",
        on=["event_type"], bucket_width=3600,
    ).select("event_type", "l_id", "r_id")


@register(
    "privacy_kanon",
    """
    WITH t AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band
      FROM customer
    ), g AS (
      SELECT *, COUNT(*) OVER (
               PARTITION BY c_nationkey, c_mktsegment, bal_band) AS gn
      FROM t
    )
    SELECT c_custkey, c_nationkey, c_mktsegment, bal_band
    FROM g WHERE gn >= 3
    """,
    "D28: k-anonymity suppression as a release gate — customers whose "
    "quasi-identifier combination (nation, market segment, coarse "
    "account-balance band) identifies fewer than k=3 entities are "
    "suppressed before export (operators/privacy.py::"
    "suppress_small_groups — ONE quasi-keyed exchange: a count window, "
    "no join-back, no second scan). The oracle is the identical "
    "window-count predicate. r8 debut (NEXT_ROUND_BACKLOG).",
)
def privacy_kanon(spark, sf_dir):
    from mysql2parquet_spark.operators.privacy import suppress_small_groups

    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return suppress_small_groups(
        c, ["c_nationkey", "c_mktsegment", "bal_band"], k=3
    )


# --------------------------------------------------------------------------
# D29-D32: robust numeric cleaning, k-step path mining, SemDeDup-style
# semantic dedup, curriculum ordering (operators/numeric.py,
# operators/sequences.py, operators/similarity.py::semantic_dedup,
# operators/pipeline.py::curriculum_order). The reference exports
# columns untouched (/root/reference/main.go:106-203); these are
# training-pipeline north-star surfaces. r8 debuts per ROTATION.md.
# --------------------------------------------------------------------------

@register(
    "events_winsorize",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS p_lo,
             quantile_cont(value, 0.99) AS p_hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(e.value) AS n_rows,
           COUNT(CASE WHEN e.value < b.p_lo THEN 1 END) AS n_clip_lo,
           COUNT(CASE WHEN e.value > b.p_hi THEN 1 END) AS n_clip_hi,
           ROUND(MIN(b.p_lo), 4) AS p_lo,
           ROUND(MIN(b.p_hi), 4) AS p_hi
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
    "D29: winsorization audit — per-group exact [p01, p99] bounds and "
    "the rows each side would clip, the outlier-treatment report that "
    "precedes training on a numeric column. One group-keyed bounds "
    "exchange, |groups|-row broadcast back onto the unshuffled rows, "
    "one partial-agg count scan. Spark percentile and DuckDB "
    "quantile_cont were probed BIT-EQUAL per group (2-dp data, 2-dp q "
    "=> <=4-dp exact bounds, so ROUND(.,4) is never at a boundary and "
    "the < / > clip compares agree exactly). COUNT(CASE ...) keeps the "
    "oracle in BIGINT (the quality_report HUGEINT lesson).",
)
def events_winsorize(spark, sf_dir):
    from mysql2parquet_spark.operators.numeric import winsorize_report

    ev = T(spark, sf_dir, "events")
    return winsorize_report(ev, "value", ["event_type"], lo=0.01, hi=0.99)


@register(
    "events_paths",
    """
    WITH g AS (
      SELECT user_id,
             event_type
               || '>' || LEAD(event_type, 1) OVER w
               || '>' || LEAD(event_type, 2) OVER w AS path,
             LEAD(event_type, 2) OVER w AS last_step
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    pe AS (
      SELECT path, user_id, COUNT(*) AS n
      FROM g WHERE last_step IS NOT NULL
      GROUP BY path, user_id
    )
    SELECT path,
           CAST(SUM(n) AS BIGINT) AS n_walks,
           COUNT(*) AS n_entities
    FROM pe GROUP BY path
    ORDER BY n_walks DESC, path
    LIMIT 20
    """,
    "D30: k-step path mining — the 20 most-walked 3-step event-type "
    "paths with walk and distinct-walker counts; funnel DISCOVERY "
    "upstream of the D11 funnel measurement, the k-gram generalization "
    "of events_transitions. ONE user-keyed window exchange (both leads "
    "share the window spec -> a single sort), (path, user) partial "
    "pre-agg, exact distinct from the two-level aggregate, top-20 via "
    "a TakeOrderedAndProject heap under the total (n_walks DESC, path) "
    "tiebreak.",
)
def events_paths(spark, sf_dir):
    from mysql2parquet_spark.operators.sequences import top_paths

    ev = T(spark, sf_dir, "events")
    return top_paths(
        ev, "user_id", ["ts", "event_id"], "event_type", k=3, top=20
    )


@register(
    "dedup_semantic",
    """
    WITH s AS (
      SELECT vec_id AS seed_id, embedding AS sv
      FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, s.seed_id,
             COALESCE(ROUND(
               list_sum(list_transform(list_zip(e.embedding, s.sv),
                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
               / NULLIF(
                   sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(s.sv,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0),
             4), -1e9) AS sim
      FROM embeddings e CROSS JOIN s
    ),
    assigned AS (
      SELECT vec_id, embedding, seed_id AS centroid_id
      FROM scored
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, seed_id) = 1
    )
    SELECT DISTINCT b.vec_id, b.centroid_id
    FROM assigned a JOIN assigned b ON a.centroid_id = b.centroid_id
     AND a.vec_id < b.vec_id
    WHERE ROUND(
            list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
            / NULLIF(
                sqrt(list_sum(list_transform(a.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0),
          4) >= 0.4
    """,
    "D31: SemDeDup-style semantic dedup (Abbas et al. 2023): assign "
    "every vector to its nearest of 8 deterministic seed centroids "
    "(lowest-id demo codebook; kmeans_lite at scale), then verify "
    "cosine >= 0.4 ONLY within a cluster — losers are vectors with a "
    "smaller-id same-cluster neighbor. Assignment is a ZERO-shuffle "
    "literal-fold projection (seeds are k x dim bounded metadata); the "
    "pair stage is an equi-join on centroid_id with norms hoisted, "
    "never a global cross. Rounded-cosine compares on both sides keep "
    "every threshold and argmax off FP boundaries (the similarity_pairs "
    "contract).",
)
def dedup_semantic(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, num_seeds=8, threshold=0.4
    )


@register(
    "dedup_semantic_ivf",
    None,  # learned codebook (kmeans_lite) + float argmax assignment —
           # no exact SQL twin; survivor invariant + plan pins gated in
           # tests/test_semantic_ivf.py
    "D31 at 100 TB shape: SemDeDup with a LEARNED codebook — "
    "kmeans_lite trains k=16 cells on a half-sample (fused Lloyd's, "
    "k x dim metadata between iterations), ivf_assign's Arrow path "
    "assigns every vector with ONE numpy matmul per batch (zero "
    "shuffles — assignment cost grows with BLAS, not a k-struct "
    "literal fold, so k can scale ~sqrt(n) to bound per-cell pair "
    "counts), and losers are verified ONLY within a cell via the "
    "centroid_id equi-join. The k=8 demo trade this complements is "
    "documented in docs/BENCH_NOTES.md (r8 dedup_semantic k-probe).",
)
def dedup_semantic_ivf(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_lite(
        emb.sample(fraction=0.5, seed=7), k=16, iters=2
    )
    return similarity.semantic_dedup(
        emb, seeds=cents, threshold=0.4, assign_method="arrow"
    ).orderBy("vec_id")


@register(
    "pipeline_curriculum",
    """
    SELECT doc_id, band,
           ROW_NUMBER() OVER (
             ORDER BY band,
                      md5(CAST(doc_id AS VARCHAR) || ':curriculum'),
                      doc_id
           ) AS position
    FROM (
      SELECT doc_id,
             CASE WHEN n_chars < 150 THEN 0
                  WHEN n_chars < 300 THEN 1
                  ELSE 2 END AS band
      FROM documents
    )
    """,
    "D32: curriculum epoch ordering — easy (short) docs first, "
    "seed-reproducible shuffle WITHIN each difficulty band. The oracle "
    "is the global ROW_NUMBER; the Spark plan REFUSES that single-task "
    "sort: the md5 PREFIX (first 2 hex chars) sub-partitions each band "
    "256-ways without changing the total order (the salt is a prefix "
    "of the sort key), ranks within (band, salt) in parallel, and adds "
    "broadcast cumulative offsets from a |bands|x256-row metadata "
    "relation — the events_anomaly low-cardinality-window lesson "
    "applied structurally. One big-table exchange total.",
)
def pipeline_curriculum(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import curriculum_order

    d = T(spark, sf_dir, "documents")
    band = (
        F.when(F.col("n_chars") < 150, 0)
        .when(F.col("n_chars") < 300, 1)
        .otherwise(2)
    )
    return curriculum_order(d, "doc_id", band, seed="curriculum")


# --------------------------------------------------------------------------
# D33-D34: sampled estimates with error bars, certified exact heavy
# hitters (operators/estimate.py, operators/heavyhitters.py). r9 debuts
# per ROTATION.md (NEXT_ROUND_BACKLOG).
# --------------------------------------------------------------------------

@register(
    "events_estimate",
    """
    WITH s AS (
      SELECT event_type, value FROM events
      WHERE event_id IS NOT NULL
        AND substring(md5(CAST(event_id AS VARCHAR) || ':est'), 1, 6)
              < '100000'
    )
    SELECT event_type,
           COUNT(*) AS n_sample,
           ROUND(CAST(COUNT(*) AS DOUBLE) * 16.0, 4) AS count_est,
           ROUND(1.96 * sqrt(COUNT(*) * 240.0), 4) AS count_ci,
           ROUND(SUM(value) * 16.0, 4) AS sum_est,
           ROUND(1.96 * sqrt(SUM(value * value) * 240.0), 4) AS sum_ci,
           ROUND(SUM(value) / COUNT(*), 4) AS mean_est
    FROM s GROUP BY event_type
    """,
    "D33: sampled per-group profile with closed-form CIs — count/sum "
    "estimates from the deterministic 1/16 md5 sample (6-hex-char "
    "threshold '100000' = exactly 16^5 of 16^6 buckets, so p and 1/p "
    "are exact rationals both engines share), Horvitz-Thompson scaling "
    "and variance from the three JVM aggregates (n, sum, sum-of-"
    "squares; var_scale = (1-p)/p^2 = 240 exactly). The sample NEVER "
    "moves as rows: one codegen filter inside the scan, one "
    "|groups|-row partial-agg exchange. The md5 membership makes the "
    "oracle EXACT (same sample both engines), not statistical.",
)
def events_estimate(spark, sf_dir):
    from mysql2parquet_spark.operators.estimate import estimate_group_stats

    ev = T(spark, sf_dir, "events")
    return estimate_group_stats(
        ev,
        ["event_type"],
        key_col="event_id",
        value_col="value",
        fraction=1.0 / 16,
        salt="est",
    )


@register(
    "events_heavy_hitters",
    """
    WITH c AS (
      SELECT user_id, COUNT(*) AS n_exact
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_exact, TRUE AS certified
    FROM c ORDER BY n_exact DESC, user_id LIMIT 10
    """,
    "D34: certified exact top-10 users by event count via per-partition "
    "Misra-Gries candidates (m=256 counters, batch-vectorized "
    "mapInPandas) + an exact verify pass over ONLY the candidate keys "
    "(broadcast semi-join feeds the aggregate, so no full-cardinality "
    "exchange ever happens) + the N/(m+1) certificate riding every row. "
    "The oracle is the plain GROUP BY top-k with the same total "
    "(count DESC, key ASC) tiebreak and certified=TRUE — on this "
    "fixture the 10th count is far above N/257, so the two-pass answer "
    "is PROVABLY the full answer and the hash must match exactly.",
)
def events_heavy_hitters(spark, sf_dir):
    from mysql2parquet_spark.operators.heavyhitters import heavy_hitters

    ev = T(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", k=10, m=256)


@register(
    "text_bpe_tokens",
    None,  # iterative argmax training is not SQL-expressible — rows-only;
           # tests/test_bpe.py proves the trainer bit-equal to a pure-Python
           # reference implementation (the kmeans/JPEG precedent)
    "D35: BPE tokenizer — train 10 merges from the documents corpus "
    "(word-frequency relation = one scan + one exchange; the merge loop "
    "iterates on that Zipf-bounded relation only, pinned per generation "
    "like the CC fixpoint), then tokenize via an Arrow UDF with the "
    "broadcast rank table and report the top-40 token frequencies under "
    "the total (n DESC, token ASC) order. Deterministic end-to-end "
    "(lexicographic tie-breaks), so the rows-only check sees a stable "
    "row count and the local gate pins exact frequencies.",
)
def text_bpe_tokens(spark, sf_dir):
    from mysql2parquet_spark.operators.bpe import (
        bpe_token_frequencies,
        bpe_train,
    )

    d = T(spark, sf_dir, "documents")
    merges = bpe_train(d, num_merges=10, loop_partitions=4)
    return bpe_token_frequencies(d, merges, top=40)


@register(
    "ann_pq_topk",
    None,  # approximate by construction (quantization error) — rows-only;
           # recall vs the exact answer is gated in tests/test_pq.py
    "D37: product-quantized ANN (Jegou et al. 2011) — train m=16 "
    "subspace codebooks in ONE fused Lloyd's loop over a persisted "
    "half-sample (one Arrow assign + one (subspace,label,pos) agg per "
    "iteration; job rounds independent of m — the r8 VERDICT fix for "
    "the 19s m-sequential shape), encode the corpus to 16 code indices "
    "per vector (one Arrow projection, zero shuffles — the 4-32x "
    "compressed representation that stays hot at 100 TB), then serve "
    "top-10 for a probe vector via the asymmetric-distance table "
    "(m x k partial distances built once driver-side; each row costs "
    "m numpy lookups) and a TakeOrderedAndProject heap.",
)
def ann_pq_topk(spark, sf_dir):
    from mysql2parquet_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = T(spark, sf_dir, "embeddings")
    cbs = pq_train(emb, m=16, k=16, iters=2, train_fraction=0.5)
    codes = pq_encode(emb, cbs)
    qvec = [  # bounded-metadata: the 1xdim probe vector itself
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return pq_topk(codes, cbs, qvec, k=10, exclude_id=0)


@register(
    "ann_pq_persisted",
    None,  # approximate by construction (quantization error) — rows-only;
           # probe==in-memory parity + zero-training-job pin in tests/test_pq.py
    "D37: PQ ANN served from a PERSISTED artifact (pq_build at write "
    "time: codes table + m x k codebook sidecar; the ivf_persisted "
    "precedent). The probe reads the 16-byte codes relation and the "
    "sidecar only — ZERO training jobs and zero touches of the "
    "full-precision corpus at query time; one Arrow ADC projection + a "
    "TakeOrderedAndProject heap.",
)
def ann_pq_persisted(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from mysql2parquet_spark.operators.pq import pq_build, pq_probe

    emb = T(spark, sf_dir, "embeddings")
    # Build-once-reuse, keyed by source dir + file identity (mtime+size)
    # — the ann_ivf_persisted contract: a path-only key would silently
    # serve neighbors from a regenerated fixture's previous corpus.
    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:10]
    idx = os.path.join(tempfile.gettempdir(), f"m2p_pq_{key}")
    if not (
        os.path.exists(f"{idx}/codes/_SUCCESS")
        and os.path.exists(f"{idx}/codebooks/_SUCCESS")
    ):
        pq_build(emb, idx, m=16, k=16, iters=2, train_fraction=0.5)
    qvec = [  # bounded-metadata: the 1xdim probe vector itself
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return pq_probe(spark, idx, qvec, k=10, exclude_id=0)


@register(
    "dedup_keep_best",
    """
    SELECT doc_id, md5(lower(text)) AS ck, n_chars
    FROM (
      SELECT doc_id, text, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY md5(lower(text))
               ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    "D38: quality-aware dup-cluster resolution — cluster documents by "
    "the normalized content key md5(lower(text)) and keep the BEST "
    "copy per cluster (highest n_chars, ties to the smallest doc_id) "
    "instead of the family's keep-lowest-id default. ONE cluster-keyed "
    "exchange (a single ROW_NUMBER window), no join, no second pass; "
    "the same resolve_clusters works on CC cluster ids (D24) or "
    "SemDeDup cells (D31).",
)
def dedup_keep_best(spark, sf_dir):
    from mysql2parquet_spark.operators.curation import resolve_clusters

    d = T(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.col("text"))).alias("ck"),
    )
    return resolve_clusters(
        d, cluster_col="ck", id_col="doc_id", score_col="n_chars"
    ).select("doc_id", "ck", "n_chars")


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


def _profile_oracle() -> str:
    num = """
    SELECT '{c}' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           ROUND(CAST(MIN({c}) AS DOUBLE), 4) AS min_num,
           ROUND(CAST(MAX({c}) AS DOUBLE), 4) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str,
           CAST(NULL AS DOUBLE) AS avg_len
    FROM orders"""
    st = """
    SELECT '{c}' AS "column", COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num,
           CAST(NULL AS DOUBLE) AS max_num,
           MIN(CAST({c} AS VARCHAR)) AS min_str,
           MAX(CAST({c} AS VARCHAR)) AS max_str,
           ROUND(AVG(CAST(LENGTH(CAST({c} AS VARCHAR)) AS DOUBLE)), 4)
             AS avg_len
    FROM orders"""
    parts = [
        (num if c in ("o_orderkey", "o_custkey", "o_totalprice") else st)
        .format(c=c)
        for c in _PROFILE_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "table_profile",
    _profile_oracle(),
    "D39: column profiler over a 4-column orders subset — null "
    "counts, exact cardinality, numeric ranges, string min/max and "
    "average length, unpivoted to long form by an "
    "explode-over-structs projection. The exact-distinct face runs "
    "TWO aggregates cross-joined 1-row x 1-row (plain metrics hash/"
    "sort-agg once; count_distincts in their own Expand aggregate — "
    "mixing them forced every metric through the Expand, r14 2.09 s "
    "-> 0.96 s). The registered query uses exact_distinct=True so the "
    "oracle reproduces bit-for-bit; the 100 TB default is "
    "approx_count_distinct (HLL, ONE pass, single FileScan, "
    "plan-pinned).",
)
def table_profile(spark, sf_dir):
    from mysql2parquet_spark.operators.profile import profile_table

    o = T(spark, sf_dir, "orders")
    return profile_table(o, list(_PROFILE_COLS), exact_distinct=True)


@register(
    "table_profile_approx",
    None,  # rows-only: HLL cardinality is approximate by construction
    "D39, the 100 TB default face (VERDICT r9 ask #6): the SAME "
    "one-pass profile with approx_count_distinct (HLL sketch, "
    "mergeable partial aggregation, NO Expand stream replay) over "
    "every default-profilable documents column. Rows-only by "
    "construction — n_distinct is an estimate; the error bound vs the "
    "exact face is gated in tests/test_curation_profile_dp.py "
    "(n_distinct within 3-sigma HLL rsd, every OTHER metric "
    "bit-identical).",
)
def table_profile_approx(spark, sf_dir):
    from mysql2parquet_spark.operators.profile import profile_table

    return profile_table(T(spark, sf_dir, "documents"))


@register(
    "sample_quota",
    """
    WITH c AS (
      SELECT lang, COUNT(*) AS n FROM documents
      WHERE lang IS NOT NULL GROUP BY lang
    ),
    s AS (
      SELECT lang, n,
             CAST(FLOOR(POWER(CAST(n AS DOUBLE), 0.5) * 1000000)
                  AS BIGINT) AS wq
      FROM c
    ),
    t AS (SELECT SUM(wq) AS sum_wq FROM s),
    b AS (
      SELECT lang, n,
             (CAST(400 AS BIGINT) * wq) // sum_wq AS base,
             (CAST(400 AS BIGINT) * wq) % sum_wq AS rem
      FROM s, t
    ),
    q AS (
      SELECT lang,
             LEAST(n, base + CASE WHEN
               ROW_NUMBER() OVER (ORDER BY rem DESC, lang ASC)
                 <= 400 - SUM(base) OVER () THEN 1 ELSE 0 END) AS quota
      FROM b
    )
    SELECT x.doc_id, x.lang FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id
             ) AS rk
      FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL
    ) x JOIN q ON x.lang = q.lang AND x.rk <= q.quota
    """,
    "D46: exact-total temperature sampling — EXACTLY 400 documents "
    "allocated across languages by largest-remainder integer quotas "
    "proportional to n^0.5 (Hamilton's method), selected within each "
    "language by content-addressed md5 rank. The deterministic "
    "exact-count counterpart of D44's Bernoulli temperature mixing "
    "(which hits its budget only in expectation): after ONE float "
    "sqrt quantized to an integer grid, every division/mod/compare is "
    "64-bit integer arithmetic, so quotas are engine-exact and "
    "shuffle-order-independent. One strata-keyed window exchange; the "
    "|languages|-row allocation broadcasts back.",
)
def sample_quota(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import quota_sample

    d = T(spark, sf_dir, "documents").select("doc_id", "lang")
    return quota_sample(
        d, "lang", 400, key_col="doc_id", alpha=0.5
    ).select("doc_id", "lang")


@register(
    "multimodal_phash_dedup",
    """
    SELECT doc_id AS asset_id, keeper FROM (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY doc_id % 40) AS keeper
      FROM documents
    ) WHERE doc_id <> keeper
    """,
    "D47: perceptual-hash image near-dup, exactly-oracle-checked "
    "despite the DCT: the corpus is a SYNTHETIC deterministic image "
    "table (one 16x16 BMP per document; base pattern = md5 counter "
    "bytes of doc_id % 40, per-row brightness offset, no pixel ever "
    "clips), so every row is an EXACT brightness shift of its group's "
    "base image — an invariance the integer-luma pHash holds "
    "bit-for-bit (256-total luma weights put a constant shift entirely "
    "in the excluded DC coefficient). The expected duplicate clusters "
    "are therefore doc_id % 40 exactly, which a plain window computes "
    "— the oracle checks the whole decode -> batched-einsum-DCT -> "
    "hash -> dedup pipeline end to end. Group separation is engineered "
    "too: min pairwise Hamming between the 40 base patterns is 20 "
    "bits (pinned in tests/test_phash.py).",
)
def multimodal_phash_dedup(spark, sf_dir):
    from mysql2parquet_spark.operators.multimodal import synth_bmp_assets
    from mysql2parquet_spark.operators.phash import (
        phash_dedup,
        with_phash,
    )

    # spread the per-row Python stages (BMP build + decode) BEFORE they
    # run: the fixture parquet is one input split, and mapInPandas cost
    # is per-row, not per-byte — the same REPARTITION_BY_NUM contract
    # as the minhash signature folds (SCALE.md "Dedup / similarity")
    d = T(spark, sf_dir, "documents").select("doc_id").repartition(
        32, "doc_id"
    )
    assets = synth_bmp_assets(d, id_col="doc_id", groups=40)
    return phash_dedup(with_phash(assets), mode="exact")


@register(
    "text_lm_score",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    bg AS (
      SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2
      FROM toks, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(z)
      WHERE u.z[1] <> '' AND u.z[2] <> ''
    ),
    uni AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
    bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
    v AS (SELECT COUNT(*) AS v FROM uni),
    q AS (
      SELECT bg.doc_id,
             CAST(FLOOR(LN((COALESCE(bi.c2, 0) + 1.0)
                           / (COALESCE(uni.c1, 0) + 1.0 * v.v))
                        * 1000000) AS BIGINT) AS lq
      FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni USING (w1), v
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(-SUM(lq) / (COUNT(*) * 1000000.0), 4) AS score
    FROM q GROUP BY doc_id
    """,
    "D48: bigram-LM cross-entropy quality scoring (the CCNet recipe: "
    "rank text by perplexity against a language model — here "
    "self-scored, so outliers under the corpus's OWN statistics "
    "surface for inspection). Add-1-smoothed bigram model "
    "P(w2|w1) = (c2+1)/(c1+V); score = average negative log-prob in "
    "nats. Each bigram's log-prob is quantized ONCE to integer "
    "micro-nats, so every shuffle-reordered sum is 64-bit integer "
    "math (the D43/D46 recipe) and the float-entropy RANKING "
    "hash-matches the oracle. Tokenize+bigram = zero-shuffle "
    "slice+zip projection; model = two keyed partial-agg exchanges "
    "over vocabulary-bounded relations; V rides as a broadcast 1-row "
    "relation.",
)
def text_lm_score(spark, sf_dir):
    from mysql2parquet_spark.operators.lm import lm_score

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_score(d)


@register(
    "dedup_containment",
    f"""
    WITH d AS (
      SELECT doc_id, {_GRAMS3} AS g FROM documents
    )
    SELECT x.doc_id AS id_a, y.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
                 / LEAST(len(x.g), len(y.g)), 4) AS containment
    FROM d x, d y
    WHERE x.doc_id < y.doc_id
      AND CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
          / LEAST(len(x.g), len(y.g)) >= 0.5
    """,
    "D49: exact n-gram CONTAINMENT pairs — |A∩B| / min(|A|,|B|) "
    "(Broder's containment), the near-SUBSET detector resemblance "
    "misses: a 200-word article quoted inside a 5000-word aggregator "
    "page has jaccard ~0.04 but containment ~1.0 — exactly the "
    "quote/repost shape LLM corpora are full of. Same inverted "
    "gram-index plan as the green D25 family (docs meet ONLY through "
    "shared grams; intersection = count aggregate; set sizes ride the "
    "index rows), exact for threshold > 0, never O(n²); the oracle "
    "recomputes the identical integer ratios via set algebra. "
    "Trigram shingles, threshold 0.5 -- trigrams, not bigrams, because "
    "the fixture's 31-word vocabulary makes every BIGRAM a hot gram "
    "(<=961 possible; ~73M join rows at sf0.1, found by the r10 tail "
    "sweep), while trigrams are diverse (27k grams, max posting 25, "
    "~2.8M rows). Real corpora are gram-diverse at any n; for "
    "hot-gram corpora the max_gram_docs cap is the documented guard.",
)
def dedup_containment(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.gram_containment_pairs(d, shingle_n=3, threshold=0.5)


def _dp_oracle() -> str:
    import math

    # the EXACT divisor literal the operator closes over (repr of the
    # Python double) — oracle and engine must divide by the same bits
    ln_alpha = repr(math.log(math.exp(-1.0)))
    geo = (
        "FLOOR(LN((CAST(CONCAT('0x', substr(md5(lang || ':{tag}:r9dp'), "
        "1, 8)) AS BIGINT) + 0.5) / 4294967296.0) / ({d}))"
    )
    g1 = geo.format(tag="dp1", d=ln_alpha)
    g2 = geo.format(tag="dp2", d=ln_alpha)
    return f"""
    SELECT lang,
           CAST(GREATEST(n + {g1} - {g2}, 0) AS BIGINT) AS n_noisy,
           CAST(1.0 AS DOUBLE) AS epsilon
    FROM (
      SELECT lang, COUNT(*) AS n FROM documents
      WHERE lang IS NOT NULL GROUP BY lang
    )
    """


@register(
    "privacy_dp_counts",
    _dp_oracle(),
    "D40: eps-differentially-private count release (discrete Laplace / "
    "two-sided geometric — Ghosh et al. 2009, the optimal mechanism "
    "for integer counts): per-language document counts + "
    "G1 - G2 geometric noise at eps=1, clamped at 0. ONE group-keyed "
    "exchange; the noise is a content-addressed codegen projection "
    "(md5-uniform -> inverse-CDF floor(ln(u)/ln(alpha))), zero UDFs -- "
    "deterministic under the declared seed, so the oracle reproduces "
    "the release exactly (a PUBLISHED release must use fresh physical "
    "randomness and spend budget per release; see operators/dp.py).",
)
def privacy_dp_counts(spark, sf_dir):
    from mysql2parquet_spark.operators.dp import dp_group_counts

    d = T(spark, sf_dir, "documents")
    return dp_group_counts(d, "lang", epsilon=1.0, seed="r9dp")


@register(
    "dedup_cluster_incremental",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[u.i:u.i+7], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    star AS (
      SELECT doc_id AS s, MIN(doc_id) OVER (PARTITION BY g) AS d FROM wins
    ),
    edges0 AS (
      SELECT DISTINCT s, d FROM star WHERE s <> d
    ),
    edges AS (
      SELECT s, d FROM edges0 UNION SELECT d, s FROM edges0
    ),
    nodes AS (
      SELECT DISTINCT s AS v FROM edges
    ),
    comp AS (
      WITH RECURSIVE reach(v, r) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT e.d, c.r FROM reach c JOIN edges e ON e.s = c.v
      )
      SELECT v, MIN(r) AS component FROM reach GROUP BY v
    )
    SELECT v AS doc_id, component FROM comp
    """,
    "D41: INCREMENTAL duplicate-cluster maintenance — the nightly-crawl "
    "fold. Standing clusters = connected components over the "
    "shared-8-token-window graph of the first 250 docs; the batch = "
    "every gram edge touching a later doc. incremental_components "
    "passes untouched components through ONE anti-join (never "
    "re-shuffled through the fixpoint), collapses affected components "
    "to diameter-2 star edges, and runs the doubling loop over "
    "(stars + new edges) only — per-batch cost scales with the batch "
    "and its touched clusters, never |V|. The oracle is the FULL "
    "recursive-CTE closure over the whole graph: the fold must be "
    "indistinguishable from a global recompute.",
)
def dedup_cluster_incremental(spark, sf_dir):
    from mysql2parquet_spark.operators.graph import (
        connected_components,
        gram_star_edges,
        incremental_components,
    )

    docs = T(spark, sf_dir, "documents")
    cut = 250
    # ONE gram-mining pass, split by the cut: ids are ingest-ordered
    # (old < cut <= new), so any gram with an old holder has an OLD
    # global min-holder — the full graph's both-endpoints-old edges ARE
    # the history graph's edges, and the rest is exactly the batch.
    # Pinned once so the split doesn't re-mine the index per side.
    edges = gram_star_edges(docs).localCheckpoint(eager=True)
    old_edge = (F.col("src") < cut) & (F.col("dst") < cut)
    assign = connected_components(edges.filter(old_edge))
    return incremental_components(assign, edges.filter(~old_edge)).select(
        F.col("v").alias("doc_id"), "component"
    )


@register(
    "score_calibrate",
    # Mirrors the operator's NULL contract exactly (ADVICE r9): only
    # non-NULL scores enter the rank denominator; NULL scores come back
    # with calibrated NULL instead of being ranked last.
    """
    SELECT doc_id, source, n_chars,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY source ORDER BY n_chars), 4) AS calibrated
    FROM documents WHERE n_chars IS NOT NULL
    UNION ALL
    SELECT doc_id, source, n_chars, CAST(NULL AS DOUBLE) AS calibrated
    FROM documents WHERE n_chars IS NULL
    """,
    "D42: cross-source score calibration — replace each document's raw "
    "score (n_chars as the stand-in scorer) with its WITHIN-SOURCE "
    "quantile via percent_rank, making scores comparable across "
    "corpora whose scorers use different scales (the standard fix "
    "before budget-weighted mixing). ONE source-keyed exchange (the "
    "window partition -- no global sort); ties share a rank so equal "
    "raw scores calibrate equally.",
)
def score_calibrate(spark, sf_dir):
    from mysql2parquet_spark.operators.numeric import quantile_normalize

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_normalize(d, "n_chars", by="source")


@register(
    "score_calibrate_global",
    """
    SELECT doc_id, n_chars,
           ROUND(PERCENT_RANK() OVER (ORDER BY n_chars), 4) AS calibrated
    FROM documents WHERE n_chars IS NOT NULL
    UNION ALL
    SELECT doc_id, n_chars, CAST(NULL AS DOUBLE) AS calibrated
    FROM documents WHERE n_chars IS NULL
    """,
    "D45: exact GLOBAL percent_rank with no single-task stage -- the "
    "scalable face of ungrouped calibration (VERDICT r9 What's-wrong "
    "#3). repartitionByRange(score) colocates equal scores (tie ranks "
    "stay exact), a within-partition rank plus a |partitions|-row "
    "broadcast offset relation reassembles the global rank: "
    "global_rank = offset(partition) + local_rank. Sampled range "
    "boundaries decide only where rows SIT, never the arithmetic, so "
    "the result is deterministic and hash-matches the SQL-standard "
    "PERCENT_RANK oracle. Two data-parallel exchanges vs the one-task "
    "funnel of a naive global window.",
)
def score_calibrate_global(spark, sf_dir):
    from mysql2parquet_spark.operators.numeric import (
        quantile_normalize_global,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return quantile_normalize_global(d, "n_chars")


@register(
    "similarity_tfidf",
    r"""
    WITH terms AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms
      WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    wq0 AS (
      SELECT tf.doc_id, tf.term,
             LEAST(CAST(ROUND(tf.tf * (LN((n.n + 1.0) / (dfreq.df + 1.0))
                                       + 1.0) * 1000000) AS BIGINT),
                   10000000) AS wq
      FROM tf, dfreq, n WHERE tf.term = dfreq.term
    ),
    capped AS (
      SELECT doc_id, term, wq FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY doc_id ORDER BY wq DESC, term) AS rn
        FROM wq0
      ) WHERE rn <= 16
    ),
    sig AS (
      SELECT c.doc_id, c.term, c.wq, s.norm2
      FROM capped c JOIN (
        SELECT doc_id, SUM(wq * wq) AS norm2 FROM capped GROUP BY doc_id
      ) s USING (doc_id)
    ),
    pairs AS (
      SELECT a.doc_id AS qid, b.doc_id AS nid,
             a.norm2 AS na, b.norm2 AS nb, SUM(a.wq * b.wq) AS dot
      FROM sig a JOIN sig b ON a.term = b.term AND a.doc_id <> b.doc_id
      WHERE a.doc_id < 20
      GROUP BY 1, 2, 3, 4
    )
    SELECT qid, nid,
           ROUND(dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))),
                 4) AS sim
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid
        ORDER BY dot / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
                 DESC, nid) AS rn
      FROM pairs
    ) WHERE rn <= 5
    """,
    "D43: sparse TF-IDF top-k document similarity via an inverted "
    "index -- the sparse complement of the dense ANN family: docs pair "
    "ONLY through shared terms (gram-index contract), each doc reduced "
    "to its 16 strongest TF-IDF terms first (WindowGroupLimit-capped "
    "postings). Weights are quantized to 64-bit integers before any "
    "aggregation so every shuffle-reordered sum is order-independent "
    "integer math -- which is what lets a float-cosine RANKING "
    "hash-match the oracle exactly. Query side = doc_id < 20, k = 5.",
)
def similarity_tfidf(spark, sf_dir):
    from mysql2parquet_spark.operators.tfidf import tfidf_topk_similar

    d = T(spark, sf_dir, "documents")
    return tfidf_topk_similar(
        d, top_terms=16, k=5, query_pred=F.col("doc_id") < 20
    )


@register(
    "pipeline_temperature",
    """
    WITH c AS (
      SELECT source, COUNT(*) AS n FROM documents
      WHERE source IS NOT NULL GROUP BY source
    ),
    f AS (
      SELECT source, n,
             CAST(FLOOR(LEAST(1.0,
               300.0 * (POWER(CAST(n AS DOUBLE), 0.5)
                        / SUM(POWER(CAST(n AS DOUBLE), 0.5)) OVER ())
               / n) * 4294967296.0) AS BIGINT) AS fraction_q
      FROM c
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN f USING (source)
    WHERE CAST(CONCAT('0x',
            substr(md5(CAST(d.doc_id AS VARCHAR) || ':tsamp'), 1, 8))
          AS BIGINT) < f.fraction_q
    """,
    "D44: temperature-based domain mixing (the T5/multilingual-sampling "
    "recipe): sample each source proportionally to n^alpha (alpha=0.5, "
    "target 300 rows) so tail domains up-weight without drowning the "
    "head. Keep probabilities are computed from ONE |domains|-row "
    "count aggregate, QUANTIZED to a 32-bit integer grid, and "
    "broadcast; membership is an integer compare of the row's "
    "content-addressed uniform against the grid -- one codegen "
    "projection + filter on the data side, zero extra exchanges, "
    "engine-exact (the oracle reproduces the kept set bit-for-bit).",
)
def pipeline_temperature(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import temperature_sample

    d = T(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_sample(
        d, "source", id_col="doc_id", alpha=0.5, target_rows=300
    ).select("doc_id", "source")


@register(
    "dedup_segments",
    """
    WITH s AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' the '), 1) AS pos,
             unnest(string_split(text, ' the ')) AS seg
      FROM documents
    ), b AS (
      SELECT seg FROM s GROUP BY seg HAVING COUNT(*) >= 2
    ), t AS (
      SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id
    ), k AS (
      SELECT * FROM s WHERE seg NOT IN (SELECT seg FROM b)
    )
    SELECT k.doc_id,
           string_agg(k.seg, ' the ' ORDER BY k.pos) AS text,
           COUNT(*) AS n_kept,
           MIN(t.n) - COUNT(*) AS n_dropped
    FROM k JOIN t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id
    """,
    "D50: corpus-frequent segment removal — the C4/RefinedWeb line "
    "dedup: split every doc on a separator, ban any segment occurring "
    ">= min_count times across the WHOLE corpus, reassemble survivors "
    "in original order (boilerplate killer whole-doc dedup is blind "
    "to). ONE keyed count exchange (map-side combined) + left_anti "
    "equi-join + one id-keyed reassembly agg (array_sort on carried "
    "positions -- no window, no global sort). The fixture has no "
    "newlines, so the registered query segments on the phrase "
    "boundary ' the ' (min_count=2) -- identical plan, and the unit "
    "tests prove the newline contract on planted multi-line docs.",
)
def dedup_segments(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.frequent_segment_removal(d, sep=" the ", min_count=2)


@register(
    "pipeline_dsir",
    r"""
    WITH tok AS (
      SELECT doc_id, source, substring(md5(w), 1, 2) AS b
      FROM (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), raw AS (
      SELECT b, COUNT(*) AS cr FROM tok GROUP BY b
    ), tgt AS (
      SELECT b, COUNT(*) AS ct FROM tok
      WHERE source IN ('src1', 'src3') GROUP BY b
    ), lam AS (
      SELECT raw.b,
             CAST(FLOOR((ln(COALESCE(ct, 0) + 1)
                         - ln((SELECT COALESCE(SUM(ct), 0) FROM tgt) + 256)
                         - ln(cr + 1)
                         + ln((SELECT SUM(cr) FROM raw) + 256))
                        * 1000000) AS BIGINT) AS lam_micro
      FROM raw LEFT JOIN tgt ON raw.b = tgt.b
    ), dc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b
    )
    SELECT doc_id, CAST(SUM(c * lam_micro) AS BIGINT) AS weight_micro
    FROM dc JOIN lam ON dc.b = lam.b
    GROUP BY doc_id
    ORDER BY weight_micro DESC, doc_id
    LIMIT 100
    """,
    "D51: DSIR importance selection (Xie et al. 2023) — rank documents "
    "by their hashed-unigram log-likelihood ratio under add-one bag "
    "models of a TARGET domain (source src1/src3 here) vs the RAW "
    "corpus, keep the top k=100. Buckets are md5-hex prefixes (256 at "
    "hex_chars=2 -- the bucket KEY is the hex string, so the oracle "
    "mirrors char-for-char); per-bucket log ratios quantized ONCE to "
    "integer micro-nats (the D48 recipe), so per-doc sums are "
    "order-independent int64 math and the selected SET is engine-exact "
    "(ties break by doc_id). Two bag-model aggs over <=256-row "
    "relations, one (id,bucket) exchange, broadcast ratio join, "
    "TakeOrderedAndProject top-k -- never a global sort.",
)
def pipeline_dsir(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import dsir_select

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return dsir_select(d, F.col("source").isin("src1", "src3"), 100)


@register(
    "text_gopher_rules",
    r"""
    WITH w AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\s+') END AS ws
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0 THEN
               CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
               / len(ws) END AS mean_len,
             CASE WHEN len(ws) > 0 THEN
               CAST(len(list_filter(ws,
                 x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
               / len(ws) END AS sym,
             CASE WHEN len(ws) > 0 THEN
               CAST(len(list_filter(ws,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / len(ws) END AS alpha,
             len(list_intersect(
               list_distinct(list_transform(ws, x -> lower(x))),
               ['the','be','to','of','and','that','have','with'])) AS hits
      FROM w
    )
    SELECT doc_id, n_words,
           FLOOR(mean_len * 10000.0) / 10000.0 AS mean_word_len,
           FLOOR(sym * 10000.0) / 10000.0 AS symbol_ratio,
           FLOOR(alpha * 10000.0) / 10000.0 AS alpha_ratio,
           hits AS required_hits,
           (n_words >= 30 AND n_words <= 60) AS r_word_count,
           COALESCE(mean_len >= 3.0 AND mean_len <= 10.0, FALSE)
             AS r_mean_word_len,
           COALESCE(sym <= 0.1, FALSE) AS r_symbol_ratio,
           COALESCE(alpha >= 0.8, FALSE) AS r_alpha_ratio,
           (hits >= 1) AS r_required_words,
           ((n_words >= 30 AND n_words <= 60)
            AND COALESCE(mean_len >= 3.0 AND mean_len <= 10.0, FALSE)
            AND COALESCE(sym <= 0.1, FALSE)
            AND COALESCE(alpha >= 0.8, FALSE)
            AND (hits >= 1)) AS keep
    FROM m
    """,
    "D52: the Gopher/MassiveText word-level quality-rule VECTOR (Rae "
    "et al. 2021): word count in [min,max], mean word length in "
    "[3,10], symbol-to-word ratio <= 0.1, alphabetic-word ratio >= "
    "0.8, and >= N distinct required words -- each rule its own "
    "boolean plus the conjunction, so a pipeline audits WHICH rule "
    "killed a document. ONE whole-stage-codegen projection: every "
    "metric is higher-order array math (aggregate/filter/intersect) "
    "on the tokenized column -- zero shuffles, zero UDFs. Bounds "
    "tuned to the fixture's 25-40-word docs (min 30 / max 60, 1 "
    "required hit) so the keep decision has variety; the operator "
    "defaults are the paper's numbers.",
)
def text_gopher_rules(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.gopher_quality_rules(
        d, min_words=30, max_words=60, min_required_hits=1
    )


@register(
    "dedup_cdc_chunks",
    r"""
    WITH tok AS (
      SELECT doc_id,
             generate_subscripts(
               regexp_split_to_array(trim(text), '\s+'), 1) AS pos,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ), b AS (
      SELECT doc_id, pos, w,
             CASE WHEN substring(md5(w || ':cdc'), 1, 1) IN ('0', '1')
                  THEN 1 ELSE 0 END AS f
      FROM tok
    ), c AS (
      SELECT doc_id, pos, w,
             COALESCE(SUM(f) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS chunk_id
      FROM b
    ), ch AS (
      SELECT doc_id, chunk_id, string_agg(w, ' ' ORDER BY pos) AS chunk
      FROM c GROUP BY doc_id, chunk_id
    ), cnt AS (
      SELECT chunk, COUNT(*) AS n FROM ch GROUP BY chunk
    )
    SELECT ch.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN cnt.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           FLOOR(CAST(SUM(CASE WHEN cnt.n >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / COUNT(*) * 10000.0) / 10000.0 AS dup_ratio
    FROM ch JOIN cnt ON ch.chunk = cnt.chunk
    GROUP BY ch.doc_id
    """,
    "D53: content-defined chunking chunk-level dup report (the "
    "LBFS/rsync recipe at word granularity): a word closes a chunk "
    "iff md5(word)'s leading hex char is in the boundary set (p=1/8 "
    "here, ~8-word chunks), so boundaries depend only on LOCAL "
    "content -- a prepended header shifts every fixed window but CDC "
    "chunks resync at the next boundary and the copied body still "
    "reads ~100% duplicated. Tokenize+flag = zero-shuffle projection; "
    "prefix-sum = ONE doc-keyed rows-frame window; assembly = one "
    "(doc,chunk)-keyed agg; dup flag = one chunk-keyed count + "
    "equi-join back. dup_ratio floor-quantized 1e-4 (the D52 tie "
    "rule).",
)
def dedup_cdc_chunks(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.cdc_chunk_dup_stats(d)


@register(
    "pipeline_length_buckets",
    r"""
    WITH s AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_toks,
             CAST(FLOOR(len(regexp_split_to_array(trim(text), '\s+'))
                        / 16.0) AS BIGINT) AS bucket,
             doc_id % 8 AS shard,
             md5(CAST(doc_id AS VARCHAR) || ':lbb') AS r
      FROM documents
    ), a AS (
      SELECT doc_id, n_toks, bucket, shard,
             CAST(FLOOR((ROW_NUMBER() OVER (
               PARTITION BY bucket, shard ORDER BY r, doc_id) - 1)
               / 32.0) AS BIGINT) AS batch_idx
      FROM s
    )
    SELECT bucket, shard, batch_idx,
           COUNT(*) AS n_rows,
           MAX(n_toks) AS max_toks,
           CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
           COUNT(*) * MAX(n_toks) - CAST(SUM(n_toks) AS BIGINT)
             AS padding_waste
    FROM a
    GROUP BY bucket, shard, batch_idx
    """,
    "D54: length-bucketed batch assignment + padding-waste report -- "
    "the sorted-batching trick padded training uses (docs batch with "
    "others of similar length so each batch pads to ITS max, not the "
    "corpus max). Bucket = floor(n_tokens/16); within (bucket, shard) "
    "a content-addressed md5 order fills batches of 32; report = "
    "n_rows*max - sum per batch. ONE (bucket,shard)-keyed window "
    "exchange -- the shard key bounds the modal bucket's window "
    "partition (the D42/D45 single-task lesson) without changing "
    "batch quality -- plus one batch-keyed aggregate; all-integer "
    "output, engine-exact.",
)
def pipeline_length_buckets(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import (
        padding_waste_report,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return padding_waste_report(d)


@register(
    "multimodal_audio_trim",
    """
    SELECT doc_id AS asset_id,
           (doc_id % 5) + (3 + (doc_id // 5) % 4) + ((doc_id // 20) % 3)
             AS n_frames,
           doc_id % 5 AS lead_silence,
           (doc_id // 20) % 3 AS trail_silence,
           3 + (doc_id // 5) % 4 AS active_frames,
           FLOOR(CAST(3 + (doc_id // 5) % 4 AS DOUBLE)
                 / ((doc_id % 5) + (3 + (doc_id // 5) % 4)
                    + ((doc_id // 20) % 3))
                 * 10000.0) / 10000.0 AS speech_ratio
    FROM documents WHERE doc_id < 300
    """,
    "D55: energy-based audio silence trim / voice-activity "
    "segmentation over binary WAV columns -- the speech-pipeline "
    "cleanup step (and the audio sibling of D52's text gates). The "
    "corpus is synthesized with PLANTED silence structure (the D47 "
    "recipe: lead/active/trail frame counts are pure integer "
    "arithmetic on doc_id), so the oracle checks the ENTIRE encode -> "
    "stdlib-PCM-decode -> per-frame RMS -> trim pipeline exactly. One "
    "mapInPandas synth projection + one mapInPandas activity "
    "projection, zero shuffles, constant-width output rows regardless "
    "of audio length.",
)
def multimodal_audio_trim(spark, sf_dir):
    from mysql2parquet_spark.operators.multimodal import (
        audio_activity,
        synth_wav_assets,
    )

    d = (
        T(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 300)
    )
    return audio_activity(synth_wav_assets(d))


def _bootstrap_oracle(replicas: int = 32) -> str:
    from mysql2parquet_spark.operators.estimate import (
        poisson_thresholds_u32,
    )

    hts = [f"{t:08x}" for t in poisson_thresholds_u32()]
    def _w(r):
        h = (f"substr(md5(CAST(event_id AS VARCHAR) || ':{r // 4}:boot'), "
             f"{1 + 8 * (r % 4)}, 8)")
        return " + ".join(
            f"CASE WHEN {h} >= '{t}' THEN 1 ELSE 0 END" for t in hts
        ) + f" AS w{r}"
    w_cols = ", ".join(_w(r) for r in range(replicas))
    s_cols = ", ".join(
        f"SUM(w{r} * value) AS s{r}, SUM(w{r}) AS c{r}"
        for r in range(replicas)
    )
    mean_items = ", ".join(
        f"CASE WHEN c{r} > 0 THEN s{r} / c{r} END"
        for r in range(replicas)
    )
    return f"""
    WITH w AS (
      SELECT event_type, value, {w_cols} FROM events
    ), g AS (
      SELECT event_type, COUNT(*) AS n_rows, SUM(value) AS sv, {s_cols}
      FROM w GROUP BY event_type
    ), m AS (
      SELECT event_type, n_rows, sv,
             list_sort(list_filter([{mean_items}],
                                   x -> x IS NOT NULL)) AS means
      FROM g
    )
    SELECT event_type, n_rows, ROUND(sv / n_rows, 4) AS mean,
           ROUND(means[CAST(FLOOR(0.05 * (len(means) - 1)) AS BIGINT)
                       + 1], 4) AS ci_lo,
           ROUND(means[CAST(CEIL(0.95 * (len(means) - 1)) AS BIGINT)
                       + 1], 4) AS ci_hi
    FROM m
    """


@register(
    "events_bootstrap",
    _bootstrap_oracle(),
    "D56: one-pass Poisson bootstrap (Chamandy et al. 2012): per-type "
    "mean of events.value with a 90% bootstrap CI from 32 replicas -- "
    "WITHOUT resampling passes. Each row carries 32 content-addressed "
    "Poisson(1) weights (md5 -> u32 -> inverse-CDF against the "
    "integer-quantized CDF grid, the D44 discipline -- no RNG, "
    "engine-exact weights); every replica's weighted mean accumulates "
    "in ONE group-keyed aggregate (shuffle rows widen by 2x32 partial "
    "sums -- constant per group per partition); the CI reads the "
    "sorted replica means at the quantile indices. B x column width "
    "instead of B x passes -- the textbook massive-data bootstrap "
    "trade.",
)
def events_bootstrap(spark, sf_dir):
    from mysql2parquet_spark.operators.estimate import (
        poisson_bootstrap_ci,
    )

    d = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return poisson_bootstrap_ci(
        d, ["event_type"], "value", key_col="event_id"
    )


@register(
    "sample_weighted_k",
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             LN((CAST(CONCAT('0x',
                   substr(md5(CAST(doc_id AS VARCHAR) || ':aes'), 1, 8))
                 AS BIGINT) + 1) / 4294967296.0)
             / CAST(n_chars AS DOUBLE) AS key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, n_chars,
           CAST(FLOOR(key * 1000000.0) AS BIGINT) AS _aes_key
    FROM s
    ORDER BY key DESC, doc_id
    LIMIT 100
    """,
    "D57: exact-size weighted sampling WITHOUT replacement (Efraimidis "
    "& Spirakis 2006 A-ES): every row competes on ln(u)/weight with a "
    "content-addressed uniform (md5 -> u32 -> (u+1)/2^32, never 0); "
    "the k=100 largest keys are distributionally identical to "
    "sequential weighted draws without replacement -- the missing "
    "sampler face (Bernoulli = expected size, quota = exact per "
    "stratum, this = exact k by row weight; weight = n_chars here). "
    "One codegen projection + TakeOrderedAndProject top-k (partition "
    "heaps, one k-row merge -- never a global sort); doc_id tiebreak "
    "makes the selected SET engine-exact; audit key floor-quantized "
    "micro-nats.",
)
def sample_weighted_k(spark, sf_dir):
    from mysql2parquet_spark.operators.scale import (
        weighted_sample_exact_k,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample_exact_k(d, "n_chars", 100, key_col="doc_id")


@register(
    "dedup_cluster_density",
    f"""
    WITH d AS (SELECT doc_id, {_GRAMS3} AS g FROM documents),
    p AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM d x, d y
      WHERE x.doc_id < y.doc_id
        AND CAST(len(list_intersect(x.g, y.g)) AS DOUBLE)
            / (len(x.g) + len(y.g) - len(list_intersect(x.g, y.g)))
            >= 0.3
    ),
    deg AS (
      SELECT v, COUNT(*) AS dg FROM (
        SELECT a AS v FROM p UNION ALL SELECT b FROM p) GROUP BY v
    ),
    eds AS (SELECT a AS s, b AS t FROM p UNION SELECT b, a FROM p),
    nodes AS (SELECT DISTINCT s AS v FROM eds),
    comp AS (
      WITH RECURSIVE reach(v, r) AS (
        SELECT v, v FROM nodes
        UNION
        SELECT e.t, c.r FROM reach c JOIN eds e ON e.s = c.v
      )
      SELECT v, MIN(r) AS component FROM reach GROUP BY v
    ),
    pc AS (
      SELECT comp.component, COUNT(*) AS n_vertices,
             CAST(SUM(dg) / 2 AS BIGINT) AS n_edges,
             CAST(SUM(CAST(dg * (dg - 1) / 2 AS BIGINT)) AS BIGINT)
               AS n_wedges
      FROM comp JOIN deg USING (v) GROUP BY comp.component
    ),
    tri AS (
      SELECT comp.component, COUNT(*) AS n_triangles
      FROM (
        SELECT x.a AS a FROM p x JOIN p y ON x.b = y.a
        WHERE EXISTS (SELECT 1 FROM p z
                      WHERE z.a = x.a AND z.b = y.b)
      ) t JOIN comp ON comp.v = t.a
      GROUP BY comp.component
    )
    SELECT pc.component, pc.n_vertices, pc.n_edges, pc.n_wedges,
           COALESCE(tri.n_triangles, 0) AS n_triangles,
           CASE WHEN pc.n_wedges > 0 THEN
             FLOOR(3.0 * COALESCE(tri.n_triangles, 0) / pc.n_wedges
                   * 10000.0) / 10000.0
           END AS clustering
    FROM pc LEFT JOIN tri USING (component)
    """,
    "D58: per-cluster STRUCTURE report over the exact trigram-Jaccard "
    "pair graph (threshold 0.3): vertices, edges, wedges, triangles, "
    "and the global clustering coefficient 3T/wedges per duplicate "
    "cluster -- the signal D24/D41's components cannot give: a "
    "TEMPLATE cluster (one page, many independent near-copies) is a "
    "star (wedges, zero triangles, clustering 0) while a MUTUAL "
    "near-dup family is a near-clique (clustering -> 1), and D38's "
    "keep-best should treat the two differently. Triangles via the "
    "compact-forward wedge join (every edge low->high, wedge closes "
    "iff (a,c) is an edge -- each triangle counted exactly once, "
    "fan-out = C(out-deg, 2)); pair edges from the D25 inverted gram "
    "index (never O(n^2)); canonical edge relation pinned once "
    "(localCheckpoint, three consumers).",
)
def dedup_cluster_density(spark, sf_dir):
    from mysql2parquet_spark.operators.graph import (
        cluster_density_report,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.gram_jaccard_pairs_indexed(
        d, d, shingle_n=3, threshold=0.3, self_pairs=True
    )
    return cluster_density_report(pairs, "id_a", "id_b")


@register(
    "search_rrf_fusion",
    r"""
    WITH w AS (
      SELECT doc_id, n_chars,
             regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents
    ), m AS (
      SELECT doc_id, n_chars,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS div,
             len(list_filter(ws, x -> x = 'spark')) AS rel
      FROM w
    ),
    r1 AS (SELECT doc_id, rank FROM (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
        AS rank FROM m) WHERE rank <= 200),
    r2 AS (SELECT doc_id, rank FROM (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY div DESC, doc_id)
        AS rank FROM m) WHERE rank <= 200),
    r3 AS (SELECT doc_id, rank FROM (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id)
        AS rank FROM m) WHERE rank <= 200),
    u AS (
      SELECT doc_id, CAST(FLOOR(1000000000.0 / (60.0 + rank))
                          AS BIGINT) AS rr FROM r1
      UNION ALL
      SELECT doc_id, CAST(FLOOR(1000000000.0 / (60.0 + rank))
                          AS BIGINT) FROM r2
      UNION ALL
      SELECT doc_id, CAST(FLOOR(1000000000.0 / (60.0 + rank))
                          AS BIGINT) FROM r3
    )
    SELECT doc_id, CAST(SUM(rr) AS BIGINT) AS rrf_micro,
           COUNT(*) AS n_lists
    FROM u GROUP BY doc_id
    ORDER BY rrf_micro DESC, doc_id LIMIT 50
    """,
    "D59: reciprocal-rank fusion (Cormack et al. 2009) -- the "
    "training-free combiner for hybrid retrieval and multi-signal "
    "ranking: fuse three top-200 rankings of documents (term-frequency "
    "relevance for 'spark', length prior, lexical diversity) by "
    "score = sum 1/(60+rank), keep the consensus top-50. Only RANKS "
    "enter, so incomparable score scales fuse safely; each reciprocal "
    "is quantized ONCE to an integer (floor(1e9/(60+rank))) so fused "
    "scores are order-independent int64 sums and the output ORDER is "
    "engine-exact (doc_id tiebreak). Each ranking is TakeOrdered "
    "top-k; the bounded k-row relations make the rank window and the "
    "fusion agg touch <= N*k rows regardless of corpus size.",
)
def search_rrf_fusion(spark, sf_dir):
    from mysql2parquet_spark.functions.hashing import tokens
    from mysql2parquet_spark.operators.similarity import (
        rrf_fuse,
        topk_ranking,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "n_chars", "text")
    ws = tokens(F.trim(F.col("text")))
    m = d.select(
        "doc_id",
        "n_chars",
        (
            F.size(F.array_distinct(ws)).cast("double")
            / F.size(ws).cast("double")
        ).alias("div"),
        F.size(F.filter(ws, lambda x: x == "spark")).alias("rel"),
    )
    r1 = topk_ranking(m, "n_chars", 200)
    r2 = topk_ranking(m, "div", 200)
    r3 = topk_ranking(m, "rel", 200)
    return rrf_fuse([r1, r2, r3], top_k=50)


@register(
    "dedup_segments_within",
    """
    WITH s AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS seg
      FROM documents
    ), t AS (
      SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id
    ), k AS (
      SELECT doc_id, seg, MIN(pos) AS pos FROM s GROUP BY doc_id, seg
    )
    SELECT k.doc_id,
           string_agg(k.seg, ' ' ORDER BY k.pos) AS text,
           COUNT(*) AS n_kept,
           MIN(t.n) - COUNT(*) AS n_dropped
    FROM k JOIN t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id
    """,
    "D60: WITHIN-document repeated-segment removal -- keep each "
    "segment's FIRST occurrence inside its own document, drop later "
    "repeats, reassemble in order (pages repeating their own nav/"
    "footer blocks; no corpus-wide statistic needed, composing with "
    "D50's cross-corpus ban and C4's repetition score). posexplode -> "
    "ONE (id,seg)-keyed min(pos) aggregate (group-min dedup, no "
    "window) -> the D50 reassembly agg; exactly one output row per "
    "document. Registered at WORD granularity (sep=' ') -- the "
    "fixture has no newlines and no repeated phrases, while its "
    "31-word vocabulary repeats heavily within docs, so the word "
    "face is the discriminating one (first-occurrence unique tokens "
    "in order); the unit tests prove the newline/nav-block contract "
    "on planted pages.",
)
def dedup_segments_within(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.within_doc_segment_dedup(d, sep=" ")


@register(
    "agg_quantiles_global",
    """
    WITH v AS (
      SELECT value FROM events WHERE value IS NOT NULL
    ), r AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rnk,
             COUNT(*) OVER () AS n
      FROM v
    ), q AS (
      SELECT unnest([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS q
    )
    SELECT CAST(q.q AS DOUBLE) AS q, r.value, r.rnk AS rank,
           CAST(r.n AS BIGINT) AS n_rows
    FROM q JOIN r
      ON r.rnk = CAST(FLOOR(CAST(q.q AS DOUBLE) * (r.n - 1)) AS BIGINT) + 1
    ORDER BY q.q
    """,
    "D61: EXACT global quantiles (p1/p10/p25/p50/p75/p90/p99 of "
    "events.value) without a single-task sort -- the true-order-"
    "statistic counterpart of agg_approx_percentile, using the D45 "
    "machinery: repartitionByRange + within-partition row_number + "
    "broadcast |partitions|-row offsets give a valid global position "
    "consistent with value order; each fraction selects the value at "
    "floor(q*(n-1))+1 via a broadcast |qs|-row target join. Every "
    "stage data-parallel (one range exchange, one pid window, two "
    "bounded broadcasts); sampled boundaries decide only WHERE rows "
    "sit, never the arithmetic -- engine-exact vs the plain "
    "ROW_NUMBER oracle.",
)
def agg_quantiles_global(spark, sf_dir):
    from mysql2parquet_spark.operators.numeric import (
        quantiles_exact_global,
    )

    d = T(spark, sf_dir, "events").select("value")
    return quantiles_exact_global(
        d, "value", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


@register(
    "dedup_spans",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(t[u.i:u.i+7], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS d FROM wins GROUP BY g)
      WHERE d >= 2
    ),
    hits AS (SELECT doc_id, pos FROM wins WHERE g IN (SELECT g FROM dup)),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM hits
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + 8 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    "D62: MAXIMAL duplicated-span report (Lee et al. 2021 ExactSubstr "
    "approximation) -- every maximal run of 8-token windows shared "
    "verbatim by >= 2 distinct documents, merged into one span row "
    "with 1-based token trim offsets (span_start/span_end/"
    "span_tokens). A duplicated substring of L >= k tokens is exactly "
    "L-k+1 consecutive window hits, so the island merge recovers the "
    "full extent D21's per-doc counts cannot express. The D21 gram "
    "pipeline (constant-width md5-key shuffle, distinct-(doc,gram) "
    "before the doc-count agg) plus ONE doc-keyed window over hit "
    "positions only and one (doc,island)-keyed aggregate -- no "
    "pairwise document compare.",
)
def dedup_spans(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.duplicated_spans(d, k=8, min_docs=2)


@register(
    "dedup_spans_trim",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    wins AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(t[u.i:u.i+7], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 8 + 2)) AS u(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS d FROM wins GROUP BY g)
      WHERE d >= 2
    ),
    hits AS (SELECT doc_id, pos FROM wins WHERE g IN (SELECT g FROM dup)),
    cov AS (
      SELECT DISTINCT h.doc_id, u.p AS pos
      FROM hits h, unnest(range(h.pos, h.pos + 8)) AS u(p)
    ),
    alltok AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
      FROM toks
    ),
    kept AS (
      SELECT a.doc_id, a.pos, a.tok
      FROM alltok a LEFT JOIN cov c ON a.doc_id = c.doc_id AND a.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT t.doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text,
           CAST(COUNT(k.pos) AS BIGINT) AS n_kept,
           CAST(MIN(len(t.t)) - COUNT(k.pos) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
    GROUP BY t.doc_id
    """,
    "D62 trim face: remove EVERY token covered by any duplicated "
    "8-window (Lee et al.'s ExactSubstr semantics -- all occurrences "
    "cut, stricter than D50's keep-one) and reassemble the remainder "
    "in order; one row per input document, a fully-duplicated doc "
    "comes back with text='' rather than vanishing. Hit positions fan "
    "out k-fold (constant) into covered positions, one (doc,pos) "
    "distinct, one (doc,pos) anti-join against the posexploded "
    "tokens, the D50 ordered-reassembly aggregate -- all keyed "
    "exchanges, no window on the data-scale path.",
)
def dedup_spans_trim(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.remove_duplicated_spans(d, k=8, min_docs=2)


@register(
    "text_novelty",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[u.i:u.i+2], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    first AS (SELECT g, MIN(doc_id) AS f FROM dg GROUP BY g),
    per_doc AS (
      SELECT dg.doc_id,
             COUNT(*) AS n_distinct_grams,
             SUM(CASE WHEN dg.doc_id = first.f THEN 1 ELSE 0 END)
               AS n_novel_grams
      FROM dg JOIN first USING (g)
      GROUP BY dg.doc_id
    )
    SELECT toks.doc_id,
           CAST(COALESCE(n_distinct_grams, 0) AS BIGINT)
             AS n_distinct_grams,
           CAST(COALESCE(n_novel_grams, 0) AS BIGINT) AS n_novel_grams,
           CASE WHEN COALESCE(n_distinct_grams, 0) > 0 THEN
             FLOOR(CAST(n_novel_grams AS DOUBLE) / n_distinct_grams
                   * 10000) / 10000
           END AS novelty
    FROM toks LEFT JOIN per_doc USING (doc_id)
    """,
    "D63: per-document n-gram NOVELTY (corpus-internal RAVEN metric, "
    "McCoy et al. 2021): fraction of each doc's distinct trigrams "
    "whose FIRST corpus occurrence (min doc_id = ingestion order) is "
    "this doc -- a copy scores 0, a genuinely new doc scores 1, "
    "derivative-but-unmatched boilerplate lands in between; scores "
    "how derivative each document is where C2/D25 only say which "
    "pairs collide. distinct-(doc,gram) before everything (a gram "
    "repeated m times in a doc costs ONE row), one gram-keyed "
    "min(id) aggregate, one gram-keyed equi-join back (m rows per "
    "shared gram, never m^2), one doc-keyed count agg; <n-token docs "
    "report NULL novelty, stated not silent; ratio floor-quantized "
    "1e-4 (the D52 tie rule).",
)
def text_novelty(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.ngram_novelty(d, n=3)


@register(
    "text_entropy",
    """
    WITH ch AS (
      SELECT doc_id, substr(text, u.i, 1) AS c
      FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
    ),
    cnt AS (SELECT doc_id, c, COUNT(*) AS n FROM ch GROUP BY doc_id, c),
    per_doc AS (
      SELECT doc_id,
             SUM(n) AS nc,
             COUNT(*) AS ndc,
             SUM(CAST(FLOOR(n * LN(n) * 1e6) AS BIGINT)) AS s
      FROM cnt GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(nc, 0) AS BIGINT) AS n_chars,
           CAST(COALESCE(ndc, 0) AS BIGINT) AS n_distinct_chars,
           CASE WHEN COALESCE(nc, 0) > 0 THEN
             ROUND(LN(nc) - CAST(s AS DOUBLE) / 1e6 / nc, 4)
           END AS entropy
    FROM documents d LEFT JOIN per_doc USING (doc_id)
    """,
    "D64: per-document character-level Shannon entropy in nats -- the "
    "classic low-information gate (keyboard mash / repeated-char spam "
    "/ single-token boilerplate score near 0, natural language near "
    "the corpus norm; the cheap complement to D52's word-level "
    "rules). Each cnt*ln(cnt) term is quantized to an INTEGER "
    "micro-nat before summing, so the aggregate is an order-"
    "independent int64 and results cannot drift with partitioning "
    "(the D56/D44 discipline). One (doc,char)-keyed count aggregate "
    "with map-side combine (exchange carries <=|alphabet| rows per "
    "doc per partition, never one per character) + one doc-keyed "
    "aggregate; empty docs report NULL entropy, stated not silent.",
)
def text_entropy(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.char_entropy(d)


@register(
    "text_zipf",
    """
    WITH terms AS (
      SELECT u.term, COUNT(*) AS freq
      FROM documents,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
             AS u(term)
      WHERE u.term <> ''
      GROUP BY u.term
    ),
    top AS (
      SELECT term, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rnk
      FROM terms ORDER BY freq DESC, term LIMIT 100
    ),
    q AS (
      SELECT rnk, term, freq,
             CAST(FLOOR(LN(rnk) * 1e6) AS HUGEINT) AS x,
             CAST(FLOOR(LN(freq) * 1e6) AS HUGEINT) AS y
      FROM top
    ),
    fit AS (
      SELECT COUNT(*) AS v, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM q
    )
    SELECT CAST(q.rnk AS BIGINT) AS rank, q.term,
           CAST(q.freq AS BIGINT) AS freq,
           ROUND(CAST(v * sxy - sx * sy AS DOUBLE)
                 / CAST(v * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
    FROM q, fit
    """,
    "D65: corpus rank-frequency (Zipf) report -- top-100 lowercased "
    "terms with rank/freq plus the fitted log-log slope (Zipf 1949; "
    "natural language ~ -1, templated/synthetic corpora bend the "
    "curve): the one-number corpus-health trend a 100 TB ingest "
    "tracks per snapshot. ln(rank)/ln(freq) quantized ONCE to "
    "integer micro-nats so every least-squares sum is order-"
    "independent DECIMAL(38,0)/HUGEINT arithmetic -- slope engine-"
    "exact at 1e-6; freq ties break by term so the LIST is exact. "
    "One term-keyed count agg (map-side combined), one "
    "TakeOrderedAndProject heap, rank window + slope aggregate on "
    "<= top_v rows by construction (the D59 bounded-window "
    "discipline), slope joined back as a broadcast one-row relation.",
)
def text_zipf(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.zipf_report(d, top_v=100)


@register(
    "dedup_source_overlap",
    """
    WITH rel AS (
      SELECT DISTINCT
        md5(array_to_string(
          list_sort(list_distinct(
            regexp_split_to_array(trim(text), '\\s+'))), ' ')) AS f,
        source AS s
      FROM documents
    ),
    totals AS (SELECT s, COUNT(*) AS n FROM rel GROUP BY s),
    inter AS (
      SELECT a.s AS source_a, b.s AS source_b, COUNT(*) AS n_common
      FROM rel a JOIN rel b ON a.f = b.f AND a.s < b.s
      GROUP BY a.s, b.s
    )
    SELECT source_a, source_b,
           CAST(ta.n AS BIGINT) AS n_a,
           CAST(tb.n AS BIGINT) AS n_b,
           CAST(n_common AS BIGINT) AS n_common,
           FLOOR(CAST(n_common AS DOUBLE) / (ta.n + tb.n - n_common)
                 * 10000) / 10000 AS jaccard,
           FLOOR(CAST(n_common AS DOUBLE) / LEAST(ta.n, tb.n)
                 * 10000) / 10000 AS containment
    FROM inter
    JOIN totals ta ON ta.s = source_a
    JOIN totals tb ON tb.s = source_b
    """,
    "D66: cross-source duplicate-overlap matrix (Elazar et al. 2023 "
    "WIMBD / Dodge et al. 2021 C4-audit corpus-overlap analysis) -- "
    "for every source pair sharing at least one document fingerprint, "
    "distinct-fingerprint counts + Jaccard + containment: which feeds "
    "mirror each other, BEFORE paying for pairwise cross-source "
    "document dedup. Registered on the bag-of-words fingerprint (md5 "
    "of the sorted distinct token set -- catches shuffled/re-templated "
    "mirrors; mode='exact' for byte-identical only). distinct "
    "(fp, source) first (a doc repeated m times in a source costs ONE "
    "row); the pair join meets only on the fp key, so a fingerprint in "
    "s sources costs C(s,2) rows -- bounded by source cardinality "
    "squared, never documents^2; totals are a |sources|-row reviewed "
    "broadcast; ratios floor-quantized 1e-4.",
)
def dedup_source_overlap(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dedup.source_overlap_matrix(d, fingerprint="bow")


@register(
    "embedding_health",
    """
    WITH sq AS (
      SELECT vec_id, label,
             ROUND(SUM(CAST(embedding[i + 1] AS DOUBLE)
                       * CAST(embedding[i + 1] AS DOUBLE)), 6) AS s
      FROM embeddings, range(64) t(i)
      GROUP BY vec_id, label
    ),
    pl AS (
      SELECT label, COUNT(*) AS n, ROUND(AVG(s), 6) AS msn
      FROM sq GROUP BY label
    ),
    cent AS (
      SELECT label, i,
             ROUND(AVG(CAST(embedding[i + 1] AS DOUBLE)), 6) AS c
      FROM embeddings, range(64) t(i)
      GROUP BY label, i
    ),
    cn AS (
      SELECT label, ROUND(SUM(c * c), 6) AS csn FROM cent GROUP BY label
    )
    SELECT pl.label, CAST(n AS BIGINT) AS n_vecs,
           msn AS mean_sq_norm, csn AS centroid_sq_norm,
           ROUND(csn / msn, 4) AS concentration
    FROM pl JOIN cn USING (label)
    """,
    "D67: per-label embedding-space health (Ethayarajh 2019 "
    "anisotropy diagnostic): vector count, mean squared norm, "
    "CENTROID squared norm, and their ratio (concentration) -- "
    "isotropic spread scores ~0 (centroid cancels), a space collapsed "
    "onto one direction scores ~1; a concentration jump between "
    "ingest snapshots means the embedding model or data shifted, "
    "BEFORE cosine dedup (C2/D31) and ANN recall (C3) quietly "
    "degrade. One left-to-right norm fold per vector (8-byte column "
    "through the shuffle, the C3 norm-hoisting discipline), one "
    "label-keyed agg, one posexplode + (label,dim)-keyed agg "
    "(exchange carries dim x |labels| partials, never vector "
    "groups), |labels|-row join; per-vector and per-dim values "
    "rounded 1e-6 before downstream sums (the embedding_centroids "
    "cross-engine precedent).",
)
def embedding_health(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.embedding_health_report(e)


@register(
    "sample_kcenter",
    None,  # k rounds of argmax-over-min-distance are iterative, not
           # SQL-expressible — rows-only; tests/test_kcenter.py proves
           # the selection bit-equal to a pure-Python twin (left-to-
           # right float64 folds, id tie-breaks) and partitioning-
           # independent (the kmeans/BPE precedent)
    "D68: k-center greedy coreset selection (Gonzalez 1985 farthest-"
    "point traversal; Sener & Savarese 2018 coreset selector): seed "
    "at the max-norm vector, then repeatedly pick the vector FARTHEST "
    "from everything chosen -- the diversity-maximizing counterpart "
    "of the density samplers (D14/D46/D57), covering the embedding "
    "space's extremes for review sets and codebook init. "
    "Deterministic end to end (no RNG: fixed folds + id tie-breaks); "
    "each of the k rounds is one zero-shuffle distance projection "
    "against the single newest center + a TakeOrderedAndProject "
    "1-row argmax (bounded metadata), with localCheckpoint pinning "
    "the running min-distance state so lineage stays constant in k "
    "(the D41 discipline). k is a review budget (16 here), never "
    "data-scale.",
)
def sample_kcenter(spark, sf_dir):
    e = T(spark, sf_dir, "embeddings")
    return similarity.kcenter_greedy(e, k=16)


@register(
    "text_hashed_features",
    """
    WITH toks AS (
      SELECT doc_id, u.tok AS tok
      FROM documents,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
             AS u(tok)
      WHERE u.tok <> ''
    ),
    h AS (
      SELECT doc_id, md5(tok) AS hx FROM toks
    )
    SELECT doc_id, substring(hx, 1, 2) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN
                 (instr('0123456789abcdef', substring(hx, 3, 1)) - 1)
                 % 2 = 0
               THEN 1 ELSE -1 END) AS BIGINT) AS signed_sum
    FROM h
    GROUP BY doc_id, substring(hx, 1, 2)
    """,
    "D69: feature hashing / the hashing trick (Weinberger et al. "
    "2009): every token maps to one of 256 buckets by md5-hex prefix "
    "(the D51 char-for-char discipline -- no base conversion "
    "ambiguity) with a signed sum from an independent hash bit so "
    "collisions cancel in expectation -- the vocabulary-free sparse "
    "document representation that quality/domain classifiers train "
    "on with NO vocabulary build or shipping. One explode with "
    "bucket/sign in the same codegen projection + ONE (doc,bucket)-"
    "keyed count/sum aggregate with map-side combine (exchange "
    "carries <= 256 rows per doc per partition regardless of doc "
    "length; pinned at exactly 1 Exchange); all-integer output.",
)
def text_hashed_features(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.hashed_features(d, hex_chars=2)


@register(
    "pipeline_decontaminate_spans",
    """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    nw AS (
      SELECT DISTINCT md5(array_to_string(t[u.i:u.i+2], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3 AND doc_id % 100 = 0
    ),
    tw AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(t[u.i:u.i+2], ' ')) AS g
      FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3 AND doc_id % 100 <> 0
    ),
    hits AS (SELECT doc_id, pos FROM tw WHERE g IN (SELECT g FROM nw)),
    cov AS (
      SELECT DISTINCT h.doc_id, u.p AS pos
      FROM hits h, unnest(range(h.pos, h.pos + 3)) AS u(p)
    ),
    alltok AS (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok
      FROM toks WHERE doc_id % 100 <> 0
    ),
    kept AS (
      SELECT a.doc_id, a.pos, a.tok
      FROM alltok a LEFT JOIN cov c
        ON a.doc_id = c.doc_id AND a.pos = c.pos
      WHERE c.pos IS NULL
    )
    SELECT t.doc_id,
           COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS text,
           CAST(COUNT(k.pos) AS BIGINT) AS n_kept,
           CAST(MIN(len(t.t)) - COUNT(k.pos) AS BIGINT) AS n_removed
    FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
    WHERE t.doc_id % 100 <> 0
    GROUP BY t.doc_id
    """,
    "D71: span-level benchmark decontamination (the GPT-3/PaLM-"
    "lineage practice, Brown et al. 2020: remove leaked SPANS around "
    "eval collisions, not whole documents): cut every token covered "
    "by a trigram shared with the eval slice (doc_id %% 100 = 0, the "
    "D16 convention) and reassemble in order -- the surgical "
    "alternative to D16's document-level flag that would waste 99.9%% "
    "of a 10k-token doc over one leaked footer sentence; one row per "
    "train doc, fully-contaminated docs come back text='' (the D62 "
    "contract). Needle grams DISTINCT-ed then broadcast (eval suites "
    "are bounded metadata -- map-side semi-join probe, pinned); hits "
    "expand k-fold (constant) into covered positions; all data-scale "
    "exchanges keyed on doc id.",
)
def pipeline_decontaminate_spans(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 100 != 0)
    holdout = d.filter(F.col("doc_id") % 100 == 0)
    return dedup.remove_matching_spans(train, holdout, k=3)


@register(
    "text_heaps",
    """
    WITH m AS (SELECT MIN(doc_id) AS lo,
                      MAX(doc_id) - MIN(doc_id) + 1 AS mx
               FROM documents),
    toks AS (
      SELECT doc_id, u.term
      FROM documents,
           unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
             AS u(term)
      WHERE u.term <> ''
    ),
    tb AS (
      SELECT LEAST(19, CAST(FLOOR(
               (CAST(doc_id AS DOUBLE) - CAST(lo AS DOUBLE)) * 20 / mx)
                            AS INT)) AS bucket,
             COUNT(*) AS n_tokens
      FROM toks, m GROUP BY 1
    ),
    db AS (
      SELECT LEAST(19, CAST(FLOOR(
               (CAST(doc_id AS DOUBLE) - CAST(lo AS DOUBLE)) * 20 / mx)
                            AS INT)) AS bucket,
             COUNT(*) AS n_docs
      FROM documents, m GROUP BY 1
    ),
    first AS (
      SELECT term, MIN(doc_id) AS fid
      FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ),
    nb AS (
      SELECT LEAST(19, CAST(FLOOR(
               (CAST(fid AS DOUBLE) - CAST(lo AS DOUBLE)) * 20 / mx)
                            AS INT)) AS bucket,
             COUNT(*) AS new_terms
      FROM first, m GROUP BY 1
    ),
    curve AS (
      SELECT db.bucket, n_docs,
             COALESCE(n_tokens, 0) AS n_tokens,
             COALESCE(new_terms, 0) AS new_terms
      FROM db LEFT JOIN tb USING (bucket) LEFT JOIN nb USING (bucket)
    ),
    cum AS (
      SELECT bucket, n_docs, n_tokens, new_terms,
             SUM(n_tokens) OVER (ORDER BY bucket) AS cum_tokens,
             SUM(new_terms) OVER (ORDER BY bucket) AS cum_vocab
      FROM curve
    ),
    q AS (
      SELECT CAST(FLOOR(LN(cum_tokens) * 1e6) AS HUGEINT) AS x,
             CAST(FLOOR(LN(cum_vocab) * 1e6) AS HUGEINT) AS y
      FROM cum WHERE cum_tokens > 0 AND cum_vocab > 0
    ),
    fit AS (
      SELECT COUNT(*) AS v, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM q
    )
    SELECT cum.bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(new_terms AS BIGINT) AS new_terms,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_vocab AS BIGINT) AS cum_vocab,
           ROUND(CAST(v * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(v * sxx - sx * sx AS DOUBLE), 0),
                 6) AS heaps_beta
    FROM cum, fit
    """,
    "D72: Heaps'-law vocabulary-growth curve (Heaps 1978 -- the twin "
    "corpus law to D65's Zipf): per ingestion-order bucket, tokens "
    "seen / NEW distinct terms / cumulative vocabulary, plus the "
    "fitted exponent beta of V(n) ~ K*n^beta (natural language "
    "~0.4-0.6; beta -> 0 = the corpus is saturating and new ingestion "
    "buys repetition, not coverage -- the corpus-level trend behind "
    "D63's per-doc novelty). One term-keyed min(id) aggregate + one "
    "doc-bucket token count; ALL remaining math (cumulative window, "
    "quantized-LS beta fit) runs on the <= n_buckets bounded relation "
    "(D59/D65 funnel discipline); id-range and fit relations are "
    "reviewed 1-row broadcasts; buckets normalize by (id - min_id) so "
    "offset id spaces spread correctly; beta engine-exact at 1e-6 via "
    "integer micro-nat sums, NULL on a degenerate (zero-denominator) "
    "fit via try_divide.",
)
def text_heaps(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.heaps_growth(d, n_buckets=20)


@register(
    "pipeline_token_budget",
    """
    WITH avail AS (
      SELECT source,
             SUM(len(list_filter(
               regexp_split_to_array(trim(text), '\\s+'),
               t -> t <> ''))) AS av
      FROM documents GROUP BY source
    ),
    caps AS (SELECT source, av, av * 4 AS cap FROM avail),
    r AS (
      SELECT source, av, cap,
             ROW_NUMBER() OVER (ORDER BY cap, source) AS j,
             COALESCE(SUM(cap) OVER (ORDER BY cap, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS p,
             COUNT(*) OVER () AS m
      FROM caps
    ),
    line AS (
      SELECT SUM(CASE WHEN p + (m - j + 1) * cap <= 50000
                      THEN 1 ELSE 0 END) AS nc,
             COALESCE(SUM(CASE WHEN p + (m - j + 1) * cap <= 50000
                               THEN cap END), 0) AS pc,
             MAX(m) AS mm
      FROM r
    ),
    theta AS (
      SELECT CASE WHEN nc < mm THEN
        GREATEST(CAST(FLOOR(CAST(50000 - pc AS DOUBLE) / (mm - nc))
                      AS BIGINT), 0) END AS th
      FROM line
    )
    SELECT r.source,
           CAST(av AS BIGINT) AS avail_tokens,
           CAST(cap AS BIGINT) AS cap_tokens,
           CAST(CASE WHEN th IS NULL THEN cap ELSE LEAST(cap, th) END
                AS BIGINT) AS alloc_tokens,
           CASE WHEN av > 0 THEN
             FLOOR(CAST(CASE WHEN th IS NULL THEN cap
                        ELSE LEAST(cap, th) END AS DOUBLE)
                   / av * 10000) / 10000 END AS epochs
    FROM r, theta
    """,
    "D73: data-constrained token-budget WATER-FILLING (Muennighoff et "
    "al. 2023: repeating data pays up to ~4 epochs): allocate a "
    "50k-token training budget across sources where every source "
    "drinks to the shared waterline or its 4-epoch cap, whichever is "
    "lower -- the allocation step between D44's temperature "
    "proportions (no cap semantics) and the samplers that materialize "
    "rows. Waterline from integer prefix sums over caps sorted "
    "ascending (theta = floor((B - sum capped)/(m - n_capped))) -- "
    "every allocation engine-exact integer arithmetic, total <= "
    "budget with slack < m stated; epochs floor-quantized 1e-4. ONE "
    "source-keyed token-count aggregate over the corpus (map-side "
    "combined) is the only data-scale stage; everything else runs on "
    "the <= |sources| bounded relation (D59/D65 funnel discipline) "
    "with a 1-row waterline reviewed broadcast.",
)
def pipeline_token_budget(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import (
        token_budget_allocation,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return token_budget_allocation(
        d, budget_tokens=50_000, max_epochs=4
    )


@register(
    "dedup_soft_weights",
    """
    WITH fp AS (
      SELECT doc_id, source,
             md5(array_to_string(
               list_sort(list_distinct(
                 regexp_split_to_array(trim(text), '\\s+'))), ' '))
               AS f
      FROM documents
    ),
    sz AS (SELECT f, COUNT(*) AS n FROM fp GROUP BY f)
    SELECT doc_id, source,
           CAST(n AS BIGINT) AS n_copies,
           FLOOR(10000.0 / n) / 10000 AS weight
    FROM fp JOIN sz USING (f)
    """,
    "D74: duplicate-aware REWEIGHTING instead of removal (SoftDeDup, "
    "He et al. 2024 ACL): every document keeps its copies but carries "
    "its duplicate-cluster size and a 1/n loss weight, so each "
    "cluster contributes exactly 1.0 total influence -- equivalent in "
    "expectation to hard dedup without discarding the published-n-"
    "times signal (sqrt mode = 1/sqrt(n), the frequency-damped middle "
    "ground). Registered on the D66 bag-of-words fingerprint (the "
    "fixture has no byte-identical duplicates; bow clusters exist). "
    "ONE fingerprint-keyed count aggregate (constant 32-byte key, "
    "map-side combined) + one fingerprint-keyed join back (n rows per "
    "cluster, never n^2); weights floor-quantized 1e-4.",
)
def dedup_soft_weights(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dedup.soft_dedup_weights(
        d, mode="inverse", fingerprint="bow"
    ).select("doc_id", "source", "n_copies", "weight")


def _lsh_plan_oracle() -> str:
    grid = [(b, 64 // b) for b in range(1, 65) if 64 % b == 0]

    def chain(expr: str, n: int) -> str:
        out = expr
        for _ in range(n - 1):
            out = f"({out} * {expr})"
        return out

    arms = []
    for b, r in grid:
        inner = f"(1.0 - {chain('s', r)})"
        p = f"(1.0 - {chain(inner, b)})"
        deciles = ", ".join(
            f"CAST({round(1.0 - (1.0 - (d / 10.0) ** r) ** b, 4)} "
            f"AS DOUBLE) AS p_at_{d * 10}"
            for d in range(1, 10)
        )
        arms.append(
            f"SELECT {b} AS bands, {r} AS rows_per_band, "
            f"CAST(COUNT(*) AS BIGINT) AS n_candidates, "
            f"ROUND(SUM(CAST(FLOOR({p} * 1e6) AS BIGINT)) / 1e6, 4) "
            f"AS expected_pairs, {deciles} FROM pairs"
        )
    union = " UNION ALL ".join(arms)
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(t[u.i:u.i+2], ' ')) AS gr
      FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS ic
      FROM g a JOIN g b ON a.gr = b.gr AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT ROUND(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 4) AS s
      FROM inter
      JOIN sizes sa ON sa.doc_id = ia
      JOIN sizes sb ON sb.doc_id = ib
      WHERE CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) >= 0.05
    )
    {union}
    """


@register(
    "dedup_lsh_plan",
    _lsh_plan_oracle(),
    "D74b: data-driven MinHash-LSH parameter planner (the MMDS ch.3 "
    "banding S-curve, 1-(1-s^r)^b, evaluated over THIS corpus' exact "
    "candidate-Jaccard distribution from the D25 inverted trigram "
    "index): per (b, r) factorization of the 64-hash budget, the "
    "expected colliding-pair count plus the collision probability at "
    "each similarity decile -- tune the C2 family from a report "
    "instead of trial runs. Powers are LEFT-ASSOCIATED MULTIPLY "
    "CHAINS, never pow() (libm pow is not correctly rounded and "
    "differs across engines by ulps, flipping quantization floors; a "
    "fixed multiply sequence over the identical int/int Jaccard "
    "double is bit-exact in any IEEE engine -- pinned by the Python "
    "twin); per-pair probabilities quantized ONCE to integer micro "
    "units before the order-independent sum; decile columns are "
    "Python-evaluated constants of (b, r). Candidates from the gram "
    "index (never O(n^2)); one grid-keyed aggregate over candidates x "
    "7 grid rows.",
)
def dedup_lsh_plan(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.lsh_parameter_plan(
        d, num_hashes=64, shingle_n=3, index_threshold=0.05
    )


# Exact NB-classifier oracle (D75) — shared verbatim by
# text_classifier_nb and the D95 agreement face, which joins it
# against the LR oracle.
_NB_ORACLE = r"""
    WITH lab AS (
      SELECT doc_id, text,
             (source IN ('src1', 'src3')) AS is_t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, is_t, substring(md5(w), 1, 2) AS b
      FROM (
        SELECT doc_id, is_t,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS w
        FROM lab
      ) WHERE w <> ''
    ),
    bags AS (
      SELECT b,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cn
      FROM tok GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS t1, SUM(cn) AS t0 FROM bags),
    lam AS (
      SELECT b,
             CAST(FLOOR((ln(ct + 1.0) - ln(t1 + 256.0)
                         - ln(cn + 1.0) + ln(t0 + 256.0))
                        * 1000000) AS BIGINT) AS lam_micro
      FROM bags, tot
    ),
    pri AS (
      SELECT CAST(FLOOR(
               (ln(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1.0)
                - ln(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) + 1.0))
               * 1000000) AS BIGINT) AS prior_micro
      FROM lab
    ),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b
    )
    SELECT dc.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(c * lam_micro) + ANY_VALUE(prior_micro)
                AS BIGINT) AS score_micro,
           (SUM(c * lam_micro) + ANY_VALUE(prior_micro)) > 0
             AS pred_target
    FROM dc JOIN lam USING (b), pri
    GROUP BY dc.doc_id
"""


@register(
    "text_classifier_nb",
    _NB_ORACLE,
    "D75: trained quality classifier -- the fastText-style corpus "
    "filter (Brown et al. 2020 Appendix A: score raw text against a "
    "trusted reference domain, keep what the classifier likes; Joulin "
    "et al. 2016). Closed-form multinomial Naive Bayes over the D51 "
    "hashed-unigram space (256 md5-hex buckets): per-bucket log-odds "
    "and the document prior quantized ONCE to integer micro-nats "
    "(the D48/D51 recipe), so per-doc scores are order-independent "
    "int64 sums and the keep/drop decision (score > 0) is an integer "
    "compare -- the full surface hash-adjudicates. Self-trained here: "
    "target = source src1/src3, everyone scored. Two <=256-row bag "
    "aggregates off ONE token scan, broadcast log-odds + prior joins, "
    "one (id,bucket) exchange + one id-keyed sum -- the D51 plan "
    "shape.",
)
def text_classifier_nb(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        nb_classifier_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return nb_classifier_score(
        d, F.col("source").isin("src1", "src3")
    )


@register(
    "text_lm3_score",
    r"""
    WITH tr AS (
      SELECT text FROM documents WHERE source IN ('src1', 'src3')
    ),
    ttoks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM tr
    ),
    tg_train AS (
      SELECT u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
      FROM ttoks,
           UNNEST(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]))
             AS u(z)
      WHERE len(t) >= 3
        AND u.z[1] <> '' AND u.z[2] <> '' AND u.z[3] <> ''
    ),
    tri AS (
      SELECT w1, w2, w3, COUNT(*) AS c123 FROM tg_train GROUP BY 1, 2, 3
    ),
    bg_train AS (
      SELECT u.z[1] AS w1, u.z[2] AS w2
      FROM ttoks,
           UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(z)
      WHERE len(t) >= 2 AND u.z[1] <> '' AND u.z[2] <> ''
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bg_train GROUP BY 1, 2),
    uni AS (
      SELECT w, COUNT(*) AS cu
      FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS w
        FROM tr
      ) WHERE w <> '' GROUP BY w
    ),
    tot AS (
      SELECT COALESCE(SUM(cu), 0) AS n_tok, COUNT(*) AS v FROM uni
    ),
    alltoks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM documents
    ),
    tg AS (
      SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
      FROM alltoks,
           UNNEST(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]))
             AS u(z)
      WHERE len(t) >= 3
        AND u.z[1] <> '' AND u.z[2] <> '' AND u.z[3] <> ''
    ),
    q AS (
      SELECT tg.doc_id,
             CAST(FLOOR(LN(
               CASE
                 WHEN tri.c123 IS NOT NULL
                   THEN CAST(tri.c123 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
                 WHEN b23.cb IS NOT NULL
                   THEN 0.4 * CAST(b23.cb AS DOUBLE)
                        / CAST(u2.cu AS DOUBLE)
                 ELSE 0.4 * 0.4 *
                      ((COALESCE(u3.cu, 0) + 1.0)
                       / CAST(tot.n_tok + tot.v AS DOUBLE))
               END) * 1000000) AS BIGINT) AS lq
      FROM tg
      LEFT JOIN tri USING (w1, w2, w3)
      LEFT JOIN bi b12 ON tg.w1 = b12.w1 AND tg.w2 = b12.w2
      LEFT JOIN bi b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
      LEFT JOIN uni u2 ON tg.w2 = u2.w
      LEFT JOIN uni u3 ON tg.w3 = u3.w, tot
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
           ROUND(-SUM(lq) / (COUNT(*) * 1000000.0), 4) AS score
    FROM q GROUP BY doc_id
    """,
    "D76: trigram STUPID-BACKOFF cross-entropy scoring (Brants et al. "
    "2007 -- at web scale skip discounting, back off with the fixed "
    "alpha = 0.4 penalty): S(w3|w1,w2) = trigram MLE, else "
    "alpha * bigram MLE, else alpha^2 * add-1 unigram -- the published "
    "CCNet-recipe upgrade over D48's bigram model (VERDICT r11 ask "
    "#6). Trained on the src1/src3 split, EVERY doc scored, so all "
    "three backoff levels fire. Per-trigram ln S quantized ONCE to "
    "integer micro-nats (order-independent int64 sums, the D48 "
    "recipe); float expression trees mirrored operator-for-operator "
    "(left-assoc multiply chains, same division order) so floors "
    "agree bit-for-bit. Model = four keyed partial-agg exchanges over "
    "vocabulary-bounded relations (AQE broadcasts them at scale); "
    "tokenize+trigram is a zero-shuffle slice+zip projection; seen "
    "branches' denominators provably positive (trigram seen -> its "
    "prefix bigram seen), empty-train N+V=0 -> NULL via try_divide.",
)
def text_lm3_score(spark, sf_dir):
    from mysql2parquet_spark.operators.lm import lm3_score

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    train = d.filter(F.col("source").isin("src1", "src3")).select(
        "doc_id", "text"
    )
    return lm3_score(d.select("doc_id", "text"), train=train)


@register(
    "text_winnow_words",
    r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id, u.i AS pos,
             md5(array_to_string(t[u.i:u.i+2], ' ')) AS h
      FROM toks, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    w AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS m,
             COUNT(*) OVER (PARTITION BY doc_id) AS ng
      FROM g
    )
    SELECT DISTINCT doc_id, m AS fp
    FROM w WHERE pos <= GREATEST(ng - 3, 1)
    """,
    "D77: WORD-level winnowing fingerprints with an exact "
    "cross-engine contract (Schleimer/Wilkerson/Aiken SIGMOD'03 -- "
    "window-min of consecutive k-gram hashes guarantees any shared "
    "run of >= window+k-1 tokens shares a fingerprint, density "
    "2/(window+1)): gram hash = md5 HEX STRING, window min = plain "
    "string comparison over [0-9a-f] -- both bit-identical in any "
    "engine, so the selected SET hash-adjudicates and upgrades the "
    "winnow family from rows-only (the char-level rolling-hash face "
    "stays for fine granularity). k=3 words, window=4. Tokens -> "
    "gram md5s -> sliding string-min -> per-doc distinct are ALL "
    "zero-shuffle array projections (elementwise least over 4 "
    "shifted copies, constant references); the only exchange is "
    "fan_out's deliberate core-spreading repartition -- no "
    "aggregation or join shuffle anywhere.",
)
def text_winnow_words(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.winnow_fingerprints_words(d, k=3, window=4)


@register(
    "text_source_kl",
    r"""
    WITH tok AS (
      SELECT source, substring(md5(w), 1, 2) AS b
      FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS w
        FROM documents WHERE source IS NOT NULL
      ) WHERE w <> ''
    ),
    sb AS (SELECT source, b, COUNT(*) AS cs FROM tok GROUP BY 1, 2),
    corpus AS (SELECT b, SUM(cs) AS c FROM sb GROUP BY b),
    tot AS (SELECT SUM(c) AS t FROM corpus),
    st AS (SELECT source, SUM(cs) AS ts FROM sb GROUP BY source),
    buckets AS (
      SELECT printf('%02x', r.i) AS b FROM range(0, 256) AS r(i)
    ),
    grid AS (
      SELECT st.source, st.ts,
             COALESCE(sb.cs, 0) AS cs,
             COALESCE(corpus.c, 0) AS c,
             tot.t
      FROM st
      CROSS JOIN buckets
      LEFT JOIN corpus ON corpus.b = buckets.b
      CROSS JOIN tot
      LEFT JOIN sb ON sb.source = st.source AND sb.b = buckets.b
    ),
    q AS (
      SELECT source, ts,
             CAST(FLOOR(((cs + 1.0) / (ts + 256.0))
                        * LN(((cs + 1.0) / (ts + 256.0))
                             / ((c + 1.0) / (t + 256.0)))
                        * 1e9) AS BIGINT) AS tq
      FROM grid
    )
    SELECT source, CAST(MAX(ts) AS BIGINT) AS n_tokens,
           ROUND(SUM(tq) / 1e9, 9) AS kl
    FROM q GROUP BY source
    """,
    "D79: per-source lexical KL-divergence report -- KL(source || "
    "corpus) over add-1-smoothed hashed-unigram distributions "
    "(Kullback-Leibler 1951; the WIMBD-style per-source "
    "distributional audit, Elazar et al. 2024): how far each "
    "ingestion source's vocabulary drifts from the pool -- the "
    "token-level counterpart of D18's PSI. Every bucket of the fixed "
    "256-bucket space contributes (the smoothed distributions have "
    "no zero terms -- corpus-empty buckets included via the "
    "source x bucket grid, bounded by configuration); each P*ln(P/Q) "
    "term quantized ONCE to integer NANO-nats (finer than micro "
    "because per-bucket terms are tiny) so per-source sums are "
    "order-independent int64; ROUND 9 is an identity on the "
    "nano-quotient, so the .xx5 cross-engine rounding divergence "
    "can never fire. ONE (source,bucket) count aggregate is the only "
    "data-scale stage; marginals derive from it, no second scan.",
)
def text_source_kl(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return text.source_kl_report(d)


def _jl_oracle() -> str:
    """Generated JL oracle: the sign literals come from the SAME
    content-addressed generator as the Spark plan (jl_signs), so both
    engines evaluate the identical ±1 matrix — the D74b
    Python-evaluated-constants precedent."""
    from mysql2parquet_spark.operators.similarity import jl_signs

    signs = jl_signs(16, 64)
    values = ", ".join(
        f"({j}, {i}, {signs[j][i]})"
        for j in range(16)
        for i in range(64)
    )
    return f"""
    WITH s(pos, i, sg) AS (VALUES {values}),
    e AS (
      -- in_dims = 64 is the registered configuration (the operator
      -- parameterizes it; DuckDB range() cannot lateral-join on the
      -- list length, so the constant mirrors the config)
      SELECT vec_id, CAST(r.i AS INTEGER) AS i,
             CAST(embedding[CAST(r.i AS INTEGER) + 1] AS DOUBLE) AS x
      FROM embeddings, range(0, 64) AS r(i)
    )
    SELECT e.vec_id, s.pos,
           CAST(SUM(CAST(FLOOR(x * sg * 1e6) AS BIGINT)) AS BIGINT)
             AS v_micro
    FROM e JOIN s USING (i)
    GROUP BY e.vec_id, s.pos
    """


@register(
    "embedding_jl_project",
    _jl_oracle(),
    "D80: Johnson-Lindenstrauss projection 64->16 with a +-1 SIGN "
    "matrix and an exact cross-engine contract (Achlioptas 2003, "
    "'Database-friendly random projections': +-1 entries satisfy the "
    "JL lemma with Gaussian-grade distortion bounds, no float RNG). "
    "Sign (j,i) = md5 parity of 'jl:j:i', evaluated in Python at "
    "plan time and embedded as literals in BOTH engines (the D74b "
    "decile-constant precedent) -- a pure deterministic function of "
    "configuration, upgrading the projection family (C3's "
    "embedding_project, rows-only since r4) to hash-adjudicated. "
    "Per-TERM micro quantization makes each component an "
    "order-independent int64 sum (deviation from the float dot "
    "product < 64e-6, stated). 16 zip_with+aggregate folds in ONE "
    "zero-shuffle projection; scalar (vec_id, pos, v_micro) output "
    "per the head-shape lint.",
)
def embedding_jl_project(spark, sf_dir):
    from mysql2parquet_spark.operators.similarity import (
        jl_sign_projection,
    )

    e = T(spark, sf_dir, "embeddings")
    return jl_sign_projection(e, 16, in_dims=64)


@register(
    "text_burstiness",
    r"""
    WITH td AS (
      SELECT term, doc_id, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS term
        FROM documents
      ) WHERE term <> ''
      GROUP BY term, doc_id
    ),
    stats AS (
      SELECT term, SUM(c) AS freq, SUM(c * c) AS sc2,
             COUNT(*) AS n_docs
      FROM td GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    top AS (
      SELECT term, freq, sc2, n_docs
      FROM stats ORDER BY freq DESC, term ASC LIMIT 100
    ),
    q AS (
      SELECT term, freq, n_docs,
             CAST(FLOOR((CAST(sc2 AS DOUBLE) / CAST(freq AS DOUBLE)
                         - CAST(freq AS DOUBLE) / CAST(nd AS DOUBLE))
                        * 1000000) AS BIGINT) AS vq
      FROM top, n
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC)
                AS BIGINT) AS rank,
           term, CAST(freq AS BIGINT) AS freq,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(vq / 1000000.0, 6) AS vmr
    FROM q
    """,
    "D81: per-term BURSTINESS report (Church & Gale 1995, 'Poisson "
    "mixtures': content words burst -- once a doc mentions one it "
    "repeats it -- function words arrive near-Poisson): for the 100 "
    "most frequent terms, the dispersion index VMR = Var/mean of "
    "per-doc counts over ALL N documents, zero-count docs included "
    "ANALYTICALLY (VMR = sum(c^2)/T - T/N -- no zero rows ever "
    "materialize). VMR ~ 1 = Poisson filler, >> 1 = topical burst; a "
    "frequent LOW-VMR term spread thin everywhere is boilerplate -- "
    "the term-level lens D50/D65 don't give. Exact: integer moments, "
    "two int->double divisions mirrored operator-for-operator, "
    "micro-quantized, identity ROUND 6. One (term,doc) count "
    "aggregate + one term moment aggregate (both map-side combined), "
    "TakeOrderedAndProject top-k, rank window on <= 100 rows (D65 "
    "bounded-window discipline), N as a broadcast 1-row relation.",
)
def text_burstiness(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.burstiness_report(d, top_v=100)


@register(
    "text_readability",
    r"""
    WITH w AS (
      SELECT doc_id, text,
             list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               t -> t <> '') AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             GREATEST(1, len(regexp_extract_all(text, '[.!?]+')))
               AS n_sentences,
             len(ws) AS n_words,
             COALESCE(list_sum(list_transform(ws, t ->
               GREATEST(1,
                 length(regexp_replace(t, '[aeiouy]+', '#', 'g'))
                 - length(replace(
                     regexp_replace(t, '[aeiouy]+', '#', 'g'),
                     '#', ''))))), 0) AS n_syllables
      FROM w
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           ROUND(CAST(FLOOR((0.39 * (CAST(n_words AS DOUBLE)
                                     / CAST(n_sentences AS DOUBLE))
                             + 11.8 * (CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE))
                             - 15.59) * 1000000) AS BIGINT)
                 / 1000000.0, 6) AS fk_grade,
           ROUND(CAST(FLOOR((206.835
                             - 1.015 * (CAST(n_words AS DOUBLE)
                                        / CAST(n_sentences AS DOUBLE))
                             - 84.6 * (CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE)))
                            * 1000000) AS BIGINT)
                 / 1000000.0, 6) AS flesch_ease
    FROM c WHERE n_words > 0
    """,
    "D82: Flesch-Kincaid readability scoring (Flesch 1948 reading "
    "ease; Kincaid et al. 1975 grade level -- the standardized "
    "surface-feature readability pair, a corpus-quality lens next to "
    "D52's rules and D48/D76's LM scores). Syllables = vowel-group "
    "proxy (maximal [aeiouy] runs, min 1 per word -- the usual "
    "machine form, stated as a proxy); sentences = maximal [.!?] "
    "runs (min 1). Formulas are fixed double trees over integer "
    "ratios mirrored operator-for-operator, micro-quantized with "
    "identity ROUND 6 (the D79 discipline). ONE zero-shuffle "
    "projection -- nothing aggregates across rows; zero-word docs "
    "absent (the D48 contract).",
)
def text_readability(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return text.readability_report(d)


@register(
    "text_vocab_composition",
    r"""
    WITH st AS (
      SELECT source, term, COUNT(*) AS c
      FROM (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS term
        FROM documents WHERE source IS NOT NULL
      ) WHERE term <> ''
      GROUP BY source, term
    ),
    spread AS (
      SELECT term, COUNT(*) AS n_sources FROM st GROUP BY term
    ),
    agg AS (
      SELECT source,
             SUM(c) AS n_tokens,
             COUNT(*) AS vocab,
             SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
             SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
               AS exclusive_terms
      FROM st JOIN spread USING (term)
      GROUP BY source
    )
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(hapax AS BIGINT) AS hapax,
           CAST(exclusive_terms AS BIGINT) AS exclusive_terms,
           ROUND(CAST(FLOOR(CAST(vocab AS DOUBLE)
                            / CAST(n_tokens AS DOUBLE) * 1000000)
                      AS BIGINT) / 1000000.0, 6) AS ttr,
           ROUND(CAST(FLOOR(CAST(hapax AS DOUBLE)
                            / CAST(vocab AS DOUBLE) * 1000000)
                      AS BIGINT) / 1000000.0, 6) AS hapax_ratio,
           ROUND(CAST(FLOOR(CAST(exclusive_terms AS DOUBLE)
                            / CAST(vocab AS DOUBLE) * 1000000)
                      AS BIGINT) / 1000000.0, 6) AS exclusive_ratio
    FROM agg
    """,
    "D83: per-source vocabulary-composition report (lexical richness "
    "in the LNRE tradition, Baayen 2001: hapax share is the classic "
    "productivity measure; TTR its crude cousin): tokens, vocabulary, "
    "hapax count, EXCLUSIVE vocabulary (terms no other source uses -- "
    "the set-membership complement of D79's distributional KL: "
    "mostly-exclusive = novel domain, mostly-shared = redundant with "
    "the pool). Ratios micro-quantized, identity ROUND 6; ONE "
    "(source,term) count aggregate is the only data-scale stage, the "
    "per-term source-spread derives from it and joins back on the "
    "vocabulary-bounded term key (AQE broadcasts), one source "
    "aggregate finishes. Denominators are group counts, provably "
    ">= 1 where a group exists.",
)
def text_vocab_composition(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return text.vocab_composition_report(d)


@register(
    "dedup_minhash_planned",
    None,  # approximate (LSH banding) — rows-only; the plan→parameter
    # wiring and the recall/cost frontier are pinned in
    # tests/test_soft_lsh_plan.py
    "C2/D74b end-to-end: MinHash near-dup dedup whose (bands, "
    "rows_per_band) come FROM the D74b planner instead of a "
    "hand-pick (VERDICT r11 ask #7) -- choose_lsh_parameters reads "
    "the corpus' candidate-Jaccard distribution off the D25 gram "
    "index, keeps the factorizations whose S-curve collision "
    "probability at the dedup threshold meets the 0.9 recall bar, "
    "and picks the cheapest by measured expected candidate pairs; "
    "minhash_dedup(from_plan=...) then runs with that pick. The "
    "plan relation is <= d(num_hashes) rows (a bounded-metadata "
    "collect, the kmeans_lite contract); the dedup itself is the "
    "band equi-join family shape, never O(n^2).",
)
def dedup_minhash_planned(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    # Overlap (guide §2.6): the 32-component signature relation is
    # plan-INDEPENDENT (num_hashes = bands x rows_per_band is the fixed
    # budget; only the band grouping uses the planner's pick), so its
    # eager pin runs on a driver thread while the planner's
    # bounded-metadata collect runs on the main thread. Values are bit-identical to the serial composition
    # (same signatures, banded after; pinned in tests/test_soft_lsh_plan
    # .py::test_signatures_path_matches_inline).
    from pyspark import InheritableThread

    sig_box: dict = {}

    def _build_signatures():
        # Capture, don't swallow (ADVICE r14): a Spark error during the
        # eager pin must surface as ITSELF after join(), not as a bare
        # KeyError on sig_box["sig"] masking the real cause.
        try:
            sig_box["sig"] = dedup.minhash_doc_signatures(
                d, "doc_id", "text", shingle_n=3, num_hashes=32
            )
        except BaseException as e:  # re-raised on the main thread
            sig_box["err"] = e

    t = InheritableThread(target=_build_signatures)
    t.start()
    try:
        b, r = dedup.choose_lsh_parameters(
            d, threshold=0.5, target_prob=0.9, num_hashes=32
        )
    finally:
        t.join()
    if "err" in sig_box:
        raise sig_box["err"]
    kept = dedup.minhash_dedup(
        d, "doc_id", "text", threshold=0.5,
        max_band_width=16, from_plan=(b, r),
        signatures=sig_box["sig"],
    )
    return kept.select("doc_id", "lang", "source")


# Epoch-unrolled exact LR-training oracle (D86) — shared verbatim by
# text_classifier_lr and the D89 probability face, which wraps it in
# one more projection.
_LR_ORACLE = r"""
    WITH lab0 AS (
      SELECT doc_id, text,
             CASE WHEN source IN ('src1', 'src3')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM documents
    ),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c
      FROM (
        SELECT doc_id, substring(md5(w), 1, 2) AS b
        FROM (
          SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)),
                        '\s+')) AS w
          FROM lab0
        ) WHERE w <> ''
      ) GROUP BY doc_id, b
    ),
    lab AS (
      SELECT doc_id, y FROM lab0
      WHERE doc_id IN (SELECT DISTINCT doc_id FROM dc)
    ),
    n AS (SELECT COUNT(*) AS nd FROM lab),
    r1 AS (SELECT doc_id, 0.5 - y AS r FROM lab),
    g1 AS (
      SELECT b, SUM(CAST(FLOOR(r * c * 1000000) AS BIGINT)) AS g
      FROM dc JOIN r1 USING (doc_id) GROUP BY b
    ),
    w1 AS (
      SELECT b, 0 - CAST(FLOOR(0.5 * CAST(g AS DOUBLE)
                               / CAST(nd AS DOUBLE)) AS BIGINT) AS wq
      FROM g1, n
    ),
    gb1 AS (
      SELECT SUM(CAST(FLOOR(r * 1000000) AS BIGINT)) AS gb FROM r1
    ),
    b1 AS (
      SELECT 0 - CAST(FLOOR(0.5 * CAST(gb AS DOUBLE)
                            / CAST(nd AS DOUBLE)) AS BIGINT) AS bq
      FROM gb1, n
    ),
    z2 AS (
      SELECT dc.doc_id, SUM(c * wq) + ANY_VALUE(bq) AS z
      FROM dc JOIN w1 USING (b), b1 GROUP BY dc.doc_id
    ),
    r2 AS (
      SELECT z2.doc_id,
             (1.0 / (1.0 + EXP(-(CAST(z AS DOUBLE) / 1000000.0)))) - y
               AS r
      FROM z2 JOIN lab USING (doc_id)
    ),
    g2 AS (
      SELECT b, SUM(CAST(FLOOR(r * c * 1000000) AS BIGINT)) AS g
      FROM dc JOIN r2 USING (doc_id) GROUP BY b
    ),
    w2 AS (
      SELECT w1.b,
             w1.wq - CAST(FLOOR(0.5 * CAST(COALESCE(g2.g, 0) AS DOUBLE)
                                / CAST(nd AS DOUBLE)) AS BIGINT) AS wq
      FROM w1 LEFT JOIN g2 ON w1.b = g2.b, n
    ),
    gb2 AS (
      SELECT SUM(CAST(FLOOR(r * 1000000) AS BIGINT)) AS gb FROM r2
    ),
    b2 AS (
      SELECT b1.bq - CAST(FLOOR(0.5 * CAST(gb AS DOUBLE)
                                / CAST(nd AS DOUBLE)) AS BIGINT) AS bq
      FROM b1, gb2, n
    )
    SELECT dc.doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(SUM(c * wq) + ANY_VALUE(bq) AS BIGINT) AS score_micro,
           (SUM(c * wq) + ANY_VALUE(bq)) > 0 AS pred_target
    FROM dc JOIN w2 USING (b), b2
    GROUP BY dc.doc_id
"""


@register(
    "text_classifier_lr",
    _LR_ORACLE,
    "D86: GRADIENT-TRAINED logistic-regression quality classifier -- "
    "the literal fastText/GPT-3-filter form (Joulin et al. 2016; "
    "Brown et al. 2020 Appendix A), 2 full-batch epochs, lr=0.5, "
    "zero init, over the D51 hashed-count features. Every "
    "shuffle-crossing quantity is an integer: micro-logit weights/"
    "bias, integer dot-product logits, per-doc gradient "
    "contributions floor-quantized BEFORE the per-bucket sum -- so "
    "gradient descent itself is order-independent and the UNROLLED "
    "oracle hash-adjudicates the training loop end to end (epoch 1 "
    "simplifies: zero weights -> p = 0.5 exactly). Per epoch: one "
    "id-keyed logit aggregate (broadcast <=256-row model) + one "
    "bucket-keyed gradient aggregate; model localCheckpoints keep "
    "lineage constant in epochs; sigmoid is the same libm exp on "
    "identical doubles. NB (D75) stays the closed-form default; this "
    "is the calibrated-scores path.",
)
def text_classifier_lr(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        lr_classifier_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return lr_classifier_score(
        d, F.col("source").isin("src1", "src3"), epochs=2, lr=0.5
    )


@register(
    "text_langid_ngram",
    r"""
    WITH tl AS (
      SELECT doc_id, lang, trim(lower(text)) AS t FROM documents
    ),
    lg AS (
      SELECT lang, substr(t, CAST(u.i AS INT), 3) AS g
      FROM tl, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE lang IS NOT NULL AND len(t) >= 3
    ),
    lp AS (
      SELECT lang, g,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY COUNT(*) DESC, g ASC) AS lr
      FROM lg GROUP BY lang, g
      QUALIFY lr <= 100
    ),
    dg AS (
      SELECT doc_id, substr(t, CAST(u.i AS INT), 3) AS g
      FROM tl, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    dp AS (
      SELECT doc_id, g,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY COUNT(*) DESC, g ASC) AS dr
      FROM dg GROUP BY doc_id, g
      QUALIFY dr <= 50
    ),
    langs AS (SELECT DISTINCT lang FROM lp),
    d AS (
      SELECT dp.doc_id, langs.lang,
             SUM(COALESCE(ABS(dr - lr), 100)) AS dist
      FROM dp CROSS JOIN langs
      LEFT JOIN lp ON lp.lang = langs.lang AND lp.g = dp.g
      GROUP BY dp.doc_id, langs.lang
    ),
    w AS (
      SELECT doc_id, lang, dist,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY dist ASC, lang ASC) AS rn
      FROM d
    ),
    winner AS (
      SELECT doc_id, lang AS lang_pred, CAST(dist AS BIGINT) AS dist
      FROM w WHERE rn = 1
    )
    -- zero-profile fallback mirror (ADVICE r13): with NO language
    -- profiles the operator still emits every trigram-bearing doc as
    -- lang_pred='und', dist NULL; with profiles the LEFT JOIN is a
    -- no-op (every dp doc has a winner).
    SELECT ids.doc_id,
           COALESCE(winner.lang_pred, 'und') AS lang_pred,
           winner.dist AS dist
    FROM (SELECT DISTINCT doc_id FROM dp) ids
    LEFT JOIN winner USING (doc_id)
    """,
    "D87: character-n-gram language ID (Cavnar & Trenkle 1994, "
    "'N-Gram-Based Text Categorization' -- the classic out-of-place "
    "rank-distance classifier fastText-langid/CLD descend from): "
    "top-100 char-trigram rank profile per language (self-trained on "
    "the corpus' own labels), top-50 per document, classify by "
    "minimal sum |doc_rank - lang_rank| with the profile_size "
    "penalty for absent grams -- upgrades the C4 stopword-ratio "
    "heuristic with no hand-curated word lists. Ranks are "
    "ROW_NUMBER over (count DESC, gram ASC) total orders and "
    "distances integer sums, so the PREDICTION hash-adjudicates. "
    "Trigram extraction = zero-shuffle substring projection; "
    "language profiles are charset^3-bounded and broadcast; the doc "
    "side pays one (doc,gram) exchange + one doc-keyed rank window, "
    "expands x|langs| (bounded) and reduces with a min-struct "
    "argmin.",
)
def text_langid_ngram(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return text.ngram_langid(d)


@register(
    "pipeline_curate_classifier",
    r"""
    WITH deduped AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT doc_id, source, text,
             (source IN ('src1', 'src3')) AS is_t
      FROM deduped
    ),
    tok AS (
      SELECT doc_id, is_t, substring(md5(w), 1, 2) AS b
      FROM (
        SELECT doc_id, is_t,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS w
        FROM lab
      ) WHERE w <> ''
    ),
    bags AS (
      SELECT b,
             SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS cn
      FROM tok GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS t1, SUM(cn) AS t0 FROM bags),
    lam AS (
      SELECT b,
             CAST(FLOOR((ln(ct + 1.0) - ln(t1 + 256.0)
                         - ln(cn + 1.0) + ln(t0 + 256.0))
                        * 1000000) AS BIGINT) AS lam_micro
      FROM bags, tot
    ),
    pri AS (
      SELECT CAST(FLOOR(
               (ln(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1.0)
                - ln(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) + 1.0))
               * 1000000) AS BIGINT) AS prior_micro
      FROM lab
    ),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM tok GROUP BY doc_id, b
    ),
    scored AS (
      SELECT dc.doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * lam_micro) + ANY_VALUE(prior_micro)
                  AS BIGINT) AS score_micro
      FROM dc JOIN lam USING (b), pri
      GROUP BY dc.doc_id
    ),
    st AS (
      SELECT SUM(score_micro) AS tot, COUNT(*) AS n FROM scored
    )
    SELECT s.doc_id, l.source, s.n_tokens, s.score_micro
    FROM scored s JOIN lab l USING (doc_id), st
    WHERE s.score_micro * st.n > st.tot
    """,
    "D88: TRAINED-filter curation -- the GPT-3 Appendix-A pipeline "
    "end-to-end (Brown et al. 2020: dedup, train a classifier on "
    "trusted-vs-raw, keep what the classifier likes), closing the "
    "D75->C6 composition of VERDICT r12 ask #5. md5 fingerprint "
    "dedup (min-id survivor) -> NB trained ON THE DEDUPED corpus "
    "(dedup first, or duplicated junk inflates its own class bag) "
    "with source src1/src3 as the trusted label -> keep docs "
    "scoring ABOVE THE CORPUS MEAN (relative gate: absolute NB "
    "levels are corpus-dependent; exact integer compare "
    "score*N > sum, one-row broadcast aggregate, no order "
    "statistic). Replaces the heuristic quality gate that rewards "
    "long token-diverse gibberish (e2e fixture proof in "
    "tests/test_curate_classifier.py). All-integer output, so the "
    "dedup->train->filter pipeline hash-adjudicates. One md5 "
    "exchange + the D75 plan (two <=256-row bag aggregates, one "
    "(id,bucket) exchange) + an id-keyed metadata join-back.",
)
def pipeline_curate_classifier(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import (
        curate_with_classifier,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return curate_with_classifier(
        d, F.col("source").isin("src1", "src3")
    )


@register(
    "text_classifier_lr_prob",
    "SELECT doc_id, n_tokens, score_micro, pred_target, "
    "CAST(FLOOR((1.0 / (1.0 + EXP(-(CAST(score_micro AS DOUBLE) "
    "/ 1000000.0)))) * 1000000.0) AS BIGINT) AS prob_micro "
    "FROM (" + _LR_ORACLE + ") AS lrq",
    "D89: calibrated-PROBABILITY face of the D86 gradient-trained LR "
    "(VERDICT r12 ask #6): prob_micro = floor(sigmoid(score/1e6)*1e6) "
    "-- integer micro-probabilities on a fixed grid so classifier "
    "output composes with D42's score_calibrate and the D44/D73 "
    "mixers, which want probabilities, not logits. The sigmoid is "
    "strictly monotone (ranking preserved; pinned with "
    "score_calibrate in tests/test_classifier_lr.py) and the float "
    "tree 1/(1+exp(-z/1e6))*1e6 mirrors operator-for-operator in "
    "both engines (the D86 training-loop recipe), so the column "
    "hash-adjudicates. Pure projection on the D86 plan -- no new "
    "exchange.",
)
def text_classifier_lr_prob(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        lr_classifier_score,
        with_prob_micro,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = lr_classifier_score(
        d, F.col("source").isin("src1", "src3"), epochs=2, lr=0.5
    )
    return with_prob_micro(scored)


@register(
    "pipeline_curate_langid",
    r"""
    WITH deduped AS (
      SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_toks,
             ROUND(LEAST(CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
                         / 100.0, 1.0)
                   * ROUND(CAST(len(list_distinct(string_split(trim(text), ' ')))
                                AS DOUBLE)
                           / CAST(len(string_split(trim(text), ' ')) AS DOUBLE),
                           4), 4) AS quality
      FROM deduped
    ),
    tl AS (
      SELECT doc_id, lang, trim(lower(text)) AS t FROM deduped
    ),
    lg AS (
      SELECT lang, substr(t, CAST(u.i AS INT), 3) AS g
      FROM tl, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE lang IS NOT NULL AND len(t) >= 3
    ),
    lp AS (
      SELECT lang, g,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY COUNT(*) DESC, g ASC) AS lr
      FROM lg GROUP BY lang, g
      QUALIFY lr <= 100
    ),
    dg AS (
      SELECT doc_id, substr(t, CAST(u.i AS INT), 3) AS g
      FROM tl, unnest(range(1, len(t) - 3 + 2)) AS u(i)
      WHERE len(t) >= 3
    ),
    dp AS (
      SELECT doc_id, g,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY COUNT(*) DESC, g ASC) AS dr
      FROM dg GROUP BY doc_id, g
      QUALIFY dr <= 50
    ),
    langs AS (SELECT DISTINCT lang FROM lp),
    d AS (
      SELECT dp.doc_id, langs.lang,
             SUM(COALESCE(ABS(dr - lr), 100)) AS dist
      FROM dp CROSS JOIN langs
      LEFT JOIN lp ON lp.lang = langs.lang AND lp.g = dp.g
      GROUP BY dp.doc_id, langs.lang
    ),
    w AS (
      SELECT doc_id, lang, dist,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY dist ASC, lang ASC) AS rn
      FROM d
    ),
    pred AS (SELECT doc_id, lang AS lang_pred FROM w WHERE rn = 1)
    SELECT p.lang_pred, COUNT(*) AS n_docs,
           ROUND(AVG(s.quality), 4) AS avg_quality,
           ROUND(AVG(CAST(s.n_toks AS DOUBLE)), 2) AS avg_tokens,
           CAST(SUM(s.n_toks) AS BIGINT) AS total_tokens
    FROM scored s JOIN pred p USING (doc_id)
    WHERE s.quality >= 0.2
      AND p.lang_pred IN ('en', 'es', 'de', 'fr', 'zh')
    GROUP BY p.lang_pred
    """,
    "D90: curation with the TRAINED language gate (VERDICT r12 ask "
    "#7, the C4->D44 composition): the pipeline_curate capstone with "
    "its language filter applied to the D87 Cavnar-Trenkle n-gram "
    "PREDICTION instead of the metadata label -- metadata labels are "
    "missing or wrong at corpus scale, and the stopword heuristic "
    "misroutes languages outside its hand-curated lists (fixture "
    "proof in tests/test_curate_langid.py). dedup -> quality gate -> "
    "self-trained rank profiles classify EVERY doc (labeled or not) "
    "-> keep lang_pred in the allowlist -> per-predicted-language "
    "report. One md5 exchange, codegen-fused scoring, the D87 "
    "broadcast-profile plan, one 5-group rollup.",
)
def pipeline_curate_langid(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import (
        curate_corpus_langid,
        curation_report,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    curated = curate_corpus_langid(
        d, min_quality=0.2, languages=["en", "es", "de", "fr", "zh"]
    )
    return curation_report(curated, group_col="lang_pred")


@register(
    "text_fertility",
    r"""
    WITH per_doc AS (
      SELECT source,
             len(text) AS ch,
             CASE WHEN len(trim(text)) > 0
                  THEN len(regexp_split_to_array(trim(text), '\s+'))
                  ELSE 0 END AS ws,
             len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe
      FROM documents WHERE source IS NOT NULL
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ch) AS BIGINT) AS n_chars,
             CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
             CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens
      FROM per_doc GROUP BY source
    )
    SELECT source, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
           CASE WHEN n_ws_tokens > 0 THEN
             CAST(FLOOR(CAST(n_bpe_tokens AS DOUBLE)
                        / CAST(n_ws_tokens AS DOUBLE) * 1000000.0)
                  AS BIGINT) END AS bpe_per_word_micro,
           CASE WHEN n_bpe_tokens > 0 THEN
             CAST(FLOOR(CAST(n_chars AS DOUBLE)
                        / CAST(n_bpe_tokens AS DOUBLE) * 1000000.0)
                  AS BIGINT) END AS chars_per_bpe_micro
    FROM agg
    """,
    "D93: per-source tokenizer-FERTILITY report (fertility = subword "
    "tokens per word, the tokenizer-efficiency measure of Rust et al. "
    "2021): chars / whitespace words / BPE-ish pre-tokens (the C4 "
    "regex tokenizer) per source, with fertility and chars-per-token "
    "ratios floor-quantized once to integer micro units (the D48/D81 "
    "recipe) so the report hash-adjudicates. The planning input for "
    "D73 token budgets and D54 length buckets: a 1.8x-fertility "
    "source costs 1.8x the training tokens for the same text. "
    "Counting fuses into the scan projection; ONE |sources|-row "
    "map-side-combined aggregate is the only exchange.",
)
def text_fertility(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("source", "text")
    return text.fertility_report(d)


@register(
    "text_classifier_agreement",
    """
    WITH j AS (
      SELECT a.pred_target AS pa, b.pred_target AS pb
      FROM ("""
    + _NB_ORACLE
    + """) AS a JOIN ("""
    + _LR_ORACLE
    + """) AS b USING (doc_id)
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN pa AND pb THEN 1 ELSE 0 END)
                  AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END)
                  AS BIGINT) AS n10,
             CAST(SUM(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END)
                  AS BIGINT) AS n01,
             CAST(SUM(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END)
                  AS BIGINT) AS n00
      FROM j
    ),
    k1 AS (
      SELECT n_docs, n11, n10, n01, n00,
             CAST(FLOOR(CAST(n11 + n00 AS DOUBLE)
                        / CAST(n_docs AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS agree_micro,
             CASE WHEN n_docs * n_docs
                       - ((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00)) <> 0
                  THEN CAST(FLOOR(
                    CAST(n_docs * (n11 + n00)
                         - ((n11 + n10) * (n11 + n01)
                            + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                    / CAST(n_docs * n_docs
                           - ((n11 + n10) * (n11 + n01)
                              + (n01 + n00) * (n10 + n00)) AS DOUBLE)
                    * 1000000.0) AS BIGINT)
             END AS kappa_micro
      FROM c
    )
    SELECT n_docs, n11, n10, n01, n00, agree_micro, kappa_micro,
           CASE WHEN kappa_micro IS NULL THEN 'undefined'
                WHEN kappa_micro < 0 THEN 'poor'
                WHEN kappa_micro <= 200000 THEN 'slight'
                WHEN kappa_micro <= 400000 THEN 'fair'
                WHEN kappa_micro <= 600000 THEN 'moderate'
                WHEN kappa_micro <= 800000 THEN 'substantial'
                ELSE 'almost_perfect' END AS band
    FROM k1
    """,
    "D95: Cohen's KAPPA agreement between the two trained classifiers "
    "(Cohen 1960: raw agreement corrected for chance; Landis & Koch "
    "1977 verbal bands) -- does the closed-form NB (D75) keep/drop "
    "the same documents as the gradient-trained LR (D86)? The audit "
    "run before trusting the cheap classifier as a proxy for the "
    "expensive one. 2x2 confusion counts + agreement + kappa, all "
    "from exact int64 arithmetic (kappa = (N*(n11+n00) - E)/(N^2 - E) "
    "with E the chance-agreement cross product; one mirrored double "
    "division floor-quantized to micro units) so the report "
    "hash-adjudicates. One id-keyed equi-join of the two score "
    "relations + ONE 1-row conditional aggregate.",
)
def text_classifier_agreement(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        classifier_agreement,
        classifier_features,
        lr_classifier_score,
        nb_classifier_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_t = F.col("source").isin("src1", "src3")
    # Both models train over the SAME corpus and feature space, so the
    # tokenize pass + (id, bucket) aggregate is built once and shared
    # (r14, guide §2.1) — arithmetic unchanged, one corpus scan fewer.
    feats = classifier_features(d, is_t)
    a = nb_classifier_score(d, is_t, features=feats)
    b = lr_classifier_score(d, is_t, epochs=2, lr=0.5, features=feats)
    return classifier_agreement(a, b)


@register(
    "text_classifier_auc",
    """
    WITH sc AS (
      SELECT q.score_micro AS s,
             (d.source IN ('src1', 'src3')) AS y
      FROM ("""
    + _LR_ORACLE
    + """) AS q JOIN documents d USING (doc_id)
    ),
    g AS (
      SELECT s,
             SUM(CASE WHEN y THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y THEN 0 ELSE 1 END) AS nn
      FROM sc GROUP BY s
    ),
    c AS (
      SELECT s, np, nn,
             COALESCE(SUM(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cneg
      FROM g
    ),
    t AS (
      SELECT SUM(np * (2 * cneg + nn)) AS num2,
             SUM(np) AS p, SUM(nn) AS n
      FROM c
    )
    SELECT CAST(p + n AS BIGINT) AS n_docs,
           CAST(p AS BIGINT) AS n_pos,
           CAST(n AS BIGINT) AS n_neg,
           CASE WHEN p > 0 AND n > 0
                THEN CAST(FLOOR(CAST(num2 AS DOUBLE)
                                / CAST(2 * p * n AS DOUBLE)
                                * 1000000.0) AS BIGINT)
           END AS auc_micro
    FROM t
    """,
    "D96: EXACT ranking AUC of the D86 LR score against the trusted "
    "label (Mann-Whitney/rank-sum identity, Hanley & McNeil 1982: "
    "AUC = P(score_pos > score_neg) + half-credit ties) -- the "
    "threshold-free evaluation face the trained classifiers were "
    "missing: does the score actually rank trusted documents above "
    "raw ones? AUC*2PN = sum over distinct scores of "
    "np*(2*cneg_below + nn) -- all int64, ties exact, ONE mirrored "
    "floor-quantized division -- so the measure hash-adjudicates. "
    "The cumulative negative count runs on the D45/D61 "
    "distributed-ORDER-BY machinery (range partition + offsets "
    "broadcast), no single-task sort; NULL AUC when either class is "
    "empty, stated.",
)
def text_classifier_auc(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        lr_classifier_score,
    )
    from mysql2parquet_spark.operators.numeric import exact_auc

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_t = F.col("source").isin("src1", "src3")
    # The 0/1 label already rides the LR feature relation; emitting it
    # from the score aggregate (label_out) replaces the second
    # documents scan + id-keyed join (r14, guide §2.4). Identical
    # values: sources are non-NULL in the corpus contract, and a NULL
    # source coerces to false — the oracle's CASE semantics.
    scored = lr_classifier_score(
        d, is_t, epochs=2, lr=0.5, label_out="y"
    )
    return exact_auc(scored, "score_micro", "y")


@register(
    "drift_wasserstein",
    """
    WITH base AS (
      SELECT source AS g, n_chars AS x FROM documents
      WHERE source IS NOT NULL
    ),
    vals AS (SELECT DISTINCT x FROM base),
    pool AS (SELECT x, COUNT(*) AS cb FROM base GROUP BY x),
    srcs AS (SELECT g, COUNT(*) AS na FROM base GROUP BY g),
    per AS (SELECT g, x, COUNT(*) AS ca FROM base GROUP BY g, x),
    nbt AS (SELECT COUNT(*) AS nb FROM base),
    grid AS (
      SELECT s.g, v.x, s.na, nbt.nb, COALESCE(p.ca, 0) AS ca, pl.cb
      FROM srcs s CROSS JOIN vals v
      LEFT JOIN per p ON p.g = s.g AND p.x = v.x
      JOIN pool pl ON pl.x = v.x, nbt
    ),
    cum AS (
      SELECT g, x, na, nb,
             SUM(ca) OVER (PARTITION BY g ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS cuma,
             SUM(cb) OVER (PARTITION BY g ORDER BY x
                           ROWS UNBOUNDED PRECEDING) AS cumb,
             LEAD(x) OVER (PARTITION BY g ORDER BY x) AS nx
      FROM grid
    ),
    agg AS (
      SELECT g, MAX(na) AS na, MAX(nb) AS nb,
             SUM(ABS(nb * cuma - na * cumb) * (nx - x)) AS isum
      FROM cum WHERE nx IS NOT NULL GROUP BY g
    )
    SELECT g AS source, CAST(na AS BIGINT) AS n_docs,
           CAST((isum * 1000) // (na * nb) AS BIGINT) AS w1_milli
    FROM agg
    """,
    "D97: per-source WASSERSTEIN-1 distance to the pool over "
    "documents.n_chars (the earth mover's distance on the line, "
    "W1 = integral |CDF_A - CDF_B| dx, Vallender 1974) -- the drift "
    "metric D18's PSI/JS/TV cannot be: bin-wise divergences are "
    "blind to HOW FAR mass moved, W1 reports the transport cost in "
    "the column's own units. The ENTIRE computation is integer "
    "(W1*Na*Nb = sum |Nb*cumA - Na*cumB| * dx on the pool's sorted "
    "support, then (1000*sum) div (Na*Nb) -- not even one double), "
    "so it hash-adjudicates with no quantization recipe at all. "
    "Data-scale work is two value-keyed count aggregates; the grid, "
    "cumulative windows, and reduction all run on the "
    "|sources|x|support| relation (value-bounded -- bucket "
    "continuous columns first, stated).",
)
def drift_wasserstein(spark, sf_dir):
    from mysql2parquet_spark.operators.drift import wasserstein_drift

    d = T(spark, sf_dir, "documents").select("source", "n_chars")
    return wasserstein_drift(d, "n_chars", "source")


@register(
    "text_classifier_calibration",
    """
    WITH sc AS (
      SELECT CAST(FLOOR((1.0 / (1.0 + EXP(-(CAST(q.score_micro
                   AS DOUBLE) / 1000000.0)))) * 1000000.0) AS BIGINT)
               AS p,
             CASE WHEN d.source IN ('src1', 'src3')
                  THEN 1 ELSE 0 END AS y
      FROM ("""
    + _LR_ORACLE
    + """) AS q JOIN documents d USING (doc_id)
    ),
    base AS (
      SELECT LEAST((p * 10) // 1000000, 9) AS bin, p, y FROM sc
    ),
    agg AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             SUM(p) AS sp
      FROM base GROUP BY bin
    )
    SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
           CAST(sp // n AS BIGINT) AS mean_prob_micro,
           CAST((n_pos * 1000000) // n AS BIGINT) AS pos_rate_micro,
           CAST(ABS(sp // n - (n_pos * 1000000) // n) AS BIGINT)
             AS gap_micro
    FROM agg
    """,
    "D98: classifier RELIABILITY / calibration-curve report over the "
    "D89 probabilities vs the trusted label (DeGroot & Fienberg "
    "1983; Guo et al. 2017): equal-width probability buckets, each "
    "comparing its mean predicted probability to its empirical "
    "positive rate -- the audit that decides whether the "
    "probabilities can be TRUSTED as probabilities by the D44/D73 "
    "mixers (a perfectly-ranked but miscalibrated scorer passes D96 "
    "AUC and fails here). EVERYTHING is integer (micro-unit sums, "
    "counts, integer div) -- no quantization recipe at all. One "
    "projection + ONE <=10-row map-side-combined aggregate.",
)
def text_classifier_calibration(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        calibration_report,
        lr_classifier_score,
        with_prob_micro,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_t = F.col("source").isin("src1", "src3")
    # label_out: the label rides the score aggregate instead of a
    # second documents scan + id join (r14, guide §2.4 — see the
    # text_classifier_auc note).
    scored = with_prob_micro(
        lr_classifier_score(d, is_t, epochs=2, lr=0.5, label_out="y")
    )
    return calibration_report(scored, "y")


@register(
    "text_classifier_pr_curve",
    """
    WITH sc AS (
      SELECT CAST(FLOOR((1.0 / (1.0 + EXP(-(CAST(q.score_micro
                   AS DOUBLE) / 1000000.0)))) * 1000000.0) AS BIGINT)
               AS p,
             CASE WHEN d.source IN ('src1', 'src3')
                  THEN 1 ELSE 0 END AS y
      FROM ("""
    + _LR_ORACLE
    + """) AS q JOIN documents d USING (doc_id)
    ),
    npos AS (SELECT SUM(y) AS np FROM sc),
    grid AS (
      SELECT CAST(100000 * u.t AS BIGINT) AS thr_micro
      FROM unnest(range(1, 10)) AS u(t)
    ),
    per AS (
      SELECT thr_micro,
             CAST(SUM(CASE WHEN p >= thr_micro THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pred_pos,
             CAST(SUM(CASE WHEN p >= thr_micro THEN y ELSE 0 END)
                  AS BIGINT) AS tp
      FROM sc CROSS JOIN grid GROUP BY thr_micro
    )
    SELECT thr_micro, n_pred_pos, tp,
           CASE WHEN n_pred_pos > 0
                THEN CAST((tp * 1000000) // n_pred_pos AS BIGINT)
           END AS precision_micro,
           CASE WHEN np > 0
                THEN CAST((tp * 1000000) // np AS BIGINT)
           END AS recall_micro,
           CASE WHEN n_pred_pos + np > 0
                THEN CAST((2 * tp * 1000000) // (n_pred_pos + np)
                          AS BIGINT)
           END AS f1_micro
    FROM per, npos
    """,
    "D99: precision/recall/F1 THRESHOLD SWEEP of the D89 "
    "probabilities vs the trusted label (Davis & Goadrich 2006): "
    "D96's AUC says the score ranks well, D98's calibration that the "
    "probabilities are honest; this is what a curator actually GETS "
    "at each cutoff -- the table read before picking the keep "
    "threshold. Nine deci-probability thresholds, EVERYTHING integer "
    "(counts + integer div; F1 in the 2tp/(pred+pos) algebraic form, "
    "never a quotient of quotients; NULL on empty denominators, "
    "stated) so the sweep hash-adjudicates. The 9-row grid "
    "broadcasts onto the scored relation (bounded expansion) and ONE "
    "map-side-combined aggregate reduces it.",
)
def text_classifier_pr_curve(spark, sf_dir):
    from mysql2parquet_spark.operators.classifier import (
        lr_classifier_score,
        pr_curve_report,
        with_prob_micro,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_t = F.col("source").isin("src1", "src3")
    # label_out: the label rides the score aggregate instead of a
    # second documents scan + id join (r14, guide §2.4 — see the
    # text_classifier_auc note).
    scored = with_prob_micro(
        lr_classifier_score(d, is_t, epochs=2, lr=0.5, label_out="y")
    )
    return pr_curve_report(scored, "y")


@register(
    "text_classifier_lr_persisted",
    _LR_ORACLE,
    "D100: the D86 LR served from a PERSISTED model artifact "
    "(lr_model_build at write time: <=256-row weight relation + "
    "1-row bias + meta sidecar -- the ivf/pq_build amortization "
    "contract applied to the trained filter). Scoring reads the "
    "artifact, broadcasts it onto ONE (id,bucket) exchange and one "
    "id-keyed sum -- ZERO training jobs at query time, where the "
    "inline D86 face pays the full 2-epoch gradient loop per call "
    "(~2.3 s at sf0.1, amortized across the D95/D96/D98/D99 audit "
    "faces in production). Because the persisted weights are exactly "
    "the integers training produced, scores are bit-identical to the "
    "inline face and even the PERSISTED face keeps the EXACT "
    "epoch-unrolled oracle (round-trip parity + zero-training-job "
    "pin in tests/test_lr_persisted.py).",
)
def text_classifier_lr_persisted(spark, sf_dir):
    import hashlib
    import os
    import tempfile

    from mysql2parquet_spark.operators.classifier import (
        lr_model_build,
        lr_model_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # Build-once-reuse keyed by source dir + file identity (mtime+size)
    # — the ann_ivf_persisted contract: a path-only key would silently
    # serve scores from a regenerated fixture's previous corpus.
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"{os.path.realpath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:10]
    mdl = os.path.join(tempfile.gettempdir(), f"m2p_lrm_{key}")
    if not (
        os.path.exists(f"{mdl}/model/_SUCCESS")
        and os.path.exists(f"{mdl}/bias/_SUCCESS")
        and os.path.exists(f"{mdl}/meta/_SUCCESS")
    ):
        lr_model_build(
            d, F.col("source").isin("src1", "src3"), mdl,
            epochs=2, lr=0.5,
        )
    return lr_model_score(spark, mdl, d)


@register(
    "pipeline_curate_lm",
    r"""
    WITH deduped AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    tr AS (
      SELECT text FROM deduped WHERE source IN ('src1', 'src3')
    ),
    ttoks AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM tr
    ),
    tg_train AS (
      SELECT u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
      FROM ttoks,
           UNNEST(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]))
             AS u(z)
      WHERE len(t) >= 3
        AND u.z[1] <> '' AND u.z[2] <> '' AND u.z[3] <> ''
    ),
    tri AS (
      SELECT w1, w2, w3, COUNT(*) AS c123 FROM tg_train GROUP BY 1, 2, 3
    ),
    bg_train AS (
      SELECT u.z[1] AS w1, u.z[2] AS w2
      FROM ttoks,
           UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS u(z)
      WHERE len(t) >= 2 AND u.z[1] <> '' AND u.z[2] <> ''
    ),
    bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bg_train GROUP BY 1, 2),
    uni AS (
      SELECT w, COUNT(*) AS cu
      FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS w
        FROM tr
      ) WHERE w <> '' GROUP BY w
    ),
    tot AS (
      SELECT COALESCE(SUM(cu), 0) AS n_tok, COUNT(*) AS v FROM uni
    ),
    alltoks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      FROM deduped
    ),
    tg AS (
      SELECT doc_id, u.z[1] AS w1, u.z[2] AS w2, u.z[3] AS w3
      FROM alltoks,
           UNNEST(list_zip(t[1:len(t)-2], t[2:len(t)-1], t[3:len(t)]))
             AS u(z)
      WHERE len(t) >= 3
        AND u.z[1] <> '' AND u.z[2] <> '' AND u.z[3] <> ''
    ),
    q AS (
      SELECT tg.doc_id,
             CAST(FLOOR(LN(
               CASE
                 WHEN tri.c123 IS NOT NULL
                   THEN CAST(tri.c123 AS DOUBLE) / CAST(b12.cb AS DOUBLE)
                 WHEN b23.cb IS NOT NULL
                   THEN 0.4 * CAST(b23.cb AS DOUBLE)
                        / CAST(u2.cu AS DOUBLE)
                 ELSE 0.4 * 0.4 *
                      ((COALESCE(u3.cu, 0) + 1.0)
                       / CAST(tot.n_tok + tot.v AS DOUBLE))
               END) * 1000000) AS BIGINT) AS lq
      FROM tg
      LEFT JOIN tri USING (w1, w2, w3)
      LEFT JOIN bi b12 ON tg.w1 = b12.w1 AND tg.w2 = b12.w2
      LEFT JOIN bi b23 ON tg.w2 = b23.w1 AND tg.w3 = b23.w2
      LEFT JOIN uni u2 ON tg.w2 = u2.w
      LEFT JOIN uni u3 ON tg.w3 = u3.w, tot
    ),
    scored AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
             CAST((-SUM(lq)) // COUNT(*) AS BIGINT) AS ce_micro
      FROM q GROUP BY doc_id
    ),
    st AS (
      SELECT SUM(ce_micro) AS tot_ce, COUNT(*) AS n FROM scored
    )
    SELECT s.doc_id, d.source, s.n_trigrams, s.ce_micro
    FROM scored s JOIN deduped d USING (doc_id), st
    WHERE s.ce_micro * st.n < st.tot_ce
    """,
    "D101: PERPLEXITY-gated curation -- the literal CCNet selection "
    "(Wenzek et al. 2020: train an LM on trusted text, keep the "
    "low-perplexity raw documents), the D76 LM sibling of D88's "
    "classifier gate -- together the two published trained-filter "
    "recipes are now both end-to-end registry surfaces. md5 dedup -> "
    "trigram stupid-backoff LM trained on the DEDUPED trusted slice "
    "-> keep docs whose average cross-entropy is BELOW THE CORPUS "
    "MEAN (relative gate, the D88/CCNet rationale; exact integer "
    "compare ce*N < sum on the micro-nat grid -- per-doc ce stays "
    "integer via (-sum lq) div n). All-integer output, exact "
    "composed oracle. One md5 exchange + the D76 plan "
    "(vocabulary-bounded model aggregates, gram-keyed scoring "
    "joins) + a 1-row broadcast mean gate.",
)
def pipeline_curate_lm(spark, sf_dir):
    from mysql2parquet_spark.operators.pipeline import curate_with_lm

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return curate_with_lm(d, F.col("source").isin("src1", "src3"))


@register(
    "text_mojibake",
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' ' ||
                       repeat(chr(65533), CAST(1 + doc_id % 5 AS INT))
                       || chr(7)
                  ELSE text END AS t
      FROM documents
    ),
    counted AS (
      SELECT doc_id,
             len(t) AS n,
             len(t) - len(replace(t, chr(65533), '')) AS n_replacement,
             len(t) - len(regexp_replace(t,
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS n_control,
             len(t) - len(regexp_replace(t, '[^\x00-\x7F]', '', 'g'))
               AS n_nonascii
      FROM planted
    )
    SELECT doc_id,
           CAST(n_replacement AS BIGINT) AS n_replacement,
           CAST(n_control AS BIGINT) AS n_control,
           CAST(n_nonascii AS BIGINT) AS n_nonascii,
           CASE WHEN n > 0
                THEN CAST(FLOOR(CAST(n_nonascii AS DOUBLE)
                                / CAST(n AS DOUBLE) * 1000000.0)
                          AS BIGINT) END AS nonascii_ratio_micro,
           (n_replacement = 0 AND n_control = 0
            AND COALESCE(CASE WHEN n > 0
                  THEN CAST(FLOOR(CAST(n_nonascii AS DOUBLE)
                                  / CAST(n AS DOUBLE) * 1000000.0)
                            AS BIGINT) END <= 50000, TRUE)) AS keep
    FROM counted
    """,
    "D91: ENCODING-NOISE / mojibake gate (the CCNet/C4 cleaning step "
    "before language ID -- Wenzek et al. 2020: U+FFFD replacement "
    "chars, stray C0 control bytes, implausible non-ASCII density "
    "mark decode casualties, not content). The sf corpus is pure "
    "ASCII, so noise is PLANTED deterministically (doc_id % 7: 1-5 "
    "U+FFFD + one BEL, identical literals in both engines -- the "
    "D47/D80 planted-fixture precedent), making the whole "
    "count->ratio->keep gate exactly hash-adjudicated and "
    "non-vacuous. Counts are length-diffs against stripped copies "
    "(exact in any engine); ratio floor-quantized to micro units, "
    "NULL on empty text; one zero-shuffle codegen projection.",
)
def text_mojibake(spark, sf_dir):
    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" "),
                F.repeat(
                    F.lit("�"),
                    (F.lit(1) + F.col("doc_id") % 5).cast("int"),
                ),
                F.lit("\x07"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.with_encoding_noise(planted).select(
        "doc_id",
        "n_replacement",
        "n_control",
        "n_nonascii",
        "nonascii_ratio_micro",
        "keep",
    )
