"""The codegen'd MinHash signature relation against its reference fold.

``minhash_signature`` (the higher-order fold over ``shingles``) stays the
reference, the way ``simhash_long`` backs the Arrow SimHash path: every
value ``minhash_signature_relation`` produces must equal it bit for bit.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from mysql2parquet_spark.functions.hashing import minhash_signature, shingles
from mysql2parquet_spark.io import load_table
from mysql2parquet_spark.operators import dedup

EDGE_TEXTS = [
    None,  # NULL text: one NULL shingle, hashed as the seed alone
    "",
    "   \t  ",
    "two words",  # fewer tokens than shingle_n=3: one whole-doc shingle
    "a b c a b c a b c a b c",  # repeated shingles
    "héllo wörld ☃ 日本語 テキスト ümlaut",  # non-ASCII
    "  leading and trailing   whitespace  ",
    "single",
]


def _edge_docs(spark):
    return spark.createDataFrame(
        list(enumerate(EDGE_TEXTS)), "doc_id long, text string"
    )


def _reference(df, shingle_n, num_hashes):
    return {
        r.doc_id: r.sig
        for r in df.select(
            "doc_id",
            minhash_signature(shingles("text", shingle_n), num_hashes).alias("sig"),
        ).collect()
    }


def _relation(df, shingle_n, num_hashes):
    rel = dedup.minhash_signature_relation(
        df, "doc_id", "text", shingle_n=shingle_n, num_hashes=num_hashes
    )
    return {r.doc: r.sig for r in rel.collect()}


@pytest.mark.parametrize("shingle_n", [1, 3])
@pytest.mark.parametrize("num_hashes", [31, 32])
def test_relation_matches_reference_fold_on_edge_cases(spark, shingle_n, num_hashes):
    df = _edge_docs(spark)
    ref = _reference(df, shingle_n, num_hashes)
    got = _relation(df, shingle_n, num_hashes)
    assert got == ref
    assert all(len(s) == num_hashes for s in got.values())


@pytest.mark.parametrize("shingle_n", [1, 3])
@pytest.mark.parametrize("num_hashes", [31, 32])
def test_relation_matches_reference_fold_on_fixture_docs(
    spark, sf_dir, shingle_n, num_hashes
):
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = _reference(df, shingle_n, num_hashes)
    assert ref  # the fixture corpus is not empty
    assert _relation(df, shingle_n, num_hashes) == ref


def test_relation_stamps_budget_and_pin_keeps_it(spark):
    df = _edge_docs(spark)
    lazy = dedup.minhash_signature_relation(
        df, "doc_id", "text", shingle_n=3, num_hashes=32
    )
    pinned = dedup.minhash_doc_signatures(
        df, "doc_id", "text", shingle_n=3, num_hashes=32
    )
    want = {"num_hashes": 32, "shingle_n": 3}
    assert lazy.schema["sig"].metadata == want
    assert pinned.schema["sig"].metadata == want


def test_estimates_stay_double(spark):
    df = _edge_docs(spark)
    cand = dedup.minhash_candidates(df, "doc_id", "text", shingle_n=3)
    assert isinstance(cand.schema["est_jaccard"].dataType, DoubleType)
    dup = spark.createDataFrame(
        [(1, "x y z w"), (2, "x y z w")], "doc_id long, text string"
    )
    rows = dedup.minhash_candidates(dup, "doc_id", "text").collect()
    assert [(r.id_a, r.id_b, r.est_jaccard) for r in rows] == [(1, 2, 1.0)]


def _jobs_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize(
    "stamp_from",
    [
        {"shingle_n": 3, "num_hashes": 16},  # num_hashes mismatch
        {"shingle_n": 2, "num_hashes": 32},  # shingle_n mismatch
        None,  # no stamp at all
    ],
)
def test_budget_guard_raises_without_a_job(spark, stamp_from):
    df = _edge_docs(spark)
    if stamp_from is None:
        sigs = df.select(
            F.col("doc_id").alias("doc"), F.array(F.lit(1)).alias("sig")
        )
    else:
        sigs = dedup.minhash_doc_signatures(df, "doc_id", "text", **stamp_from)
    sc = spark.sparkContext
    group = f"minhash-guard-{stamp_from}"

    def call():
        with pytest.raises(ValueError, match="signatures="):
            dedup.minhash_dedup(
                df, "doc_id", "text", shingle_n=3, num_hashes=32,
                bands=8, signatures=sigs,
            )

    assert _jobs_in_group(sc, group, call) == []
