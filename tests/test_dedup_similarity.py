"""Self-consistency tests for the approximate operators: MinHash-LSH
recall vs exact Jaccard, SimHash behavior on identical/perturbed text,
and ANN vs brute-force."""

from __future__ import annotations

from pyspark.sql import functions as F

from content_analytics_etl_spark.operators.dedup import (
    jaccard,
    simhash60,
    word_shingles,
)
from content_analytics_etl_spark.plans.dedup_queries import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
)


def test_minhash_lsh_finds_exact_jaccard_pairs(spark, sf_dir):
    """Every high-Jaccard pair (≥0.5, same-lang blocking) must be
    recovered by LSH candidates — at this threshold, well above the
    b/r s-curve knee (~0.7 at 50% prob; planted dups are ≈0.9+), recall
    should be total."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
        if r["jaccard"] >= 0.8
    }
    lsh = {
        (r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert exact, "fixture corpus should contain planted near-dups"
    assert exact <= lsh


def test_simhash_identical_and_perturbed(spark):
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "an utterly different sentence with other words entirely here now"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"]).withColumn(
        "sh", word_shingles("text")
    )
    sig = {
        r["doc_id"]: r["s"]
        for r in df.withColumn("s", simhash60("sh")).collect()
    }
    assert sig[1] == sig[2]  # identical text → identical signature
    assert bin(sig[1] ^ sig[3]).count("1") > 10  # unrelated text → far


def test_simhash_agg_matches_fold_spec(spark, sf_dir):
    """The codegen'd explode→60-sum→pack path must be bit-identical to
    the fold-expression spec on the same distinct-shingle sets."""
    from content_analytics_etl_spark.operators.dedup import (
        shingle_hashes,
        shingle_rows,
        simhash60_agg,
    )
    from content_analytics_etl_spark.sources.readers import load_table

    d = load_table(spark, sf_dir, "documents").limit(50)
    fold = {
        r["doc_id"]: r["s"]
        for r in d.select("doc_id", word_shingles("text").alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", simhash60("sh").alias("s"))
        .collect()
    }
    agg = {
        r["doc_id"]: r["simhash"]
        for r in simhash60_agg(
            shingle_hashes(shingle_rows(d, ["doc_id"]), ["doc_id"]), ["doc_id"]
        ).collect()
    }
    assert fold == agg


def test_jaccard_column(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], ["x", "y"])
    assert df.select(jaccard("x", "y").alias("j")).collect()[0]["j"] == 0.5


def test_ann_lsh_recall_vs_brute(spark, sf_dir):
    """Bucketed ANN returns a subset of true neighbors per query; sanity:
    every ANN hit's cosine matches the brute-force score for that pair."""
    from content_analytics_etl_spark.plans.similarity_queries import (
        sim_ann_lsh_topk,
        sim_brute_topk,
    )

    brute = {
        (r["query_id"], r["cand_id"]): r["cosine"]
        for r in sim_brute_topk(spark, sf_dir).collect()
    }
    ann = sim_ann_lsh_topk(spark, sf_dir).collect()
    assert ann, "ANN should return candidates"
    hits = [r for r in ann if (r["query_id"], r["cand_id"]) in brute]
    for r in hits:
        assert abs(brute[(r["query_id"], r["cand_id"])] - r["cosine"]) < 1e-12
