"""Unit tests for TF-IDF / BM25 relevance scoring and weighted
sampling (llm/relevance.py, ops/sampling.py:weighted_sample)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from dataframes_jl_spark.llm.relevance import (
    bm25_scores,
    doc_frequencies,
    term_stats,
    tf_idf,
)
from dataframes_jl_spark.ops.sampling import weighted_sample


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat cat cat"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )


def test_term_stats_tf_and_dl(tiny_docs):
    rows = {
        (r["id"], r["term"]): (r["tf"], r["dl"])
        for r in term_stats(tiny_docs).collect()
    }
    assert rows[(1, "the")] == (2, 6)
    assert rows[(3, "cat")] == (3, 3)
    assert (4, "") not in rows  # empty doc yields no terms
    assert not any(i == 4 for i, _ in rows)


def test_doc_frequencies(tiny_docs):
    df = {
        r["term"]: r["df"]
        for r in doc_frequencies(term_stats(tiny_docs)).collect()
    }
    assert df["cat"] == 2 and df["the"] == 2 and df["dog"] == 1


def test_tf_idf_matches_hand_computation(tiny_docs):
    out = {
        (r["id"], r["term"]): r["tfidf"] for r in tf_idf(tiny_docs).collect()
    }
    # N=4 docs; smoothed idf = ln((N+1)/(df+1)) + 1
    idf_cat = math.log(5 / 3) + 1
    assert out[(3, "cat")] == pytest.approx(3 * idf_cat)
    idf_dog = math.log(5 / 2) + 1
    assert out[(2, "dog")] == pytest.approx(1 * idf_dog)


def test_bm25_rare_term_outscores_common(tiny_docs):
    # 'dog' (df=1) must be worth more than 'the' (df=2) at equal tf/dl
    scores = {
        r["id"]: r["score"]
        for r in bm25_scores(tiny_docs, ["dog"]).collect()
    }
    scores_common = {
        r["id"]: r["score"]
        for r in bm25_scores(tiny_docs, ["the"]).collect()
    }
    assert set(scores) == {2}
    assert scores[2] > scores_common[2]  # same doc, rarer term, higher score


def test_bm25_quantized_is_bigint_sum(tiny_docs):
    out = bm25_scores(tiny_docs, ["cat", "sat"], quantize_scale=6)
    assert dict(out.dtypes)["score"] == "bigint"
    assert out.count() == 3  # docs 1, 2, 3 match at least one term


def test_weighted_sample_exact_k_and_deterministic(spark):
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("w")
    )
    a = sorted(r["doc_id"] for r in weighted_sample(df, "w", 50).collect())
    b = sorted(r["doc_id"] for r in weighted_sample(df, "w", 50).collect())
    assert len(a) == 50 and a == b
    c = sorted(
        r["doc_id"] for r in weighted_sample(df, "w", 50, seed=7).collect()
    )
    assert a != c  # a different seed draws a different sample


def test_weighted_sample_biased_toward_heavy_rows(spark):
    # weight 100 vs 1: heavy rows must dominate a small sample
    df = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 1000, 100.0).otherwise(1.0).alias("w"),
    )
    picked = weighted_sample(df, "w", 100).collect()
    heavy = sum(1 for r in picked if r["doc_id"] < 1000)
    assert heavy >= 90


def test_take_per_group_exact_k_deterministic_uniformish(spark):
    from dataframes_jl_spark.ops.sampling import take_per_group

    df = spark.range(0, 900).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("g")
    )
    out = take_per_group(df, "g", k=10).collect()
    per = {}
    for r in out:
        per.setdefault(r["g"], []).append(r["doc_id"])
    assert all(len(v) == 10 for v in per.values()) and len(per) == 3
    again = take_per_group(df, "g", k=10).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = take_per_group(df, "g", k=10, seed=9).collect()
    assert sorted(map(tuple, out)) != sorted(map(tuple, other))


def test_bm25_accepts_precomputed_stats(tiny_docs):
    from dataframes_jl_spark.llm.relevance import bm25_scores, term_stats

    stats = term_stats(tiny_docs).persist()
    try:
        direct = {
            (r["id"], r["score"])
            for r in bm25_scores(tiny_docs, ["cat"], quantize_scale=6).collect()
        }
        reused = {
            (r["id"], r["score"])
            for r in bm25_scores(
                tiny_docs, ["cat"], quantize_scale=6, stats=stats
            ).collect()
        }
        assert direct == reused
    finally:
        stats.unpersist()


def test_chunk_documents_windows_and_overlap(spark):
    from dataframes_jl_spark.llm.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, starts 0,3,6,9 -> 4 chunks; last is partial
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in c1] == [0, 1, 2, 3]
    assert c1[0]["chunk_text"] == "t0 t1 t2 t3"
    assert c1[1]["chunk_text"] == "t3 t4 t5 t6"  # stride-3 overlap
    assert c1[3]["chunk_text"] == "t9" and c1[3]["chunk_n_tokens"] == 1
    # doc 2 fits in one window; doc 3 (empty) produces no chunks
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    assert 3 not in by_doc


def test_weighted_sample_nonpositive_weights_never_win(spark):
    from dataframes_jl_spark.ops.sampling import weighted_sample

    df = spark.range(0, 100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, -5.0)
        .when(F.col("id") < 60, 0.0)
        .otherwise(1.0)
        .alias("w"),
    )
    picked = {r["doc_id"] for r in weighted_sample(df, "w", 40).collect()}
    assert picked <= set(range(60, 100))
    assert len(picked) == 40


def test_asof_join_tolerance_on_ntz_timestamps(spark):
    import datetime as dt

    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    from dataframes_jl_spark.ops.joins import asof_join

    schema = StructType(
        [
            StructField("ts", TimestampNTZType()),
            StructField("user_id", LongType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(t0 + dt.timedelta(seconds=s), 1) for s in (10, 100)], schema
    )
    right = spark.createDataFrame([(t0, 1)], schema)
    out = asof_join(
        left, right.withColumnRenamed("ts", "ts").withColumn("v", F.lit(5)),
        on="ts", by="user_id", tolerance=30.0,
    )
    rows = {r["ts"]: r["v"] for r in out.collect()}
    assert rows[t0 + dt.timedelta(seconds=10)] == 5   # within tolerance
    assert rows[t0 + dt.timedelta(seconds=100)] is None  # beyond 30s


def test_pca_project_recovers_planted_structure(spark):
    """Vectors lie (noisily) on a 2-D plane in 8-D: the top-2 fitted
    components must capture almost all variance, and projection must be
    deterministic across partition layouts."""
    import numpy as np

    from dataframes_jl_spark.llm.cluster import fit_pca_driver, pca_project

    rng = np.random.default_rng(0)
    basis = np.linalg.qr(rng.normal(size=(8, 2)))[0].T  # 2 x 8 orthonormal
    coords = rng.normal(scale=[5.0, 2.0], size=(300, 2))
    X = coords @ basis + rng.normal(scale=0.01, size=(300, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        ["vec_id", "embedding"],
    )
    mean, comps, var = fit_pca_driver(df, k=3)
    assert var[0] > var[1] > var[2]
    # top-2 variance dominates the third by orders of magnitude
    assert var[1] / var[2] > 100
    out1 = pca_project(df, mean, comps, whiten_variance=var).select("vec_id", "pca")
    out2 = pca_project(df.repartition(7), mean, comps, whiten_variance=var).select(
        "vec_id", "pca"
    )
    a = {r["vec_id"]: r["pca"] for r in out1.collect()}
    b = {r["vec_id"]: r["pca"] for r in out2.collect()}
    assert a == b
