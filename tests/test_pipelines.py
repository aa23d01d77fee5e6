"""Semantic tests for the corpus-construction pipeline operators
(pipelines.py): properties the oracle-parity hash can't express —
leakage-safety of the split, benchmark-overlap flagging, weight algebra.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from i2mapreduce_spark.operators import dedup
from i2mapreduce_spark.queries.pipelines import (
    SPLIT_JACCARD,
    q_pipeline_decontaminate,
    q_pipeline_mixture_weights,
    q_pipeline_split_leakage_safe,
    q_text_repetition_ratio,
)


def test_decontaminate_partition_is_exact(spark, sf_dir):
    """benchmark + contaminated + clean == total, per language."""
    for r in q_pipeline_decontaminate(spark, sf_dir).collect():
        assert r.n_benchmark + r.n_contaminated + r.n_clean == r.n_total


def test_split_never_separates_near_dups(spark, sf_dir):
    """The leakage-safety property itself: every Jaccard>=0.5 pair lands
    in the SAME split (re-derived from the same cluster assignment the
    query uses, checked pair-by-pair)."""
    from i2mapreduce_spark.catalog import load_tables
    from i2mapreduce_spark.operators import algorithms

    load_tables(spark, sf_dir)
    d = spark.table("documents")
    pairs = dedup.jaccard_pairs(dedup.shingles(d, n=3), SPLIT_JACCARD)
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).unionAll(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    labels = algorithms.connected_components(edges, iters=8).state
    lab = {r.node: r.label for r in labels.collect()}
    pr = pairs.collect()
    assert len(pr) > 0, "fixtures must contain planted near-dup pairs"
    for r in pr:
        assert lab[r.d1] == lab[r.d2]
    # and the split totals cover every document exactly once
    tot = (
        q_pipeline_split_leakage_safe(spark, sf_dir)
        .agg(F.sum("n_docs"))
        .collect()[0][0]
    )
    assert tot == d.count()


def test_mixture_weights_algebra(spark, sf_dir):
    """weight * share == target (uniform) for every language, and shares
    sum to 1."""
    rows = q_pipeline_mixture_weights(spark, sf_dir).collect()
    k = len(rows)
    assert math.isclose(sum(r.share for r in rows), 1.0, abs_tol=1e-4)
    for r in rows:
        assert math.isclose(r.weight * r.share, 1.0 / k, abs_tol=1e-3)


def test_repetition_ratio_handmade(spark):
    """'a a a a' -> top word count 4/4; an all-distinct doc scores 1/4
    (pins the word-count stage the ratios are built from)."""
    df = spark.createDataFrame(
        [(1, "a a a a", "en", "s", 7), (2, "w x y z", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    pos = df.select("doc_id", F.posexplode(toks).alias("p", "w"))
    wc = pos.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    top = wc.groupBy("doc_id").agg(F.max("c").alias("top_c"), F.sum("c").alias("n"))
    got = {r.doc_id: (r.top_c, r.n) for r in top.collect()}
    assert got[1] == (4, 4)
    assert got[2] == (1, 4)


def test_dataset_card_internally_consistent(spark, sf_dir):
    from pyspark.sql import functions as F

    from i2mapreduce_spark.queries.pipelines import q_pipeline_dataset_card

    row = q_pipeline_dataset_card(spark, sf_dir).collect()[0]
    d = spark.table("documents")
    assert row.n_docs == d.count()
    assert 0 <= row.exact_dup_rate < 1
    assert row.vocab_size <= row.n_tokens
    # entropy of a k-language distribution is bounded by log2(k)
    k = d.select("lang").distinct().count()
    import math

    assert 0 <= row.lang_entropy_bits <= math.log2(k) + 1e-9
