"""Group L — LLM-data-pipeline operators (SURVEY §2B + north-star
extensions): dedup (exact / n-gram Jaccard / MinHash-LSH / SimHash /
embedding-cosine), similarity search (exact + LSH), text analysis,
multimodal columns.

Hash-checked keys use exact algorithms; the probabilistic scale paths
(LSH variants) are rows-only here and recall-tested in tests/test_llmops.py.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..catalog import load_tables
from ..operators import dedup, multimodal, similarity, text as text_ops
from ..functions import l2_norm_expr

#: thresholds calibrated on the fixtures (25 planted near-dup pairs have
#: jaccard ~0.97; cosine max is ~0.51 with 990 pairs >= 0.3)
JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.3

# portable tokenization CTE fragment shared by oracle SQL strings
_TOK_CTE = (
    "tok AS (SELECT doc_id, lang, "
    "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w, "
    "generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS p "
    "FROM documents)"
)
_SHINGLE_CTE = (
    "sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle "
    "FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.p = a.p + 1 "
    "JOIN tok c ON a.doc_id = c.doc_id AND c.p = a.p + 2)"
)


def q_dedup_exact_hash(spark, sf_dir):
    """Exact dedup over documents ∪all documents (fixtures have no native
    dups; the self-union makes every group size 2 so min-id keep is real)."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    return dedup.exact_dedup_keys(d.unionAll(d))


def q_dedup_near_jaccard(spark, sf_dir):
    """Exact 3-shingle Jaccard near-dup pairs (>= 0.5)."""
    load_tables(spark, sf_dir)
    sh = dedup.shingles(spark.table("documents"), n=3)
    return dedup.jaccard_pairs(sh, JACCARD_THRESHOLD)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup (scale path). Rows-only: candidate recall is
    probabilistic; tests assert recall == 1.0 on fixtures vs the exact key."""
    load_tables(spark, sf_dir)
    return dedup.minhash_lsh_pairs(spark.table("documents"), JACCARD_THRESHOLD)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3) via 16-bit block banding."""
    load_tables(spark, sf_dir)
    return dedup.simhash_near_pairs(spark.table("documents"), max_hamming=3)


def q_dedup_simhash_grouped(spark, sf_dir):
    """SimHash near-dup GROUP pairs (hamming <= 3): the grouped output
    mode (`expand_members=False`, r10) promoted to the graded surface.

    One row per duplicate-GROUP pair instead of per member pair —
    (d1, d2, hamming, g1, g2) with d1/d2 the groups' min-doc_id
    representatives and g1/g2 the group sizes; within-group duplicate
    mass appears as the diagonal row d1 == d2 at hamming 0 (groups of
    size >= 2 with >= 1 token).  O(unique^2) output regardless of the
    corpus duplication factor — the shape a 100 TB dedup job actually
    persists (cluster membership, not quadratic pair lists)."""
    load_tables(spark, sf_dir)
    return dedup.simhash_near_pairs(
        spark.table("documents"), max_hamming=3, expand_members=False
    )


EMBED_DEDUP_THRESHOLD = 0.35  # 271 edges/500 vecs at sf0.01: small comps


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup groups: cosine >= 0.35 pairs form edges,
    connected components form dup groups, min vec_id is kept per group —
    the similarity kernel composed with the CC iterative operator.
    Oracle: exact pair SQL + recursive-CTE label propagation."""
    load_tables(spark, sf_dir)
    return similarity.embedding_dedup_groups(
        spark, spark.table("embeddings"), EMBED_DEDUP_THRESHOLD
    )


def q_sim_topk_cosine(spark, sf_dir):
    """Exact top-5 cosine neighbors per vector (numpy kernel, 4dp)."""
    load_tables(spark, sf_dir)
    return similarity.cosine_topk(spark, spark.table("embeddings"), k=5)


def q_sim_threshold_pairs(spark, sf_dir):
    """Pairs with cosine >= 0.3 counted per (label_a, label_b)."""
    load_tables(spark, sf_dir)
    return similarity.cosine_threshold_pairs(
        spark, spark.table("embeddings"), COSINE_THRESHOLD
    )


def q_sim_ann_lsh(spark, sf_dir):
    """Approximate top-5 via random-hyperplane LSH (scale path; rows-only,
    recall asserted vs exact kernel in tests)."""
    load_tables(spark, sf_dir)
    return similarity.cosine_topk_lsh(spark, spark.table("embeddings"), k=5)


def q_sim_ann_ivf(spark, sf_dir):
    """Approximate top-5 via IVF cell probing (the other ANN scale path;
    rows-only, recall + exact re-scoring asserted in tests)."""
    load_tables(spark, sf_dir)
    return similarity.cosine_topk_ivf(spark, spark.table("embeddings"), k=5)


def q_text_tfidf_top_terms(spark, sf_dir):
    """Top-5 terms per language by summed tf-idf (ln idf), tiebreak term."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    words = (
        d.select(
            "doc_id", "lang",
            F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"),
        )
    )
    tf = words.groupBy("doc_id", "lang", "w").agg(F.count("*").alias("tf"))
    df_ = words.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a broadcast single-row join — no driver action, the
    # count stays inside the one job
    nd = d.agg(F.count("*").cast("double").alias("n_docs"))
    idf = F.log(F.col("n_docs") / F.col("df"))
    scored = (
        tf.join(df_, "w")
        .crossJoin(F.broadcast(nd))
        .groupBy("lang", "w")
        .agg(F.sum(F.col("tf") * idf).alias("raw"))
    )
    win = Window.partitionBy("lang").orderBy(F.col("raw").desc(), F.col("w"))
    return (
        scored.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 5)
        .select("lang", F.col("w").alias("term"), F.round("raw", 4).alias("score"))
    )


def q_text_lang_stats(spark, sf_dir):
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


def q_text_quality_score(spark, sf_dir):
    # n_tokens > 0 guard: a whitespace-only doc would divide by zero, and
    # the engines disagree on the result (Spark NULL vs DuckDB inf/error)
    load_tables(spark, sf_dir)
    return text_ops.quality_score(spark.table("documents")).filter(
        F.col("n_tokens") > 0
    )


def q_text_token_count(spark, sf_dir):
    load_tables(spark, sf_dir)
    return text_ops.token_stats(spark.table("documents"))


def q_text_lang_id(spark, sf_dir):
    """Char-trigram language ID (rows-only; model heuristic not in SQL)."""
    load_tables(spark, sf_dir)
    return text_ops.lang_id(spark.table("documents"))


def q_text_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash fingerprint (rows-only; golden test)."""
    load_tables(spark, sf_dir)
    return text_ops.fingerprint(spark.table("documents"))


def q_text_bigram_top(spark, sf_dir):
    """Top-20 word bigrams corpus-wide (n-gram extraction, the LM-data
    staple).  Tokenize -> adjacent-pair expansion -> count; tiebreak
    bigram.

    r12 (guide §2.4 remove shuffles outright): bigrams are formed
    ARRAY-side from the token array — element i paired with element
    i+1, the exact adjacency the old posexplode + lead-over-
    (doc_id, pos) window produced — so the per-doc window shuffle+sort
    disappears; the only exchange left is the count aggregation (plus
    the top-20 final ordering on its 1-row-per-bigram output)."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    bigrams = d.select(toks.alias("t")).select(
        F.explode(
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 1, 0)), "
                "(x, i) -> concat(x, ' ', element_at(t, i + 2)))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(20)
    )


def q_text_scrub_pii(spark, sf_dir):
    """PII-style scrubbing: mask every digit in the raw props payload and
    profile the surviving shapes per event type.  regexp_replace is the
    JVM-side masking primitive a redaction pipeline runs at 100 TB."""
    load_tables(spark, sf_dir)
    ev = spark.table("events")
    masked = F.regexp_replace("props", "[0-9]", "#")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(masked).alias("n_shapes"),
        F.min(masked).alias("min_shape"),
    )


def q_multimodal_join(spark, sf_dir):
    """documents ⋈ embeddings (text + vector in one row) with an array
    kernel reduced to a scalar (flat output per Appendix B.9)."""
    load_tables(spark, sf_dir)
    d, e = spark.table("documents"), spark.table("embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .select(
            "doc_id", "lang", "label",
            l2_norm_expr("embedding").alias("l2_norm"),
            F.substring("text", 1, 20).alias("text_pfx"),
        )
    )


def q_multimodal_extract(spark, sf_dir):
    """Binary payload -> feature vector plumbing (stubbed decoder, real
    Spark stage shape).  Hash-checked: the deterministic fake extractor
    (mod-16 byte histogram, L2-normalized) is reconstructed in SQL."""
    load_tables(spark, sf_dir)
    wrapped = multimodal.attach_binary_payload(spark.table("documents"))
    feats = multimodal.extract_features(wrapped, dim=16, fake=True)
    # feature values are already rounded 6dp in the kernel; re-rounding to
    # 4dp here would double-round (the 6dp value can sit exactly on a 4dp
    # tie, which engines break differently — observed at sf0.001)
    return feats.select(
        "doc_id", "byte_len",
        F.element_at("feature", 1).alias("f0"),
        F.size("feature").alias("dim"),
    )


def q_multimodal_frame_sample(spark, sf_dir):
    """Video-style frame sampling: one binary payload -> N fixed-stride
    frame rows through an Arrow-batched mapInPandas explode (the 1->N
    stage shape real frame extraction uses).  The fixture payload is
    the text's UTF-8 bytes; frames surface as HEX so the comparison is
    byte-exact for ANY content (a raw string cast breaks when a frame
    boundary splits a multibyte code point) — hash-checked against a
    hex-slicing SQL oracle, unlike the stubbed decoder in
    multimodal_extract."""
    load_tables(spark, sf_dir)
    wrapped = multimodal.attach_binary_payload(spark.table("documents"))
    frames = multimodal.frame_sample(wrapped, every_n=10)
    # frames surface as HEX, not a string cast: a byte slice can split a
    # multibyte code point, and casting invalid UTF-8 to string is
    # engine-fragile — hex is exact for any payload (r8 unicode sweep)
    return frames.select(
        "doc_id", "frame_off", F.hex(F.col("frame")).alias("frame_hex")
    )


def q_multimodal_resize(spark, sf_dir):
    """Image-resize plumbing (stubbed decoder, real mapInPandas pooling
    stage).  Rows-only; determinism + range invariants in pytest."""
    load_tables(spark, sf_dir)
    wrapped = multimodal.attach_binary_payload(spark.table("documents"))
    return multimodal.resize(wrapped, out_w=8, out_h=6, fake=True)



def q_multimodal_phash(spark, sf_dir):
    """Perceptual hash over the binary payloads (stubbed decoder, real
    integer pooling kernel): 48-bit aHash + popcount per doc.  The bit
    test is integer cross-multiplication — exactly reproducible, so this
    multimodal kernel hash-checks against a grid-reconstruction oracle
    like multimodal_resize."""
    load_tables(spark, sf_dir)
    wrapped = multimodal.attach_binary_payload(spark.table("documents"))
    return multimodal.phash(wrapped, out_w=8, out_h=6, fake=True)


CONTAINMENT_THRESHOLD = 0.9


def q_dedup_containment(spark, sf_dir):
    """Shingle-containment near-dup pairs: C(A,B) = |A∩B| / |A| >= 0.9 —
    catches sub/superset duplication (a doc embedded in a longer one)
    that symmetric Jaccard under-scores.  Same intersection machinery as
    the Jaccard join; the denominator is the SMALLER side's shingle
    count, emitted with d1 < d2 and both directions checked."""
    load_tables(spark, sf_dir)
    sh = dedup.shingles(spark.table("documents"), n=3)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    containment = F.col("i").cast("double") / F.least(F.col("na.n"), F.col("nb.n"))
    return (
        inter.join(cnt.alias("na"), F.col("d1") == F.col("na.doc_id"))
        .join(cnt.alias("nb"), F.col("d2") == F.col("nb.doc_id"))
        .filter(containment >= CONTAINMENT_THRESHOLD)
        .select("d1", "d2", F.round(containment, 4).alias("containment"))
    )


def q_dedup_cluster_resolve(spark, sf_dir):
    """End-to-end near-dup resolution: Jaccard >= 0.5 pairs form edges,
    connected components form dup clusters, and the KEPT doc per cluster
    is the longest one (max n_chars, tie -> min doc_id) — the canonical
    'keep best representative' step a training-data pipeline runs after
    candidate generation.  Composition of three engine primitives:
    shingle join + iterative CC + argmax aggregation."""
    from ..operators.algorithms import connected_components

    load_tables(spark, sf_dir)
    d = spark.table("documents")
    sh = dedup.shingles(d, n=3)
    # materialize the shingle-join output once — the symmetric union and
    # CC's node derivation would otherwise recompute it several times
    pairs = (
        dedup.jaccard_pairs(sh, JACCARD_THRESHOLD)
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    edges = pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    comp = connected_components(edges, iters=12).state
    member = comp.join(d, comp.node == d.doc_id).select(
        "label", "doc_id", "n_chars"
    )
    # scalar composite argmax key (n_chars major, lower doc_id breaks
    # ties) — the same expression the oracle uses; doc ids stay far below
    # the 1e8 scale factor
    order_key = F.col("n_chars").cast("long") * 100000000 - F.col("doc_id")
    return member.groupBy("label").agg(
        F.count("*").alias("group_size"),
        F.max_by(F.col("doc_id"), order_key).alias("keep_id"),
    ).select(F.col("label").alias("cluster_min_id"), "keep_id", "group_size")


def q_text_ttr(spark, sf_dir):
    """Type-token ratio per doc (lexical diversity — a standard LM-data
    quality signal): distinct tokens / tokens, 6dp.  Token counts are
    <= 99 on the fixtures, so every terminating ratio has <= 6 decimals
    and scale-6 rounding is tie-free (Appendix B rounding rule)."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    # n_tokens > 0 guard: empty docs would give NULL (Spark) vs inf/error
    # (DuckDB) on the ratio — exclude them on both engines
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("ttr"),
    ).filter(F.col("n_tokens") > 0)


def q_text_token_histogram(spark, sf_dir):
    """Corpus token-count distribution in log2 buckets — the shape check
    every dataset card reports.  floor(log2(n)) is exact at the bucket
    boundaries (log2 of a power of two is exact in IEEE), so both engines
    bucket identically."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    n_tok = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    bucket = F.floor(F.log2(n_tok.cast("double"))).cast("int")
    # n_tok > 0 guard: log2(0) diverges between engines (NULL vs -inf)
    return (
        d.select(n_tok.alias("_n"), bucket.alias("log2_tokens"))
        .filter(F.col("_n") > 0)
        .groupBy("log2_tokens")
        .agg(F.count("*").alias("n_docs"))
    )


def q_text_entropy(spark, sf_dir):
    """Unigram Shannon entropy per document — the repetition /
    template-detection signal corpus filters threshold on (boilerplate
    and spam sit far below natural text).  H = -sum p*log2(p) over the
    doc's token distribution; entropy values are transcendental, so 4dp
    rounding never lands on a cross-engine tie.

    Plan: explode -> per-(doc, token) count -> per-doc window total ->
    one aggregation.  Shuffles are keyed by doc_id (and doc_id+token),
    so at 100 TB this is embarrassingly parallel over documents."""
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    cnt = (
        d.select("doc_id", F.explode(toks).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.withColumn("tot", F.sum("c").over(Window.partitionBy("doc_id")))
    p = F.col("c").cast("double") / F.col("tot")
    return tot.groupBy("doc_id").agg(
        F.round(-F.sum(p * F.log2(p)), 4).alias("entropy"),
        F.max("tot").cast("int").alias("n_tokens"),
    )


def q_text_bigram_lm_score(spark, sf_dir):
    """Corpus-bigram language-model score per document: train bigram
    conditional probabilities p(w2|w1) = c(w1,w2)/c(w1,·) on the whole
    corpus, then score each doc by the mean log2-probability of its
    bigram stream — the cheap LM-perplexity proxy used to rank documents
    for training-data selection (low score = unusual token transitions).

    Plan: one explode produces the bigram stream; corpus counts are two
    aggregations over it; the scoring join is keyed by the bigram, and
    the model tables are DataFrames (broadcast when small, shuffle-join
    when the vocabulary outgrows that) — no driver-side model object."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    big = (
        d.select("doc_id", toks.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("tk", 1, F.size("tk") - 1).alias("w1"),
                    F.slice("tk", 2, F.size("tk") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c2 = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    logp = F.log2(F.col("c2").cast("double") / F.col("c1"))
    return (
        big.join(c2, ["w1", "w2"]).join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(logp), 4).alias("lm_score"),
            F.count("*").alias("n_bigrams"),
        )
    )


BOILERPLATE_MIN_DF = 10


def q_text_boilerplate_ratio(spark, sf_dir):
    """Per-doc boilerplate ratio: the fraction of a document's distinct
    3-token shingles that are corpus-common (appearing in >= 10 docs) —
    the CCNet-style signal for stripping navigation chrome, license
    headers and template text before training.

    Plan: one shingle explode feeds both the per-shingle document
    frequency and the per-doc rollup; the df table joins back keyed by
    shingle.  At 100 TB the df table is the corpus-wide hot set — tiny
    relative to the corpus (high-df strings concentrate), so the join
    broadcasts; nothing is quadratic in documents."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    sh = dedup.shingles(d, n=3)
    docfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    j = sh.join(docfreq, "shingle")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum((F.col("df") >= BOILERPLATE_MIN_DF).cast("int")).alias("n_common"),
        F.round(
            F.sum((F.col("df") >= BOILERPLATE_MIN_DF).cast("int"))
            .cast("double") / F.count("*"),
            4,
        ).alias("boilerplate_ratio"),
    )


def q_sim_label_centroid(spark, sf_dir):
    """Per-label centroid + each vector's cosine to its own label
    centroid (cluster-coherence scoring, the building block of
    centroid-based dataset pruning).  Centroids aggregate per (label,
    dim) after posexplode — fully JVM-side, shuffle O(labels x dim)."""
    load_tables(spark, sf_dir)
    e = spark.table("embeddings")
    dims = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "x")
    ).withColumn("x", F.col("x").cast("double"))
    cent = dims.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    j = dims.join(cent, ["label", "dim"]).groupBy("vec_id", "label").agg(
        F.sum(F.col("x") * F.col("c")).alias("dot"),
        F.sum(F.col("x") * F.col("x")).alias("nx"),
        F.sum(F.col("c") * F.col("c")).alias("nc"),
    )
    return j.select(
        "vec_id",
        "label",
        F.round(
            F.col("dot") / F.sqrt(F.col("nx") * F.col("nc")), 4
        ).alias("cos_centroid"),
    )


PIPELINE_MIN_QUALITY = 2.0
PIPELINE_PER_LANG = 20


def q_pipeline_curation(spark, sf_dir):
    """The training-data curation pipeline END-TO-END in one declarative
    DAG — quality scoring -> threshold filter -> exact dedup (keep min
    doc_id per content hash) -> per-language stratified cap — the
    composition a real corpus build runs nightly, here fused by Catalyst
    into a single job (score and hash are computed in the same scan
    pass).  Output: the surviving docs with their scores."""
    from pyspark.sql import Window

    load_tables(spark, sf_dir)
    d = spark.table("documents")
    scored = text_ops.quality_score(d).select("doc_id", "quality")
    kept = (
        d.join(scored, "doc_id")
        .filter(F.col("quality") >= PIPELINE_MIN_QUALITY)
        .withColumn("h", F.md5(F.col("text").cast("binary")))
    )
    w_dup = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    w_cap = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        deduped.withColumn("rn", F.row_number().over(w_cap))
        .filter(F.col("rn") <= PIPELINE_PER_LANG)
        .select("doc_id", "lang", "quality", "rn")
    )


#: int8 symmetric quantization range
QUANT_MAX = 127


def q_embedding_quantize(spark, sf_dir):
    """Per-vector symmetric int8 quantization of the embedding column —
    the storage/serving compression step of an embedding pipeline:
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5).  The rounding is
    written as floor(x + 0.5) explicitly so both engines share EXACT
    half-up semantics (Spark round() and DuckDB round() disagree on
    ties).  Output: per-vector scale and integer summaries of the
    quantized vector (sum / min / max / saturated count) — integer
    arithmetic, so the hash check is exact.

    Plan: all array HOFs (transform/aggregate/filter) — JVM-side
    whole-stage codegen, zero Python, no shuffle at all (map-only)."""
    load_tables(spark, sf_dir)
    e = spark.table("embeddings")
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = (amax / QUANT_MAX).alias("scale")
    q = F.transform(
        "embedding", lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("long")
    )
    qd = e.select("vec_id", scale).filter(F.col("scale") > 0)
    qd = qd.join(e, "vec_id").select("vec_id", "scale", q.alias("q"))
    return qd.select(
        "vec_id",
        F.round("scale", 8).alias("scale_r"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
        F.size(F.filter("q", lambda x: F.abs(x) >= QUANT_MAX)).alias("n_saturated"),
    )


def q_text_readability(spark, sf_dir):
    """Flesch reading-ease per document with a vowel-group syllable
    approximation (standard when no dictionary is available):
    syllables = count of [aeiouy]+ runs, sentences = max(1, terminal
    punctuation marks), score = 206.835 - 1.015·(words/sentences)
    - 84.6·(syllables/words).  Pure regexp + arithmetic — JVM-side,
    map-only; the quotients divide two exact integers so the 4 dp
    rounding is stable across engines."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    words = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    syll = F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), 0))
    sents = F.greatest(F.lit(1), F.size(F.regexp_extract_all("text", F.lit("[.!?]"), 0)))
    out = d.select(
        "doc_id",
        words.alias("n_words"),
        syll.alias("n_syllables"),
        sents.alias("n_sentences"),
    ).filter(F.col("n_words") > 0)
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words") / F.col("n_sentences"))
        - F.lit(84.6) * (F.col("n_syllables") / F.col("n_words"))
    )
    return out.select(
        "doc_id",
        "n_words",
        "n_syllables",
        (F.round(score, 4) + F.lit(0.0)).alias("flesch"),
    )


#: collocation candidates need at least this many corpus occurrences
PMI_MIN_COUNT = 20


def q_text_collocations_pmi(spark, sf_dir):
    """Collocation mining by pointwise mutual information: for every
    adjacent word bigram occurring ≥ 20 times corpus-wide,
    PMI = log2( p(ab) / (p(a)·p(b)) ) with p() from exact unigram /
    bigram counts.  High-PMI bigrams are the corpus's fixed phrases —
    the standard phrase-vocabulary step before tokenizer training.

    Plan: ONE posexplode feeds both the unigram counts and (via lead
    over the per-doc sequence) the bigram counts; the two totals are
    broadcast scalars.  All counts are exact integers so only the final
    log is floating point, rounded at 4 dp."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    pos = d.select("doc_id", F.posexplode(toks).alias("p", "w"))
    uni = pos.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wseq = Window.partitionBy("doc_id").orderBy("p")
    big = (
        pos.select("doc_id", "w", F.lead("w", 1).over(wseq).alias("w2"))
        .filter(F.col("w2").isNotNull())
        .groupBy("w", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= PMI_MIN_COUNT)
    )
    n_uni = uni.agg(F.sum("c").alias("n")).select("n")
    n_bi = pos.groupBy("doc_id").agg((F.count(F.lit(1)) - 1).alias("nb")).agg(
        F.sum("nb").alias("nb")
    )
    # no broadcast hint on the unigram table: it is vocabulary-sized
    # (Heaps-law sublinear but unbounded — web-scale corpora have
    # billions of types), so the hint is left to AQE; the 1-row totals
    # stay broadcast
    j = (
        big.join(uni.withColumnRenamed("c", "c_a"), "w")
        .join(
            uni.withColumnRenamed("c", "c_b").withColumnRenamed("w", "w2"),
            "w2",
        )
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.log2(
        (F.col("c_ab") / F.col("nb"))
        / ((F.col("c_a") / F.col("n")) * (F.col("c_b") / F.col("n")))
    )
    return j.select(
        F.concat_ws(" ", "w", "w2").alias("bigram"),
        "c_ab",
        (F.round(pmi, 4) + F.lit(0.0)).alias("pmi"),
    )


#: ensemble: a pair is a duplicate when >= 2 of the 3 detectors agree
ENSEMBLE_MIN_VOTES = 2


def q_dedup_ensemble_vote(spark, sf_dir):
    """Ensemble near-duplicate detection — the production pattern of
    running several cheap detectors and keeping pairs where a MAJORITY
    agree, trading any single method's blind spot (Jaccard under-scores
    containment; exact-hash misses edits) for consensus: votes from
    (a) exact text-hash equality, (b) 3-shingle Jaccard ≥ 0.5,
    (c) shingle containment ≥ 0.9; pairs with ≥ 2 votes survive.

    Plan: ONE shingle intersection join feeds both Jaccard and
    containment (same |A∩B| aggregate, two denominators); the exact
    votes come from an md5-groupBy — nothing runs twice.  At 100 TB each
    detector is already sub-quadratic (hash groupBy / LSH-candidate
    paths) and the vote is a merge of tiny pair sets."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    sh = dedup.shingles(d, n=3)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    scored = (
        inter.join(cnt.alias("na"), F.col("d1") == F.col("na.doc_id"))
        .join(cnt.alias("nb"), F.col("d2") == F.col("nb.doc_id"))
        .select(
            "d1", "d2",
            (F.col("i") / (F.col("na.n") + F.col("nb.n") - F.col("i"))).alias("jac"),
            (F.col("i").cast("double") / F.least(F.col("na.n"), F.col("nb.n"))).alias(
                "cont"
            ),
        )
    )
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    ha, hb = hashed.alias("ha"), hashed.alias("hb")
    exact = (
        ha.join(
            hb,
            (F.col("ha.h") == F.col("hb.h"))
            & (F.col("ha.doc_id") < F.col("hb.doc_id")),
        )
        .select(
            F.col("ha.doc_id").alias("d1"), F.col("hb.doc_id").alias("d2"),
            F.lit(1).alias("v_exact"),
        )
    )
    votes = (
        scored.join(exact, ["d1", "d2"], "full_outer")
        .select(
            "d1", "d2",
            F.coalesce((F.col("jac") >= JACCARD_THRESHOLD).cast("int"), F.lit(0)).alias("v_jac"),
            F.coalesce((F.col("cont") >= 0.9).cast("int"), F.lit(0)).alias("v_cont"),
            F.coalesce("v_exact", F.lit(0)).alias("v_exact"),
        )
    )
    return votes.select(
        "d1", "d2", "v_exact", "v_jac", "v_cont",
        (F.col("v_exact") + F.col("v_jac") + F.col("v_cont")).alias("n_votes"),
    ).filter(F.col("n_votes") >= ENSEMBLE_MIN_VOTES)


def q_multimodal_audio_energy(spark, sf_dir):
    """Audio framewise RMS energy (stubbed decoder, real Arrow 1->N
    frame-explode stage): first 4 complete 64-sample frames per payload.
    Hash-checked — the oracle reconstructs the frames byte-by-byte in
    SQL from the same synthetic payload."""
    load_tables(spark, sf_dir)
    wrapped = multimodal.attach_binary_payload(spark.table("documents"))
    return multimodal.audio_frame_energy(wrapped)


def q_text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit of the corpus word-frequency distribution: OLS of
    log2(count) on log2(rank) (rank by count desc, word asc).  A natural
    corpus gives slope ≈ -1; templated/synthetic text departs — a cheap
    corpus-health fingerprint.  Single-pass: one wordcount, one rank
    window over the (small) vocabulary, one regr_* aggregate."""
    load_tables(spark, sf_dir)
    toks = (
        spark.table("documents")
        .select(F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"))
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    rk = Window.orderBy(F.col("c").desc(), F.col("w"))
    ranked = wc.withColumn("r", F.row_number().over(rk))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_words"),
        (F.round(F.regr_slope(F.log2("c"), F.log2("r")), 4) + F.lit(0.0)).alias("zipf_slope"),
        F.round(F.regr_r2(F.log2("c"), F.log2("r")), 4).alias("r2"),
    )


QUERIES = {
    "multimodal_audio_energy": q_multimodal_audio_energy,
    "text_zipf_fit": q_text_zipf_fit,
    "dedup_ensemble_vote": q_dedup_ensemble_vote,
    "text_collocations_pmi": q_text_collocations_pmi,
    "embedding_quantize": q_embedding_quantize,
    "text_readability": q_text_readability,
    "pipeline_curation": q_pipeline_curation,
    "dedup_exact_hash": q_dedup_exact_hash,
    "dedup_near_jaccard": q_dedup_near_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_grouped": q_dedup_simhash_grouped,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "sim_topk_cosine": q_sim_topk_cosine,
    "sim_threshold_pairs": q_sim_threshold_pairs,
    "sim_ann_lsh": q_sim_ann_lsh,
    "sim_ann_ivf": q_sim_ann_ivf,
    "text_tfidf_top_terms": q_text_tfidf_top_terms,
    "text_lang_stats": q_text_lang_stats,
    "text_quality_score": q_text_quality_score,
    "text_token_count": q_text_token_count,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "multimodal_join": q_multimodal_join,
    "multimodal_extract": q_multimodal_extract,
    "multimodal_frame_sample": q_multimodal_frame_sample,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_phash": q_multimodal_phash,
    "text_bigram_top": q_text_bigram_top,
    "text_scrub_pii": q_text_scrub_pii,
    "dedup_containment": q_dedup_containment,
    "dedup_cluster_resolve": q_dedup_cluster_resolve,
    "text_ttr": q_text_ttr,
    "text_token_histogram": q_text_token_histogram,
    "text_entropy": q_text_entropy,
    "text_bigram_lm_score": q_text_bigram_lm_score,
    "text_boilerplate_ratio": q_text_boilerplate_ratio,
    "sim_label_centroid": q_sim_label_centroid,
}

ORACLES = {
    "text_zipf_fit": (
        "WITH tok2 AS (SELECT "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w "
        "FROM documents), "
        "wc AS (SELECT w, count(*) AS c FROM tok2 GROUP BY w), "
        "rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM wc) "
        "SELECT count(*) AS n_words, "
        "round(regr_slope(log2(c), log2(r)), 4) + 0.0 AS zipf_slope, "
        "round(regr_r2(log2(c), log2(r)), 4) AS r2 FROM rk"
    ),
    "multimodal_audio_energy": (
        # byte-correct: see the ORACLES["multimodal_extract"] note
        "WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx, "
        "octet_length(encode(text)) AS L FROM documents "
        "WHERE text IS NOT NULL), "
        "bytes AS (SELECT doc_id, t.i - 1 AS pos, "
        "('0x' || substr(hx, 2 * t.i - 1, 2))::INT AS b FROM hx, "
        "LATERAL (SELECT unnest(range(1, least(L, 256) + 1)) AS i) t), "
        "framed AS (SELECT doc_id, CAST(pos // 64 AS INT) AS frame_idx, "
        "b FROM bytes WHERE pos < 4 * 64), "
        "full_frames AS (SELECT doc_id, frame_idx, sum(b * b) AS ss, "
        "count(*) AS n FROM framed GROUP BY 1, 2 HAVING count(*) = 64) "
        "SELECT doc_id, frame_idx, round(sqrt(ss / 64.0), 6) AS rms "
        "FROM full_frames"
    ),
    "dedup_ensemble_vote": (
        f"WITH {_TOK_CTE}, {_SHINGLE_CTE}, "
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2), "
        "scored AS (SELECT d1, d2, "
        "CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jac, "
        "CAST(i AS DOUBLE) / least(na.n, nb.n) AS cont "
        "FROM inter JOIN cnt na ON d1 = na.doc_id JOIN cnt nb ON d2 = nb.doc_id), "
        "hashed AS (SELECT doc_id, md5(text) AS h FROM documents), "
        "exact AS (SELECT a.doc_id AS d1, b.doc_id AS d2, 1 AS v_exact "
        "FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id), "
        "votes AS (SELECT coalesce(s.d1, e.d1) AS d1, coalesce(s.d2, e.d2) AS d2, "
        "coalesce(e.v_exact, 0) AS v_exact, "
        f"CASE WHEN s.jac >= {0.5} THEN 1 ELSE 0 END AS v_jac, "
        "CASE WHEN s.cont >= 0.9 THEN 1 ELSE 0 END AS v_cont "
        "FROM scored s FULL OUTER JOIN exact e ON s.d1 = e.d1 AND s.d2 = e.d2) "
        "SELECT d1, d2, v_exact, v_jac, v_cont, "
        "v_exact + v_jac + v_cont AS n_votes FROM votes "
        f"WHERE v_exact + v_jac + v_cont >= {2}"
    ),
    "text_collocations_pmi": (
        "WITH tokp AS (SELECT doc_id, "
        "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w, "
        "generate_subscripts(list_filter(string_split(text, ' '), x -> x <> ''), 1) AS p "
        "FROM documents), "
        "uni AS (SELECT w, count(*) AS c FROM tokp GROUP BY w), "
        "n1 AS (SELECT sum(c) AS n FROM uni), "
        "bi AS (SELECT a.w AS w, b.w AS w2, count(*) AS c_ab "
        "FROM tokp a JOIN tokp b ON a.doc_id = b.doc_id AND b.p = a.p + 1 "
        f"GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_COUNT}), "
        "n2 AS (SELECT sum(nb) AS nb FROM "
        "(SELECT count(*) - 1 AS nb FROM tokp GROUP BY doc_id)) "
        "SELECT bi.w || ' ' || bi.w2 AS bigram, c_ab, "
        "round(log2((CAST(c_ab AS DOUBLE) / nb) / "
        "((CAST(ua.c AS DOUBLE) / n) * (CAST(ub.c AS DOUBLE) / n))), 4) + 0.0 AS pmi "
        "FROM bi JOIN uni ua ON bi.w = ua.w JOIN uni ub ON bi.w2 = ub.w, n1, n2"
    ),
    "embedding_quantize": (
        "WITH s AS (SELECT vec_id, embedding, "
        "CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) "
        f"/ {QUANT_MAX} AS scale "
        "FROM embeddings), "
        "q AS (SELECT vec_id, scale, "
        "list_transform(embedding, x -> "
        "CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)) AS qv "
        "FROM s WHERE scale > 0) "
        "SELECT vec_id, round(scale, 8) AS scale_r, "
        "CAST(list_sum(qv) AS BIGINT) AS q_sum, "
        "list_min(qv) AS q_min, list_max(qv) AS q_max, "
        f"len(list_filter(qv, x -> abs(x) >= {QUANT_MAX})) AS n_saturated FROM q"
    ),
    "text_readability": (
        "WITH t AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_words, "
        "len(regexp_extract_all(text, '[aeiouy]+')) AS n_syllables, "
        "greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS n_sentences "
        "FROM documents) "
        "SELECT doc_id, n_words, n_syllables, "
        "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) "
        "- 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) + 0.0 AS flesch "
        "FROM t WHERE n_words > 0"
    ),
    "text_bigram_top": (
        "WITH toks AS (SELECT doc_id, w, p FROM ("
        "SELECT doc_id, unnest(string_split(text, ' ')) AS w, "
        "generate_subscripts(string_split(text, ' '), 1) AS p "
        "FROM documents) t WHERE w <> ''), "
        "bi AS (SELECT doc_id, w, "
        "lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2 FROM toks) "
        "SELECT w || ' ' || w2 AS bigram, count(*) AS cnt FROM bi "
        "WHERE w2 IS NOT NULL GROUP BY bigram "
        "ORDER BY cnt DESC, bigram LIMIT 20"
    ),
    "text_scrub_pii": (
        "SELECT event_type, count(*) AS n_events, "
        "count(DISTINCT regexp_replace(props, '[0-9]', '#', 'g')) AS n_shapes, "
        "min(regexp_replace(props, '[0-9]', '#', 'g')) AS min_shape "
        "FROM events GROUP BY event_type"
    ),
    "dedup_exact_hash": (
        "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n "
        "FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) d "
        "GROUP BY md5(text)"
    ),
    "dedup_embedding_cosine": (
        "WITH RECURSIVE pairs AS ("
        " SELECT a.vec_id AS a, b.vec_id AS b FROM embeddings a"
        " JOIN embeddings b ON a.vec_id < b.vec_id"
        " WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),"
        " CAST(b.embedding AS DOUBLE[]))"
        f" >= {EMBED_DEDUP_THRESHOLD}), "
        "edges AS (SELECT a AS src, b AS dst FROM pairs"
        " UNION ALL SELECT b, a FROM pairs), "
        "nodes AS (SELECT DISTINCT src AS node FROM edges), "
        "walk(node, label) AS ("
        " SELECT node, node FROM nodes"
        " UNION"
        " SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node), "
        "lab AS (SELECT node, min(label) AS label FROM walk GROUP BY node) "
        "SELECT label AS keep_id, count(*) AS group_size FROM lab GROUP BY label"
    ),
    "dedup_near_jaccard": (
        f"WITH {_TOK_CTE}, {_SHINGLE_CTE}, "
        "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
        "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
        "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
        "GROUP BY 1, 2) "
        "SELECT d1, d2, round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jac "
        "FROM inter JOIN cnt na ON d1 = na.doc_id JOIN cnt nb ON d2 = nb.doc_id "
        f"WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}"
    ),
    # CAST to DOUBLE[] is load-bearing: list_cosine_similarity on FLOAT[]
    # computes in float32 and disagrees with the float64 kernel at 4dp
    "sim_topk_cosine": (
        "SELECT a.vec_id AS vec_id, b.vec_id AS nbr, "
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])), 4) AS sim "
        "FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id "
        "QUALIFY row_number() OVER (PARTITION BY a.vec_id "
        "ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) <= 5"
    ),
    "sim_threshold_pairs": (
        "SELECT a.label AS label_a, b.label AS label_b, count(*) AS n_pairs "
        "FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id "
        "WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        f"CAST(b.embedding AS DOUBLE[])) >= {COSINE_THRESHOLD} "
        "GROUP BY a.label, b.label"
    ),
    "text_tfidf_top_terms": (
        f"WITH {_TOK_CTE}, "
        "tf AS (SELECT doc_id, lang, w, count(*) AS tf FROM tok GROUP BY 1, 2, 3), "
        "df AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY w), "
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents), "
        "s AS (SELECT lang, tf.w, sum(tf * ln(n_docs / df)) AS raw "
        "FROM tf JOIN df ON tf.w = df.w CROSS JOIN n GROUP BY 1, 2) "
        "SELECT lang, w AS term, round(raw, 4) AS score FROM s "
        "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY raw DESC, w) <= 5"
    ),
    "text_lang_stats": (
        "SELECT lang, count(*) AS n_docs, round(avg(n_chars), 2) AS avg_chars, "
        "count(DISTINCT source) AS n_sources FROM documents GROUP BY lang"
    ),
    "text_quality_score": (
        "WITH t AS (SELECT doc_id, "
        "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok, "
        "len(list_filter(string_split(text, ' '), "
        "x -> x IN ('a','the','row','value','table'))) AS n_stop, "
        "length(text) AS n_chars FROM documents) "
        "SELECT doc_id, CAST(n_tok AS INT) AS n_tokens, "
        "round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio, "
        "round(CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok, 6) AS avg_token_len, "
        "round(ln(1 + CAST(n_tok AS DOUBLE)) "
        "* (1 - CAST(n_stop AS DOUBLE) / n_tok) "
        "* least((CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok) / 6, 1.0), 4) "
        "AS quality FROM t WHERE n_tok > 0"
    ),
    "text_token_count": (
        "SELECT doc_id, "
        "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) "
        "AS n_ws_tokens, "
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) "
        "AS n_re_tokens, "
        "length(text) AS n_chars FROM documents"
    ),
    "multimodal_join": (
        "SELECT doc_id, lang, label, "
        "round(sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm, "
        "substr(text, 1, 20) AS text_pfx "
        "FROM documents JOIN embeddings ON doc_id = vec_id"
    ),
    # byte-correct frames as HEX: a 10-byte slice can split a multibyte
    # code point, so decoding it to a string is engine-fragile — the hex
    # rendering is exact for any payload (see ORACLES["multimodal_extract"])
    "multimodal_frame_sample": (
        "WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx, "
        "octet_length(encode(text)) AS L FROM documents "
        "WHERE text IS NOT NULL), "
        "idx AS (SELECT doc_id, hx, "
        "unnest(generate_series(1, CAST(ceil(L/10.0) AS BIGINT))) AS n "
        "FROM hx) "
        "SELECT doc_id, CAST((n-1)*10 AS INT) AS frame_off, "
        "substr(hx, CAST(2*(n-1)*10+1 AS INT), 20) AS frame_hex FROM idx"
    ),
    # rows-only: dedup_minhash_lsh, sim_ann_lsh, sim_ann_ivf (probabilistic
    # scale paths)
}


ORACLES["pipeline_curation"] = (
    "WITH t AS (SELECT doc_id, lang, text, "
    "len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok, "
    "len(list_filter(string_split(text, ' '), "
    "x -> x IN ('a','the','row','value','table'))) AS n_stop, "
    "length(text) AS n_chars FROM documents), "
    "scored AS (SELECT doc_id, lang, text, "
    "round(ln(1 + CAST(n_tok AS DOUBLE)) "
    "* (1 - CAST(n_stop AS DOUBLE) / n_tok) "
    "* least((CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok) / 6, 1.0), 4) "
    "AS quality FROM t WHERE n_tok > 0), "
    f"kept AS (SELECT *, md5(text) AS h FROM scored WHERE quality >= {PIPELINE_MIN_QUALITY}), "
    "deduped AS (SELECT * FROM (SELECT *, "
    "row_number() OVER (PARTITION BY h ORDER BY doc_id) AS drn FROM kept) "
    "WHERE drn = 1) "
    "SELECT doc_id, lang, quality, rn FROM (SELECT doc_id, lang, quality, "
    "row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn "
    f"FROM deduped) WHERE rn <= {PIPELINE_PER_LANG}"
)

ORACLES["dedup_containment"] = (
    f"WITH {_TOK_CTE}, {_SHINGLE_CTE}, "
    "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
    "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2) "
    "SELECT d1, d2, round(CAST(i AS DOUBLE) / least(na.n, nb.n), 4) AS containment "
    "FROM inter JOIN cnt na ON d1 = na.doc_id JOIN cnt nb ON d2 = nb.doc_id "
    f"WHERE CAST(i AS DOUBLE) / least(na.n, nb.n) >= {CONTAINMENT_THRESHOLD}"
)

ORACLES["dedup_cluster_resolve"] = (
    f"WITH RECURSIVE {_TOK_CTE}, {_SHINGLE_CTE}, "
    "cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id), "
    "inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i "
    "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "pairs AS (SELECT d1, d2 FROM inter "
    "JOIN cnt na ON d1 = na.doc_id JOIN cnt nb ON d2 = nb.doc_id "
    f"WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}), "
    "edges AS (SELECT d1 AS src, d2 AS dst FROM pairs "
    "UNION ALL SELECT d2, d1 FROM pairs), "
    "nodes AS (SELECT DISTINCT src AS node FROM edges), "
    "walk(node, label) AS (SELECT node, node FROM nodes "
    "UNION SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.node), "
    "lab AS (SELECT node, min(label) AS label FROM walk GROUP BY node), "
    "member AS (SELECT l.label, d.doc_id, d.n_chars "
    "FROM lab l JOIN documents d ON d.doc_id = l.node) "
    "SELECT label AS cluster_min_id, "
    "max_by(doc_id, n_chars::BIGINT * 100000000 - doc_id) AS keep_id, "
    "count(*) AS group_size FROM member GROUP BY label"
)

ORACLES["text_ttr"] = (
    "WITH t AS (SELECT doc_id, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents) "
    "SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens, "
    "CAST(len(list_distinct(toks)) AS INT) AS n_types, "
    "round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr "
    "FROM t WHERE len(toks) > 0"
)

ORACLES["text_token_histogram"] = (
    "WITH n AS (SELECT len(list_filter(string_split(text, ' '), "
    "x -> x <> '')) AS n_tok FROM documents), "
    "t AS (SELECT CAST(floor(log2(n_tok::DOUBLE)) AS INT) AS log2_tokens "
    "FROM n WHERE n_tok > 0) "
    "SELECT log2_tokens, count(*) AS n_docs FROM t GROUP BY log2_tokens"
)

ORACLES["text_entropy"] = (
    "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x <> '') AS toks FROM documents), "
    "u AS (SELECT doc_id, unnest(toks) AS w FROM t), "
    "cnt AS (SELECT doc_id, w, count(*) AS c FROM u GROUP BY 1, 2), "
    "tot AS (SELECT *, sum(c) OVER (PARTITION BY doc_id) AS tot FROM cnt) "
    "SELECT doc_id, round(-sum((c::DOUBLE / tot) * log2(c::DOUBLE / tot)), 4) "
    "AS entropy, CAST(max(tot) AS INT) AS n_tokens FROM tot GROUP BY doc_id"
)

ORACLES["text_bigram_lm_score"] = (
    "WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), "
    "x -> x <> '') AS toks FROM documents), "
    "big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 "
    "FROM t, unnest(generate_series(1, len(toks) - 1)) AS s(i)), "
    "c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2), "
    "c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1) "
    "SELECT doc_id, round(avg(log2(c2::DOUBLE / c1)), 4) AS lm_score, "
    "count(*) AS n_bigrams FROM big "
    "JOIN c2 USING (w1, w2) JOIN c1 USING (w1) GROUP BY doc_id"
)

ORACLES["text_boilerplate_ratio"] = (
    f"WITH {_TOK_CTE}, {_SHINGLE_CTE}, "
    "df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle) "
    "SELECT doc_id, count(*) AS n_shingles, "
    f"CAST(sum(CASE WHEN df >= {BOILERPLATE_MIN_DF} THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_common, "
    f"round(sum(CASE WHEN df >= {BOILERPLATE_MIN_DF} THEN 1 ELSE 0 END)::DOUBLE "
    "/ count(*), 4) AS boilerplate_ratio "
    "FROM sh JOIN df USING (shingle) GROUP BY doc_id"
)

ORACLES["sim_label_centroid"] = (
    "WITH dims AS (SELECT vec_id, label, "
    "generate_subscripts(embedding, 1) - 1 AS dim, "
    "unnest(embedding)::DOUBLE AS x FROM embeddings), "
    "cent AS (SELECT label, dim, avg(x) AS c FROM dims GROUP BY label, dim), "
    "j AS (SELECT d.vec_id, d.label, sum(d.x * c.c) AS dot, "
    "sum(d.x * d.x) AS nx, sum(c.c * c.c) AS nc "
    "FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim "
    "GROUP BY d.vec_id, d.label) "
    "SELECT vec_id, label, round(dot / sqrt(nx * nc), 4) AS cos_centroid FROM j"
)


# flat surface of the fake feature extractor is SQL-reconstructable:
# feature[b] = count of bytes with byte % 16 == b, L2-normalized; f0 is
# bin 0 / norm (0, 1, or irrational — 6dp rounding is tie-free), rounded
# 6dp in the kernel then 4dp in the query, replicated as a double round
_EXTRACT_BINS = ", ".join(
    f"sum(CASE WHEN b = {i} THEN 1 ELSE 0 END) AS h{i}" for i in range(16)
)
_EXTRACT_NORM = " + ".join(f"h{i} * h{i}" for i in range(16))

# BYTE-correct oracles (r8 unicode sweep): the payload is the UTF-8
# BYTES of text, and the kernels read bytes — ord(substr(text, i, 1))
# reads CHARACTERS, which only coincides on ASCII.  hex(encode(text))
# exposes the true byte stream to SQL: byte i is the 2-hex-digit slice
# at position 2i-1 (works for any content incl. non-BMP code points).
ORACLES["multimodal_extract"] = (
    "WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx, "
    "octet_length(encode(text)) AS L FROM documents "
    "WHERE text IS NOT NULL), "
    "bytes AS (SELECT doc_id, "
    "('0x' || substr(hx, 2 * t.i - 1, 2))::INT % 16 AS b "
    "FROM hx, LATERAL (SELECT unnest(range(1, L + 1)) AS i) t), "
    f"h AS (SELECT doc_id, {_EXTRACT_BINS} FROM bytes GROUP BY doc_id), "
    f"n AS (SELECT doc_id, h0, sqrt(({_EXTRACT_NORM})::DOUBLE) AS nrm FROM h) "
    "SELECT d.doc_id, d.L::INT AS byte_len, "
    "round(n.h0 / n.nrm, 6) AS f0, 16 AS dim "
    "FROM hx d JOIN n ON n.doc_id = d.doc_id"
)


def _lang_score_sql(markers: tuple) -> str:
    """# of marker trigrams present as substrings — equivalent to the
    kernel's trigram-set membership test for 3-char markers (every length-3
    substring is a trigram); 1-char zh markers never equal a trigram, so
    zh scores a constant 0 in both engines."""
    return " + ".join(
        "contains(text, '" + m.replace("'", "''") + "')::INT" for m in markers
    )


ORACLES["text_lang_id"] = (
    "WITH s AS (SELECT doc_id, "
    f"{_lang_score_sql(('der', 'ein', 'sch', 'ung', 'ich'))} AS de, "
    f"{_lang_score_sql(('the', 'ing', 'ion', 'and', 'ed '))} AS en, "
    f"{_lang_score_sql(('que', 'ión', 'los', 'ado', 'nte'))} AS es, "
    f"{_lang_score_sql(('les', 'ent', 'ion', 'eur', 'que'))} AS fr, "
    "0 AS zh FROM documents) "
    "SELECT doc_id, "
    "CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de' "
    "WHEN en >= es AND en >= fr AND en >= zh THEN 'en' "
    "WHEN es >= fr AND es >= zh THEN 'es' "
    "WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS lang_guess, "
    "greatest(de, en, es, fr, zh) AS score FROM s "
    "WHERE de IS NOT NULL"  # NULL text: no guess (kernel drops the doc)
)

_FP_MOD_SQL = (1 << 61) - 1   # matches operators.text._FP_MOD
_FP_BASE_SQL = 1000003        # matches operators.text._FP_BASE

# Horner fold right-to-left == sum(tok_i * BASE^i); md5_number_lower is
# byte-identical to the kernel's int.from_bytes(md5[8:], 'little')
ORACLES["text_fingerprint"] = (
    "WITH tok AS (SELECT doc_id, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS toks "
    # NULL text: no fingerprint (kernel drops the doc)
    "FROM documents WHERE text IS NOT NULL), "
    "h AS (SELECT doc_id, list_transform(toks, "
    f"t -> md5_number_lower(t)::HUGEINT % {_FP_MOD_SQL}) AS hs FROM tok) "
    "SELECT doc_id, CASE WHEN len(hs) = 0 THEN 0 ELSE "
    "(list_reduce(list_reverse(hs), "
    f"(acc, t) -> (acc * {_FP_BASE_SQL} + t) % {_FP_MOD_SQL}))::BIGINT "
    "END AS fp FROM h"
)

_SIMHASH_VOTES_SQL = ", ".join(
    f"sum(CASE WHEN (md5_number_lower(w) >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(64)
)
_SIMHASH_BITS_SQL = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {1 << b}::HUGEINT ELSE 0 END" for b in range(64)
)

# oracle computes the SAME md5-bit-vote simhash, then brute-forces all
# pairs with hamming <= 3 — the banding plan must match the exact answer
# (pigeonhole: <= 3 differing bits leave >= 1 of the 4 16-bit blocks equal)
ORACLES["dedup_simhash"] = (
    "WITH tok AS (SELECT doc_id, "
    "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM documents), "
    f"v AS (SELECT doc_id, {_SIMHASH_VOTES_SQL} FROM tok GROUP BY doc_id), "
    f"u AS (SELECT doc_id, ({_SIMHASH_BITS_SQL})::HUGEINT AS uh FROM v), "
    "sh AS (SELECT doc_id, (CASE WHEN uh >= 9223372036854775808 "
    "THEN uh - 18446744073709551616 ELSE uh END)::BIGINT AS h FROM u) "
    "SELECT a.doc_id AS d1, b.doc_id AS d2, "
    "bit_count(xor(a.h, b.h)) AS hamming "
    "FROM sh a JOIN sh b ON a.doc_id < b.doc_id "
    "WHERE bit_count(xor(a.h, b.h)) <= 3"
)

# grouped mode: collapse identical texts first (GROUP BY text == the
# Spark path's md5(text) gid, collisions aside), rep = min(doc_id),
# diagonal rows (rep, rep, 0, gsize, gsize) for pairable groups of
# size >= 2, then the SAME brute-force simhash pair check over the
# representatives only, carrying both group sizes
ORACLES["dedup_simhash_grouped"] = (
    "WITH grp AS (SELECT min(doc_id) AS rep, count(*) AS gsize, text "
    "FROM documents WHERE text IS NOT NULL GROUP BY text), "
    "tok AS (SELECT rep, "
    "unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w FROM grp), "
    f"v AS (SELECT rep, {_SIMHASH_VOTES_SQL} FROM tok GROUP BY rep), "
    f"u AS (SELECT rep, ({_SIMHASH_BITS_SQL})::HUGEINT AS uh FROM v), "
    "sh AS (SELECT rep, (CASE WHEN uh >= 9223372036854775808 "
    "THEN uh - 18446744073709551616 ELSE uh END)::BIGINT AS h FROM u), "
    "pairable AS (SELECT DISTINCT rep FROM tok), "
    "diag AS (SELECT g.rep AS d1, g.rep AS d2, 0 AS hamming, "
    "g.gsize AS g1, g.gsize AS g2 "
    "FROM grp g JOIN pairable p ON g.rep = p.rep WHERE g.gsize >= 2), "
    "crossg AS (SELECT a.rep AS d1, b.rep AS d2, "
    "bit_count(xor(a.h, b.h)) AS hamming, ga.gsize AS g1, gb.gsize AS g2 "
    "FROM sh a JOIN sh b ON a.rep < b.rep "
    "JOIN grp ga ON ga.rep = a.rep JOIN grp gb ON gb.rep = b.rep "
    "WHERE bit_count(xor(a.h, b.h)) <= 3) "
    "SELECT * FROM diag UNION ALL SELECT * FROM crossg"
)

# reconstructs the fake decoder exactly: image = text bytes tiled to
# h x w (np.resize), integer-bucket area pooling to 6 x 8, empty buckets
# 0; ASCII payloads make ord(substr()) == byte value

ORACLES["multimodal_phash"] = (
    "WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx, "
    "octet_length(encode(text)) AS L FROM documents "
    "WHERE text IS NOT NULL), "
    "d AS (SELECT doc_id, hx, L, "
    "L % 48 + 1 AS h, L % 64 + 1 AS w FROM hx), "
    "cells AS (SELECT doc_id, "
    "(ty.yy * 6) // h AS by, (tx.xx * 8) // w AS bx, "
    "('0x' || substr(hx, 2 * (((ty.yy * w + tx.xx) % L) + 1) - 1, 2))::INT "
    "AS px "
    "FROM d, LATERAL (SELECT unnest(range(0, h)) AS yy) ty, "
    "LATERAL (SELECT unnest(range(0, w)) AS xx) tx), "
    "bsum AS (SELECT doc_id, by, bx, sum(px)::BIGINT AS s, count(*)::BIGINT AS c "
    "FROM cells GROUP BY 1, 2, 3), "
    "tot AS (SELECT doc_id, sum(px)::BIGINT AS ts, count(*)::BIGINT AS tc "
    "FROM cells GROUP BY doc_id) "
    "SELECT b.doc_id, "
    "CAST(sum(CASE WHEN b.s * t.tc > t.ts * b.c "
    "THEN 1::BIGINT << (b.by * 8 + b.bx) ELSE 0 END) AS BIGINT) AS phash, "
    "CAST(sum(CASE WHEN b.s * t.tc > t.ts * b.c THEN 1 ELSE 0 END) AS INT) AS n_bits "
    "FROM bsum b JOIN tot t ON b.doc_id = t.doc_id GROUP BY b.doc_id"
)

ORACLES["multimodal_resize"] = (
    "WITH hx AS (SELECT doc_id, hex(encode(text)) AS hx, "
    "octet_length(encode(text)) AS L FROM documents "
    "WHERE text IS NOT NULL), "
    "d AS (SELECT doc_id, hx, L, "
    "L % 48 + 1 AS h, L % 64 + 1 AS w FROM hx), "
    "cells AS (SELECT doc_id, h, w, "
    "(ty.yy * 6) // h AS by, (tx.xx * 8) // w AS bx, "
    "('0x' || substr(hx, 2 * (((ty.yy * w + tx.xx) % L) + 1) - 1, 2))::INT "
    "AS px "
    "FROM d, LATERAL (SELECT unnest(range(0, h)) AS yy) ty, "
    "LATERAL (SELECT unnest(range(0, w)) AS xx) tx), "
    "bavg AS (SELECT doc_id, by, bx, avg(px) AS v FROM cells GROUP BY 1, 2, 3), "
    "grid0 AS (SELECT d.doc_id, gy.by, gx.bx "
    "FROM d, (SELECT unnest(range(0, 6)) AS by) gy, "
    "(SELECT unnest(range(0, 8)) AS bx) gx), "
    "grid AS (SELECT g.doc_id, g.by, g.bx, coalesce(b.v, 0.0) AS v "
    "FROM grid0 g LEFT JOIN bavg b "
    "ON b.doc_id = g.doc_id AND b.by = g.by AND b.bx = g.bx), "
    "pm AS (SELECT doc_id, round(sum(px)::DOUBLE / count(*), 4) AS px_mean "
    "FROM cells GROUP BY doc_id), "
    "gc AS (SELECT doc_id, "
    "round(min(CASE WHEN by = 0 AND bx = 0 THEN v END), 4) AS px_c00, "
    "round(min(CASE WHEN by = 5 AND bx = 7 THEN v END), 4) AS px_last "
    "FROM grid GROUP BY doc_id) "
    "SELECT pm.doc_id, px_mean, px_c00, px_last FROM pm JOIN gc USING (doc_id)"
)


def q_dedup_url_canonicalize(spark, sf_dir):
    """URL-canonicalization dedup — the FIRST dedup pass of every web
    corpus build (CCNet/RefinedWeb style): crawls reach the same page
    via host-case variants, tracking query params, fragments, and
    trailing slashes, and canonicalizing the URL collapses them before
    any content hashing.  Fixture URLs are synthesized deterministically
    from doc_id (case variant %2, utm param %3, trailing slash %5,
    fragment %7, ~50 distinct pages), so every step of the
    canonicalizer is exercised.  Canonical form: lowercase the
    scheme+host (ONLY the host — paths are case-significant), strip the
    fragment, strip utm_* tracking params, strip the trailing slash.
    Output per canonical URL: kept doc (min doc_id) and variant count.

    100 TB: pure string expressions, map-side; the dedup groupBy
    shuffles one (canonical_url, doc_id) row per doc — this is the
    cheapest dedup pass and runs before the expensive content ones."""
    load_tables(spark, sf_dir)
    d = spark.table("documents")
    k = F.col("doc_id")
    raw = F.concat(
        F.lit("https://"),
        F.when(k % 2 == 0, F.lit("WWW.Example.COM")).otherwise(
            F.lit("www.example.com")
        ),
        F.lit("/Articles/"),
        (k % 50).cast("string"),
        F.when(k % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(k % 3 == 0, F.lit("?utm_source=feed")).otherwise(F.lit("")),
        F.when(k % 7 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    u = d.select("doc_id", raw.alias("url"))
    no_frag = F.regexp_replace("url", "#.*$", "")
    no_utm = F.regexp_replace(no_frag, r"\?utm_[^#]*$", "")
    head = F.lower(F.regexp_extract(no_utm, "^(https?://[^/]+)", 1))
    tail = F.regexp_replace(no_utm, "^https?://[^/]+", "")
    canon = F.concat(head, F.regexp_replace(tail, "/$", ""))
    return (
        u.withColumn("canonical_url", canon)
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


QUERIES["dedup_url_canonicalize"] = q_dedup_url_canonicalize

ORACLES["dedup_url_canonicalize"] = (
    "WITH u AS (SELECT doc_id, 'https://' || "
    "CASE WHEN doc_id % 2 = 0 THEN 'WWW.Example.COM' ELSE 'www.example.com' END "
    "|| '/Articles/' || CAST(doc_id % 50 AS VARCHAR) "
    "|| CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END "
    "|| CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END "
    "|| CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END AS url "
    "FROM documents), "
    "c AS (SELECT doc_id, "
    "lower(regexp_extract(regexp_replace(regexp_replace(url, '#.*$', ''), "
    "'\\?utm_[^#]*$', ''), '^(https?://[^/]+)', 1)) || "
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''), "
    "'\\?utm_[^#]*$', ''), '^https?://[^/]+', ''), '/$', '') AS canonical_url "
    "FROM u) "
    "SELECT canonical_url, min(doc_id) AS keep_doc, count(*) AS n_variants "
    "FROM c GROUP BY canonical_url"
)


def q_embedding_norm_stats(spark, sf_dir):
    """Embedding-norm health stats per label — the degenerate-embedding
    audit an ANN index build runs first: near-zero norms break cosine
    math and inflated norms dominate dot products.  norm = L2 over the
    64 float32 components (cast to double, summed IN ELEMENT ORDER by
    F.aggregate, so both engines execute the identical FP sequence and
    the per-row norm is bit-equal).  Output per label: count, mean norm
    (4 dp), min/max norm (6 dp).

    100 TB: F.aggregate is a JVM higher-order function — no Python, no
    explode; one partial+final aggregate keyed by the tiny label set."""
    load_tables(spark, sf_dir)
    e = spark.table("embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    withn = e.withColumn("nrm", F.sqrt(sq))
    return withn.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("nrm"), 4).alias("mean_norm"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


QUERIES["embedding_norm_stats"] = q_embedding_norm_stats

ORACLES["embedding_norm_stats"] = (
    "WITH n AS (SELECT label, sqrt(list_sum(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM embeddings) "
    "SELECT label, count(*) AS n_vecs, "
    "round(avg(nrm), 4) AS mean_norm, "
    "round(min(nrm), 6) AS min_norm, "
    "round(max(nrm), 6) AS max_norm "
    "FROM n GROUP BY label"
)
