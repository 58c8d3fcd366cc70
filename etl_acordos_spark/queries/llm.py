"""LLM-data-pipeline extension queries (SURVEY.md §2.6): dedup family,
embedding similarity search, text analysis, multimodal plumbing.

Thresholds are calibrated to the synthetic corpus (documents/embeddings
testdata) so each query returns non-trivial rows at sf=0.01; every
operator parameterizes them. Exact all-pairs variants exist as oracles
for their LSH approximations — small-scale truth, with the LSH path as
the 100 TB strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_acordos_spark.functions.hashing import sql_hash32, sql_unit_hash
from etl_acordos_spark.operators.dedup import (
    containment_pairs,
    dup_cluster_stats,
    exact_dedup,
    jaccard_pairs,
    keep_representatives,
    minhash_lsh_pairs,
    prefix_filter_pairs,
    simhash_pairs,
    url_dedup,
)
from etl_acordos_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from etl_acordos_spark.operators.cluster import (
    domain_cap,
    kmeans_assign,
    semantic_dedup_keep,
)
from etl_acordos_spark.operators.simsearch import (
    QUANT_SCALE,
    ann_topk_lsh,
    cosine_pairs,
    exact_topk,
    ivf_topk,
    ivfpq_topk,
    pq_topk,
    quantize_int8,
    query_vector,
    rrf_fuse,
)
from etl_acordos_spark.operators.relational import stratified_sample
from etl_acordos_spark.operators.text import (
    bigram_lm_score,
    boilerplate_ngrams,
    char_entropy,
    corpus_stats,
    decontaminate,
    doc_chunks,
    fingerprints,
    lang_id,
    lm_score,
    mixture_sample,
    pack_best_fit,
    pack_chunks,
    pii_redact,
    quality_scores,
    repetition_stats,
    tfidf_top_terms,
    token_counts,
)
from etl_acordos_spark.queries.base import QueryDef, t

# ------------------------------------------------------------------ dedup


def q_ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup of documents.text: smallest doc_id per
    distinct body; shuffle carries ids + digests, never the text."""
    return exact_dedup(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise token-set Jaccard ≥ 0.9 — the oracle-able
    small-scale truth that the MinHash-LSH variants approximate.
    All-pairs verification baseline by design; the 100 TB scale paths
    are ext_dedup_near / ext_dedup_star (banded LSH candidates, never
    all-pairs) with this predicate as the per-bucket verify step."""
    return jaccard_pairs(
        t(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.9
    )


def q_ext_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT similarity join via prefix filtering
    (operators/dedup.py:prefix_filter_pairs — AllPairs/PPJoin family):
    all 3-gram-shingle Jaccard >= 0.8 pairs, the SAME truth as
    ext_dedup_ngram's brute force (which IS the oracle) but candidates
    come from rarity-ordered prefix-shingle buckets, never an
    all-pairs cross join — the deterministic-recall exact scale path
    next to the probabilistic MinHash-LSH siblings (ext_dedup_near /
    ext_dedup_star). Registered on SHINGLES, not raw tokens: prefix
    filtering's bucket sizes follow the token-frequency tail, and a
    small word vocabulary (this corpus: measured 142 s at sf0.1 on
    token sets vs ~1 s on shingles) makes every "rare" word common —
    q-gram/shingle domains restore the heavy tail, which is how the
    PPJoin literature applies the filter to text."""
    return prefix_filter_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        threshold=0.8,
        use_shingles=True,
        shingle_n=3,
    )


def q_ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise word-3-gram shingle Jaccard ≥ 0.8 — n-gram
    Jaccard as its own dedup signal (shingles catch local reorderings
    that token-set Jaccard is blind to). All-pairs verification-scale
    baseline; MinHash-LSH over the same shingle space is the 100 TB
    path (ext_dedup_near)."""
    return jaccard_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        threshold=0.8,
        use_shingles=True,
        shingle_n=3,
    )


def q_ext_dedup_contain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise asymmetric 3-gram-shingle containment ≥ 0.9
    (operators/dedup.py:containment_pairs): |A∩B|/|A| flags docs whose
    shingle set lies inside a LONGER doc — the subset-duplicate class
    symmetric Jaccard scores near |A|/|B| ≈ 0. All-pairs
    verification-scale baseline; at 100 TB the same banded-LSH
    candidate generation applies with this as the verify predicate."""
    return containment_pairs(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        threshold=0.9,
        use_shingles=True,
        shingle_n=3,
    )


#: deterministic synthetic crawl URL per document — the documents table
#: carries no URL column, so the query derives one from (source, doc_id)
#: with the decoration classes real crawls exhibit: host-case variance
#: (%3), trailing slash (%5), tracking params / param order (%7). The
#: oracle replays the IDENTICAL derivation; canonicalization must
#: collapse exactly the decoration and nothing else.
def _synth_url() -> F.Column:
    # modulus 35: sources cycle doc_id % 20, so canonical collisions
    # happen at doc_id ≡ (mod lcm(20,35)=140) — ~3.6 docs per canonical
    # URL at sf0.01; 140 ≡ 0 (mod 5,7) keeps slash/param class equal
    # within a group while 140 ≡ 2 (mod 3) varies the HOST CASE, so
    # the dup signal only fires if lowercasing canonicalizes it away
    article = (F.col("doc_id") % 35).cast("string")
    host = F.when(
        F.col("doc_id") % 3 == 0, F.upper(F.col("source"))
    ).otherwise(F.col("source"))
    slash = F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit(""))
    q7 = F.col("doc_id") % 7
    query = (
        F.when(q7 == 1, F.lit("?utm_source=feed&page=2"))
        .when(q7 == 3, F.lit("?page=2&ref=sidebar"))
        .when(q7 == 5, F.lit("?utm_campaign=x"))
        .otherwise(F.lit(""))
    )
    return F.concat(
        F.lit("https://"), host, F.lit(".example.com/articles/"),
        article, slash, query,
    )


def q_ext_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL + content-hash dual dedup verdict
    (operators/dedup.py:url_dedup) — the map-only first pass a web
    corpus runs before MinHash: fragment dropped, scheme/host
    lowercased, trailing slash stripped, tracking params removed and
    the rest sorted; first-claim by min doc_id per canonical URL and
    per sha256 digest."""
    docs = t(spark, sf_dir, "documents").withColumn("url", _synth_url())
    return url_dedup(docs, "url", "text", "doc_id")


def q_ext_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (3-word shingles, 64 perms, 16 bands,
    verify Jaccard ≥ 0.5). Map-only signatures; shuffle only on band
    buckets.

    Runs the ``md5`` hash family so the ENTIRE chain — shingle hash,
    seeded Carter-Wegman permutations, band keys, bucket-size cap,
    exact-Jaccard verify — is replayed verbatim by the DuckDB oracle
    (`_dedup_near_oracle`): LSH is seeded-deterministic, not random,
    so the full pipeline is hash-checkable (round-7 promotion from
    rows-only; the CMS-sketch md5 precedent). The production
    ``xxhash64`` family is pinned near-identical (identical verify
    values; candidate sets may differ on borderline banding-zone pairs)
    by tests/test_operators.py::test_minhash_hash_families_agree."""
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        threshold=0.5,
        hash_fn="md5",
    )


def q_ext_dedup_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-linked MinHash-LSH near-dup pairs — the duplicate-DENSE
    scale path (operators/dedup.py:minhash_lsh_pairs, link='min'):
    each band bucket contributes (bucket-min, member) candidates only,
    so candidate volume is O(docs · bands) at ANY duplicate density
    (all-pairs linking goes O(cluster²) through sub-cap buckets —
    measured in tests/test_dedup_stress.py). Same md5 chain and
    Jaccard verify as ext_dedup_near; pre-verify connectivity equals
    the clique linking's, so keep-set components agree except where a
    star edge fails verification."""
    return minhash_lsh_pairs(
        t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        threshold=0.5,
        hash_fn="md5",
        link="min",
    )


def q_ext_dedup_para(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular near-dedup (operators/dedup.py:
    paragraph_near_dedup): 30-word paragraph units, the seeded
    MinHash-LSH chain over units, earlier-key dominance drop, document
    rebuild — the between-passage-and-doc granularity
    (ext_passage_dedup is the exact-span variant, ext_dedup_near the
    whole-doc one). md5 hash family, so the DuckDB oracle replays the
    full chain including the rebuild."""
    from etl_acordos_spark.operators.dedup import paragraph_near_dedup

    return paragraph_near_dedup(
        t(spark, sf_dir, "documents"), "text", "doc_id", hash_fn="md5"
    )


def q_ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit, Hamming ≤ 3) via pigeonhole
    16-bit-chunk join. Runs the md5 token-hash family so the whole
    pipeline — per-bit votes, sign packing, chunk extraction, hamming —
    is replayed bit-for-bit by the DuckDB oracle (round-7 promotion
    from rows-only; UBIGINT carries the unsigned view of the same 64
    bit patterns). Unlike MinHash (whose exact-Jaccard verify is
    hash-independent), the signature IS the decision statistic, so the
    hamming<=3 pair set legitimately varies by family; the
    family-invariant logic (token-identical docs at hamming 0) is
    pinned for BOTH families by unit test."""
    return simhash_pairs(
        t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "text",
        "doc_id",
        hash_fn="md5",
    )


def q_ext_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicates: exact all-pairs ≥ 0.35 (data-
    calibrated — the synthetic embeddings are near-orthogonal). O(n²)
    verification-scale baseline; ext_simsearch_ann is the scale path."""
    return cosine_pairs(t(spark, sf_dir, "embeddings"), threshold=0.35)


def q_ext_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: pair graph → connected components → one
    kept doc per cluster (O(n) output — what a 100 TB pipeline actually
    materializes). The registered query feeds `keep_representatives`
    the EXACT token-set Jaccard pairs (same truth as ext_dedup_jaccard)
    so the keep-set hash-matches a DuckDB recursive-CTE oracle — LSH
    pairs at threshold 0.5 have probabilistic recall on borderline
    pairs, which an exact oracle cannot reproduce. The LSH-pair keep
    path (the 100 TB shape: banded candidates, never all-pairs) is the
    same operator composition, exercised with minhash_lsh_pairs input
    in tests/test_properties.py and via ext_dedup_near."""
    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    return keep_representatives(docs, pairs.select("doc_a", "doc_b"), "doc_id")


def q_ext_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split: the split is a pure function
    of the near-dup CLUSTER label (component minimum of the exact-pair
    graph, threshold 0.9), so two near-duplicate documents can never
    land in different splits — the eval-set leakage mode a doc-id hash
    split silently permits. 80/10/10 by the portable DECIMAL
    multiplicative hash on the cluster label; singletons label
    themselves. Same component core as ext_dedup_keep; the oracle
    replays the recursive-CTE components + the hash split."""
    from etl_acordos_spark.functions.hashing import hash32
    from etl_acordos_spark.operators.dedup import component_labels

    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    labels = component_labels(
        docs, pairs.select("doc_a", "doc_b"), "doc_id"
    ).select(F.col("a").alias("doc_id"), F.col("label").alias("cluster"))
    bucket = hash32(F.col("cluster")) % 100
    return labels.select(
        "doc_id",
        "cluster",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def q_ext_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup graph (same exact-pair
    truth as ext_dedup_keep, threshold 0.9): how many clusters of each
    size exist and how many docs they absorb — the corpus-health report
    a dedup pass emits. Singletons (docs in no pair) excluded; the
    oracle reads sizes off the same recursive-CTE components."""
    docs = t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    return dup_cluster_stats(docs, pairs.select("doc_a", "doc_b"), "doc_id")


# -------------------------------------------------------- similarity search


def q_ext_simsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 (query vector is a
    driver-side parameter, like a user-supplied embedding). Missing
    query id raises the family's documented ValueError."""
    emb = t(spark, sf_dir, "embeddings")
    return exact_topk(emb, query_vector(emb, 0), k=10, exclude_id=0)


def q_ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-50 (probe query {hash, vector,
    stream}) fused with embedding-cosine top-50 around vec_id=0 by
    reciprocal rank (k_rrf=60) — doc_id and vec_id share the id space,
    so the two lists probe the same corpus lexically and semantically.
    Both rank orders are 6-dp-rounded score desc + id asc, mirrored in
    the oracle's row_number windows."""
    from etl_acordos_spark.operators.text import bm25_topk

    docs = t(spark, sf_dir, "documents")
    lex = bm25_topk(
        docs, "text", "doc_id", ["hash", "vector", "stream"],
        k=50, keep_order_key=True,
    )
    emb = t(spark, sf_dir, "embeddings")
    vec = exact_topk(
        emb, query_vector(emb, 0), k=50, exclude_id=0
    ).withColumnRenamed("vec_id", "doc_id")
    return rrf_fuse(
        lex, vec, "doc_id", score_a="_ord", score_b="cosine", k=15
    )


def q_ext_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining
    (operators/simsearch.py:hard_negatives): anchors = every 100th
    vec_id; per anchor the cosine top-10 among vectors BELOW the 0.95
    near-duplicate ceiling — the most-similar non-duplicate neighbors,
    ranked by the family's (rounded cosine desc, id asc) key. Anchor
    set broadcasts; the corpus scans once."""
    from etl_acordos_spark.operators.simsearch import hard_negatives

    return hard_negatives(
        t(spark, sf_dir, "embeddings"),
        query_mod=100,
        k=10,
        dup_ceiling=0.95,
    )


def q_ext_quantize_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column: per-vector
    scale, code L1 mass, reconstruction RMSE — map-only HOF folds."""
    return quantize_int8(t(spark, sf_dir, "embeddings"))


def q_ext_simsearch_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-10 for vec_id=0: 12 tables × 6-bit
    signatures, bucket-collision candidates, exact re-rank within
    candidates only. `ann_topk_lsh` has one arithmetic: signed integer
    dots at QUANT_SCALE against quantized planes make the bucket
    structure bit-deterministic, so the whole query hash-verifies
    against `_lsh_oracle` (the same plane ints embedded as SQL literals
    via lsh_planes_int). Recall floors are pinned on the adversarial
    fixture (tests/test_simsearch.py)."""
    return ann_topk_lsh(t(spark, sf_dir, "embeddings"), query_id=0, k=10)


def q_ext_simsearch_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 for vec_id=0: 16 coarse cells, probe the 4
    nearest — the scan touches ~1/4 of the corpus. Runs the exact
    shifted-integer cell structure (quantize=2^20, the ext_kmeans
    recipe) so the candidate set — the only approximate part — is
    bit-deterministic and the whole query hash-verifies against
    `_ivf_oracle` (unrolled quantized-Lloyd coarse training over the
    id-prefix sample + integer argmin assignment/probe + the verified
    exact-cosine re-rank). The float spherical path stays the
    production default; quantized-vs-float recall parity is pinned on
    the adversarial fixture (tests/test_simsearch.py)."""
    return ivf_topk(
        t(spark, sf_dir, "embeddings"), query_id=0, k=10, quantize=1 << 20
    )


def q_ext_simsearch_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-10 for vec_id=0: 16
    subspaces × 32 codewords (64 floats → 16 codes, 16× compression),
    ADC table-lookup scan, exact re-rank of the 40-id shortlist. Runs
    the exact shifted-integer variant (quantize=2^20): HOF-identical
    normalization + clamp, integer codebooks/encode/ADC — the whole
    query hash-verifies against `_pq_oracle` (per-subspace unrolled
    integer Lloyd + integer ADC + verified cosine re-rank). The float
    IP-ADC path stays the production default; recall parity pinned on
    the adversarial fixture (tests/test_simsearch.py)."""
    return pq_topk(
        t(spark, sf_dir, "embeddings"), query_id=0, k=10, quantize=1 << 20
    )


def q_ext_simsearch_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite approximate top-10 for vec_id=0
    (operators/simsearch.py:ivfpq_topk): 16 coarse cells prune the
    scan to the 4 probed ones, residual product quantization (16×32)
    compresses the survivors, ADC scores codes, exact cosine re-ranks
    the 80-id shortlist — the standard billion-scale layout (Faiss
    IndexIVFPQ). `ivfpq_topk` has one arithmetic, exact shifted
    integers at QUANT_SCALE: quantized-normalized coarse cells,
    +2Q-shifted integer residuals, integer codebooks and
    per-probed-cell integer L2-ADC — the whole composite hash-verifies
    against `_ivfpq_oracle` (coarse `_lloyd_ctes` + prefixed
    `_pq_codebook_ctes` + verified cosine re-rank). Recall floors ≥ the
    IVF and PQ singles stay unit-tested against exact_topk."""
    return ivfpq_topk(t(spark, sf_dir, "embeddings"), query_id=0, k=10)


# ---------------------------------------------------- clustering / semantic


def q_ext_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining over the embedding halves
    (operators/simsearch.py:bitext_margin_pairs): top-50 cross-side
    pairs by cosine-over-kNN-mean margin (k=4) — the hubness-robust
    pair miner behind CCMatrix-style parallel-corpus construction.
    Exact all-pairs verification baseline (QUADRATIC_BY_DESIGN); the
    LSH-bucketed candidate generation of ext_simsearch_ann is the
    100 TB path."""
    from etl_acordos_spark.operators.simsearch import bitext_margin_pairs

    return bitext_margin_pairs(
        t(spark, sf_dir, "embeddings"), k=4, n=50
    )


def _bitext_oracle(k: int = 4, n: int = 50) -> str:
    """Oracle twin of q_ext_bitext_mine — identical cosine fold
    (list_dot_product ≡ the Spark zip_with/aggregate fold), identical
    positive-filter and grid-floors, and the same EXACT-integer kNN
    means (sum of round(cosine·1e9) longs — order-independent, so no
    summation-order ulp can flip the margin floor)."""
    cos = (
        "floor(list_dot_product(va, vb)"
        " / nullif(sqrt(list_dot_product(va, va))"
        "  * sqrt(list_dot_product(vb, vb)), 0)"
        " * 1000000000.0 + 0.5) / 1000000000.0"
    )
    c_int = "CAST(round(cosine * 1000000000.0) AS BIGINT)"
    return (
        "WITH a AS (SELECT vec_id AS a_id,"
        "   CAST(embedding AS DOUBLE[]) AS va"
        "  FROM embeddings WHERE vec_id % 2 = 0),"
        " b AS (SELECT vec_id AS b_id,"
        "   CAST(embedding AS DOUBLE[]) AS vb"
        "  FROM embeddings WHERE vec_id % 2 = 1),"
        f" p0 AS (SELECT a_id, b_id, {cos} AS cosine FROM a, b),"
        " p AS (SELECT * FROM p0 WHERE cosine > 0),"
        " ra AS (SELECT a_id, cosine, row_number() OVER ("
        "   PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rn FROM p),"
        f" ka AS (SELECT a_id, sum({c_int}) AS sa,"
        f"   count(*) AS ca FROM ra WHERE rn <= {k} GROUP BY a_id),"
        " rb AS (SELECT b_id, cosine, row_number() OVER ("
        "   PARTITION BY b_id ORDER BY cosine DESC, a_id) AS rn FROM p),"
        f" kb AS (SELECT b_id, sum({c_int}) AS sb,"
        f"   count(*) AS cb FROM rb WHERE rn <= {k} GROUP BY b_id)"
        " SELECT p.a_id, p.b_id, p.cosine,"
        "  floor(p.cosine / ((CAST(ka.sa AS DOUBLE) / ka.ca"
        "    + CAST(kb.sb AS DOUBLE) / kb.cb) / 2.0 / 1000000000.0)"
        "   * 1000000.0 + 0.5) / 1000000.0 AS margin"
        " FROM p JOIN ka USING (a_id) JOIN kb USING (b_id)"
        f" ORDER BY margin DESC, a_id, b_id LIMIT {n}"
    )


_BITEXT_ORACLE = _bitext_oracle()


def q_ext_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means assignment over embeddings (k=10, 4 iterations,
    deterministic init = first k by vec_id), run in the exact
    shifted-integer domain (quantize=2^20) so the full iteration is
    ANSI-SQL replayable — the oracle unrolls the Lloyd rounds as chained
    CTEs (the ext_pagerank recipe). The float path stays the production
    default; quantized-vs-float label agreement is pinned at sf0.01
    (tests/test_cluster.py)."""
    return kmeans_assign(
        t(spark, sf_dir, "embeddings"), k=10, n_iter=4, quantize=1 << 20
    )


def _kmeans_oracle(k: int = 10, n_iter: int = 4, q: int = 1 << 20) -> str:
    """Exact DuckDB replay of the quantized Lloyd run: components map to
    ``floor(x·Q + 0.5) + Q`` (int64, positive — so ``//`` truncation ==
    floor in both engines), each unrolled round is assignment (argmin of
    exact integer squared-L2, ties to the lowest cluster id) + centroid
    update (round-half-up integer mean, ``(2·sum + n) // (2·n)``; an
    empty cluster keeps its previous centroid via COALESCE), and the
    final SELECT re-assigns against the last centroids — mirroring
    operators/cluster.py::kmeans_assign's trailing assignment pass.
    list_sum returns HUGEINT — cast back to BIGINT before the division.
    The dimension is derived from the vectors themselves (``len(v)``,
    like the Spark side's ``C.shape[1]``) — a hardcoded width would
    silently NULL distances past the list end on any other table."""

    parts = [
        "WITH " + _quantized_vecs_cte(q) + ",",
        _lloyd_ctes("vecs", k, n_iter),
        _assign_cte("fin", "vecs", f"c{n_iter}"),
        " SELECT id AS vec_id, cluster FROM fin",
    ]
    return "".join(parts)


def _unit_quantized_vecs_cte(q: int) -> str:
    """``raw``/``nrm``/``vq``: HOF-identical L2 normalization (zero
    norm -> 1), [-1, 1] clamp (absorbs the one-ulp divide overshoot),
    shifted-integer quantization — the shared prologue of the PQ and
    IVF-PQ oracles, the exact twin of operators/simsearch.py's
    `unit_clamped` + `quantize_mat`."""
    return (
        "raw AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),"
        " nrm AS (SELECT id, v, CASE WHEN sqrt(list_dot_product(v, v)) = 0.0"
        "  THEN 1.0 ELSE sqrt(list_dot_product(v, v)) END AS nn FROM raw),"
        f" vq AS (SELECT id, list_transform(v, x -> CAST(floor("
        f"  least(greatest(x / nn, -1.0), 1.0) * {q}.0 + 0.5) AS BIGINT) + {q})"
        "  AS w FROM nrm)"
    )


def _cosine_rerank_tail(ids_cte: str, query_id: int, k: int) -> str:
    """The verified exact-cosine re-rank over candidate ids (column
    ``id`` in *ids_cte*) — shared tail of every ANN oracle so a fix to
    the rounding or tie-break can never touch one and miss the rest."""
    return (
        " e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        f"  JOIN {ids_cte} ON vec_id = {ids_cte}.id),"
        " fq AS (SELECT embedding::DOUBLE[] AS v FROM embeddings"
        f"  WHERE vec_id = {query_id})"
        " SELECT vec_id,"
        "  round(list_dot_product(e.v, fq.v) /"
        "   nullif(sqrt(list_dot_product(e.v, e.v))"
        "    * sqrt(list_dot_product(fq.v, fq.v)), 0),"
        "   6) AS cosine"
        f" FROM e, fq ORDER BY cosine DESC, vec_id ASC LIMIT {k}"
    )


def _quantized_vecs_cte(q: int) -> str:
    """``vecs`` = embeddings mapped onto the exact shifted-int grid."""
    return (
        "vecs AS (SELECT vec_id AS id,"
        " list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        f" * {q}.0 + 0.5) AS BIGINT) + {q}) AS v FROM embeddings)"
    )


def _assign_cte(name: str, src: str, cents: str) -> str:
    """Nearest-centroid assignment CTE (integer argmin, ties to the
    lowest cluster) — shared by the kmeans oracle's final pass and the
    IVF oracle's corpus assignment so a tie-break or distance fix can
    never touch one and miss the other. No trailing comma."""
    return (
        f" {name} AS (SELECT id, cluster FROM ("
        f"  SELECT {src}.id, c.cluster, row_number() OVER ("
        f"   PARTITION BY {src}.id ORDER BY {_int_dist(src, 'c')}, c.cluster)"
        f"  AS rn FROM {src} CROSS JOIN {cents} c) WHERE rn = 1)"
    )


def _int_dist(vt: str, ct: str) -> str:
    """Exact integer squared-L2 between two aliased ``v`` int lists;
    width derived from the data (len), never hardcoded."""
    return (
        f"list_sum(list_transform(range(1, len({vt}.v) + 1),"
        f" p -> ({vt}.v[p] - {ct}.v[p]) * ({vt}.v[p] - {ct}.v[p])))"
    )


def _lloyd_ctes(src: str, k: int, n_iter: int) -> str:
    """The unrolled quantized-Lloyd CTE chain over CTE *src* (columns
    ``id``, ``v``): c0 = first *k* rows by id, each round assigns
    (integer argmin, ties to the lowest cluster) and updates centroids
    (round-half-up integer mean; empty cluster keeps its centroid via
    COALESCE). Shared by the `ext_kmeans` oracle (src = the full
    corpus) and the `ext_simsearch_ivf` oracle (src = the id-prefix
    training sample). Emits ``c0..c{n_iter}`` with a trailing comma."""
    parts = [
        " c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT)"
        f" AS cluster, v FROM (SELECT id, v FROM {src} ORDER BY id LIMIT {k})),"
    ]
    for i in range(1, n_iter + 1):
        prev = f"c{i - 1}"
        parts.append(
            f" a{i} AS (SELECT id, v, cluster FROM ("
            f"  SELECT {src}.id, {src}.v, c.cluster, row_number() OVER ("
            f"   PARTITION BY {src}.id ORDER BY {_int_dist(src, 'c')}, c.cluster)"
            f"  AS rn FROM {src} CROSS JOIN {prev} c) WHERE rn = 1),"
            f" m{i} AS (SELECT cluster, list_transform(range(1, len(vs[1]) + 1),"
            "  p -> CAST((2 * CAST(list_sum(list_transform(vs, w -> w[p]))"
            "   AS BIGINT) + cnt) // (2 * cnt) AS BIGINT)) AS v"
            f" FROM (SELECT cluster, count(*) AS cnt, list(v) AS vs FROM a{i}"
            "  GROUP BY cluster)),"
            f" c{i} AS (SELECT c.cluster, COALESCE(m.v, c.v) AS v"
            f" FROM {prev} c LEFT JOIN m{i} m USING (cluster)),"
        )
    return "".join(parts)


_KMEANS_ORACLE = _kmeans_oracle()


def _ivf_oracle(
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    q: int = 1 << 20,
    n_iter: int = 4,
    train_factor: int = 4,
    query_id: int = 0,
) -> str:
    """Exact DuckDB replay of the quantized IVF query
    (operators/simsearch.py::ivf_topk with quantize=Q): the coarse
    quantizer is the unrolled quantized-Lloyd chain (`_lloyd_ctes`)
    over the id-prefix training sample — the same recipe that
    hash-verified `ext_kmeans` — corpus cell assignment and probe
    selection are integer-squared-L2 argmins (ties to the lowest cell),
    the probed-cell filter is a plain IN list, and the re-rank is the
    verified `ext_simsearch` exact-cosine expression over the
    candidates. Approximation lives entirely in WHICH ids are scanned,
    and that set is now bit-deterministic — so the whole query
    hash-verifies."""
    train_n = train_factor * n_lists
    cn = f"c{n_iter}"
    return (
        "WITH " + _quantized_vecs_cte(q) + ","
        f" samp AS (SELECT id, v FROM vecs ORDER BY id LIMIT {train_n}),"
        + _lloyd_ctes("samp", n_lists, n_iter)
        + _assign_cte("asg", "vecs", cn) + ","
        f" qv AS (SELECT v FROM vecs WHERE id = {query_id}),"
        f" probe AS (SELECT c.cluster FROM {cn} c CROSS JOIN qv"
        f"  ORDER BY {_int_dist('qv', 'c')}, c.cluster LIMIT {n_probe}),"
        " cand AS (SELECT id FROM asg"
        "  WHERE cluster IN (SELECT cluster FROM probe)"
        f"  AND id <> {query_id}),"
        + _cosine_rerank_tail("cand", query_id, k)
    )


_IVF_ORACLE = _ivf_oracle()


def _sub_dist(a: str, b: str) -> str:
    """Exact integer squared-L2 between a subvector (``sv``) and a
    codeword (``cw``); width derived from the data."""
    return (
        f"list_sum(list_transform(range(1, len({a}.sv) + 1),"
        f" p -> ({a}.sv[p] - {b}.cw[p]) * ({a}.sv[p] - {b}.cw[p])))"
    )


def _pq_codebook_ctes(samp: str, ks: int, n_iter: int, pre: str) -> str:
    """The unrolled per-subspace integer-Lloyd codebook chain over
    subspace-sample CTE *samp* (columns ``id``, ``j``, ``sv``):
    ``{pre}cb0`` = first *ks* sample subvectors per subspace, each round
    assigns (integer argmin, ties to the lowest code) and updates
    codewords (round-half-up integer mean, empty codes COALESCE-kept).
    *pre* namespaces the round CTEs so the chain can coexist with the
    coarse `_lloyd_ctes` (both emit a{i}/m{i} otherwise) — shared by
    the PQ oracle (pre='') and the IVF-PQ oracle (pre='p'). Emits
    ``{pre}cb0..{pre}cb{n_iter}`` with a trailing comma; codebook CTEs
    are MATERIALIZED (each is referenced twice — the BPE 2^n lesson)."""
    parts = [
        f" {pre}cb0 AS (SELECT j, CAST(r AS INT) AS code, sv AS cw FROM"
        "  (SELECT j, sv, row_number() OVER (PARTITION BY j ORDER BY id) - 1 AS r"
        f"   FROM {samp}) WHERE r < {ks}),"
    ]
    for i in range(1, n_iter + 1):
        prev = f"{pre}cb{i - 1}"
        parts.append(
            f" {pre}a{i} AS (SELECT id, j, sv, code FROM ("
            f"  SELECT s.id, s.j, s.sv, c.code, row_number() OVER ("
            f"   PARTITION BY s.id, s.j ORDER BY {_sub_dist('s', 'c')}, c.code) AS rn"
            f"  FROM {samp} s JOIN {prev} c ON s.j = c.j) WHERE rn = 1),"
            f" {pre}m{i} AS (SELECT j, code, list_transform(range(1, len(svs[1]) + 1),"
            "  p -> CAST((2 * CAST(list_sum(list_transform(svs, t -> t[p]))"
            "   AS BIGINT) + cnt) // (2 * cnt) AS BIGINT)) AS cw"
            f" FROM (SELECT j, code, count(*) AS cnt, list(sv) AS svs FROM {pre}a{i}"
            "  GROUP BY j, code)),"
            f" {pre}cb{i} AS MATERIALIZED (SELECT c.j, c.code, COALESCE(m.cw, c.cw) AS cw"
            f" FROM {prev} c LEFT JOIN {pre}m{i} m ON c.j = m.j AND c.code = m.code),"
        )
    return "".join(parts)


def _pq_oracle(
    k: int = 10,
    m: int = 16,
    ks: int = 32,
    train_n: int = 256,
    refine: int = 4,
    n_iter: int = 5,
    q: int = 1 << 20,
    query_id: int = 0,
) -> str:
    """Exact DuckDB replay of the quantized product-quantization query
    (operators/simsearch.py::pq_topk with quantize=Q): HOF-identical
    normalization + [-1,1] clamp, shifted-integer grid, per-subspace
    unrolled integer Lloyd (init = first *ks* sample subvectors, argmin
    ties to the lowest code, round-half-up integer means, empty codes
    COALESCE-kept), integer squared-L2 ADC lookup, shortlist by
    (adc, id), and the verified exact-cosine re-rank. ``cb{i}``/``samp``
    /``sub`` are MATERIALIZED — each is referenced twice+ and inlining
    would double the plan per round (the BPE 2^n lesson)."""
    parts = [
        "WITH " + _unit_quantized_vecs_cte(q) + ","
        f" sub AS MATERIALIZED (SELECT id, CAST(j AS INT) AS j,"
        f"  list_slice(w, j * (len(w) // {m}) + 1, (j + 1) * (len(w) // {m})) AS sv"
        f"  FROM vq, range(0, {m}) t(j)),"
        f" samp AS MATERIALIZED (SELECT id, j, sv FROM sub WHERE id IN"
        f"  (SELECT id FROM vq ORDER BY id LIMIT {train_n})),"
        + _pq_codebook_ctes("samp", ks, n_iter, ""),
    ]
    n = n_iter
    parts.append(
        f" qsub AS (SELECT j, sv FROM sub WHERE id = {query_id}),"
        f" lut AS (SELECT c.j, c.code, {_sub_dist('q', 'c')} AS d"
        f"  FROM cb{n} c JOIN qsub q ON c.j = q.j),"
        " codes AS (SELECT id, j, code FROM ("
        f"  SELECT s.id, s.j, c.code, row_number() OVER ("
        f"   PARTITION BY s.id, s.j ORDER BY {_sub_dist('s', 'c')}, c.code) AS rn"
        f"  FROM sub s JOIN cb{n} c ON s.j = c.j WHERE s.id <> {query_id})"
        "  WHERE rn = 1),"
        " adc AS (SELECT codes.id, CAST(sum(lut.d) AS BIGINT) AS adc"
        "  FROM codes JOIN lut ON codes.j = lut.j AND codes.code = lut.code"
        "  GROUP BY codes.id),"
        f" short AS (SELECT id FROM adc ORDER BY adc, id LIMIT {k * refine}),"
        + _cosine_rerank_tail("short", query_id, k)
    )
    return "".join(parts)


_PQ_ORACLE = _pq_oracle()


def _ivfpq_oracle(
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ks: int = 32,
    train_n: int = 256,
    refine: int = 8,
    n_iter: int = 5,
    query_id: int = 0,
    coarse_iter: int = 4,
) -> str:
    """Exact DuckDB replay of the IVF-PQ composite
    (operators/simsearch.py::ivfpq_topk, Q = QUANT_SCALE): the quantized
    -normalized grid feeds the coarse `_lloyd_ctes` chain (id-prefix
    sample, 4 rounds — train_coarse_centroids' default), `_assign_cte`
    places the corpus, residuals shift +2Q into the positive domain,
    the prefixed `_pq_codebook_ctes` ('p') trains residual codebooks,
    and a per-probed-cell integer L2 LUT scores only candidate-cell
    rows; the verified exact-cosine re-rank closes. Every approximate
    choice (cells, probes, codes, shortlist) is bit-deterministic."""
    shift = 2 * QUANT_SCALE
    cn = f"c{coarse_iter}"
    pn = f"pcb{n_iter}"
    return (
        "WITH " + _unit_quantized_vecs_cte(QUANT_SCALE) + ","
        " va AS MATERIALIZED (SELECT id, w AS v FROM vq),"
        f" csamp AS (SELECT id, v FROM va ORDER BY id LIMIT {4 * n_lists}),"
        + _lloyd_ctes("csamp", n_lists, coarse_iter)
        + _assign_cte("asg", "va", cn) + ","
        f" res AS (SELECT va.id, list_transform(range(1, len(va.v) + 1),"
        f"  p -> va.v[p] - c.v[p] + {shift}) AS r"
        f"  FROM va JOIN asg USING (id) JOIN {cn} c ON asg.cluster = c.cluster),"
        f" rsub AS MATERIALIZED (SELECT id, CAST(j AS INT) AS j,"
        f"  list_slice(r, j * (len(r) // {m}) + 1, (j + 1) * (len(r) // {m})) AS sv"
        f"  FROM res, range(0, {m}) t(j)),"
        f" samp AS MATERIALIZED (SELECT id, j, sv FROM rsub WHERE id IN"
        f"  (SELECT id FROM va ORDER BY id LIMIT {train_n})),"
        + _pq_codebook_ctes("samp", ks, n_iter, "p")
        + f" qw AS (SELECT v FROM va WHERE id = {query_id}),"
        f" probe AS (SELECT c.cluster, c.v FROM {cn} c CROSS JOIN qw"
        f"  ORDER BY {_int_dist('qw', 'c')}, c.cluster LIMIT {n_probe}),"
        f" qres AS (SELECT p.cluster, list_transform(range(1, len(q.v) + 1),"
        f"  p2 -> q.v[p2] - p.v[p2] + {shift}) AS r FROM probe p CROSS JOIN qw q),"
        f" qrsub AS (SELECT cluster, CAST(j AS INT) AS j,"
        f"  list_slice(r, j * (len(r) // {m}) + 1, (j + 1) * (len(r) // {m})) AS sv"
        f"  FROM qres, range(0, {m}) t(j)),"
        f" lut AS (SELECT q.cluster, c.j, c.code, {_sub_dist('q', 'c')} AS d"
        f"  FROM {pn} c JOIN qrsub q ON c.j = q.j),"
        " cand AS (SELECT id FROM asg"
        "  WHERE cluster IN (SELECT cluster FROM probe)"
        f"  AND id <> {query_id}),"
        " codes AS (SELECT id, j, code FROM ("
        f"  SELECT s.id, s.j, c.code, row_number() OVER ("
        f"   PARTITION BY s.id, s.j ORDER BY {_sub_dist('s', 'c')}, c.code) AS rn"
        f"  FROM rsub s JOIN cand ON s.id = cand.id JOIN {pn} c ON s.j = c.j)"
        "  WHERE rn = 1),"
        " adc AS (SELECT codes.id, CAST(sum(lut.d) AS BIGINT) AS adc"
        "  FROM codes JOIN asg ON codes.id = asg.id"
        "  JOIN lut ON lut.cluster = asg.cluster"
        "   AND lut.j = codes.j AND lut.code = codes.code"
        "  GROUP BY codes.id),"
        f" short AS (SELECT id FROM adc ORDER BY adc, id LIMIT {k * refine}),"
        + _cosine_rerank_tail("short", query_id, k)
    )


_IVFPQ_ORACLE = _ivfpq_oracle()


def _lsh_oracle(
    k: int = 10,
    tables: int = 12,
    bits: int = 6,
    dim: int = 64,
    query_id: int = 0,
) -> str:
    """Exact DuckDB replay of the sign-LSH query
    (operators/simsearch.py::ann_topk_lsh, Q = QUANT_SCALE): vectors and
    the hyperplane constants both map to SIGNED integer grids (no shift
    — nothing divides; signed products/sums are exact everywhere), the
    signature bit is ``(integer dot > 0)``, tables pack bits as sums of
    powers of two, candidates collide on (table, signature), and the
    verified exact-cosine re-rank closes. The plane literals come from
    `lsh_planes_int` — the SAME array the Spark UDF closes over, so the
    two sides cannot drift."""
    from etl_acordos_spark.operators.simsearch import lsh_planes_int

    pint = lsh_planes_int(tables, bits, dim)
    # one literal row per plane: (pb, [the plane's dim components])
    rows = ", ".join(
        f"({pb}, [{','.join(str(int(x)) for x in pint[:, pb])}])"
        for pb in range(tables * bits)
    )
    return (
        f"WITH pvec AS (SELECT pb, pw FROM (VALUES {rows}) t(pb, pw)),"
        " vq AS (SELECT vec_id AS id, list_transform(embedding,"
        f"  x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}.0 + 0.5)"
        " AS BIGINT)) AS w"
        "  FROM embeddings),"
        " dt AS (SELECT id, pb, list_sum(list_transform("
        "   range(1, len(w) + 1), i -> w[i] * pw[i])) AS dot"
        "  FROM vq CROSS JOIN pvec),"
        f" sig AS (SELECT id, CAST(pb // {bits} AS INT) AS tbl,"
        f"  CAST(sum(CASE WHEN dot > 0 THEN 1 << (pb % {bits})"
        "   ELSE 0 END) AS INT) AS sig_val"
        f"  FROM dt GROUP BY id, pb // {bits}),"
        f" qs AS (SELECT tbl, sig_val FROM sig WHERE id = {query_id}),"
        " cand AS (SELECT DISTINCT sig.id FROM sig JOIN qs USING (tbl, sig_val)"
        f"  WHERE sig.id <> {query_id}),"
        + _cosine_rerank_tail("cand", query_id, k)
    )


_LSH_ORACLE = _lsh_oracle()


def q_ext_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep-set within ground-truth clusters (`label` stands in
    for the k-means cell id so the oracle stays exact): drop a vector
    when a lower-id same-cluster vector has cosine ≥ 0.25 (calibrated —
    keeps 293/500 at sf0.01). Runs the vectorized gram-matrix scale
    path; its hash-equality with the interpreted fold (the oracle form)
    at this threshold is pinned by
    tests/test_cluster.py::test_gram_path_matches_fold_path."""
    return semantic_dedup_keep(
        t(spark, sf_dir, "embeddings"),
        threshold=0.25,
        cluster_col="label",
        gram=True,
    )


def q_ext_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap: at most 15 docs per `source`, chosen by a
    deterministic multiplicative id-hash — the web-corpus guard against
    one domain dominating the training mix."""
    return domain_cap(
        t(spark, sf_dir, "documents"), cap=15, domain_col="source", id_col="doc_id"
    )


def q_ext_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-boilerplate n-grams: word 3-grams present in ≥1% of
    documents (calibrated: 151 grams at sf0.01) — what a cleaning pass
    strips as headers/footers/chrome."""
    return boilerplate_ngrams(
        t(spark, sf_dir, "documents"), "text", "doc_id", ngram=3,
        min_doc_frac=0.01,
    )


# ------------------------------------------------------------ text analysis


def q_ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats over documents."""
    return corpus_stats(t(spark, sf_dir, "documents"), "text", "lang")


def q_ext_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex token counting, char/byte lengths."""
    return token_counts(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass heuristic quality scoring."""
    return quality_scores(t(spark, sf_dir, "documents"), "text", "doc_id")


#: demo mixture recipe over the corpus's five languages
MIXTURE_WEIGHTS = {"en": 0.4, "zh": 0.2, "de": 0.15, "es": 0.15, "fr": 0.1}


def q_ext_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-preparation pipeline composed as ONE lazy
    Catalyst plan — the capstone the operator library exists for:

      quality gate (≥40 ws tokens) → exact dedup (min-id per content
      hash) → per-source cap (≤15 by stable hash rank) → token-budgeted
      mixture sample (MIXTURE_WEIGHTS, half the surviving tokens)

    No step materializes: Catalyst sees the whole pipeline, each keep-
    set joins back broadcast (plan-verified: 10 BroadcastHashJoins, no
    sort-merge), and no shuffle ever carries document text — only ids,
    digests, and counts move. Lazy branches re-derive the pruned scan
    instead of materializing (fine here; at 100 TB persist the dedup and
    cap boundaries — the medallion layer writes are those points). Every
    stage is the library operator, not a re-implementation; the DuckDB
    oracle chains the same four stages as CTEs."""
    from etl_acordos_spark.operators.dedup import exact_dedup

    docs = t(spark, sf_dir, "documents")
    gated = docs.filter(F.size(F.split(F.col("text"), " ")) >= 40)
    keep = exact_dedup(gated, "text", "doc_id").select("doc_id")
    deduped = gated.join(keep, "doc_id", "left_semi")
    capped_ids = domain_cap(deduped, 15, "source", "doc_id").select("doc_id")
    capped = deduped.join(capped_ids, "doc_id", "left_semi")
    return mixture_sample(
        capped, "text", "lang", "doc_id", MIXTURE_WEIGHTS, budget_frac=0.5
    )


def q_ext_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted mixture rebalancing: sample each language toward a
    target token mixture within half the corpus's token budget; output
    is the per-lang audit (kept docs/tokens, acceptance rate)."""
    return mixture_sample(
        t(spark, sf_dir, "documents"),
        "text",
        "lang",
        "doc_id",
        MIXTURE_WEIGHTS,
        budget_frac=0.5,
    )


def q_ext_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy quality signal (bits/char)."""
    return char_entropy(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surprisal under the corpus unigram LM (bits/token)
    — the cheap perplexity-filter proxy."""
    return lm_score(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surprisal under a corpus-trained bigram LM with
    stupid backoff (operators/text.py:bigram_lm_score) — the
    conditional-probability step up from ext_lm_score's unigram proxy:
    bigrams below min_count=3 back off to 0.4 · unigram."""
    return bigram_lm_score(
        t(spark, sf_dir, "documents"), "text", "doc_id", min_count=3
    )


def q_ext_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language identification."""
    return lang_id(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprints. The
    registered key runs the md5 hash family so the DuckDB oracle
    replays the digests verbatim; the production default is xxhash64
    (same winnowing structure, ~cheaper per window — the dedup
    family's hash_fn convention)."""
    return fingerprints(
        t(spark, sf_dir, "documents"), "text", "doc_id", hash_fn="md5"
    )


def q_ext_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (duplicate
    token fraction, top-bigram share)."""
    return repetition_stats(t(spark, sf_dir, "documents"), "text", "doc_id")


def q_ext_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: 64-token windows, 48-token stride (the
    sequence-packing prep step). Map-only explode — one scan, no
    shuffle at any corpus size."""
    return doc_chunks(
        t(spark, sf_dir, "documents"), "text", "doc_id", window=64, stride=48
    )


def q_ext_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language corpus rebalancing: downsample the
    dominant 'en' to 25%, upsample-keep 'zh' at 80%, default 50% — pure
    key-hash bucketing, map-only, reproducible on any cluster layout."""
    return stratified_sample(
        t(spark, sf_dir, "documents"),
        strata_col="lang",
        key_col="doc_id",
        rates={"en": 25, "zh": 80},
        default_rate=50,
    ).select("doc_id", "lang")


def q_ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs with doc_id % 50 == 0 play the
    held-out eval set; every training doc sharing a word 4-gram with it
    is flagged with its shared-gram count. Eval grams broadcast — the
    training side never shuffles."""
    docs = t(spark, sf_dir, "documents")
    return decontaminate(
        train=docs.filter(F.col("doc_id") % 50 != 0),
        eval_docs=docs.filter(F.col("doc_id") % 50 == 0),
        text_col="text",
        id_col="doc_id",
        ngram=4,
    )


def q_ext_decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate benchmark decontamination
    (operators/dedup.py:fuzzy_decontaminate): eval suite = doc_id %
    10 == 0 (a 10% held-out split — wider than ext_decontaminate's 2%
    so the fuzzy cross-set has realistic mass), flagging train docs by
    MinHash-LSH + exact-Jaccard >= 0.5 against the eval set — the
    paraphrase/light-edit leaks exact 4-gram overlap misses. Runs the
    md5 hash family, so the DuckDB oracle replays the whole cross-set
    chain via the shared `_minhash_md5_ctes` machinery: eval docs ride
    the union as NEGATIVE ids (-(doc_id+1)), making every cross pair an
    (eval, train) pair under the chain's doc_a < doc_b ordering; the
    oracle then keeps exactly those and aggregates per train doc. The
    oracle's in-train/in-eval bucket pairs are generated and discarded
    (verification scale); the ENGINE never generates them — the train
    side never self-joins (the operator's 100 TB contract)."""
    from etl_acordos_spark.operators.dedup import fuzzy_decontaminate

    docs = t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return fuzzy_decontaminate(
        train=docs.filter(F.col("doc_id") % 10 != 0),
        eval_docs=docs.filter(F.col("doc_id") % 10 == 0),
        text_col="text",
        id_col="doc_id",
        hash_fn="md5",
    )


def q_ext_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing on top of ext_doc_chunk's chunks: concat-and-
    slice into 256-token packs across 8 doc-hash shards; returns the
    per-pack manifest a training loader would consume."""
    chunks = doc_chunks(
        t(spark, sf_dir, "documents"), "text", "doc_id", window=64, stride=48
    )
    return pack_chunks(
        chunks,
        id_col="doc_id",
        chunk_col="chunk_id",
        tokens_col="n_chunk_tokens",
        budget=256,
        shards=8,
    )


def q_ext_pack_bfd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing packing of ext_doc_chunk's chunks into
    256-token packs across 8 doc-hash shards WITHOUT splitting chunks
    (operators/text.py:pack_best_fit) — the boundary-preserving
    alternative to ext_seq_pack's concat-and-slice; fill rate vs
    greedy is pinned in tests/test_operators.py."""
    chunks = doc_chunks(
        t(spark, sf_dir, "documents"), "text", "doc_id", window=64, stride=48
    )
    return pack_best_fit(
        chunks,
        id_col="doc_id",
        chunk_col="chunk_id",
        tokens_col="n_chunk_tokens",
        budget=256,
        shards=8,
    )


# ---------------------------------------------------------------- multimodal


def q_ext_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 12 BPE merge rules over the document corpus
    (operators/text.py:bpe_train) — distinct-word collapse, then
    per-round pair-count aggregate + driver argmax + HOF merge fold.
    Hash-verified: the greedy rounds unroll as chained CTEs (the
    ext_pagerank/ext_kmeans recipe) — per-round argmax with the same
    (freq desc, l, r) tie-break, and the sequential merge fold replayed
    by a per-round recursive CTE keyed on each word's (immutable)
    original symbol list (`_bpe_train_oracle`). Also pinned against a
    pure-Python reference BPE in tests/test_operators.py."""
    from etl_acordos_spark.operators.text import bpe_train

    return bpe_train(
        t(spark, sf_dir, "documents"), "text", "doc_id", n_merges=12
    )


def _bpe_train_oracle(n_merges: int = 12, min_freq: int = 2) -> str:
    """Exact DuckDB replay of bpe_train's greedy loop. Round i:

    - ``p{i}``: adjacent-pair freqs over the round's vocabulary;
    - ``m{i}``: the argmax, gated on *min_freq* (0 or 1 row — an empty
      round empties every later vocabulary, reproducing the trainer's
      break: no further merges are emitted);
    - ``r{i}``: the LEFT-TO-RIGHT merge fold as a recursive CTE — the
      fold order matters ('aaa' under (a,a) → [aa, a], never [a, aa]),
      so a join-based rewrite would be wrong; each word's original
      symbol list rides along as the key (concatenation == word</w> is
      injective, so it stays unique through every rewrite);
    - ``w{i}``: the rewritten vocabulary.

    LEFT/RIGHT are SQL keywords — the output columns are quoted."""
    unions = " UNION ALL ".join(
        f'SELECT {i} AS merge_idx, l AS "left", r AS "right",'
        f" l || r AS merged, CAST(pf AS BIGINT) AS pair_freq FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return _bpe_chain_ctes(n_merges, min_freq) + " " + unions


def _bpe_chain_ctes(n_merges: int, min_freq: int) -> str:
    """The shared unrolled BPE chain (see `_bpe_train_oracle`), carrying
    each word's identity through every rewrite. An empty round (best
    pair below *min_freq*) PASSES the vocabulary THROUGH unchanged —
    harmless for the train oracle (the same sub-threshold argmax stays
    empty every later round) and required by the apply oracle (the
    final w{n} must hold the whole vocabulary even if training broke
    early)."""
    parts = [
        "WITH RECURSIVE toks AS ("
        " SELECT unnest(string_split_regex(text, ' +')) AS word"
        " FROM documents WHERE text IS NOT NULL),"
        " w0 AS (SELECT word,"
        # Java-regex '.' (the Spark trainer's splitter) excludes all
        # five line terminators (\n \r \x85 U+2028 U+2029); DuckDB's
        # RE2 '.' excludes only \n -- spell the class out so a \r etc.
        # INSIDE a word (space-split keeps it there) tokenizes the same
        "  regexp_extract_all(word,"
        "   '[^\\n\\r\\x{0085}\\x{2028}\\x{2029}]') || ['</w>'] AS syms,"
        "  count(*) AS freq FROM toks WHERE word <> '' GROUP BY word),"
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        parts.append(
            f" p{i} AS (SELECT syms[j] AS l, syms[j + 1] AS r,"
            "   sum(freq) AS pf"
            f"  FROM {prev}, unnest(range(1, len(syms))) AS t(j)"
            "  GROUP BY 1, 2),"
            f" m{i} AS (SELECT l, r, pf FROM p{i}"
            f"  WHERE pf >= {min_freq} ORDER BY pf DESC, l, r LIMIT 1),"
            f" r{i} AS ("
            f"  SELECT word, syms, freq, 1 AS pos, [syms[1]] AS acc, l, r"
            f"   FROM {prev} CROSS JOIN m{i}"
            "  UNION ALL"
            "  SELECT word, syms, freq, pos + 1,"
            "   CASE WHEN acc[-1] = l AND syms[pos + 1] = r"
            "    THEN acc[:len(acc) - 1] || [l || r]"
            "    ELSE acc || [syms[pos + 1]] END, l, r"
            f"  FROM r{i} WHERE pos < len(syms)),"
            # MATERIALIZED is load-bearing: each w{i} is referenced
            # twice (r{i+1} + the pass-through), so inlining would
            # double the plan per round — 2^12 scans of documents
            # ("Too many open files") instead of 12 small tables
            f" w{i} AS MATERIALIZED (SELECT word, acc AS syms, freq"
            f"  FROM r{i} WHERE pos = len(syms)"
            f"  UNION ALL SELECT word, syms, freq FROM {prev}"
            f"  WHERE NOT EXISTS (SELECT 1 FROM m{i})),"
        )
    return "".join(parts).rstrip(",")


def _bpe_apply_oracle(n_merges: int = 12, min_freq: int = 2) -> str:
    """Exact DuckDB twin of q_ext_bpe_apply: the shared unrolled train
    chain yields the final per-word symbol state (encoding the training
    corpus reproduces the trainer's rewrite bit-for-bit — the same
    identity bpe_apply's unit test pins), so each word's BPE token
    count is just len(syms) in w{n}; per-doc stats re-expand the word
    stream and join the counts. NULL/empty-text docs emit zeros,
    mirroring the mapInPandas batch path."""
    n = n_merges
    return (
        _bpe_chain_ctes(n, min_freq)
        + f", wt AS (SELECT word, len(syms) AS n_tok FROM w{n}),"
        " docw AS (SELECT doc_id,"
        "  unnest(string_split_regex(text, ' +')) AS word"
        "  FROM documents WHERE text IS NOT NULL),"
        " cnt AS (SELECT doc_id, count(*) AS n_words,"
        "   sum(wt.n_tok) AS n_tok"
        "  FROM docw JOIN wt USING (word) WHERE word <> ''"
        "  GROUP BY doc_id)"
        " SELECT d.doc_id, CAST(COALESCE(c.n_words, 0) AS BIGINT)"
        "   AS n_words,"
        "  CAST(COALESCE(c.n_tok, 0) AS BIGINT) AS n_bpe_tokens,"
        "  CASE WHEN COALESCE(c.n_tok, 0) > 0"
        "   THEN ((2 * length(d.text) * 10000 + c.n_tok)"
        "     // (2 * c.n_tok)) / 10000.0"
        "   ELSE 0.0 END AS chars_per_token"
        " FROM documents d LEFT JOIN cnt c USING (doc_id)"
    )


def q_ext_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the 12 merge rules `ext_bpe_train`
    learns from it (operators/text.py:bpe_apply) — per-doc BPE token
    counts and compression ratio via an Arrow-batched distinct-word-
    cached encode. Hash-verified via `_bpe_apply_oracle` (the unrolled
    train chain's final symbol state IS the encode of the training
    corpus); symbol-state equivalence with the pure-Python reference
    is also unit-tested."""
    from etl_acordos_spark.operators.text import bpe_apply, bpe_train

    docs = t(spark, sf_dir, "documents")
    rules = [
        (r["left"], r["right"])
        for r in bpe_train(
            docs, "text", "doc_id", n_merges=12
        ).collect()
    ]
    return bpe_apply(docs, "text", "doc_id", rules)


def q_ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent words (> 1% of all corpus tokens) via the
    two-pass Misra-Gries sketch-then-verify shape
    (operators/relational.py:heavy_hitters) — vocabulary heavy hitters
    without ever shuffling the full distinct-word set. The exact
    recount makes the oracle plain GROUP BY ... HAVING SQL."""
    from etl_acordos_spark.operators.relational import heavy_hitters

    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    return heavy_hitters(words, "word", support=0.01)


def q_ext_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch accuracy report over corpus words
    (operators/relational.py:cms_accuracy): depth 4 × 4096 md5-salted
    buckets, top-30 words by exact count with their CMS estimate and
    one-sided overestimate — the sketch-calibration companion to
    ext_approx (HLL) and ext_heavy_hitters (Misra-Gries). Closed-form
    deterministic, so DuckDB replays the identical sketch."""
    from etl_acordos_spark.operators.relational import cms_accuracy

    words = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    return cms_accuracy(
        words, "word", depth=4, width_hex=3, k=30
    ).withColumnRenamed("v", "word")


def _cms_sketch_oracle(
    depth: int = 4, width_hex: int = 3, k: int = 30
) -> str:
    """Oracle twin of q_ext_cms_sketch — the identical salted-md5
    bucket scheme, cell aggregate, and min-over-depth estimate."""
    salts = ", ".join(str(i) for i in range(1, depth + 1))
    bucket = (
        f"substr(md5(CAST(s AS VARCHAR) || ':' || v), 1, {width_hex})"
    )
    return (
        "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS v"
        "  FROM documents WHERE text IS NOT NULL),"
        f" hashed AS (SELECT v, s AS salt, {bucket} AS bucket"
        f"  FROM tok, unnest([{salts}]) AS u(s)),"
        " cells AS (SELECT salt, bucket, count(*) AS cell_n"
        "  FROM hashed GROUP BY 1, 2),"
        " exact AS (SELECT v, count(*) AS n_exact FROM tok"
        f"  GROUP BY v ORDER BY n_exact DESC, v LIMIT {k}),"
        " probes AS (SELECT e.v, e.n_exact, s AS salt,"
        f"   substr(md5(CAST(s AS VARCHAR) || ':' || e.v), 1, {width_hex})"
        "    AS bucket"
        f"  FROM exact e, unnest([{salts}]) AS u(s))"
        " SELECT p.v AS word, CAST(p.n_exact AS BIGINT) AS n_exact,"
        "  CAST(min(c.cell_n) AS BIGINT) AS n_cms,"
        "  CAST(min(c.cell_n) - p.n_exact AS BIGINT) AS overestimate"
        " FROM probes p JOIN cells c USING (salt, bucket)"
        " GROUP BY p.v, p.n_exact"
    )


_CMS_SKETCH_ORACLE = _cms_sketch_oracle()


def q_ext_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-characteristic term per document by TF-IDF (explode → two
    hash aggs → broadcast vocabulary join → windowed top-1)."""
    return tfidf_top_terms(
        t(spark, sf_dir, "documents"), "text", "doc_id"
    )


def q_ext_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by Okapi BM25 (k1=1.2, b=0.75) against the
    fixed probe query {hash, vector, stream} — query-based corpus
    curation. Map-only per-term tf HOFs + one broadcast stats row; ties
    at 6 decimals break by doc_id, mirrored in the oracle."""
    from etl_acordos_spark.operators.text import bm25_topk

    return bm25_topk(
        t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        ["hash", "vector", "stream"],
        k=15,
    )


def q_ext_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span-duplication profile (Lee et al. 2022 signal):
    per doc, how many of its overlapping 20-token spans occur more than
    once anywhere in the corpus, plus the keep gate (dup_ratio < 0.5).
    Spark hashes spans (xxhash64, no strings); the oracle compares span
    STRINGS — counts agree up to 2^-64 collisions."""
    from etl_acordos_spark.operators.text import span_dup_profile

    return span_dup_profile(
        t(spark, sf_dir, "documents"), "text", "doc_id", window=20
    )


def q_ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over `documents.text` — emails, phone numbers, IPv4
    redacted by chained JVM `regexp_replace` (map-only, no Python, no
    shuffle). The corpus is clean synthetic text, so PII is injected
    deterministically keyed on doc_id — identically in the oracle — and
    the redaction must strip every injected marker."""
    docs = t(spark, sf_dir, "documents")
    dirty = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call +1 (555) 010-7788"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" from 192.168.0.12"))
            .otherwise(F.lit("")),
        ),
    )
    return pii_redact(dirty, "text").select("doc_id", "clean_text")


def q_ext_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload plumbing + Arrow-batched feature extraction: the
    metadata-struct / content-identity demo, decoding through the SAME
    stdlib PNG codec as ext_mm_decode (one decode implementation). The
    registered projection keeps the encoding-invariant columns — decoded
    geometry, exact integer-micro mean luma, and the canonical decoded
    content md5 — so the DuckDB oracle replays the full chain closed
    form from the fixture's pixel formula (encoder-dependent
    payload_md5/n_bytes stay available on the operator for engineering
    use, tests/test_operators.py)."""
    media = attach_binary_payload(t(spark, sf_dir, "documents"), "doc_id")
    return extract_features(media).select(
        "doc_id", "mime", "width", "height", "channels",
        "mean_luma", "content_md5",
    )


def q_ext_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: per-doc gradient PNGs decoded, nearest-
    neighbor resampled to 8×8, re-encoded and re-decoded — all with the
    stdlib codec, map-only, payloads never shuffle. Features are
    integer-exact, so the NN index math (src = floor(dst·src/dst)) is
    replayed closed-form by the SQL oracle."""
    from etl_acordos_spark.operators.multimodal import (
        attach_image_payload,
        resize_images_nn,
    )

    media = attach_image_payload(t(spark, sf_dir, "documents"), "doc_id")
    return resize_images_nn(media, target_width=8, target_height=8)


def q_ext_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling: per-doc length-prefixed PNG-frame containers
    (2 + id%4 frames), every 2nd frame container-parsed, decoded, and
    reduced to integer-exact per-frame features (fan-out mapInPandas)."""
    from etl_acordos_spark.operators.multimodal import (
        attach_video_payload,
        sample_video_frames,
    )

    media = attach_video_payload(t(spark, sf_dir, "documents"), "doc_id")
    return sample_video_frames(media, stride=2)


def q_ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sample, top-50 without replacement
    (operators/relational.py:weighted_sample, Efraimidis–Spirakis A-ES
    keys): inclusion odds ∝ n_chars, keys from the deterministic
    cross-engine hash so the oracle replays the exact sample. One scan,
    TakeOrdered — never a global sort."""
    from etl_acordos_spark.operators.relational import weighted_sample

    docs = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=50)


def q_ext_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over corpus
    bigrams with min support 25 (operators/text.py:pmi_collocations) —
    the association statistic behind collocation discovery, one scan +
    two hash aggregates + word-keyed joins."""
    from etl_acordos_spark.operators.text import pmi_collocations

    return pmi_collocations(
        t(spark, sf_dir, "documents"), "text", min_count=25, k=20
    )


def q_ext_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-25 word bigrams (operators/text.py:top_ngrams) —
    the collocation table behind vocabulary analysis and boilerplate
    discovery. One scan, HOF n-gram expansion, map-side-combined hash
    aggregate, TakeOrdered top-k with lexicographic tie-break."""
    from etl_acordos_spark.operators.text import top_ngrams

    return top_ngrams(t(spark, sf_dir, "documents"), "text", n=2, k=25)


# ------------------------------------------------------------------ oracles

_JACCARD_PAIRS = (
    "WITH s AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS st"
    "  FROM documents)"
    " SELECT doc_a, doc_b, jaccard FROM ("
    "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
    "   round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)"
    "     / len(list_distinct(a.st || b.st)), 4) AS jaccard"
    "  FROM s a JOIN s b ON a.doc_id < b.doc_id)"
    " WHERE jaccard >= 0.9"
)

_COSINE = (
    "round(list_dot_product(a.v, b.v) /"
    " nullif(sqrt(list_dot_product(a.v, a.v))"
    "  * sqrt(list_dot_product(b.v, b.v)), 0), 6)"
)


def _minhash_perms_cte(num_perm: int = 64) -> str:
    """The shared Carter-Wegman permutation constants as one CTE —
    SAME seed and sequence as operators/dedup.py:minhash_bands."""
    import random as _random

    p = (1 << 31) - 1
    rng = _random.Random(0x5EED)
    mult = [rng.randrange(1, p) for _ in range(num_perm)]
    add = [rng.randrange(0, p) for _ in range(num_perm)]
    return (
        f" perms AS (SELECT unnest([{', '.join(map(str, mult))}]) AS pa,"
        f"   unnest([{', '.join(map(str, add))}]) AS pb,"
        f"   unnest(range({num_perm})) AS perm)"
    )


def _minhash_md5_units(
    suffix: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> str:
    """Per-side md5 MinHash CTEs from a unit table ``u{suffix}(doc,
    utext)`` (requires the shared ``perms`` CTE): emits
    ``bandv{suffix}(doc, band_idx, band_val)`` and
    ``hset{suffix}(doc, hs)``. Two-sided consumers
    (ext_dedup_incremental) instantiate one set per side; the
    single-table chain builds on suffix ''."""
    p = (1 << 31) - 1
    rows = num_perm // bands
    s = suffix
    return (
        f" tok{s} AS (SELECT doc, string_split(utext, ' ') AS tok FROM u{s}),"
        f" sh{s} AS (SELECT doc, list_distinct(CASE WHEN len(tok) >= {shingle_n}"
        f"   THEN list_transform(range(1, len(tok) - {shingle_n - 2}),"
        f"     i -> array_to_string(tok[i:i+{shingle_n - 1}], ' '))"
        f"   ELSE [array_to_string(tok, ' ')] END) AS shs FROM tok{s}),"
        f" hs{s} AS (SELECT doc,"
        "   ('0x' || substr(md5(x), 1, 15))::BIGINT AS h"
        f"  FROM sh{s}, unnest(shs) AS un(x)),"
        f" sig{s} AS (SELECT doc, perm, min((pa * (h % {p}) + pb) % {p}) AS s"
        f"  FROM hs{s} CROSS JOIN perms GROUP BY doc, perm),"
        f" bandv{s} AS (SELECT doc, CAST(perm // {rows} AS INT) AS band_idx,"
        "   array_to_string(list(CAST(s AS VARCHAR) ORDER BY perm), ',')"
        f"    AS band_val FROM sig{s} GROUP BY doc, perm // {rows}),"
        f" hset{s} AS (SELECT doc, list_distinct(list(h)) AS hs FROM hs{s}"
        "  GROUP BY doc)"
    )


def _minhash_md5_ctes(
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    link: str = "all",
) -> str:
    """Shared DuckDB CTE chain replaying the md5-family MinHash-LSH
    pipeline (operators/dedup.py:minhash_bands / minhash_lsh_pairs)
    from a unit table ``u(doc, utext)`` to verified near-dup pairs
    ``pairsq(doc_a, doc_b, jaccard)``:

    - shingles: distinct word n-grams as strings (the md5 family hashes
      the JOINED shingle string, so the oracle can build it verbatim);
    - base hash: first 15 hex chars of md5 → 60-bit BIGINT (DuckDB
      casts '0x…' strings natively; Spark uses conv(…, 16, 10));
    - permutations: the SAME seeded Carter-Wegman constants
      (random.Random(0x5EED), lockstep with minhash_bands) — (a·h+b)
      mod p over h mod p, p = 2^31−1; all intermediates < 2^62 so
      BIGINT arithmetic is exact in both engines;
    - band keys: the comma-joined signature slice strings;
    - bucket cap, candidate self-join, exact-Jaccard verify over the
      base-hash sets — identical predicates, identical rounding.

    Consumers prepend their unit CTE (docs for `ext_dedup_near`,
    word-window paragraphs for `ext_dedup_para`) and select off
    ``pairsq``. Depth: the oracle materializes per-(doc, perm) minima
    relationally — fine at verification scale, which is the point.

    *link* mirrors minhash_lsh_pairs: ``"all"`` = capped in-bucket
    self-join; ``"min"`` = star linking to the bucket minimum, no cap
    (the duplicate-dense scale path, `ext_dedup_star`)."""
    if link == "min":
        cand = (
            " mins AS (SELECT band_idx, band_val, min(doc) AS doc_a"
            "  FROM bandv GROUP BY 1, 2),"
            " cand AS (SELECT DISTINCT m.doc_a, b.doc AS doc_b"
            "  FROM bandv b JOIN mins m USING (band_idx, band_val)"
            "  WHERE b.doc > m.doc_a),"
        )
    else:
        cand = (
            " ok AS (SELECT band_idx, band_val FROM bandv"
            f"  GROUP BY 1, 2 HAVING count(*) <= {max_bucket_size}),"
            " ent AS (SELECT b.* FROM bandv b JOIN ok"
            "  USING (band_idx, band_val)),"
            " cand AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b"
            "  FROM ent a JOIN ent b ON a.band_idx = b.band_idx"
            "   AND a.band_val = b.band_val AND a.doc < b.doc),"
        )
    return (
        _minhash_perms_cte(num_perm)
        + ","
        + _minhash_md5_units("", num_perm, bands, shingle_n)
        + ","
        + cand
        + " pairsq AS (SELECT doc_a, doc_b, jaccard FROM ("
        "  SELECT c.doc_a, c.doc_b,"
        "   round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)"
        "     / len(list_distinct(a.hs || b.hs)), 4) AS jaccard"
        "  FROM cand c JOIN hset a ON c.doc_a = a.doc"
        "   JOIN hset b ON c.doc_b = b.doc)"
        f" WHERE jaccard >= {threshold})"
    )


def _stream_dedup_fold_oracle(
    n_batches: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> str:
    """Exact DuckDB replay of the streaming dedup-index fold
    (streaming/dedup_index.py with hash_fn='md5'), unrolled one stage
    per microbatch — the same promotion shape that verified
    ext_stream_cms/ext_stream_hll (streamed store == a deterministic
    batch computation), except here the state is a keep-first FOLD, so
    the oracle unrolls it:

    - batch membership replays write_id_range_batches' split: the
      driver's percentile_approx(id, k/n, 10000) boundary is EXACT at
      verification scale (error < 1 rank for n <= accuracy) and equals
      the value at 1-based rank ceil(k/n · count) — pinned empirically
      in tests/test_streaming.py;
    - bands/shingle sets are per-doc and batch-independent, so ONE
      global md5 chain (`_minhash_md5_units`) serves every stage;
    - stage i: bucket populations = kept-so-far index entries + the
      batch's own entries (the persisted count-delta sum), cap 1000;
      candidates = same-bucket pairs with doc_old < doc_new — ascending
      id-range batches make every kept id smaller than every batch id,
      so the one predicate covers BOTH the vs-corpus and the
      within-batch sides of dedup_batch_against; verify is the
      UNROUNDED exact Jaccard >= threshold (operators/dedup.py:jaccard
      divides raw set sizes — not the 4-dp pairsq convention);
    - survivors accumulate into ks{i+1}; the result is the settled
      kept ids, the exact column the kept-store read returns;
    - NULL-text docs never band on either side (minhash_bands filters
      them — NULL is unknown content, not identical content), so they
      survive every stage on both engines."""
    parts = [
        "WITH ranked AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id)"
        "  AS rn, count(*) OVER () AS n FROM documents),"
        " cuts AS (SELECT "
        + ", ".join(
            # the rank rule is percentile_approx-EXACT only while
            # count <= accuracy (10000): past that, GK's rank error
            # reaches a full rank and the replayed split can drift —
            # fail loudly instead of hash-mismatching mysteriously
            "max(CASE WHEN n > 10000 THEN error('fold oracle: the"
            " batch-split replay needs count <= 10000 (the"
            " percentile_approx accuracy bound)')"
            f" WHEN rn = CAST(ceil({k} / {n_batches}.0 * n) AS BIGINT)"
            f" THEN doc_id END) AS e{k}"
            for k in range(1, n_batches)
        )
        + " FROM ranked),"
        " bmem AS MATERIALIZED (SELECT doc_id AS doc, CASE "
        + " ".join(
            f"WHEN doc_id <= e{k} THEN {k - 1}"
            for k in range(1, n_batches)
        )
        + f" ELSE {n_batches - 1} END AS b FROM documents, cuts),"
        " u AS (SELECT doc_id AS doc, text AS utext FROM documents"
        "  WHERE text IS NOT NULL),"
        + _minhash_perms_cte()
        + ","
        + _minhash_md5_units("")
        + ","
        " bv AS MATERIALIZED (SELECT v.doc, v.band_idx, v.band_val, m.b"
        "  FROM bandv v JOIN bmem m ON v.doc = m.doc),"
        " hx AS MATERIALIZED (SELECT doc, hs FROM hset),"
        " ks0 AS (SELECT doc FROM bmem WHERE 1 = 0),"
    ]
    for i in range(n_batches):
        parts.append(
            f" eb{i} AS (SELECT doc, band_idx, band_val FROM bv"
            f"  WHERE b = {i}),"
            f" ic{i} AS (SELECT v.doc, v.band_idx, v.band_val FROM bv v"
            f"  JOIN ks{i} k ON v.doc = k.doc),"
            f" ok{i} AS (SELECT band_idx, band_val FROM ("
            f"   SELECT band_idx, band_val FROM ic{i}"
            f"   UNION ALL SELECT band_idx, band_val FROM eb{i})"
            f"  GROUP BY 1, 2 HAVING count(*) <= {max_bucket_size}),"
            f" cand{i} AS (SELECT DISTINCT n.doc AS doc_new,"
            "   o.doc AS doc_old"
            f"  FROM (SELECT e.* FROM eb{i} e JOIN ok{i}"
            "    USING (band_idx, band_val)) n"
            f"  JOIN (SELECT t.* FROM (SELECT * FROM ic{i}"
            f"     UNION ALL SELECT * FROM eb{i}) t JOIN ok{i}"
            "    USING (band_idx, band_val)) o"
            "   ON n.band_idx = o.band_idx AND n.band_val = o.band_val"
            "    AND o.doc < n.doc),"
            f" dom{i} AS (SELECT DISTINCT c.doc_new AS doc FROM cand{i} c"
            "  JOIN hx a ON a.doc = c.doc_new"
            "  JOIN hx o ON o.doc = c.doc_old"
            "  WHERE CAST(len(list_intersect(a.hs, o.hs)) AS DOUBLE)"
            f"   / len(list_distinct(a.hs || o.hs)) >= {threshold}),"
            f" surv{i} AS (SELECT doc FROM bmem WHERE b = {i}"
            f"  EXCEPT SELECT doc FROM dom{i}),"
            f" ks{i + 1} AS MATERIALIZED (SELECT doc FROM ks{i}"
            f"  UNION ALL SELECT doc FROM surv{i}),"
        )
    parts.append(f" fin AS (SELECT doc FROM ks{n_batches})"
                 " SELECT doc AS doc_id FROM fin")
    return "".join(parts)


def _dedup_simhash_oracle(max_hamming: int = 3) -> str:
    """Exact DuckDB twin of q_ext_dedup_simhash's md5-family SimHash
    (operators/dedup.py:simhash_pairs): token hash = first 16 md5 hex
    chars as UBIGINT (identical bit pattern to Spark's signed-BIGINT
    hi<<32|lo assembly), per-bit ±1 votes over distinct tokens, sign
    packing, 16-bit pigeonhole chunks, hamming via bit_count(xor).
    The engine dedups pairs with a first-matching-chunk predicate (no
    distinct shuffle); the oracle's DISTINCT yields the same set."""
    return (
        "WITH tok AS (SELECT doc_id AS doc,"
        "   list_distinct(string_split(text, ' ')) AS toks"
        "  FROM documents WHERE text IS NOT NULL),"
        " th AS (SELECT doc, ('0x' || substr(md5(x), 1, 16))::UBIGINT AS h"
        "  FROM tok, unnest(toks) AS u(x)),"
        " votes AS (SELECT doc, i,"
        "   sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v"
        "  FROM th, unnest(range(64)) AS b(i) GROUP BY doc, i),"
        # 1::UBIGINT << 63 overflows DuckDB's shift; go through HUGEINT
        " sim AS (SELECT doc,"
        "   CAST(sum(CASE WHEN v > 0 THEN (1::HUGEINT << i)"
        "     ELSE 0::HUGEINT END) AS UBIGINT) AS s"
        "  FROM votes GROUP BY doc),"
        " chunks AS (SELECT doc, s, c,"
        "   CAST((s >> (16 * c)) & 65535 AS BIGINT) AS cv"
        "  FROM sim, unnest(range(4)) AS t(c)),"
        " pairs AS (SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,"
        "   CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming"
        "  FROM chunks a JOIN chunks b"
        "   ON a.c = b.c AND a.cv = b.cv AND a.doc < b.doc"
        f"  WHERE bit_count(xor(a.s, b.s)) <= {max_hamming})"
        " SELECT doc_a, doc_b, hamming FROM pairs"
    )


def _dedup_near_oracle() -> str:
    """Doc-granularity consumer of `_minhash_md5_ctes` — the exact
    twin of q_ext_dedup_near."""
    return (
        "WITH u AS (SELECT doc_id AS doc, text AS utext FROM documents"
        "  WHERE text IS NOT NULL),"
        + _minhash_md5_ctes()
        + " SELECT doc_a, doc_b, jaccard FROM pairsq"
    )


def _dedup_star_oracle() -> str:
    """Doc-granularity star-linked consumer of `_minhash_md5_ctes` —
    the exact twin of q_ext_dedup_star (link='min': per-bucket min
    linking, no bucket cap)."""
    return (
        "WITH u AS (SELECT doc_id AS doc, text AS utext FROM documents"
        "  WHERE text IS NOT NULL),"
        + _minhash_md5_ctes(link="min")
        + " SELECT doc_a, doc_b, jaccard FROM pairsq"
    )


def _decontam_fuzzy_oracle() -> str:
    """Cross-set consumer of `_minhash_md5_ctes` — the exact twin of
    q_ext_decontam_fuzzy. Eval docs enter the shared chain's unit
    table as NEGATIVE ids (-(doc_id+1)), so under the chain's
    doc_a < doc_b candidate ordering every (eval, train) pair — and
    only those — satisfies doc_a < 0 AND doc_b >= 0; the in-train /
    in-eval pairs the single-table self-join also mints are discarded
    by that predicate (the bucket cap is unaffected: it counts the
    COMBINED per-bucket population, which is the engine's cap
    semantics too)."""
    return (
        "WITH u AS ("
        "  SELECT doc_id AS doc, text AS utext FROM documents"
        "   WHERE doc_id % 10 <> 0 AND text IS NOT NULL"
        "  UNION ALL"
        "  SELECT -(doc_id + 1) AS doc, text FROM documents"
        "   WHERE doc_id % 10 = 0 AND text IS NOT NULL),"
        + _minhash_md5_ctes()
        + " SELECT doc_b AS doc_id,"
        "  CAST(count(*) AS INT) AS n_eval_matches,"
        "  max(jaccard) AS max_jaccard"
        " FROM pairsq WHERE doc_a < 0 AND doc_b >= 0"
        " GROUP BY doc_b"
    )


def _dedup_para_oracle(words_per_para: int = 30) -> str:
    """Paragraph-granularity consumer of `_minhash_md5_ctes` — the
    exact twin of q_ext_dedup_para (operators/dedup.py:
    paragraph_near_dedup): split docs into word windows, near-dedup the
    windows, drop every window dominated by an earlier (packed-key)
    near-duplicate, rebuild documents from survivors."""
    n = words_per_para
    return (
        "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w"
        "  FROM documents WHERE text IS NOT NULL),"
        " paras AS (SELECT doc_id, CAST(i AS INT) AS pidx,"
        f"   array_to_string(w[1 + {n} * i : {n} + {n} * i], ' ') AS para,"
        f"   doc_id * {1 << 20} + i AS pkey"
        f"  FROM w, unnest(range(0, (len(w) + {n - 1}) // {n})) AS t(i)),"
        " u AS (SELECT pkey AS doc, para AS utext FROM paras),"
        + _minhash_md5_ctes()
        + ", dom AS (SELECT DISTINCT doc_b AS pkey FROM pairsq)"
        " SELECT doc_id, array_to_string(list(para ORDER BY pidx), ' ')"
        "   AS text, count(*) AS n_paras"
        " FROM paras p WHERE NOT EXISTS"
        "  (SELECT 1 FROM dom d WHERE d.pkey = p.pkey)"
        " GROUP BY doc_id"
    )

#: shared recursive-CTE prefix: exact-pair dup graph (round(j,4) >= 0.9,
#: the Spark jaccard_pairs convention) → reachability closure → per-node
#: component root. `ext_dedup_keep` selects component minima off it;
#: `ext_dup_cluster_stats` reads the component sizes.
_DUP_GRAPH_CTES = (
    "WITH RECURSIVE s AS (SELECT doc_id,"
    "   list_distinct(string_split(text, ' ')) AS st FROM documents),"
    " pairs AS (SELECT doc_a, doc_b FROM ("
    "   SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
    "    round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)"
    "      / len(list_distinct(a.st || b.st)), 4) AS j"
    "   FROM s a JOIN s b ON a.doc_id < b.doc_id) WHERE j >= 0.9),"
    " edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs"
    "   UNION SELECT doc_b, doc_a FROM pairs),"
    " reach(node, r) AS (SELECT u, v FROM edges"
    "   UNION SELECT e.u, r.r FROM edges e JOIN reach r ON e.v = r.node),"
    " comp AS (SELECT node, least(node, min(r)) AS root"
    "   FROM reach GROUP BY node)"
)

#: shared BM25 CTE chain (tok → base → stats → scored) over query terms
#: ('hash', 'vector', 'stream'), k1=1.2, b=0.75, NULL-text docs dropped —
#: MUST match bm25_topk (operators/text.py). `ext_bm25` ranks it
#: directly; `ext_hybrid_rrf` fuses its ranks with the cosine side.
_BM25_CTES = (
    "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk"
    "  FROM documents WHERE text IS NOT NULL),"
    " base AS (SELECT doc_id, len(tk) AS dl,"
    "   len(list_filter(tk, x -> x = 'hash')) AS tf0,"
    "   len(list_filter(tk, x -> x = 'vector')) AS tf1,"
    "   len(list_filter(tk, x -> x = 'stream')) AS tf2"
    "  FROM tok),"
    " stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl,"
    "   count(*) FILTER (WHERE tf0 > 0) AS df0,"
    "   count(*) FILTER (WHERE tf1 > 0) AS df1,"
    "   count(*) FILTER (WHERE tf2 > 0) AS df2"
    "  FROM base),"
    " scored AS (SELECT doc_id,"
    "   ln((n_docs - df0 + 0.5) / (df0 + 0.5) + 1.0)"
    "    * tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    "  + ln((n_docs - df1 + 0.5) / (df1 + 0.5) + 1.0)"
    "    * tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    "  + ln((n_docs - df2 + 0.5) / (df2 + 0.5) + 1.0)"
    "    * tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))"
    "   AS score FROM base CROSS JOIN stats)"
)

def _weighted_sample_oracle() -> str:
    from etl_acordos_spark.functions.hashing import sql_unit_hash_open

    u = sql_unit_hash_open("doc_id")
    return (
        "WITH keyed AS (SELECT doc_id, n_chars,"
        f"  floor(pow({u},"
        "    1.0 / n_chars) * 1000000000.0 + 0.5) / 1000000000.0"
        "   AS sample_key"
        "  FROM documents WHERE n_chars > 0)"
        " SELECT doc_id, n_chars, sample_key FROM keyed"
        " ORDER BY sample_key DESC, doc_id LIMIT 50"
    )


_WEIGHTED_SAMPLE_ORACLE = _weighted_sample_oracle()

def _pmi_oracle(min_count: int = 25, k: int = 20) -> str:
    """Oracle twin of q_ext_pmi with min_count and k threaded through
    (the _pagerank_oracle convention — a retuned query can't silently
    diverge from a hardcoded oracle constant)."""
    return (
        "WITH tok AS (SELECT string_split(text, ' ') AS tk FROM documents"
        "  WHERE text IS NOT NULL),"
        " uni AS (SELECT unnest(tk) AS w FROM tok),"
        " uc AS (SELECT w, count(*) AS c_w FROM uni GROUP BY w),"
        " nt AS (SELECT sum(c_w) AS nt FROM uc),"
        " pr AS (SELECT unnest(range(1, len(tk))) AS i, tk FROM tok"
        "  WHERE len(tk) >= 2),"
        " pairs AS (SELECT tk[i] AS w1, tk[i+1] AS w2 FROM pr),"
        " nb AS (SELECT count(*) AS nb FROM pairs),"
        " bg AS (SELECT w1, w2, count(*) AS c_ab FROM pairs"
        f"  GROUP BY w1, w2 HAVING count(*) >= {min_count})"
        " SELECT w1, w2, CAST(c_ab AS BIGINT) AS n,"
        "  floor(ln((CAST(c_ab AS DOUBLE) / nb)"
        "    / ((CAST(a.c_w AS DOUBLE) / nt)"
        "     * (CAST(b.c_w AS DOUBLE) / nt)))"
        "   * 1000000.0 + 0.5) / 1000000.0 AS pmi"
        " FROM bg JOIN uc a ON a.w = bg.w1 JOIN uc b ON b.w = bg.w2,"
        " nb, nt"
        f" ORDER BY pmi DESC, w1, w2 LIMIT {k}"
    )


_PMI_ORACLE = _pmi_oracle()

_NGRAM_TOPK_ORACLE = (
    "WITH tok AS (SELECT string_split(text, ' ') AS tk FROM documents"
    "  WHERE text IS NOT NULL),"
    " bg AS (SELECT unnest(list_transform(range(1, len(tk)),"
    "   i -> tk[i] || ' ' || tk[i+1])) AS ngram"
    "  FROM tok WHERE len(tk) >= 2)"
    " SELECT ngram, CAST(count(*) AS BIGINT) AS n FROM bg"
    " GROUP BY ngram ORDER BY n DESC, ngram LIMIT 25"
)

def _lm_bigram_oracle(min_count: int = 3, alpha: float = 0.4) -> str:
    """Oracle twin of q_ext_lm_bigram (operators/text.py:
    bigram_lm_score) with min_count/alpha threaded through. Identical
    model recurrence: P_bi = c2/cctx gated on min_count, stupid
    backoff alpha·c1/N, 1e-4 grid-floor on the per-doc mean."""
    return (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk"
        "  FROM documents WHERE text IS NOT NULL),"
        " bg AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2"
        "  FROM (SELECT doc_id, unnest(range(1, len(tk))) AS i, tk"
        "        FROM tok WHERE len(tk) >= 2)),"
        " c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),"
        " cctx AS (SELECT w1, sum(c2) AS cc FROM c2 GROUP BY 1),"
        " uni AS (SELECT w, count(*) AS c1"
        "  FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY 1),"
        " tot AS (SELECT sum(c1) AS n FROM uni),"
        " bim AS (SELECT c2.w1, c2.w2,"
        "   log2(CAST(c2.c2 AS DOUBLE) / CAST(cctx.cc AS DOUBLE))"
        "    AS logp_bi"
        f"  FROM c2 JOIN cctx USING (w1) WHERE c2.c2 >= {min_count})"
        " SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,"
        "  floor(-avg(coalesce(b.logp_bi,"
        f"   log2({alpha} * CAST(u.c1 AS DOUBLE) / CAST(tot.n AS DOUBLE))))"
        "   * 10000.0 + 0.5) / 10000.0 AS bits_per_bigram"
        " FROM bg LEFT JOIN bim b ON bg.w1 = b.w1 AND bg.w2 = b.w2"
        " JOIN uni u ON u.w = bg.w2, tot"
        " GROUP BY bg.doc_id"
    )


_LM_BIGRAM_ORACLE = _lm_bigram_oracle()

#: twin of q_ext_dedup_url: the synthetic-URL derivation AND the
#: canonicalization (operators/dedup.py:canonical_url) replayed in
#: DuckDB — fragment drop, lowercase scheme/host, trailing-slash strip,
#: tracking params out / survivors sorted. Keep in lockstep with both.
_DEDUP_URL_ORACLE = (
    "WITH raw AS (SELECT doc_id, text,"
    "  'https://'"
    "   || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END"
    "   || '.example.com/articles/' || CAST(doc_id % 35 AS VARCHAR)"
    "   || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END"
    "   || CASE WHEN doc_id % 7 = 1 THEN '?utm_source=feed&page=2'"
    "           WHEN doc_id % 7 = 3 THEN '?page=2&ref=sidebar'"
    "           WHEN doc_id % 7 = 5 THEN '?utm_campaign=x'"
    "           ELSE '' END AS url"
    " FROM documents),"
    # WHATWG tab/CR/LF strip extended to all Java line terminators —
    # lockstep with canonical_url's step 0 (keeps the '.'-based
    # patterns below exact twins on every input, not just the
    # terminator-free synthetic URLs)
    " rawn AS (SELECT doc_id, text, regexp_replace(url,"
    "   '[\\t\\n\\r\\x{0085}\\x{2028}\\x{2029}]', '', 'g') AS url"
    "  FROM raw),"
    " pq AS (SELECT doc_id, text,"
    "   split_part(split_part(url, '#', 1), '?', 1) AS base,"
    # everything after the FIRST '?' (split_part field 2 would stop at
    # a second '?') — lockstep with operators/dedup.py:canonical_url
    "   regexp_extract(split_part(url, '#', 1),"
    "    '^[^?]*\\?(.*)$', 1) AS q"
    "  FROM rawn),"
    " kp AS (SELECT *, list_sort(list_filter(string_split(q, '&'),"
    "   x -> x <> '' AND NOT regexp_matches(x,"
    "    '^(utm_[^=]*|ref|fbclid|gclid|mc_[^=]*)='))) AS kept FROM pq),"
    # authority lowering in lockstep with canonical_url: only the host
    # after the LAST '@' is lowercased; userinfo keeps case (RFC 3986)
    " canon AS (SELECT doc_id, sha256(text) AS digest,"
    "   lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    "   || '://'"
    "   || regexp_extract(regexp_extract(base,"
    "       '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1), '^(.*@)', 1)"
    "   || lower(regexp_replace(regexp_extract(base,"
    "       '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1), '^.*@', ''))"
    "   || regexp_replace(regexp_extract(base,"
    "       '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$', 1), '/+$', '')"
    "   || CASE WHEN len(kept) > 0"
    "        THEN '?' || array_to_string(kept, '&') ELSE '' END"
    "    AS canonical_url"
    "  FROM kp),"
    " m AS (SELECT doc_id, canonical_url, digest,"
    "   min(doc_id) OVER (PARTITION BY canonical_url) AS url_min,"
    "   min(doc_id) OVER (PARTITION BY digest) AS content_min"
    "  FROM canon)"
    # NULL guard in lockstep with operators/dedup.py:url_dedup — a
    # missing body/URL is never a duplicate of other missing ones
    " SELECT doc_id, canonical_url,"
    "  (canonical_url IS NOT NULL AND doc_id <> url_min) AS url_dup,"
    "  (digest IS NOT NULL AND doc_id <> content_min) AS content_dup,"
    "  ((canonical_url IS NULL OR doc_id = url_min)"
    "   AND (digest IS NULL OR doc_id = content_min)) AS keep"
    " FROM m"
)


def _pack_bfd_oracle(
    budget: int = 256, shards: int = 8, window: int = 64, stride: int = 48
) -> str:
    """Oracle twin of q_ext_pack_bfd: best-fit-decreasing replayed as a
    single-row-per-shard recursive CTE — state is the (fills, cnts)
    list pair, each step places the shard's next length-ranked chunk
    into the fullest bin that fits (list_max over the filtered fills;
    list_position resolves the FIRST bin at that fill, matching the
    operator's strict `>` scan). Sequential by nature, so the oracle
    is depth-n_chunks/shard recursion — verification-scale only."""
    return (
        "WITH RECURSIVE tok AS (SELECT doc_id,"
        "   string_split(text, ' ') AS tok FROM documents),"
        f" ch AS (SELECT CAST(doc_id % {shards} AS INT) AS shard, doc_id,"
        f"   CAST(floor((s - 1) / {stride}) AS INTEGER) AS chunk_id,"
        f"   CAST(len(tok[s : least(s + {window - 1}, len(tok))])"
        "     AS BIGINT) AS tokn"
        f"  FROM tok, unnest(generate_series(1, len(tok), {stride}))"
        "    AS u(s)),"
        " items AS (SELECT shard, tokn, row_number() OVER ("
        "   PARTITION BY shard ORDER BY tokn DESC, doc_id, chunk_id)"
        "    AS rn FROM ch),"
        " st AS ("
        "  SELECT shard, 0 AS i, CAST([] AS BIGINT[]) AS fills,"
        "    CAST([] AS BIGINT[]) AS cnts"
        "  FROM (SELECT DISTINCT shard FROM items)"
        "  UNION ALL"
        "  SELECT st.shard, st.i + 1,"
        "   CASE WHEN best IS NULL THEN list_append(st.fills, it.tokn)"
        "        ELSE st.fills[1:pos-1] || [best + it.tokn]"
        "          || st.fills[pos+1:] END,"
        "   CASE WHEN best IS NULL THEN list_append(st.cnts, 1::BIGINT)"
        "        ELSE st.cnts[1:pos-1] || [st.cnts[pos] + 1]"
        "          || st.cnts[pos+1:] END"
        "  FROM st"
        "  JOIN items it ON it.shard = st.shard AND it.rn = st.i + 1,"
        "  LATERAL (SELECT list_max(list_filter(st.fills,"
        f"    f -> f + it.tokn <= {budget})) AS best) b,"
        "  LATERAL (SELECT list_position(st.fills, b.best) AS pos) p),"
        " fin AS (SELECT shard, fills, cnts, row_number() OVER ("
        "   PARTITION BY shard ORDER BY i DESC) AS rk"
        "  FROM st QUALIFY rk = 1)"
        " SELECT shard,"
        "  CAST(generate_subscripts(fills, 1) - 1 AS INT) AS pack_id,"
        "  CAST(unnest(cnts) AS BIGINT) AS n_chunks,"
        "  CAST(unnest(fills) AS BIGINT) AS n_tokens"
        " FROM fin"
    )


_PACK_BFD_ORACLE = _pack_bfd_oracle()

_ORACLES: dict[str, str | None] = {
    "ext_dedup_exact": (
        "SELECT min(doc_id) AS doc_id, sha256(text) AS content_sha256"
        " FROM documents GROUP BY sha256(text)"
    ),
    "ext_dedup_jaccard": _JACCARD_PAIRS,
    # keep-set = component minima of the exact-pair graph (UNION dedups
    # the reachability closure, so it terminates); a doc survives iff it
    # is the min of its component (docs in no pair keep themselves)
    "ext_dedup_keep": (
        _DUP_GRAPH_CTES
        + " SELECT d.doc_id FROM documents d LEFT JOIN comp c"
        "   ON d.doc_id = c.node"
        " WHERE c.node IS NULL OR c.root = d.doc_id"
    ),
    # split = pure function of the component root (Spark's label =
    # component min, which IS comp.root; singletons label themselves)
    "ext_leakage_split": (
        _DUP_GRAPH_CTES
        + ", lab AS (SELECT d.doc_id,"
        "   CAST(coalesce(c.root, d.doc_id) AS BIGINT) AS cluster"
        "  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)"
        " SELECT doc_id, cluster,"
        "  CASE WHEN " + sql_hash32("cluster") + " % 100 < 80 THEN 'train'"
        "       WHEN " + sql_hash32("cluster") + " % 100 < 90 THEN 'val'"
        "       ELSE 'test' END AS split"
        " FROM lab"
    ),
    # every comp node sits in a >= 2 component by construction (it has
    # an edge), so sizes off comp ARE the singleton-free histogram
    "ext_dup_cluster_stats": (
        _DUP_GRAPH_CTES
        + ", sizes AS (SELECT root, count(*) AS cluster_size"
        "   FROM comp GROUP BY root)"
        " SELECT cluster_size, count(*) AS n_clusters,"
        "  cluster_size * count(*) AS n_docs"
        " FROM sizes GROUP BY cluster_size"
    ),
    "ext_quantize_embed": (
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x"
        "   FROM embeddings),"
        " s AS (SELECT vec_id, x,"
        "   list_max(list_transform(x, e -> abs(e))) / 127.0 AS scale"
        "  FROM v),"
        " g AS (SELECT vec_id, x, scale,"
        "   CASE WHEN scale = 0 THEN 1.0 ELSE scale END AS sc FROM s),"
        " q AS (SELECT vec_id, x, scale, sc,"
        "   list_transform(x, e -> CAST(floor(e / sc + 0.5) AS INTEGER))"
        "    AS qq FROM g)"
        " SELECT vec_id, round(scale, 6) AS scale,"
        "  CAST(list_sum(list_transform(qq, e -> abs(e))) AS BIGINT)"
        "   AS q_l1,"
        "  round(sqrt(list_sum(list_transform(generate_series(1, len(x)),"
        "    i -> (x[i] - qq[i] * sc) * (x[i] - qq[i] * sc)))"
        "   / nullif(len(x), 0)), 6)"
        "   AS rmse"
        " FROM q"
    ),
    # prefix filtering is EXACT, so ext_dedup_ngram's brute-force pair
    # join at the same threshold IS its oracle — only the
    # candidate-generation plan differs
    "ext_dedup_prefix": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok"
        "  FROM documents),"
        " s AS (SELECT doc_id, CASE WHEN len(tok) >= 3 THEN"
        "   list_distinct(list_transform(generate_series(1, len(tok) - 2),"
        "     i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2]))"
        "  ELSE [array_to_string(tok, ' ')] END AS st FROM tok)"
        " SELECT doc_a, doc_b, jaccard FROM ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "   round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)"
        "     / len(list_distinct(a.st || b.st)), 4) AS jaccard"
        "  FROM s a JOIN s b ON a.doc_id < b.doc_id)"
        " WHERE jaccard >= 0.8"
    ),
    "ext_dedup_ngram": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok"
        "  FROM documents),"
        " s AS (SELECT doc_id, CASE WHEN len(tok) >= 3 THEN"
        "   list_distinct(list_transform(generate_series(1, len(tok) - 2),"
        "     i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2]))"
        "  ELSE [array_to_string(tok, ' ')] END AS st FROM tok)"
        " SELECT doc_a, doc_b, jaccard FROM ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "   round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)"
        "     / len(list_distinct(a.st || b.st)), 4) AS jaccard"
        "  FROM s a JOIN s b ON a.doc_id < b.doc_id)"
        " WHERE jaccard >= 0.8"
    ),
    "ext_heavy_hitters": (
        "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word"
        "  FROM documents),"
        " w AS (SELECT word FROM tok WHERE word <> ''),"
        " tot AS (SELECT count(*) AS total FROM w)"
        " SELECT word, CAST(count(*) AS BIGINT) AS n"
        " FROM w, tot GROUP BY word, total"
        " HAVING count(*) > total * 0.01"
    ),
    # same shingle-builder CTE as ext_dedup_ngram (short docs collapse
    # to one full-text shingle); containment divides by |A| only
    "ext_dedup_contain": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk"
        "  FROM documents),"
        " s AS (SELECT doc_id, CASE WHEN len(tk) >= 3 THEN"
        "   list_distinct(list_transform(generate_series(1, len(tk) - 2),"
        "     i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))"
        "  ELSE [array_to_string(tk, ' ')] END AS st FROM tok),"
        " f AS (SELECT * FROM s WHERE len(st) >= 5)"
        " SELECT doc_a, doc_b, containment FROM ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
        "   round(CAST(len(list_intersect(a.st, b.st)) AS DOUBLE)"
        "     / len(a.st), 4) AS containment"
        "  FROM f a JOIN f b ON a.doc_id <> b.doc_id)"
        " WHERE containment >= 0.9"
    ),
    "ext_tfidf": (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term"
        "  FROM documents),"
        " tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),"
        " dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq"
        "  FROM tok GROUP BY 1),"
        " n AS (SELECT count(*) AS n_docs FROM documents),"
        " scored AS (SELECT doc_id, term,"
        "   tf * ln((n_docs + 1.0) / (doc_freq + 1.0)) AS score"
        "  FROM tf JOIN dfreq USING (term) CROSS JOIN n)"
        " SELECT doc_id, term, round(score, 4) AS score FROM ("
        "  SELECT doc_id, term, score, row_number() OVER ("
        "    PARTITION BY doc_id ORDER BY round(score, 6) DESC, term) AS rn"
        "  FROM scored) WHERE rn = 1"
    ),
    "ext_bm25": (
        _BM25_CTES
        + " SELECT doc_id, round(score, 4) AS score FROM scored"
        " ORDER BY round(score, 6) DESC, doc_id LIMIT 15"
    ),
    "ext_span_dedup": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk"
        "  FROM documents),"
        " sp AS (SELECT doc_id,"
        "   CASE WHEN len(tk) >= 20 THEN"
        "    list_transform(range(1, len(tk) - 18),"
        "     i -> array_to_string(tk[i:i+19], ' '))"
        "   ELSE [array_to_string(tk, ' ')] END AS spans"
        "  FROM tok),"
        " ex AS (SELECT doc_id, unnest(spans) AS s FROM sp),"
        " c AS (SELECT s, count(*) AS c FROM ex GROUP BY s),"
        " dups AS (SELECT doc_id,"
        "   CAST(count(*) FILTER (WHERE c.c > 1) AS BIGINT) AS n_dup_spans"
        "  FROM ex JOIN c USING (s) GROUP BY doc_id)"
        " SELECT sp.doc_id, CAST(len(spans) AS BIGINT) AS n_spans,"
        "  n_dup_spans,"
        "  round(CAST(n_dup_spans AS DOUBLE) / len(spans), 4) AS dup_ratio,"
        "  CAST(n_dup_spans AS DOUBLE) / len(spans) < 0.5 AS keep"
        " FROM sp JOIN dups USING (doc_id)"
    ),
    "ext_pii_redact": (
        "WITH dirty AS (SELECT doc_id, text"
        " || CASE WHEN doc_id % 3 = 0 THEN ' reach user'"
        "      || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END"
        " || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 010-7788' ELSE '' END"
        " || CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.0.12' ELSE '' END"
        " AS text FROM documents)"
        " SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,"
        r" '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '[EMAIL]', 'g'),"
        r" '\+?[0-9][0-9() -]{6,}[0-9]', '[PHONE]', 'g'),"
        r" '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '[IP]', 'g') AS clean_text"
        " FROM dirty"
    ),
    "ext_dedup_near": None,  # probabilistic candidate generation
    "ext_dedup_simhash": None,  # xxhash64 not available in the oracle engine
    "ext_dedup_embed": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"
        " SELECT id_a, id_b, cosine FROM ("
        f"  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COSINE} AS cosine"
        "  FROM e a JOIN e b ON a.vec_id < b.vec_id)"
        " WHERE cosine >= 0.35"
    ),
    "ext_simsearch": (
        "WITH q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings"
        "   WHERE vec_id = 0),"
        " e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        "   WHERE vec_id <> 0)"
        " SELECT vec_id,"
        "  round(list_dot_product(e.v, q.v) /"
        "   nullif(sqrt(list_dot_product(e.v, e.v))"
        "    * sqrt(list_dot_product(q.v, q.v)), 0),"
        "   6) AS cosine"
        " FROM e, q ORDER BY cosine DESC, vec_id ASC LIMIT 10"
    ),
    # anchor set = vec_id % 100 = 0; cosine rounded to 6 dp BEFORE the
    # per-anchor ranking (both engines rank the rounded value with id
    # tiebreak); the < 0.95 ceiling drops NULL (zero-norm) cosines on
    # both engines
    "ext_hard_negatives": (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v"
        "   FROM embeddings),"
        " q AS (SELECT vec_id AS query_id, v AS qv FROM e"
        "   WHERE vec_id % 100 = 0),"
        " scored AS (SELECT q.query_id, e.vec_id,"
        "   round(list_dot_product(e.v, q.qv) /"
        "    nullif(sqrt(list_dot_product(e.v, e.v))"
        "     * sqrt(list_dot_product(q.qv, q.qv)), 0), 6) AS cosine"
        "  FROM e, q WHERE e.vec_id <> q.query_id),"
        " ranked AS (SELECT query_id, vec_id, cosine,"
        "   CAST(row_number() OVER (PARTITION BY query_id"
        "    ORDER BY cosine DESC, vec_id) AS INT) AS rank"
        "  FROM scored WHERE cosine < 0.95)"
        " SELECT query_id, vec_id, cosine, rank"
        " FROM ranked WHERE rank <= 10"
    ),
    # BM25 side SHARES the ext_bm25 CTE chain (_BM25_CTES, ranked at
    # 6 dp, the precision bm25_topk's _ord key carries); vector side replays the
    # ext_simsearch cosine; both ranked by (score desc, id asc) over the
    # top-50 cut, fused as sum of 1/(60 + rank)
    "ext_hybrid_rrf": (
        _BM25_CTES
        + ","
        " lex AS (SELECT doc_id, row_number() OVER ("
        "    ORDER BY round(score, 6) DESC, doc_id) AS lex_rank"
        "   FROM scored QUALIFY lex_rank <= 50),"
        " qv AS (SELECT embedding::DOUBLE[] AS v FROM embeddings"
        "   WHERE vec_id = 0),"
        " cos AS (SELECT vec_id AS doc_id,"
        "   round(list_dot_product(e.v, qv.v) /"
        "    nullif(sqrt(list_dot_product(e.v, e.v))"
        "     * sqrt(list_dot_product(qv.v, qv.v)), 0), 6) AS c"
        "  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"
        "    WHERE vec_id <> 0) e CROSS JOIN qv),"
        " vecr AS (SELECT doc_id, row_number() OVER ("
        "    ORDER BY c DESC, doc_id) AS vec_rank"
        "   FROM cos QUALIFY vec_rank <= 50)"
        " SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,"
        "  round(coalesce(1.0 / (60 + l.lex_rank), 0)"
        "   + coalesce(1.0 / (60 + v.vec_rank), 0), 6) AS rrf_score,"
        "  CAST(l.lex_rank AS DOUBLE) AS lex_rank,"
        "  CAST(v.vec_rank AS DOUBLE) AS vec_rank"
        " FROM lex l FULL JOIN vecr v ON l.doc_id = v.doc_id"
        " ORDER BY rrf_score DESC, doc_id LIMIT 15"
    ),
    "ext_kmeans": _KMEANS_ORACLE,  # unrolled Lloyd rounds, exact int domain
    "ext_semdedup": (
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        "  FROM embeddings)"
        " SELECT a.vec_id, a.label FROM e a WHERE NOT EXISTS ("
        "  SELECT 1 FROM e b WHERE b.label = a.label"
        "   AND b.vec_id < a.vec_id"
        f"   AND {_COSINE} >= 0.25)"
    ),
    "ext_domain_cap": (
        "SELECT doc_id, source FROM ("
        " SELECT doc_id, source, row_number() OVER ("
        "  PARTITION BY source"
        f"  ORDER BY {sql_hash32('doc_id')} ASC, doc_id ASC)"
        "  AS rn FROM documents) WHERE rn <= 15"
    ),
    "ext_text_stats": (
        "WITH d AS (SELECT lang, length(text) AS chars,"
        "  len(string_split(text, ' ')) AS tokens,"
        "  len(list_distinct(string_split(text, ' '))) AS distinct_tokens"
        "  FROM documents)"
        " SELECT lang, count(*) AS n_docs,"
        "  round(avg(chars), 4) AS avg_chars,"
        "  round(avg(tokens), 4) AS avg_tokens,"
        "  round(avg(distinct_tokens), 4) AS avg_distinct_tokens"
        " FROM d GROUP BY lang"
    ),
    "ext_corpus_pipeline": (
        "WITH gated AS ("
        "  SELECT doc_id, lang, source, text FROM documents"
        "  WHERE len(string_split(text, ' ')) >= 40),"
        " keep AS ("
        "  SELECT min(doc_id) AS doc_id FROM gated GROUP BY sha256(text)),"
        " deduped AS ("
        "  SELECT g.* FROM gated g JOIN keep k USING (doc_id)),"
        " capped AS ("
        "  SELECT doc_id, lang, text FROM ("
        "   SELECT doc_id, lang, text, row_number() OVER ("
        "    PARTITION BY source"
        f"    ORDER BY {sql_hash32('doc_id')} ASC, doc_id ASC)"
        "    AS rn FROM deduped) WHERE rn <= 15),"
        " tok AS ("
        "  SELECT doc_id AS id, lang,"
        "   len(string_split(text, ' ')) AS n_tok,"
        "   CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2"
        "    WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1"
        "    ELSE 0.0 END AS w"
        "  FROM capped),"
        " totals AS ("
        "  SELECT lang, sum(n_tok)::DOUBLE AS t_lang, first(w) AS w"
        "  FROM tok GROUP BY lang),"
        " grand AS (SELECT 0.5 * sum(t_lang) AS budget FROM totals),"
        " rates AS ("
        "  SELECT lang, least(1.0, budget * w / t_lang) AS rate"
        "  FROM totals, grand)"
        " SELECT t.lang, count(*) AS n_docs,"
        "  CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,"
        "  round(first(r.rate), 6) AS rate"
        " FROM tok t JOIN rates r ON t.lang = r.lang"
        f" WHERE {sql_unit_hash('t.id')} < r.rate"
        " GROUP BY t.lang"
    ),
    "ext_mixture_sample": (
        "WITH tok AS ("
        "  SELECT doc_id AS id, lang,"
        "   len(string_split(text, ' ')) AS n_tok,"
        "   CASE lang WHEN 'en' THEN 0.4 WHEN 'zh' THEN 0.2"
        "    WHEN 'de' THEN 0.15 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.1"
        "    ELSE 0.0 END AS w"
        "  FROM documents),"
        " totals AS ("
        "  SELECT lang, sum(n_tok)::DOUBLE AS t_lang, first(w) AS w"
        "  FROM tok GROUP BY lang),"
        " grand AS (SELECT 0.5 * sum(t_lang) AS budget FROM totals),"
        " rates AS ("
        "  SELECT lang, least(1.0, budget * w / t_lang) AS rate"
        "  FROM totals, grand)"
        " SELECT t.lang, count(*) AS n_docs,"
        "  CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,"
        "  round(first(r.rate), 6) AS rate"
        " FROM tok t JOIN rates r ON t.lang = r.lang"
        f" WHERE {sql_unit_hash('t.id')} < r.rate"
        " GROUP BY t.lang"
    ),
    "ext_lm_score": (
        "WITH tok AS ("
        "  SELECT doc_id, unnest(string_split(text, ' ')) AS w"
        "  FROM documents),"
        " vocab AS (SELECT w, count(*)::DOUBLE AS c FROM tok GROUP BY w),"
        " tot AS (SELECT sum(c) AS n FROM vocab),"
        " probs AS (SELECT w, log2(c / n) AS logp FROM vocab, tot)"
        " SELECT t.doc_id, count(*) AS n_tokens,"
        "  round(-avg(p.logp), 4) AS bits_per_token"
        " FROM tok t JOIN probs p USING (w) GROUP BY t.doc_id"
    ),
    "ext_entropy": (
        # NULL/empty text drops out of the unnest anyway; the WHERE makes
        # the drop-not-zero semantics explicit and future-data-proof.
        "WITH freq AS ("
        "  SELECT doc_id, count(*)::DOUBLE AS n"
        "  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch"
        "        FROM documents"
        "        WHERE text IS NOT NULL AND length(text) > 0)"
        "  GROUP BY doc_id, ch)"
        " SELECT doc_id,"
        "  round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 4)"
        "    AS char_entropy"
        " FROM freq GROUP BY doc_id"
    ),
    "ext_token_count": (
        "SELECT doc_id,"
        " CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,"
        " CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))"
        "   AS INTEGER) AS re_tokens,"
        " CAST(length(text) AS INTEGER) AS n_chars,"
        " CAST(strlen(text) AS INTEGER) AS n_bytes"
        " FROM documents"
    ),
    "ext_quality_score": (
        "WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tok,"
        "  length(replace(text, ' ', '')) AS solid_chars FROM documents),"
        " m AS (SELECT doc_id,"
        "  CAST(len(tok) AS INTEGER) AS n_tokens,"
        "  CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) AS distinct_ratio,"
        "  CAST(solid_chars AS DOUBLE) / len(tok) AS avg_token_len,"
        "  CAST(len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and')))"
        "    AS DOUBLE) / len(tok) AS stop_ratio"
        "  FROM tk)"
        " SELECT doc_id, n_tokens,"
        "  round(distinct_ratio, 4) AS distinct_ratio,"
        "  round(avg_token_len, 4) AS avg_token_len,"
        "  round(stop_ratio, 4) AS stopword_ratio,"
        # literals cast to DOUBLE (bare 0.25 is DECIMAL in DuckDB) and
        # arithmetic floor-based half-up rounding instead of round():
        # DuckDB's round() on doubles disagrees with Spark's for values
        # whose decimal repr sits on a half (0.42374999999999996 →
        # .4238 vs .4237) even when both engines hold the same double
        "  floor((least(n_tokens / 200.0::DOUBLE, 1.0::DOUBLE)"
        "    * 0.25::DOUBLE"
        "   + distinct_ratio * 0.25::DOUBLE"
        "   + least(avg_token_len / 8.0::DOUBLE, 1.0::DOUBLE)"
        "    * 0.25::DOUBLE"
        "   + least(stop_ratio * 5.0::DOUBLE, 1.0::DOUBLE)"
        "    * 0.25::DOUBLE) * 10000.0::DOUBLE + 0.5::DOUBLE)"
        "   / 10000.0::DOUBLE AS quality"
        " FROM m"
    ),
    "ext_lang_id": (
        "WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS tok"
        "  FROM documents),"
        " h AS (SELECT doc_id,"
        "  CAST(len(list_filter(tok, x -> x IN ('the', 'a', 'of', 'and')))"
        "    AS INTEGER) AS hits_en,"
        "  CAST(len(list_filter(tok, x -> x IN ('el', 'los', 'y', 'que')))"
        "    AS INTEGER) AS hits_es,"
        "  CAST(len(list_filter(tok, x -> x IN ('der', 'die', 'und', 'nicht')))"
        "    AS INTEGER) AS hits_de,"
        "  CAST(len(list_filter(tok, x -> x IN ('le', 'les', 'et', 'une')))"
        "    AS INTEGER) AS hits_fr"
        "  FROM tk)"
        " SELECT doc_id, hits_en, hits_es, hits_de, hits_fr,"
        "  CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'"
        "   WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'"
        "   WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'"
        "   WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'"
        "   ELSE 'fr' END AS pred_lang"
        " FROM h"
    ),
    "ext_fingerprint": (
        "SELECT doc_id,"
        " list_min(list_transform(generate_series(1,"
        "   greatest(length(text) - 15, 1), 4),"
        "   i -> md5(substring(text, i, 16)))) AS fingerprint,"
        " CAST(len(generate_series(1, greatest(length(text) - 15, 1), 4))"
        "   AS INTEGER) AS n_windows"
        " FROM documents"
    ),
    "ext_repetition": (
        "WITH tok AS ("
        "  SELECT doc_id, string_split(text, ' ') AS tok FROM documents),"
        " bg AS ("
        "  SELECT doc_id, unnest(list_transform("
        "    generate_series(1, len(tok) - 1),"
        "    i -> tok[i] || ' ' || tok[i + 1])) AS bg"
        "  FROM tok WHERE len(tok) >= 2),"
        " bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),"
        " agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg"
        "         FROM bgc GROUP BY 1)"
        " SELECT t.doc_id,"
        "  CAST(len(tok) AS INTEGER) AS n_tokens,"
        "  round(1 - len(list_distinct(tok)) / len(tok), 4)"
        "    AS dup_token_frac,"
        "  round(coalesce(top_c / n_bg, 0.0), 4) AS top_bigram_frac"
        " FROM tok t LEFT JOIN agg USING (doc_id)"
    ),
    "ext_doc_chunk": (
        "WITH tok AS ("
        "  SELECT doc_id, string_split(text, ' ') AS tok FROM documents)"
        " SELECT doc_id,"
        "  CAST(floor((s - 1) / 48) AS INTEGER) AS chunk_id,"
        "  CAST(s AS INTEGER) AS chunk_start,"
        "  CAST(len(tok[s : least(s + 63, len(tok))]) AS INTEGER)"
        "    AS n_chunk_tokens,"
        "  array_to_string(tok[s : least(s + 63, len(tok))], ' ')"
        "    AS chunk_text"
        " FROM tok, unnest(generate_series(1, len(tok), 48)) AS u(s)"
    ),
    "ext_stratified_sample": (
        "SELECT doc_id, lang FROM documents"
        f" WHERE {sql_hash32('doc_id', 2246822519)} % 100 <"
        "  CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 80 ELSE 50 END"
    ),
    "ext_boilerplate": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok"
        "  FROM documents),"
        " sh AS (SELECT doc_id, CASE WHEN len(tok) >= 3 THEN"
        "   list_distinct(list_transform(generate_series(1, len(tok) - 2),"
        "     i -> tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2]))"
        "  ELSE [array_to_string(tok, ' ')] END AS st FROM tok),"
        " g AS (SELECT doc_id, unnest(st) AS gram FROM sh),"
        " nn AS (SELECT count(*) AS n_total FROM documents)"
        " SELECT gram, n_docs, round(n_docs * 1.0 / n_total, 4) AS doc_frac"
        " FROM (SELECT gram, count(*) AS n_docs FROM g GROUP BY 1), nn"
        " WHERE n_docs * 1.0 / n_total >= 0.01"
    ),
    # closed-form replay of extract_features on the gradient-PNG
    # fixture (w = 8 + d%9, h = 8 + d%7, pixel(y, x) = (x+y+d) % 256,
    # grayscale): decoded geometry, round-half-up integer-micro mean
    # luma, and md5 of the canonical decoded string — the same chain
    # the Spark side computes from REAL PNG decodes
    "ext_multimodal": (
        "WITH dims AS (SELECT doc_id,"
        "  CAST(8 + doc_id % 9 AS INTEGER) AS width,"
        "  CAST(8 + doc_id % 7 AS INTEGER) AS height FROM documents),"
        " px AS (SELECT doc_id, width, height,"
        "   list_transform(generate_series(0,"
        "    CAST(width AS BIGINT) * height - 1),"
        "    i -> ((i % width) + (i // width) + doc_id) % 256) AS p"
        "  FROM dims)"
        " SELECT doc_id, 'image/png' AS mime, width, height,"
        "  1 AS channels,"
        "  CAST((2 * CAST(list_sum(p) AS BIGINT) * 1000000"
        "    + width * height) // (2 * width * height) AS BIGINT)"
        "   / 1000000.0 AS mean_luma,"
        "  md5(width || 'x' || height || 'x1:'"
        "   || array_to_string(p, ',')) AS content_md5"
        " FROM px"
    ),
    "ext_decontaminate": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok"
        "  FROM documents),"
        " sh AS (SELECT doc_id, CASE WHEN len(tok) >= 4 THEN"
        "   list_distinct(list_transform(generate_series(1, len(tok) - 3),"
        "     i -> array_to_string(tok[i:i+3], ' ')))"
        "  ELSE [array_to_string(tok, ' ')] END AS st FROM tok),"
        " ev AS (SELECT DISTINCT unnest(st) AS gram FROM sh"
        "   WHERE doc_id % 50 = 0),"
        " tr AS (SELECT doc_id, unnest(st) AS gram FROM sh"
        "   WHERE doc_id % 50 <> 0)"
        " SELECT doc_id, count(DISTINCT gram) AS n_shared_ngrams"
        " FROM tr JOIN ev USING (gram) GROUP BY doc_id"
    ),
    "ext_seq_pack": (
        "WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tok"
        "  FROM documents),"
        " chunks AS (SELECT doc_id,"
        "   CAST(floor((s - 1) / 48) AS INTEGER) AS chunk_id,"
        "   len(tok[s : least(s + 63, len(tok))]) AS n_chunk_tokens"
        "  FROM tok, unnest(generate_series(1, len(tok), 48)) AS u(s)),"
        " sharded AS (SELECT *, CAST(doc_id % 8 AS INTEGER) AS shard"
        "  FROM chunks),"
        " packed AS (SELECT shard,"
        "   CAST(floor(coalesce(sum(n_chunk_tokens) OVER ("
        "     PARTITION BY shard ORDER BY doc_id, chunk_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
        "    / 256) AS INTEGER) AS pack_id,"
        "   n_chunk_tokens"
        "  FROM sharded)"
        " SELECT shard, pack_id, count(*) AS n_chunks,"
        "  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens"
        " FROM packed GROUP BY shard, pack_id"
    ),
}

QUERIES: dict[str, QueryDef] = {
    "ext_dedup_exact": QueryDef(q_ext_dedup_exact, _ORACLES["ext_dedup_exact"]),
    "ext_dedup_url": QueryDef(q_ext_dedup_url, _DEDUP_URL_ORACLE),
    "ext_dedup_jaccard": QueryDef(
        q_ext_dedup_jaccard, _ORACLES["ext_dedup_jaccard"]
    ),
    "ext_dedup_prefix": QueryDef(
        q_ext_dedup_prefix, _ORACLES["ext_dedup_prefix"]
    ),
    "ext_dedup_ngram": QueryDef(
        q_ext_dedup_ngram, _ORACLES["ext_dedup_ngram"]
    ),
    "ext_dedup_contain": QueryDef(
        q_ext_dedup_contain, _ORACLES["ext_dedup_contain"]
    ),
    "ext_dedup_near": QueryDef(q_ext_dedup_near, _dedup_near_oracle()),
    "ext_dedup_star": QueryDef(q_ext_dedup_star, _dedup_star_oracle()),
    "ext_decontam_fuzzy": QueryDef(
        q_ext_decontam_fuzzy, _decontam_fuzzy_oracle()
    ),
    "ext_dedup_para": QueryDef(q_ext_dedup_para, _dedup_para_oracle()),
    "ext_dedup_simhash": QueryDef(
        q_ext_dedup_simhash, _dedup_simhash_oracle()
    ),
    "ext_dedup_keep": QueryDef(q_ext_dedup_keep, _ORACLES["ext_dedup_keep"]),
    "ext_dup_cluster_stats": QueryDef(
        q_ext_dup_cluster_stats, _ORACLES["ext_dup_cluster_stats"]
    ),
    "ext_dedup_embed": QueryDef(q_ext_dedup_embed, _ORACLES["ext_dedup_embed"]),
    "ext_simsearch": QueryDef(q_ext_simsearch, _ORACLES["ext_simsearch"]),
    "ext_hard_negatives": QueryDef(
        q_ext_hard_negatives, _ORACLES["ext_hard_negatives"]
    ),
    "ext_hybrid_rrf": QueryDef(q_ext_hybrid_rrf, _ORACLES["ext_hybrid_rrf"]),
    "ext_quantize_embed": QueryDef(
        q_ext_quantize_embed, _ORACLES["ext_quantize_embed"]
    ),
    "ext_simsearch_ann": QueryDef(q_ext_simsearch_ann, _LSH_ORACLE),
    "ext_simsearch_ivf": QueryDef(q_ext_simsearch_ivf, _IVF_ORACLE),
    "ext_simsearch_pq": QueryDef(q_ext_simsearch_pq, _PQ_ORACLE),
    "ext_simsearch_ivfpq": QueryDef(q_ext_simsearch_ivfpq, _IVFPQ_ORACLE),
    "ext_kmeans": QueryDef(q_ext_kmeans, _ORACLES["ext_kmeans"]),
    "ext_semdedup": QueryDef(q_ext_semdedup, _ORACLES["ext_semdedup"]),
    "ext_domain_cap": QueryDef(q_ext_domain_cap, _ORACLES["ext_domain_cap"]),
    "ext_text_stats": QueryDef(q_ext_text_stats, _ORACLES["ext_text_stats"]),
    "ext_token_count": QueryDef(q_ext_token_count, _ORACLES["ext_token_count"]),
    "ext_quality_score": QueryDef(
        q_ext_quality_score, _ORACLES["ext_quality_score"]
    ),
    "ext_entropy": QueryDef(q_ext_entropy, _ORACLES["ext_entropy"]),
    "ext_lm_score": QueryDef(q_ext_lm_score, _ORACLES["ext_lm_score"]),
    "ext_lm_bigram": QueryDef(q_ext_lm_bigram, _LM_BIGRAM_ORACLE),
    "ext_mixture_sample": QueryDef(
        q_ext_mixture_sample, _ORACLES["ext_mixture_sample"]
    ),
    "ext_corpus_pipeline": QueryDef(
        q_ext_corpus_pipeline, _ORACLES["ext_corpus_pipeline"]
    ),
    "ext_lang_id": QueryDef(q_ext_lang_id, _ORACLES["ext_lang_id"]),
    "ext_fingerprint": QueryDef(q_ext_fingerprint, _ORACLES["ext_fingerprint"]),
    "ext_repetition": QueryDef(q_ext_repetition, _ORACLES["ext_repetition"]),
    "ext_doc_chunk": QueryDef(q_ext_doc_chunk, _ORACLES["ext_doc_chunk"]),
    "ext_stratified_sample": QueryDef(
        q_ext_stratified_sample, _ORACLES["ext_stratified_sample"]
    ),
    "ext_tfidf": QueryDef(q_ext_tfidf, _ORACLES["ext_tfidf"]),
    "ext_bm25": QueryDef(q_ext_bm25, _ORACLES["ext_bm25"]),
    "ext_ngram_topk": QueryDef(q_ext_ngram_topk, _NGRAM_TOPK_ORACLE),
    "ext_pmi": QueryDef(q_ext_pmi, _PMI_ORACLE),
    "ext_weighted_sample": QueryDef(
        q_ext_weighted_sample, _WEIGHTED_SAMPLE_ORACLE
    ),
    "ext_bpe_train": QueryDef(q_ext_bpe_train, _bpe_train_oracle()),
    "ext_bpe_apply": QueryDef(q_ext_bpe_apply, _bpe_apply_oracle()),
    "ext_heavy_hitters": QueryDef(
        q_ext_heavy_hitters, _ORACLES["ext_heavy_hitters"]
    ),
    "ext_cms_sketch": QueryDef(q_ext_cms_sketch, _CMS_SKETCH_ORACLE),
    "ext_bitext_mine": QueryDef(q_ext_bitext_mine, _BITEXT_ORACLE),
    "ext_leakage_split": QueryDef(
        q_ext_leakage_split, _ORACLES["ext_leakage_split"]
    ),
    "ext_span_dedup": QueryDef(q_ext_span_dedup, _ORACLES["ext_span_dedup"]),
    "ext_pii_redact": QueryDef(q_ext_pii_redact, _ORACLES["ext_pii_redact"]),
    "ext_boilerplate": QueryDef(q_ext_boilerplate, _ORACLES["ext_boilerplate"]),
    "ext_decontaminate": QueryDef(
        q_ext_decontaminate, _ORACLES["ext_decontaminate"]
    ),
    "ext_seq_pack": QueryDef(q_ext_seq_pack, _ORACLES["ext_seq_pack"]),
    "ext_pack_bfd": QueryDef(q_ext_pack_bfd, _PACK_BFD_ORACLE),
    "ext_multimodal": QueryDef(q_ext_multimodal, _ORACLES["ext_multimodal"]),
    "ext_mm_resize": QueryDef(
        q_ext_mm_resize,
        # closed-form replay of the NN resample: src = floor(dst·src/dst)
        "WITH dims AS (SELECT doc_id, 8 + doc_id % 9 AS sw,"
        "  8 + doc_id % 7 AS sh FROM documents),"
        " px AS (SELECT doc_id,"
        "   ((x.v * sw) // 8 + (y.v * sh) // 8 + doc_id) % 256 AS p"
        "  FROM dims,"
        "  LATERAL (SELECT unnest(generate_series(0, 7)) AS v) x,"
        "  LATERAL (SELECT unnest(generate_series(0, 7)) AS v) y)"
        " SELECT doc_id, 8 AS width, 8 AS height, 1 AS channels,"
        "  CAST(sum(p) AS BIGINT) AS sum_px FROM px GROUP BY doc_id",
    ),
    "ext_mm_frames": QueryDef(
        q_ext_mm_frames,
        # frames f < 2 + id%4, sampled at stride 2; 8×6 gradient frames
        "WITH f AS (SELECT doc_id, fr.v AS frame_idx FROM documents,"
        "  LATERAL (SELECT unnest(generate_series(0,"
        "   CAST(2 + doc_id % 4 AS BIGINT) - 1)) AS v) fr"
        "  WHERE fr.v % 2 = 0),"
        " px AS (SELECT doc_id, frame_idx,"
        "   (x.v + y.v + doc_id + frame_idx) % 256 AS p"
        "  FROM f,"
        "  LATERAL (SELECT unnest(generate_series(0, 7)) AS v) x,"
        "  LATERAL (SELECT unnest(generate_series(0, 5)) AS v) y)"
        " SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,"
        "  8 AS width, 6 AS height, CAST(sum(p) AS BIGINT) AS sum_px"
        " FROM px GROUP BY doc_id, frame_idx",
    ),
}
