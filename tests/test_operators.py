"""Operator-level tests: LSH recall against exact baselines, multimodal
plumbing determinism, semantic edges of the cleaning functions."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_acordos_spark.functions.cleaning import (
    concat_sep,
    left_n,
    parse_date_ddmmyyyy,
    sentinel_to_default,
    titlecase,
)
from etl_acordos_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from etl_acordos_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
)
from etl_acordos_spark.operators.simsearch import ann_topk_lsh, exact_topk
from etl_acordos_spark.queries.base import t


def test_minhash_recall_vs_exact(spark, sf_oracle):
    """LSH must recover the high-similarity pairs the exact baseline
    finds (at J≥0.8 with 16 bands of 4 the candidate probability is
    ≈1-1e-7 per pair)."""
    docs = t(spark, sf_oracle, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            docs, "text", "doc_id", threshold=0.8, use_shingles=True
        ).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert exact, "expected some high-similarity pairs in the corpus"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall} too low ({len(exact)} truth pairs)"
    # verification step guarantees precision = 1.0 vs the same threshold
    assert lsh <= exact


def test_minhash_hash_families_agree(spark, sf_oracle):
    """The md5 family (what the hash-oracled registry key runs) and the
    xxhash64 production family verify near-identical pair sets. The
    VERIFY step is hash-independent (exact Jaccard over shingle sets),
    but CANDIDATE generation is not: a pair whose Jaccard sits in the
    16x4 banding S-curve's transition zone can be band-caught under one
    family and missed under the other, so exact set equality is not
    guaranteed by construction (currently both families find the
    identical 25 pairs on this corpus; testdata regeneration could
    legitimately add a borderline pair). Pin: >=90% pair-set agreement,
    and IDENTICAL exact-Jaccard values on the intersection — a logic
    bug (broken banding, wrong verify) lands far below both."""
    docs = t(spark, sf_oracle, "documents")
    xx = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
    }
    md = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", hash_fn="md5"
        ).collect()
    }
    assert xx, "expected near-dup pairs in the corpus"
    both = set(xx) & set(md)
    assert len(both) / len(set(xx) | set(md)) >= 0.90
    assert all(xx[k] == md[k] for k in both), "verify values diverge"


def test_simhash_finds_near_identical_docs(spark, sf_oracle):
    """Hamming≤3 pairs must be a subset of high-Jaccard pairs and the
    join must not explode to all-pairs."""
    docs = t(spark, sf_oracle, "documents")
    pairs = simhash_pairs(docs, "text", "doc_id").collect()
    n_docs = docs.count()
    assert len(pairs) < n_docs * 10  # nowhere near quadratic
    for r in pairs:
        assert 0 <= r.hamming <= 3


def test_ann_recall_vs_exact_topk(spark, sf_oracle):
    emb = t(spark, sf_oracle, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = [r.vec_id for r in exact_topk(emb, list(qvec), k=10, exclude_id=0).collect()]
    approx = [r.vec_id for r in ann_topk_lsh(emb, query_id=0, k=10).collect()]
    # sign-LSH with 2 halves of 8 bits: expect meaningful overlap, not parity
    assert len(set(exact) & set(approx)) >= 3, (exact, approx)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other")], ["doc_id", "text"]
    )
    rows = {r.doc_id for r in exact_dedup(df, "text", "doc_id").collect()}
    assert rows == {1, 2}


def test_multimodal_features_deterministic(spark, sf_smoke):
    docs = t(spark, sf_smoke, "documents").limit(50)
    media = attach_binary_payload(docs, "doc_id")
    a = sorted(map(tuple, extract_features(media).collect()))
    b = sorted(map(tuple, extract_features(media).collect()))
    assert a == b
    row = a[0]
    # doc_id, mime, n_bytes, payload_md5, content_md5, w, h, ch, luma
    assert len(row) == 9
    assert row[1] == "image/png"
    # real decode: the gradient payload's closed form (doc 0: 8x8,
    # pixel(y,x) = (x+y) % 256, all < 256 so no wrap)
    doc0 = next(r for r in a if r[0] == 0)
    assert (doc0[5], doc0[6], doc0[7]) == (8, 8, 1)
    s, n = sum((x + y) % 256 for y in range(8) for x in range(8)), 64
    assert doc0[8] == ((2 * s * 1_000_000 + n) // (2 * n)) / 1e6
    # content identity hashes the DECODED canonical form, not the bytes
    import hashlib

    canon = "8x8x1:" + ",".join(
        str((x + y) % 256) for y in range(8) for x in range(8)
    )
    assert doc0[4] == hashlib.md5(canon.encode()).hexdigest()
    assert doc0[3] != doc0[4]  # payload identity is a different key


# ------------------------- semantic edges of the cleaning functions


def test_parse_date_coerces_invalid_to_null(spark):
    df = spark.createDataFrame(
        [("15/01/1997",), ("31/02/2020",), ("n/a",), (None,)], ["d"]
    )
    got = [r[0] for r in df.select(parse_date_ddmmyyyy("d")).collect()]
    assert got[0] is not None and str(got[0]) == "1997-01-15"
    assert got[1] is None and got[2] is None and got[3] is None


def test_concat_sep_propagates_null(spark):
    df = spark.createDataFrame([("a", None), ("a", "b")], ["x", "y"])
    got = [r[0] for r in df.select(concat_sep(["x", "y"], " > ")).collect()]
    assert got == [None, "a > b"]


def test_sentinel_and_titlecase_and_left(spark):
    df = spark.createDataFrame([("-",), ("ok town",)], ["x"])
    got = [
        tuple(r)
        for r in df.select(
            sentinel_to_default("x"), titlecase("x"), left_n("x", 2)
        ).collect()
    ]
    assert got[0] == ("não informado", "-", "-")
    assert got[1] == ("ok town", "Ok Town", "ok")


def test_ivf_recall_vs_exact_topk(spark, sf_oracle):
    """IVF with 4/16 probes must recover most of the exact top-10 (the
    query's own cell is always probed, so true neighbors clustering with
    the query are found)."""
    from etl_acordos_spark.operators.simsearch import ivf_topk

    emb = t(spark, sf_oracle, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = {
        r["vec_id"]
        for r in exact_topk(emb, list(qvec), k=10, exclude_id=0).collect()
    }
    approx = {r["vec_id"] for r in ivf_topk(emb, query_id=0, k=10).collect()}
    assert len(approx) == 10
    assert len(exact & approx) >= 5, f"recall too low: {len(exact & approx)}/10"


def test_pq_recall_vs_exact_topk(spark, sf_oracle):
    """PQ at 16 subspaces × 32 codewords with 4× exact re-rank recovers
    nearly all of the exact top-10 on this corpus (measured 10/10 at
    sf0.01; the bound leaves margin for testdata regeneration). Also
    deterministic: fixed training sample + fixed Lloyd iterations."""
    from etl_acordos_spark.operators.simsearch import pq_topk

    emb = t(spark, sf_oracle, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = {
        r["vec_id"]
        for r in exact_topk(emb, list(qvec), k=10, exclude_id=0).collect()
    }
    a = [tuple(r) for r in pq_topk(emb, query_id=0, k=10).collect()]
    b = [tuple(r) for r in pq_topk(emb, query_id=0, k=10).collect()]
    assert a == b, "PQ result not deterministic"
    approx = {vec_id for vec_id, _ in a}
    assert len(approx) == 10
    assert len(exact & approx) >= 7, f"recall too low: {len(exact & approx)}/10"


def test_ivfpq_recall_vs_exact_topk(spark, sf_oracle):
    """IVF-PQ composite (round-7 VERDICT item 5): recall floors at
    least as tight as both singles (IVF >= 5, PQ >= 7 above). Measured
    9/10 at sf0.01 with the default 4/16 probes and refine=8 — the IVF
    pruning ceiling (neighbors outside probed cells are unreachable by
    construction); the floor leaves margin for testdata regeneration.
    Also deterministic end-to-end (fixed training prefix, fixed Lloyd
    rounds, shared residual codebooks)."""
    from etl_acordos_spark.operators.simsearch import ivfpq_topk

    emb = t(spark, sf_oracle, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    exact = {
        r["vec_id"]
        for r in exact_topk(emb, list(qvec), k=10, exclude_id=0).collect()
    }
    a = [tuple(r) for r in ivfpq_topk(emb, query_id=0, k=10).collect()]
    b = [tuple(r) for r in ivfpq_topk(emb, query_id=0, k=10).collect()]
    assert a == b, "IVF-PQ result not deterministic"
    approx = {vec_id for vec_id, _ in a}
    assert len(approx) == 10
    assert len(exact & approx) >= 7, f"recall too low: {len(exact & approx)}/10"


def test_ivfpq_missing_query_id_raises(spark, sf_oracle):
    import pytest

    from etl_acordos_spark.operators.simsearch import ivfpq_topk

    emb = t(spark, sf_oracle, "embeddings")
    with pytest.raises(ValueError, match="not found"):
        ivfpq_topk(emb, query_id=10**9, k=10)


def test_char_entropy_closed_forms(spark):
    """Entropy of a uniform 4-char string is exactly 2 bits; a
    single-repeated-char string is 0; empty text is DROPPED (no char
    distribution — matches the SQL oracle's unnest semantics)."""
    from etl_acordos_spark.operators.text import char_entropy

    df = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, ""), (4, "aabb")],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r["char_entropy"]
        for r in char_entropy(df, "text", "doc_id").collect()
    }
    assert got == {1: 2.0, 2: 0.0, 4: 1.0}


def test_lm_score_closed_form(spark):
    """Two-doc corpus with counts a=3, b=1: P(a)=0.75, P(b)=0.25.
    doc1 = 'a a' → -log2(0.75) = 0.415; doc2 = 'a b' →
    (0.415 + 2.0)/2 = 1.2075 bits/token."""
    from etl_acordos_spark.operators.text import lm_score

    df = spark.createDataFrame([(1, "a a"), (2, "a b")], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["bits_per_token"])
        for r in lm_score(df, "text", "doc_id").collect()
    }
    assert got == {1: (2, 0.415), 2: (2, 1.2075)}


def test_mixture_sample_rates(spark):
    """A lang already under its target token share is taken whole
    (rate 1); an over-represented one is thinned toward target. Kept
    counts are exact for the deterministic hash."""
    from etl_acordos_spark.operators.text import mixture_sample

    rows = [(i, "en", "w " * 9 + "w") for i in range(90)]  # 900 en tokens
    rows += [(100 + i, "fr", "w " * 9 + "w") for i in range(10)]  # 100 fr
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    # budget = 500 tokens; targets: en 250 (have 900 -> thinned to
    # rate 250/900), fr 250 (have 100 -> rate 1, kept whole)
    out = {
        r["lang"]: r
        for r in mixture_sample(
            df, "text", "lang", "doc_id",
            {"en": 0.5, "fr": 0.5}, budget_frac=0.5,
        ).collect()
    }
    assert out["fr"]["n_docs"] == 10 and out["fr"]["rate"] == 1.0
    assert abs(out["en"]["rate"] - 250 / 900) < 1e-6
    # thinning is the hash filter, so kept docs ~ rate (exact count
    # depends on the hash; bound it loosely)
    assert 10 <= out["en"]["n_docs"] <= 50


def test_keep_representatives_components(spark):
    """Chain 1-2-3 and pair 10-11 collapse to min-id representatives;
    isolated doc stays."""
    from etl_acordos_spark.operators.dedup import keep_representatives

    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], schema="doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], schema="doc_a long, doc_b long"
    )
    kept = sorted(
        r["doc_id"]
        for r in keep_representatives(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 10, 99]


def test_keep_representatives_long_chain_pointer_jumping(spark):
    """A 1000-node path (diameter 999) must collapse to one keep within
    the default iteration budget — only possible because each round
    pointer-jumps (path halving), not 1-hop propagation: 10 rounds, not
    1000."""
    from etl_acordos_spark.operators.dedup import keep_representatives

    n = 1000
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    kept = [
        r["doc_id"]
        for r in keep_representatives(docs, pairs, "doc_id").collect()
    ]
    assert kept == [0]


def test_pii_redact_patterns(spark):
    from etl_acordos_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call +1 (555) 010-7788 today"),
            (3, "host 10.0.255.3 up"),
            (4, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.clean_text for r in pii_redact(df, "text").collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "call [PHONE] today"
    assert got[3] == "host [IP] up"
    assert got[4] == "nothing sensitive here"


def test_simhash_pairs_exactly_once(spark, sf_oracle):
    """First-matching-chunk predicate must emit each pair exactly once
    (it replaced a dropDuplicates shuffle)."""
    from etl_acordos_spark.operators.dedup import simhash_pairs
    from etl_acordos_spark.queries.base import t as read_t

    docs = read_t(spark, sf_oracle, "documents")
    pairs = simhash_pairs(docs, "text", "doc_id")
    dups = (
        pairs.groupBy("doc_a", "doc_b").count().filter("count > 1").count()
    )
    assert dups == 0


def test_merge_upsert_latest_wins_and_tie_breaks_to_updates(spark):
    from etl_acordos_spark.operators.relational import merge_upsert

    existing = spark.createDataFrame(
        [(1, "old", 1), (2, "keep", 1)], ["k", "val", "ver"]
    )
    updates = spark.createDataFrame(
        [(1, "new", 2), (3, "ins", 1), (2, "tie", 1)], ["k", "val", "ver"]
    )
    got = {r.k: r.val for r in merge_upsert(existing, updates, "k", "ver").collect()}
    # higher version wins; equal version prefers updates; new keys insert
    assert got == {1: "new", 2: "tie", 3: "ins"}


def test_scd2_collapses_unchanged_runs(spark):
    from etl_acordos_spark.operators.relational import scd2_history

    snaps = spark.createDataFrame(
        [(1, 2020, "A"), (1, 2021, "A"), (1, 2022, "B"), (1, 2023, "A")],
        ["k", "v", "status"],
    )
    rows = sorted(
        scd2_history(snaps, "k", "v", ["status"]).collect(),
        key=lambda r: r.valid_from,
    )
    assert [(r.status, r.valid_from, r.valid_to, r.is_current) for r in rows] == [
        ("A", 2020, 2022, False),
        ("B", 2022, 2023, False),
        ("A", 2023, None, True),
    ]


def test_salted_join_equals_plain_join(spark, sf_smoke):
    from etl_acordos_spark.operators.relational import salted_join
    from etl_acordos_spark.queries.base import t as read_t

    lineitem = read_t(spark, sf_smoke, "lineitem")
    supplier = read_t(spark, sf_smoke, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    salted = salted_join(lineitem, supplier, "l_suppkey", salt_buckets=4)
    plain = lineitem.join(supplier, "l_suppkey")
    assert salted.count() == plain.count()
    a = salted.groupBy("s_nationkey").count().collect()
    b = plain.groupBy("s_nationkey").count().collect()
    assert {(r.s_nationkey, r["count"]) for r in a} == {
        (r.s_nationkey, r["count"]) for r in b
    }


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_hashed_shingles_match_string_shingles(spark):
    """hashed_word_shingles must mirror word_shingles' set semantics:
    same cardinality per doc (collisions aside) and the same Jaccard
    between docs — including the short-doc (< n tokens) whole-text
    fallback producing exactly one shingle."""
    from etl_acordos_spark.operators.dedup import (
        hashed_word_shingles,
        jaccard,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "tiny doc"),  # < n tokens -> single whole-text shingle
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    ).select("doc_id", F.split("text", " ").alias("tok"))
    both = docs.select(
        "doc_id",
        word_shingles("tok", 3).alias("s_str"),
        hashed_word_shingles("tok", 3).alias("s_hash"),
    )
    rows = {r.doc_id: r for r in both.collect()}
    for d, r in rows.items():
        assert len(r.s_hash) == len(set(r.s_hash)) == len(r.s_str), d
    assert len(rows[3].s_hash) == 1
    assert rows[3].s_hash == rows[4].s_hash

    pairs = (
        both.alias("a")
        .crossJoin(both.alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            jaccard("a.s_str", "b.s_str").alias("j_str"),
            jaccard("a.s_hash", "b.s_hash").alias("j_hash"),
        )
        .collect()
    )
    for r in pairs:
        assert r.j_str == r.j_hash


def test_doc_chunks_edges(spark):
    """Chunking must cover every token, respect the stride, and give
    short docs exactly one chunk."""
    from etl_acordos_spark.operators.text import doc_chunks

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = doc_chunks(docs, "text", "doc_id", window=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 100 tokens, stride 48 -> starts 1, 49, 97
    assert [r.chunk_start for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [1, 49, 97]
    assert [r.n_chunk_tokens for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [64, 52, 4]
    assert len(by_doc[2]) == 1 and by_doc[2][0].chunk_text == "a b"
    assert len(by_doc[3]) == 1  # empty text -> one empty-token chunk


def test_stratified_sample_deterministic_rates(spark):
    """Sampling is a pure function of the key and respects per-stratum
    rates within hash-bucket tolerance."""
    from etl_acordos_spark.operators.relational import stratified_sample

    df = spark.range(10000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("other").alias("g"),
    )
    kept = stratified_sample(df, "g", "k", rates={"en": 25}, default_rate=75)
    a = {r.k for r in kept.collect()}
    b = {r.k for r in kept.collect()}
    assert a == b  # deterministic
    n_en = sum(1 for k in a if k % 2 == 0)
    n_other = len(a) - n_en
    assert abs(n_en / 5000 - 0.25) < 0.05
    assert abs(n_other / 5000 - 0.75) < 0.05


def test_repetition_stats_edges(spark):
    """Dup/top-bigram fractions on known inputs, incl. the <2-token doc."""
    from etl_acordos_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "x")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs, "text", "doc_id").collect()}
    assert rows[1].dup_token_frac == 0.75 and rows[1].top_bigram_frac == 1.0
    assert rows[2].dup_token_frac == 0.0
    assert abs(rows[2].top_bigram_frac - round(1 / 3, 4)) < 1e-9
    assert rows[3].n_tokens == 1 and rows[3].top_bigram_frac == 0.0


def test_merge_upsert_idempotent_and_latest_wins(spark):
    """Applying the same update batch twice equals applying it once, and
    the per-key winner is always the highest version."""
    from etl_acordos_spark.operators.relational import merge_upsert

    existing = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "k long, v string, ver int"
    )
    updates = spark.createDataFrame(
        [(2, "B", 2), (4, "D", 2)], "k long, v string, ver int"
    )
    once = merge_upsert(existing, updates, "k", "ver")
    twice = merge_upsert(once, updates, "k", "ver")
    expect = {(1, "a", 1), (2, "B", 2), (3, "c", 1), (4, "D", 2)}
    assert {tuple(r) for r in once.collect()} == expect
    assert {tuple(r) for r in twice.collect()} == expect


def test_stratified_sample_monotone_in_rate(spark):
    """A key kept at rate r is kept at every rate r' > r (hash buckets
    are fixed per key, so samples nest — larger samples are supersets)."""
    from etl_acordos_spark.operators.relational import stratified_sample

    df = spark.range(5000).select(
        F.col("id").alias("k"), F.lit("g").alias("g")
    )
    kept = {
        r: {row.k for row in
            stratified_sample(df, "g", "k", rates={"g": r}).collect()}
        for r in (10, 30, 60)
    }
    assert kept[10] <= kept[30] <= kept[60]
    assert len(kept[60]) > len(kept[30]) > len(kept[10]) > 0


def test_snapshot_diff_classifies_all_change_types(spark):
    """insert / delete / update classified correctly; unchanged rows
    (including null-valued ones, via null-safe compare) are dropped."""
    from etl_acordos_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "k long, price double"
    )
    new = spark.createDataFrame(
        [(2, 25.0), (3, None), (4, 40.0), (5, 50.0)], "k long, price double"
    )
    got = {
        r.k: (r.change, r.old_price, r.new_price)
        for r in snapshot_diff(old, new, "k", ["price"]).collect()
    }
    assert got == {
        1: ("delete", 10.0, None),
        2: ("update", 20.0, 25.0),
        5: ("insert", None, 50.0),
    }  # k=3 (null==null) and k=4 (equal) are unchanged -> absent


def test_decontaminate_flags_only_overlapping_docs(spark):
    from etl_acordos_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # shares 4-gram w/ eval
            (2, "zeta eta theta iota kappa"),        # disjoint
            (3, "beta gamma delta epsilon zeta"),    # shares 4-gram w/ eval
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_shared_ngrams
        for r in decontaminate(docs, ev, "text", "doc_id", ngram=4).collect()
    }
    assert set(got) == {1, 3}
    assert got[1] == 2  # 'alpha beta gamma delta', 'beta gamma delta epsilon'
    assert got[3] == 2  # 'beta gamma delta epsilon', 'gamma delta epsilon zeta'


def test_pack_chunks_invariants(spark, sf_oracle):
    """Packing must conserve tokens, number packs contiguously from 0
    per shard, and fill every non-final pack to within one chunk of the
    budget (concat-and-slice semantics: a pack closes only once the
    running total crosses the budget boundary)."""
    from etl_acordos_spark.operators.text import doc_chunks, pack_chunks

    chunks = doc_chunks(
        t(spark, sf_oracle, "documents"), "text", "doc_id",
        window=64, stride=48,
    )
    total = chunks.agg(F.sum("n_chunk_tokens")).collect()[0][0]
    packs = pack_chunks(
        chunks, "doc_id", "chunk_id", "n_chunk_tokens",
        budget=256, shards=8,
    ).collect()
    assert sum(p.n_tokens for p in packs) == total
    by_shard: dict[int, list] = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    for shard, ps in by_shard.items():
        ps.sort(key=lambda p: p.pack_id)
        assert [p.pack_id for p in ps] == list(range(len(ps))), shard
        for p in ps[:-1]:  # every non-final pack nearly full
            assert p.n_tokens >= 256 - 64 + 1, (shard, p)


def test_passage_dedup_removes_repeats_and_rebuilds(spark):
    from etl_acordos_spark.operators.text import passage_dedup

    p1 = "a b c d e f g h i j"  # exactly one 10-word passage
    p2 = "k l m n o p q r s t"
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {p2}"),  # original: both passages survive
            (2, p1),  # fully duplicated -> doc disappears
            (3, f"{p2} zz"),  # p2 dup removed, tail passage 'zz' kept
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["text"], r["n_passages"])
        for r in passage_dedup(docs, "text", "doc_id").collect()
    }
    assert got == {1: (f"{p1} {p2}", 2), 3: ("zz", 1)}


def test_passage_dedup_first_occurrence_order(spark):
    from etl_acordos_spark.operators.text import passage_dedup

    p = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(10, p), (2, p)], ["doc_id", "text"]
    )
    got = passage_dedup(docs, "text", "doc_id").collect()
    # lowest doc_id wins, regardless of input order
    assert [(r["doc_id"], r["n_passages"]) for r in got] == [(2, 1)]


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_bloom_decontaminate_superset_of_exact_with_bounded_fp(
    spark, sf_oracle, hash_fn
):
    """Bloom hits must include every exact hit with hit counts >= the
    exact shared-gram counts (zero false negatives); false positives
    are bounded far below the corpus size at the default sizing. Both
    hash families: xxhash64 (production default) and md5 (what the
    hash-oracled registry key runs — its false positives reproduce
    identically in DuckDB, but the no-FN property must hold for any
    family)."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.text import (
        bloom_decontaminate,
        decontaminate,
    )

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    exact = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in decontaminate(train, ev, "text", "doc_id", ngram=4).collect()
    }
    bloom = {
        r["doc_id"]: r["n_bloom_hits"]
        for r in bloom_decontaminate(
            train, ev, "text", "doc_id", ngram=4, hash_fn=hash_fn
        ).collect()
    }
    assert set(exact) <= set(bloom), "bloom missed an exact hit (FN)"
    for doc_id, n in exact.items():
        assert bloom[doc_id] >= n, (doc_id, bloom[doc_id], n)
    n_train = train.count()
    false_pos = len(bloom) - len(exact)
    assert false_pos <= max(2, n_train // 100), (false_pos, n_train)


def test_bloom_decontaminate_tiny_filter_saturates_to_all_hits(spark):
    """Degenerate sizing sanity: with m_bits tiny every bit saturates
    and every training doc is flagged — the probe math itself (word
    indexing, shifts) cannot silently drop bits."""
    # ~400 distinct eval grams x 2 hashes over 64 bits: every bit is set
    # with overwhelming probability, so every train doc must be flagged
    long_eval = " ".join(f"w{i}" for i in range(400))
    docs = spark.createDataFrame(
        [(1, long_eval), (2, "v w x y z"), (3, "q r s t u")],
        ["doc_id", "text"],
    )
    from etl_acordos_spark.operators.text import bloom_decontaminate

    out = bloom_decontaminate(
        train=docs,
        eval_docs=docs.limit(1),
        text_col="text",
        id_col="doc_id",
        ngram=4,
        m_bits=64,
        k_hashes=2,
    ).collect()
    assert len(out) == 3


def test_incremental_minhash_dedup_keep_first_semantics(spark):
    """Exact duplicates always share identical signatures, so the LSH
    probe is deterministic: a batch doc duplicating a corpus doc is
    dropped, a batch doc duplicating a lower-id batch doc is dropped,
    the first of the batch-internal duplicates and unique docs survive."""
    from etl_acordos_spark.operators.dedup import incremental_minhash_dedup

    body_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    body_b = "one two three four five six seven eight nine ten " * 4
    body_c = "red orange yellow green blue indigo violet maroon " * 4
    corpus = spark.createDataFrame(
        [(1, body_a), (2, "corpus only " + body_c)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (101, body_a),  # dup of corpus doc 1 -> dropped
            (102, body_b),  # first of the batch-internal dups -> kept
            (103, body_b),  # dup of lower-id batch doc 102 -> dropped
            (104, "totally fresh unique words " + body_b[:20]),  # kept
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(
            corpus, batch, "text", "doc_id", threshold=0.9
        ).collect()
    )
    assert kept == [102, 104]


def test_incremental_minhash_dedup_overlapping_id_spaces(spark):
    """Corpus and batch id spaces MAY collide: the side marker must
    route each verify comparison to the shingle set the band collision
    actually came from, never the id's namesake on the other side.
    Here id 5 exists on BOTH sides with unrelated texts: batch doc 6
    (near-copy of CORPUS doc 5) must drop, batch doc 5 (unique text)
    and batch doc 7 (unique) must survive."""
    from etl_acordos_spark.operators.dedup import incremental_minhash_dedup

    text_x = "alpha beta gamma delta epsilon zeta eta theta " * 4
    text_y = "uno dos tres cuatro cinco seis siete ocho nueve " * 4
    corpus = spark.createDataFrame(
        [(5, text_x)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (5, text_y),  # id collides with corpus 5, text unrelated -> kept
            (6, text_x),  # near-copy of CORPUS doc 5 -> dropped
            (7, "totally fresh unique words nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_minhash_dedup(
            corpus, batch, "text", "doc_id", threshold=0.9
        ).collect()
    )
    assert kept == [5, 7]


def test_incremental_minhash_dedup_never_drops_corpus_or_uniques(
    spark, sf_oracle
):
    """On the real corpus: output ⊆ batch ids, and every batch doc whose
    text is globally unique at the exact-duplicate level must survive a
    high-threshold run (threshold=1.0 keeps everything not exactly
    duplicated under Jaccard)."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.dedup import incremental_minhash_dedup

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    kept = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            corpus, batch, "text", "doc_id", threshold=1.0
        ).collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert kept <= batch_ids
    assert len(kept) > 0


def test_quality_band_filter_drops_both_tails(spark, sf_oracle):
    from etl_acordos_spark.operators.text import (
        quality_band_filter,
        quality_scores,
    )

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    all_scores = sorted(
        r["quality"]
        for r in quality_scores(docs, "text", "doc_id").collect()
    )
    kept = quality_band_filter(docs, "text", "doc_id", lo=0.2, hi=0.995)
    kept_scores = [r["quality"] for r in kept.collect()]
    n = len(all_scores)
    assert 0 < len(kept_scores) < n
    # nothing kept below the lo band or above the hi band
    assert min(kept_scores) >= all_scores[int(0.2 * n) - 2]
    assert max(kept_scores) <= all_scores[-1]
    # the worst doc and the best doc are both gone
    assert all_scores[0] not in kept_scores or all_scores[0] >= min(kept_scores)


def test_resize_nn_matches_numpy_reference(spark):
    """resize_images_nn must equal the numpy NN resample (src index =
    floor(dst*src/dst)) for an arbitrary RGB image, not just the
    gradient fixture the oracle replays."""
    import numpy as np

    from etl_acordos_spark.functions.png import encode_png
    from etl_acordos_spark.operators.multimodal import resize_images_nn

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (11, 13, 3), dtype=np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(encode_png(img)))], "doc_id long, payload binary"
    )
    row = resize_images_nn(media, target_width=8, target_height=8).head()
    ys = (np.arange(8) * 11) // 8
    xs = (np.arange(8) * 13) // 8
    want = img[np.ix_(ys, xs)]
    assert (row["width"], row["height"], row["channels"]) == (8, 8, 3)
    assert row["sum_px"] == int(want.astype("int64").sum())


def test_wav_payload_is_standard_riff(spark):
    """The synthesized audio payloads must be genuine WAV files: the
    stdlib `wave` module (an independent parser) reads them and agrees
    with extract_audio_features on every field."""
    import io
    import struct
    import wave

    import numpy as np

    from etl_acordos_spark.operators.multimodal import (
        attach_audio_payload,
        extract_audio_features,
    )

    docs = spark.createDataFrame([(7,), (13,)], ["doc_id"])
    media = attach_audio_payload(docs, "doc_id").collect()
    feats = {
        r["doc_id"]: r
        for r in extract_audio_features(
            attach_audio_payload(docs, "doc_id")
        ).collect()
    }
    for row in media:
        with wave.open(io.BytesIO(bytes(row["payload"]))) as w:
            assert w.getsampwidth() == 2 and w.getcomptype() == "NONE"
            pcm = np.frombuffer(
                w.readframes(w.getnframes()), dtype="<i2"
            ).astype(np.int64)
            f = feats[row["doc_id"]]
            assert w.getframerate() == f["sample_rate"]
            assert w.getnchannels() == f["n_channels"]
            assert w.getnframes() == f["n_samples"]
            assert int(np.abs(pcm).sum()) == f["sum_abs"]
            assert int(np.abs(pcm).max()) == f["peak"]


def test_ppl_buckets_terciles_per_language(spark, sf_oracle):
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.text import ppl_buckets

    docs = spark.read.parquet(f"{sf_oracle}/documents.parquet")
    out = ppl_buckets(docs, "text", "lang", "doc_id")
    counts = {
        (r["lang"], r["bucket"]): r["n"]
        for r in out.groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    langs = {k[0] for k in counts}
    assert langs and all(
        {"head", "middle", "tail"}
            <= {b for (lg, b) in counts if lg == lang}
        for lang in langs
    ), counts
    # terciles: within each language the three buckets are balanced
    # (ties at a grid-floored threshold can shift a few docs)
    for lang in langs:
        sizes = [counts[(lang, b)] for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= max(4, sum(sizes) // 5), (
            lang,
            sizes,
        )


def test_dedup_batch_against_counts_path_equals_recount(spark):
    """Supplying a persisted bucket-count table must produce the same
    survivors as the recount path — the seam the streaming index relies
    on for its O(buckets) cap."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.operators.dedup import (
        dedup_batch_against,
        minhash_bands,
    )

    corpus = spark.createDataFrame(
        [(i, " ".join(f"c{i}w{j}" for j in range(20))) for i in range(8)],
        ["doc_id", "text"],
    )
    dup_text = corpus.collect()[0]["text"]
    batch = spark.createDataFrame(
        [(100, dup_text)]
        + [(100 + i, " ".join(f"b{i}w{j}" for j in range(20))) for i in range(1, 6)],
        ["doc_id", "text"],
    )
    c_bands = minhash_bands(corpus, "text", "doc_id")
    b_bands = minhash_bands(batch, "text", "doc_id")
    counts = c_bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("n")
    )
    args = (batch, b_bands, corpus, c_bands, "text", "doc_id")
    via_recount = sorted(
        r[0] for r in dedup_batch_against(*args).collect()
    )
    via_counts = sorted(
        r[0]
        for r in dedup_batch_against(*args, c_bucket_counts=counts).collect()
    )
    assert via_recount == via_counts
    assert 100 not in via_counts  # the cross-side exact dup is dropped
    assert len(via_counts) == 5


def test_hll_sketch_merge_consistency_and_error(spark, sf_oracle):
    """The rollup total row (merged monthly sketches) must agree with
    the direct whole-table sketch estimate to within HLL error (union
    promotes sparse-mode sketches, so exact equality does not hold) —
    the mergeability contract the stored-sketch pattern rests on. The
    per-slice error bound itself now lives IN q_ext_hll_sketch's output
    (contract oracle), so here: every hll_ok flag must be True, every
    exact_clientes must match an independent recount, and the merged
    grand-total estimate (recomputed the same way the query builds it)
    must track the direct whole-table sketch."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.queries.relational import q_ext_hll_sketch

    rows = {
        r["ano"]: (r["exact_clientes"], r["hll_ok"])
        for r in q_ext_hll_sketch(spark, sf_oracle).collect()
    }
    orders = t(spark, sf_oracle, "orders")
    merged_total = (
        orders.groupBy(
            F.year("o_orderdate").alias("ano"),
            F.month("o_orderdate").alias("mes"),
        )
        .agg(F.hll_sketch_agg("o_custkey").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .head()["e"]
    )
    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")
    ).head()["e"]
    assert abs(merged_total - direct) / direct < 0.02
    exact = {
        r["ano"]: r["n"]
        for r in orders.groupBy(F.year("o_orderdate").alias("ano"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact[None] = orders.select("o_custkey").distinct().count()
    assert set(rows) == set(exact)
    for ano, (exact_out, ok) in rows.items():
        assert ok is True, f"ano={ano}: sketch outside 3·rsd of exact"
        assert exact_out == exact[ano], (ano, exact_out, exact[ano])


def test_bm25_ranks_term_dense_docs_first(spark):
    """A document saturated with the query terms must outrank everything
    else; documents containing none of the terms must score exactly 0."""
    from etl_acordos_spark.operators.text import bm25_topk

    rows = [
        (1, "hash vector stream hash vector stream hash vector"),
        (2, "hash alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota"),
        (4, "vector alpha beta gamma delta epsilon zeta eta theta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = bm25_topk(
        docs, "text", "doc_id", ["hash", "vector", "stream"], k=4
    ).collect()
    assert got[0]["doc_id"] == 1
    scores = {r["doc_id"]: r["score"] for r in got}
    assert scores[3] == 0.0
    assert scores[2] > 0.0 and scores[4] > 0.0


def test_bm25_ignores_null_text(spark):
    """NULL-text docs must be excluded entirely — under non-ANSI mode
    size(split(NULL)) is -1, which would corrupt avgdl and emit
    garbage-scored rows for the NULL docs."""
    from etl_acordos_spark.operators.text import bm25_topk

    rows = [
        (1, "hash vector stream hash vector stream hash vector"),
        (2, "hash alpha beta gamma delta epsilon zeta eta theta"),
        (3, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    clean = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(
            docs.filter("text is not null"),
            "text",
            "doc_id",
            ["hash", "vector"],
            k=5,
        ).collect()
    ]
    got = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(
            docs, "text", "doc_id", ["hash", "vector"], k=5
        ).collect()
    ]
    assert got == clean  # NULL doc neither scored nor in avgdl


def test_span_dup_profile_planted_duplicates(spark):
    """A 20-token span shared by two docs (at DIFFERENT offsets) must be
    counted on both sides; unique docs must profile 0 duplicated spans;
    short docs collapse to one whole-text span."""
    from etl_acordos_spark.operators.text import span_dup_profile

    shared = " ".join(f"s{j}" for j in range(20))
    rows = [
        (1, shared + " " + " ".join(f"a{j}" for j in range(10))),
        (2, " ".join(f"b{j}" for j in range(5)) + " " + shared),
        (3, " ".join(f"c{j}" for j in range(30))),
        (4, "tiny doc"),
        (5, "tiny doc"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["keep"])
        for r in span_dup_profile(docs, "text", "doc_id", window=20).collect()
    }
    # doc1: 30 tokens -> 11 spans, exactly one (the leading shared one)
    # duplicated; doc2: 25 tokens -> 6 spans, the trailing one shared
    assert got[1] == (11, 1, True)
    assert got[2] == (6, 1, True)
    assert got[3] == (11, 0, True)
    # short docs: whole text is one span; 4 and 5 duplicate each other
    assert got[4] == (1, 1, False)
    assert got[5] == (1, 1, False)


def test_span_dup_profile_drops_null_text(spark):
    """NULL-text docs are dropped (SQL semantics), never classified as
    mutual duplicates via the hash-of-NULL seed value."""
    from etl_acordos_spark.operators.text import span_dup_profile

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    got = span_dup_profile(docs, "text", "doc_id", window=20).collect()
    assert [r["doc_id"] for r in got] == [1]
    assert got[0]["n_dup_spans"] == 0


def test_minhash_bands_rejects_unknown_pin(spark):
    """A pin typo must raise, not silently select the checkpoint path."""
    import pytest

    from etl_acordos_spark.operators.dedup import minhash_bands

    docs = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pin"):
        minhash_bands(docs, "text", "doc_id", pin="chache")


def test_quantize_int8_bounds_and_exact_cases(spark):
    """Codes stay in [-127, 127], reconstruction RMSE can never exceed
    half a quantization step, exactly-representable vectors round-trip
    losslessly, and a zero vector gets scale 0 with zero codes."""
    from etl_acordos_spark.operators.simsearch import quantize_int8

    rows = [
        (1, [127.0, -127.0, 0.0]),  # lossless: scale 1, codes ±127/0
        (2, [0.0, 0.0, 0.0]),  # zero vector: scale 0, all-zero codes
        (3, [0.3, -1.7, 2.55]),
        (4, [1e-4, -3e-4, 2e-4]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert got[1]["scale"] == 1.0
    assert got[1]["q_l1"] == 254 and got[1]["rmse"] == 0.0
    assert got[2]["scale"] == 0.0
    assert got[2]["q_l1"] == 0 and got[2]["rmse"] == 0.0
    for vid, r in got.items():
        dim = 3
        assert r["q_l1"] <= 127 * dim
        assert r["rmse"] <= r["scale"] / 2 + 1e-9, vid


def test_rrf_fuse_known_fusion(spark):
    """Hand-checked fusion: a doc in both lists outscores every
    single-list doc; ranks surface as nullable doubles."""
    import math

    from etl_acordos_spark.operators.simsearch import rrf_fuse

    a = spark.createDataFrame(
        [(1, 3.0), (2, 2.0), (3, 1.0)], ["doc_id", "s"]
    )
    b = spark.createDataFrame([(2, 9.0), (4, 8.0)], ["doc_id", "s"])
    got = rrf_fuse(a, b, "doc_id", "s", "s", k=10).collect()
    assert [r["doc_id"] for r in got] == [2, 1, 4, 3]
    by_id = {r["doc_id"]: r for r in got}
    assert math.isclose(
        by_id[2]["rrf_score"], 1 / 62 + 1 / 61, abs_tol=1e-6
    )
    assert math.isclose(by_id[1]["rrf_score"], 1 / 61, abs_tol=1e-6)
    assert by_id[4]["lex_rank"] is None and by_id[4]["vec_rank"] == 2.0
    assert by_id[3]["lex_rank"] == 3.0 and by_id[3]["vec_rank"] is None


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_dup_cluster_stats_histogram(spark):
    """Planted clusters of size 3 and 2 plus two singletons: the
    histogram reports exactly those two cluster sizes, and singleton
    docs (no pair) never appear."""
    from etl_acordos_spark.operators.dedup import (
        dup_cluster_stats,
        jaccard_pairs,
    )

    tri = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    duo = "one two three four five six seven eight nine ten"
    rows = [
        (1, tri), (2, tri), (3, tri),
        (4, duo), (5, duo),
        (6, "lonely words that match nothing else in the corpus here"),
        (7, "another entirely distinct singleton document text body"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    got = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dup_cluster_stats(
            docs, pairs.select("doc_a", "doc_b"), "doc_id"
        ).collect()
    }
    assert got == {3: (1, 3), 2: (1, 2)}


def test_shuffle_shard_is_deterministic_balanced_and_decorrelated(spark):
    """shuffle_shard: (1) a complete partition — every row gets exactly
    one (shard, pos) and pos is 1..len(shard); (2) bit-deterministic
    across plans; (3) shard uses the hash's TOP bits, so sequential ids
    do NOT land round-robin (the low-bits degeneracy the docstring
    warns about); (4) within-shard order is not id order."""
    from etl_acordos_spark.operators.layout import shuffle_shard

    df = spark.range(0, 512).withColumnRenamed("id", "doc_id")
    out = shuffle_shard(df, "doc_id", n_shards=8).collect()
    assert len(out) == 512
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    # balanced within 25% of ideal (multiplicative hash on a dense
    # id range is near-uniform) and positions are a 1..n sequence
    for shard, rows in by_shard.items():
        assert 0 <= shard < 8
        assert abs(len(rows) - 64) <= 16
        assert sorted(r["pos"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
    # not round-robin: id mod 8 must differ from shard for many rows
    assert sum(1 for r in out if r["shard"] != r["doc_id"] % 8) > 256
    # within-shard order decorrelated from id order
    s0 = sorted(by_shard[0], key=lambda r: r["pos"])
    ids0 = [r["doc_id"] for r in s0]
    assert ids0 != sorted(ids0)
    # deterministic across a rebuilt plan
    again = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in shuffle_shard(df, "doc_id", n_shards=8).collect()
    }
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in out}


def test_shuffle_shard_rejects_bad_n_shards(spark):
    import pytest

    from etl_acordos_spark.operators.layout import shuffle_shard

    df = spark.range(0, 4).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="n_shards"):
        shuffle_shard(df, "doc_id", n_shards=0)


def test_funnel_steps_strict_ordering(spark):
    """Planted users: u1 completes view→click→purchase in order; u2
    clicks BEFORE viewing (click must not count); u3 views only; u4
    purchases before clicking (purchase must not count)."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import funnel_steps

    rows = [
        (1, dt(2024, 1, 1, 10), "view"),
        (1, dt(2024, 1, 1, 11), "click"),
        (1, dt(2024, 1, 1, 12), "purchase"),
        (2, dt(2024, 1, 2, 9), "click"),
        (2, dt(2024, 1, 2, 10), "view"),
        (3, dt(2024, 1, 3, 8), "view"),
        (4, dt(2024, 1, 4, 8), "view"),
        (4, dt(2024, 1, 4, 9), "purchase"),
        (4, dt(2024, 1, 4, 10), "click"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {
        r["step"]: (r["step_idx"], r["n_users"], r["pct_of_prev"])
        for r in funnel_steps(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert got["view"] == (1, 4, None)
    assert got["click"] == (2, 2, 0.5)  # u1 and u4 (click after view)
    assert got["purchase"] == (3, 1, 0.5)  # only u1
    import pytest

    with pytest.raises(ValueError, match="steps"):
        funnel_steps(ev, "user_id", "ts", "event_type", [])


def test_cohort_retention_triangle(spark):
    """Two cohorts: u1 first seen week of Jan 1 (Mon), active weeks 0
    and 2; u2 same cohort, week 0 only; u3 cohort Jan 8, weeks 0 and 1.
    Multiple events in one week count once."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import cohort_retention

    rows = [
        (1, dt(2024, 1, 2, 10)),   # cohort 2024-01-01, offset 0
        (1, dt(2024, 1, 3, 10)),   # same week — dedup
        (1, dt(2024, 1, 16, 10)),  # offset 2
        (2, dt(2024, 1, 5, 10)),   # cohort 2024-01-01, offset 0
        (3, dt(2024, 1, 8, 10)),   # cohort 2024-01-08, offset 0
        (3, dt(2024, 1, 10, 10)),  # same week — dedup
        (3, dt(2024, 1, 17, 10)),  # offset 1
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
        for r in cohort_retention(ev, "user_id", "ts").collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 2): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def _ref_bpe(corpus: list[str], n_merges: int, min_freq: int):
    """Pure-Python reference BPE (Sennrich-style, </w> marker, greedy
    left-to-right merge application, freq-then-lexicographic argmax)."""
    freqs: dict[str, int] = {}
    for text in corpus:
        for w in text.split():
            freqs[w] = freqs.get(w, 0) + 1
    words = [(list(w) + ["</w>"], f) for w, f in freqs.items()]
    merges = []
    for it in range(n_merges):
        pc: dict[tuple, int] = {}
        for syms, f in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + f
        if not pc:
            break
        (l, r), fr = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if fr < min_freq:
            break
        merges.append((it + 1, l, r, l + r, fr))
        nxt = []
        for syms, f in words:
            out: list = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            nxt.append((out, f))
        words = nxt
    return merges


def test_bpe_train_matches_reference(spark):
    """Distributed BPE replays a pure-Python reference exactly —
    merge order, rule spelling, and pair frequencies — on a corpus
    with overlapping-pair and tie-break cases ('aaaa' exercises the
    greedy left-to-right overlap rule)."""
    from etl_acordos_spark.operators.text import bpe_train

    corpus = [
        "low low low lower lowest",
        "new newer newest low",
        "aaaa aaaa aa",
    ]
    rows = [(i, c) for i, c in enumerate(corpus)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = [
        tuple(r)
        for r in bpe_train(docs, "text", "doc_id", n_merges=8).collect()
    ]
    assert got == _ref_bpe(corpus, 8, 2)
    import pytest

    with pytest.raises(ValueError, match="n_merges"):
        bpe_train(docs, "text", "doc_id", n_merges=0)


@pytest.mark.slow  # r13: >=15 s — slow tier
def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short paragraph quoted whole inside a much longer page:
    containment(A→B) = 1.0 while Jaccard is far below any dedup
    threshold — the signal class this operator exists for. The reverse
    direction (B→A) must NOT fire."""
    from etl_acordos_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    para = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [(1, para), (2, filler + " " + para + " " + filler)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(
            docs, "text", "doc_id", threshold=0.9, use_shingles=True
        ).collect()
    }
    assert got == {(1, 2): 1.0}
    assert (
        jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, use_shingles=True
        ).count()
        == 0
    )


def test_bloom_semi_join_exact_and_prefilter_effective(spark, sf_oracle):
    """bloom_semi_join must equal the plain left-semi join exactly
    (false positives removed by the closing join), and the Bloom
    pre-filter alone must admit a superset of the true matches while
    killing most non-matching rows map-side."""
    from etl_acordos_spark.operators.relational import bloom_semi_join
    from etl_acordos_spark.queries.base import t

    line = t(spark, sf_oracle, "lineitem")
    hot = (
        t(spark, sf_oracle, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    got = bloom_semi_join(line, hot, "l_orderkey")
    want = line.join(hot.distinct(), "l_orderkey", "left_semi")
    n_true = want.count()
    assert got.count() == n_true
    assert got.exceptAll(want).count() == 0
    # the Bloom stage alone: a superset of the true matches (zero
    # false negatives) that already rejects most of the fact table —
    # the map-side kill is the operator's entire reason to exist
    n_admitted = bloom_semi_join(
        line, hot, "l_orderkey", prefilter_only=True
    ).count()
    n_total = line.count()
    assert n_true <= n_admitted < n_total / 2


def test_bpe_apply_reproduces_trainer_symbol_state(spark):
    """Encoding the training corpus with the learned rules must land on
    the trainer's final symbol state: per-doc token counts equal the
    reference encode, and the corpus-total matches the reference
    trainer's final word table exactly."""
    from etl_acordos_spark.operators.text import bpe_apply, bpe_train

    corpus = [
        "low low low lower lowest",
        "new newer newest low",
        "aaaa aaaa aa",
    ]
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(corpus)], ["doc_id", "text"]
    )
    rules = [
        (r["left"], r["right"])
        for r in bpe_train(docs, "text", "doc_id", n_merges=8).collect()
    ]

    def ref_encode(word: str) -> int:
        syms = list(word) + ["</w>"]
        for left, right in rules:
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return len(syms)

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_apply(docs, "text", "doc_id", rules).collect()
    }
    for i, text in enumerate(corpus):
        words = text.split()
        assert got[i] == (len(words), sum(ref_encode(w) for w in words))


def test_bloom_semi_join_mixed_key_types(spark):
    """xxhash64 is type-sensitive, so a dim whose key column is a
    different integral width must still semi-join correctly (the build
    side is cast to the fact side's key type before hashing)."""
    from etl_acordos_spark.operators.relational import bloom_semi_join

    big = spark.createDataFrame(
        [(i,) for i in range(100)], "k int"
    )
    small = spark.range(10, 20).withColumnRenamed("id", "k")  # bigint
    got = sorted(r["k"] for r in bloom_semi_join(big, small, "k").collect())
    assert got == list(range(10, 20))
    import pytest

    with pytest.raises(ValueError, match="m_bits"):
        bloom_semi_join(big, small, "k", m_bits=1000)


def test_bpe_apply_matches_trainer_on_tabs_and_newlines(spark):
    """The trainer splits words on SPACE runs only and its Java-regex
    '.' drops line terminators; the encoder must mirror both, so a
    corpus containing tabs/newlines still reproduces the trainer's
    symbol state (tab stays INSIDE a word; newline chars vanish from
    the symbol list)."""
    from etl_acordos_spark.operators.text import bpe_apply, bpe_train

    corpus = ["aa\tbb aa\tbb cc\ncc cc\ncc", "aa\tbb cc\ncc dd dd"]
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(corpus)], ["doc_id", "text"]
    )
    rules_rows = bpe_train(docs, "text", "doc_id", n_merges=6).collect()
    rules = [(r["left"], r["right"]) for r in rules_rows]

    import re

    def ref_encode(word: str) -> int:
        syms = re.findall("[^\n\r\x85\u2028\u2029]", word) + ["</w>"]
        for left, right in rules:
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return len(syms)

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_apply(docs, "text", "doc_id", rules).collect()
    }
    for i, text in enumerate(corpus):
        words = [w for w in re.split(" +", text) if w]
        assert got[i] == (len(words), sum(ref_encode(w) for w in words)), (
            i, rules,
        )


def test_heavy_hitters_exact_with_tight_capacity(spark):
    """With a deliberately tight MG capacity (support 0.1, safety 2 →
    capacity 20) over a skewed stream with many distractor singletons,
    the result must STILL equal the exact GROUP BY answer — the
    per-partition Misra-Gries pass may undercount, but every true
    frequent item survives somewhere and the recount is exact."""
    from etl_acordos_spark.operators.relational import heavy_hitters

    rows = (
        [("hot",)] * 300
        + [("warm",)] * 150
        + [(f"noise{i}",) for i in range(600)]
    )
    items = spark.createDataFrame(rows, ["word"]).repartition(8)
    got = {
        (r["word"], r["n"])
        for r in heavy_hitters(
            items, "word", support=0.1, safety=2
        ).collect()
    }
    n = len(rows)
    exact = {
        (r["word"], r["n"])
        for r in items.groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > n * 0.1)
        .collect()
    }
    assert got == exact == {("hot", 300), ("warm", 150)}
    import pytest

    with pytest.raises(ValueError, match="support"):
        heavy_hitters(items, "word", support=1.5)
    with pytest.raises(ValueError, match="safety"):
        heavy_hitters(items, "word", safety=0)
    with pytest.raises(ValueError, match="collides"):
        heavy_hitters(items.withColumnRenamed("word", "n"), "n")


def test_heavy_hitters_nonstring_column_and_null_semantics(spark):
    """The generic operator must work on non-string columns (the
    sketch schema derives from the input dtype), and NULLs are ignored
    entirely — excluded from both candidates and the threshold N."""
    from etl_acordos_spark.operators.relational import heavy_hitters

    rows = [(7,)] * 60 + [(8,)] * 30 + [(None,)] * 100 + [
        (i,) for i in range(100, 110)
    ]
    items = spark.createDataFrame(rows, "user_id bigint").repartition(4)
    got = {
        (r["user_id"], r["n"])
        for r in heavy_hitters(items, "user_id", support=0.2).collect()
    }
    # non-NULL N = 100: both 7 (60) and 8 (30) clear 20; with NULLs
    # wrongly counted (N = 200) the 8-group would be dropped
    assert got == {(7, 60), (8, 30)}


def test_leakage_split_keeps_clusters_together(spark, sf_oracle):
    """No near-dup pair (threshold 0.9) may straddle splits — the
    leakage guarantee is that split is a pure function of the cluster
    label — and all three splits must be non-empty at sf0.01."""
    from etl_acordos_spark.operators.dedup import jaccard_pairs
    from etl_acordos_spark.queries.llm import q_ext_leakage_split

    out = q_ext_leakage_split(spark, sf_oracle).collect()
    split_of = {r["doc_id"]: r["split"] for r in out}
    cluster_of = {r["doc_id"]: r["cluster"] for r in out}
    docs = t(spark, sf_oracle, "documents")
    pairs = jaccard_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    assert pairs, "expected near-dup pairs in the oracle corpus"
    for r in pairs:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]]
        assert cluster_of[r["doc_a"]] == cluster_of[r["doc_b"]]
    assert {r["split"] for r in out} == {"train", "val", "test"}


def test_anomaly_zscore_flags_planted_outlier(spark, sf_oracle):
    """Planted semantics check on the oracle corpus: every flagged
    event is > 2.5 population SDs from its type's mean, and recomputing
    the bound pandas-side agrees with the operator's flag set."""
    from etl_acordos_spark.queries.relational import q_ext_anomaly_zscore

    got = q_ext_anomaly_zscore(spark, sf_oracle)
    flagged = {r["event_id"] for r in got.collect()}
    import pandas as pd

    ev = pd.read_parquet(f"{sf_oracle}/events.parquet")
    mu = ev.groupby("event_type")["value"].transform("mean")
    sigma = ev.groupby("event_type")["value"].transform(lambda s: s.std(ddof=0))
    import numpy as np

    z = np.floor(np.abs((ev["value"] - mu) / sigma) * 10000.0 + 0.5) / 10000.0
    want = set(ev.loc[z > 2.5, "event_id"])
    assert flagged == want and flagged


def test_transition_matrix_counts_planted_sequence(spark, tmp_path):
    """One user with a known timeline a→b→b→c yields exactly the three
    transitions; a second single-event user contributes none. Runs the
    real operator against a planted events table (ties broken by
    event_id: the two 11:00 events for user 1 order as 2 then 3)."""
    from datetime import datetime as dt

    from etl_acordos_spark.queries.relational import q_ext_transition_matrix

    rows = [
        (1, dt(2024, 1, 1, 10), 1, "a"),
        (2, dt(2024, 1, 1, 11), 1, "b"),
        (3, dt(2024, 1, 1, 11), 1, "b"),
        (4, dt(2024, 1, 1, 13), 1, "c"),
        (5, dt(2024, 1, 1, 10), 2, "a"),
    ]
    spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"]
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in q_ext_transition_matrix(spark, str(tmp_path)).collect()
    }
    assert got == {("a", "b"): 1, ("b", "b"): 1, ("b", "c"): 1}


def test_psi_drift_zero_for_identical_halves(spark):
    """A series whose old and new halves share the same per-bin counts
    has PSI exactly 0; a series that jumps from the bottom to the top
    of the value range drifts hard (psi >> 0.25, the classic 'major
    shift' threshold)."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import psi_drift

    rows = []
    # "stable": same values in January (old) and December (new)
    for m, base in ((1, 0), (12, 0)):
        for i in range(50):
            rows.append((dt(2024, m, 1 + i % 20), "stable", float(i % 10)))
    # "shifted": low values in January, high values in December
    for i in range(50):
        rows.append((dt(2024, 1, 1 + i % 20), "shifted", 0.0 + i % 2))
    for i in range(50):
        rows.append((dt(2024, 12, 1 + i % 20), "shifted", 8.0 + i % 2))
    ev = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    got = {
        r["type"]: r
        for r in psi_drift(ev, "event_type", "ts", "value").collect()
    }
    assert got["stable"]["psi"] == 0.0
    assert got["stable"]["n_old"] == 50 and got["stable"]["n_new"] == 50
    assert got["shifted"]["psi"] > 0.25


def test_gini_known_extremes(spark):
    """All-equal values give Gini 0 exactly; one key holding all the
    value gives the finite-sample maximum (n-1)/n."""
    from etl_acordos_spark.operators.relational import gini_by_group

    rows = [("even", k, 10.0) for k in range(10)]
    rows += [("conc", k, 0.0) for k in range(9)] + [("conc", 9, 100.0)]
    df = spark.createDataFrame(rows, ["grp", "key", "val"])
    got = {r["grp"]: r["gini"] for r in gini_by_group(df, "grp", "key", "val").collect()}
    assert got["even"] == 0.0
    assert got["conc"] == 0.9


def test_top_ngrams_planted_counts(spark):
    """Known corpus: 'a b a b' yields bigrams ('a b', 'b a', 'a b') and
    'a b c' adds ('a b', 'b c') — so 'a b' counts 3. NULL text and
    single-token docs contribute nothing; at the top-2 boundary the
    count-1 tie breaks lexicographically ('b a' < 'b c')."""
    from etl_acordos_spark.operators.text import top_ngrams

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, None), (4, "solo")],
        ["doc_id", "text"],
    )
    got = [(r["ngram"], r["n"]) for r in top_ngrams(docs, "text", 2, 2).collect()]
    assert got == [("a b", 3), ("b a", 1)]


def test_fuzzy_label_match_picks_nearest(spark):
    """A typo'd label links to its nearest canonical name within the
    distance bound; an unrelated label (outside every block or beyond
    max_dist) produces no row."""
    from etl_acordos_spark.operators.relational import fuzzy_label_match

    canon = spark.createDataFrame(
        [("small ring",), ("small rings",), ("blue bolt",)], ["name"]
    )
    dirty = spark.createDataFrame(
        [("smal ring",), ("zzzzzz",)], ["label"]
    )
    got = {
        r["dirty"]: (r["matched"], r["dist"])
        for r in fuzzy_label_match(dirty, canon, "label", "name", 3).collect()
    }
    # dist 1 to "small ring", dist 2 to "small rings" — nearest wins
    assert got == {"smal ring": ("small ring", 1)}


def test_triangle_counts_planted_graph(spark):
    """K4 minus one edge has exactly 2 triangles; the shared-edge
    endpoints participate in both, the others in one."""
    from etl_acordos_spark.operators.graph import triangle_counts

    # vertices 1-4, all edges except (3, 4): triangles {1,2,3} {1,2,4}
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)], ["src", "dst"]
    )
    got = {
        r["vertex"]: r["n_triangles"]
        for r in triangle_counts(edges, k=10).collect()
    }
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_co_occurrence_edges_dedups_pairs(spark):
    """Items repeated within a group emit one edge; pairs appearing in
    several groups emit one edge; ordering is src < dst."""
    from etl_acordos_spark.operators.graph import co_occurrence_edges

    items = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 20), (2, 20), (2, 10), (3, 30)],
        ["grp", "item"],
    )
    got = {(r["src"], r["dst"]) for r in co_occurrence_edges(items, "grp", "item").collect()}
    assert got == {(10, 20)}


def test_co_occurrence_cap_drops_degenerate_groups(spark):
    """Candidate-volume stress for max_group_size (r8 VERDICT item 7):
    a 400-item basket emits C(400,2) = 79,800 pairs uncapped — the
    per-group quadratic blowup the docstring warned about but nothing
    enforced. With the cap the basket is dropped by a count-filter
    BEFORE the self-join, edge volume collapses to the healthy groups',
    and those groups' edges are untouched."""
    from etl_acordos_spark.operators.graph import co_occurrence_edges

    rows = [("big", f"i{j}") for j in range(400)]
    rows += [("a", "x"), ("a", "y"), ("b", "x"), ("b", "z")]
    items = spark.createDataFrame(rows, "grp string, item string")
    assert co_occurrence_edges(items, "grp", "item").count() == 79_800 + 2
    capped = {
        (r["src"], r["dst"])
        for r in co_occurrence_edges(
            items, "grp", "item", max_group_size=100
        ).collect()
    }
    assert capped == {("x", "y"), ("x", "z")}


def test_weighted_sample_prefers_heavy_weights(spark):
    """With extreme weight separation the heavy items dominate the
    sample; zero/negative-weight rows are never selected; the result
    is rerun-stable (hash keys, no RNG)."""
    from etl_acordos_spark.operators.relational import weighted_sample

    rows = [(i, 1000000.0 if i < 5 else 0.001) for i in range(1, 50)]
    rows += [(50, 0.0), (51, -3.0)]
    df = spark.createDataFrame(rows, ["id", "w"])
    got1 = [r["id"] for r in weighted_sample(df, "id", "w", 5).collect()]
    got2 = [r["id"] for r in weighted_sample(df, "id", "w", 5).collect()]
    assert got1 == got2
    assert len(got1) == 5
    # the four heavy ids must all be in: u^(1/w) -> ~1 for huge w,
    # while every light item's key is u^1000 << 1. Which light item
    # fills the 5th slot is a property of the hash — don't pin it.
    assert {1, 2, 3, 4} <= set(got1)
    assert 50 not in got1 and 51 not in got1


def test_conversion_ztest_signs_and_degenerate(spark):
    """Variant B converting more gives z > 0; all-convert experiments
    (p = 1) yield NULL z rather than a division error."""
    from etl_acordos_spark.operators.relational import conversion_ztest

    users = spark.createDataFrame(
        [(u, u % 2, 1 if (u % 2 == 1 and u < 60) or u < 20 else 0)
         for u in range(100)],
        ["user_id", "variant", "converted"],
    )
    row = conversion_ztest(users, "variant", "converted").collect()[0]
    assert row["n_a"] == 50 and row["n_b"] == 50
    assert row["x_b"] > row["x_a"] and row["z"] > 0
    degen = spark.createDataFrame(
        [(u, u % 2, 1) for u in range(10)], ["user_id", "variant", "converted"]
    )
    assert conversion_ztest(degen, "variant", "converted").collect()[0]["z"] is None


def test_pagerank_star_center_dominates(spark):
    """On a star graph the hub outranks every leaf; ranks are a
    probability distribution (sum ≈ 1 after grid-flooring); a
    symmetric 4-cycle gives all vertices equal rank."""
    from etl_acordos_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [(1, h) for h in range(2, 8)], ["src", "dst"]
    )
    rows = pagerank(star, iterations=5, k=10).collect()
    ranks = {r["vertex"]: r["rank"] for r in rows}
    hub = ranks[1]
    assert all(hub > v for k_, v in ranks.items() if k_ != 1)
    assert abs(sum(ranks.values()) - 1.0) < 1e-6
    ring = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["src", "dst"]
    )
    rr = {r["vertex"]: r["rank"] for r in pagerank(ring, iterations=5, k=10).collect()}
    assert len(set(rr.values())) == 1


def test_gap_fill_forward_fills_missing_hours(spark):
    """A series observed at hours 0 and 3 yields a 4-row spine with
    hours 1-2 forward-filled from hour 0 and flagged as gaps."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import gap_fill_hours

    ev = spark.createDataFrame(
        [
            ("s", dt(2024, 1, 1, 0, 15), 2.0),
            ("s", dt(2024, 1, 1, 0, 45), 3.0),
            ("s", dt(2024, 1, 1, 3, 10), 7.0),
        ],
        ["series_id", "ts", "value"],
    )
    rows = sorted(
        gap_fill_hours(ev, "series_id", "ts", "value").collect(),
        key=lambda r: r["hour"],
    )
    assert [r["hour"].hour for r in rows] == [0, 1, 2, 3]
    assert [r["v_filled"] for r in rows] == [5.0, 5.0, 5.0, 7.0]
    assert [r["was_gap"] for r in rows] == [0, 1, 1, 0]


def test_histogram_quantile_rollup_merge_and_bounds(spark):
    """The two-tier rollup equals a one-tier sketch (merge is
    associative), and each estimate sits within one bin width of the
    exact quantile on a uniform series."""
    from etl_acordos_spark.operators.relational import (
        histogram_quantile_rollup,
    )

    rows = [("u", i % 7, float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, ["series_id", "day", "value"])
    two_tier = {
        (r["series"], r["q"]): r["est"]
        for r in histogram_quantile_rollup(
            df, "series_id", F.col("day"), "value", bins=64
        ).collect()
    }
    one_tier = {
        (r["series"], r["q"]): r["est"]
        for r in histogram_quantile_rollup(
            df, "series_id", F.lit(0), "value", bins=64
        ).collect()
    }
    assert two_tier == one_tier
    width = 999.0 / 64
    for q in (0.5, 0.9, 0.99):
        assert abs(two_tier[("u", q)] - q * 999.0) <= width


def test_pmi_collocations_prefers_exclusive_pairs(spark):
    """A pair that ALWAYS co-occurs ('new york' in every doc) scores
    higher PMI than a pair of independently frequent words, and pairs
    below min_count never appear."""
    from etl_acordos_spark.operators.text import pmi_collocations

    docs = spark.createDataFrame(
        [(i, "new york the cat the dog") for i in range(40)],
        ["doc_id", "text"],
    )
    got = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in pmi_collocations(docs, "text", min_count=10, k=10).collect()
    }
    assert ("new", "york") in got
    # 'york the' co-occurs as often as 'new york' but 'the' is twice as
    # frequent as 'new' (appears twice per doc) -> strictly lower PMI
    assert got[("new", "york")] > got[("york", "the")]
    assert ("the", "cat") in got and ("rare", "pair") not in got


def test_cusum_changepoint_locates_planted_shift(spark):
    """A series that jumps from 0-mean to +10 halfway through peaks its
    CUSUM magnitude exactly at the last pre-shift event."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import cusum_changepoint

    rows = [("s", dt(2024, 1, 1, h), h, 0.0) for h in range(10)]
    rows += [("s", dt(2024, 1, 2, h), 10 + h, 10.0) for h in range(10)]
    ev = spark.createDataFrame(rows, ["event_type", "ts", "event_id", "value"])
    got = cusum_changepoint(ev, "event_type", "ts", "event_id", "value").collect()
    assert len(got) == 1
    # mean = 5; pre-shift events accumulate -5 each -> |S| peaks at -50
    # on event_id 9 (the boundary), then shrinks by +5 per post event
    assert got[0]["cp_event"] == 9
    assert got[0]["cusum"] == 50.0


def test_funnel_latency_planted_timeline(spark):
    """Two users: one converts 3 days after first view, one 0 days
    (same day), one never converts (purchase BEFORE the view doesn't
    count) -> one cohort row with n=2, avg 1.5, median 1.5, max 3."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import funnel_latency

    rows = [
        (1, dt(2024, 1, 1, 9), 1, "view"),
        (2, dt(2024, 1, 4, 9), 1, "purchase"),
        (3, dt(2024, 1, 2, 9), 2, "view"),
        (4, dt(2024, 1, 2, 18), 2, "purchase"),
        (5, dt(2024, 1, 2, 9), 3, "purchase"),
        (6, dt(2024, 1, 3, 9), 3, "view"),
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = funnel_latency(ev, "user_id", "ts", "event_type", "view", "purchase").collect()
    assert len(got) == 1
    r = got[0]
    assert r["n_users"] == 2
    assert r["avg_days"] == 1.5 and r["p50_days"] == 1.5 and r["max_days"] == 3


def test_hierarchy_flatten_resolves_deep_chain(spark):
    """A 7-deep chain plus a second 1-node tree: every node resolves to
    the right root and exact depth with only 6 pointer-doubling rounds
    (2^6 = 64 >= 7)."""
    from etl_acordos_spark.operators.graph import hierarchy_flatten

    chain = [(i, i - 1 if i > 0 else None) for i in range(8)]
    chain += [(100, None)]
    edges = spark.createDataFrame(chain, ["node", "parent"])
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in hierarchy_flatten(edges).collect()
    }
    assert got == {**{i: (0, i) for i in range(8)}, 100: (100, 0)}


def test_hierarchy_flatten_fixpoint_converges_past_depth_64(spark):
    """The r9 verdict case: a depth-65 chain used to exhaust the fixed
    rounds=6 (2^6 = 64) and raise; the fixpoint loop now converges in
    ceil(log2(65)) = 7 joins under the 20-round cap. Random-ish deeper
    chains (picked to straddle power-of-two boundaries) all resolve
    with exact depths, and the early exit means a flat forest does
    ZERO pointer-doubling joins."""
    from etl_acordos_spark.operators.graph import hierarchy_flatten

    for depth in (65, 100, 129):
        edges = spark.createDataFrame(
            [(i, i - 1 if i > 0 else None) for i in range(depth + 1)],
            ["node", "parent"],
        )
        got = {
            r["node"]: (r["root"], r["depth"])
            for r in hierarchy_flatten(edges).collect()
        }
        assert got == {i: (0, i) for i in range(depth + 1)}, depth
    # flat forest: every node is a root — converges before any join
    flat = spark.createDataFrame(
        [(i, None) for i in range(5)], "node int, parent int"
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in hierarchy_flatten(flat).collect()
    }
    assert got == {i: (i, 0) for i in range(5)}


def test_hierarchy_flatten_cycle_raises_at_cap(spark):
    """A 2-cycle (plus a root so the root set is non-empty) can never
    converge — the cap must trip with the unresolved error, not loop
    forever or return a fabricated root."""
    import pytest

    from etl_acordos_spark.operators.graph import hierarchy_flatten

    cyc = spark.createDataFrame(
        [(0, None), (1, 2), (2, 1)], ["node", "parent"]
    )
    with pytest.raises(ValueError, match="unresolved"):
        hierarchy_flatten(cyc, rounds=4)


def test_hierarchy_flatten_raises_on_unresolvable_input(spark):
    """A chain deeper than 2^rounds raises (never silently returns a
    mid-tree 'root'); so does a dangling parent reference."""
    import pytest

    from etl_acordos_spark.operators.graph import hierarchy_flatten

    deep = spark.createDataFrame(
        [(i, i - 1 if i > 0 else None) for i in range(6)],
        ["node", "parent"],
    )
    with pytest.raises(ValueError, match="unresolved"):
        hierarchy_flatten(deep, rounds=1)
    dangling = spark.createDataFrame(
        [(1, None), (2, 99)], ["node", "parent"]
    )
    with pytest.raises(ValueError, match="dropped|unresolved"):
        hierarchy_flatten(dangling)


def test_hierarchy_flatten_self_loop_raises_unresolved(spark):
    """A self-loop points at itself from the start, so "the pointer
    stopped moving" would call node 1 a root; only a true root has
    depth 0, so the loop runs to the cap and raises."""
    from etl_acordos_spark.operators.graph import hierarchy_flatten

    loop = spark.createDataFrame([(0, None), (1, 1)], "node int, parent int")
    with pytest.raises(ValueError, match="1 nodes unresolved"):
        hierarchy_flatten(loop, rounds=4)


def test_hierarchy_flatten_decimal_tree_job_budget(spark):
    """The 2,000-node decimal tree (parent = node div 10, depth 4)
    resolves exactly within 14 Spark jobs: convergence and the row
    guard ride on the rounds' checkpoints, with no probe jobs."""
    from etl_acordos_spark.operators.graph import hierarchy_flatten

    from tests.oracle_utils import count_jobs

    edges = spark.range(2000).select(
        F.col("id").alias("node"),
        F.when(F.col("id") > 0, F.expr("id div 10")).alias("parent"),
    )
    rows = []
    jobs = count_jobs(
        spark, lambda: rows.extend(hierarchy_flatten(edges).collect())
    )
    assert jobs <= 14, jobs
    assert {r["node"]: (r["root"], r["depth"]) for r in rows} == {
        n: (0, len(str(n)) if n else 0) for n in range(2000)
    }


def test_hierarchy_flatten_shuffled_rounds_match(spark, monkeypatch):
    """Past the broadcast crossover both join sides shuffle: same
    roots and depths, and the dropped-node guard still fires."""
    from etl_acordos_spark.operators import graph

    monkeypatch.setattr(graph, "BROADCAST_MAX_VERTICES", 0)
    edges = spark.range(300).select(
        F.col("id").alias("node"),
        F.when(F.col("id") > 0, F.expr("id div 3")).alias("parent"),
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in graph.hierarchy_flatten(edges).collect()
    }
    depth = {0: 0}
    for n in range(1, 300):
        depth[n] = depth[n // 3] + 1
    assert got == {n: (0, depth[n]) for n in range(300)}
    dangling = spark.createDataFrame([(1, None), (2, 99)], ["node", "parent"])
    with pytest.raises(ValueError, match="1 dropped"):
        graph.hierarchy_flatten(dangling)


def test_component_labels_raises_past_cap(spark):
    """A chain that still changes labels at `max_iter` raises instead of
    returning mislabelled nodes; a higher cap labels it correctly."""
    from etl_acordos_spark.operators.dedup import component_labels

    n = 200
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    with pytest.raises(ValueError, match="still change"):
        component_labels(docs, pairs, "doc_id", max_iter=3)
    labels = component_labels(docs, pairs, "doc_id", max_iter=10).collect()
    assert len(labels) == n and all(r["label"] == 0 for r in labels)


def test_rfm_extremes_score_correctly(spark):
    """The most recent/frequent/high-spend customer scores 555; the
    stalest/rarest/lowest scores 111 (5 customers, 5 buckets, one per
    bucket)."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import rfm_segments

    rows = []
    for c in range(1, 6):
        # customer c places c orders of value 100*c, last on day c
        for i in range(c):
            rows.append((c, dt(2024, 1, c), 100.0 * c))
    orders = spark.createDataFrame(rows, ["cust", "odate", "amount"])
    got = {
        r["cust"]: (r["r"], r["f"], r["m"], r["rfm_score"])
        for r in rfm_segments(orders, "cust", "odate", "amount").collect()
    }
    assert got[5] == (5, 5, 5, 555)
    assert got[1] == (1, 1, 1, 111)


def test_association_rules_planted_affinity(spark):
    """Items 1 and 2 co-occur in every basket (confidence 1, lift = n
    baskets / baskets-with-2); a pair below min_pair never appears."""
    from etl_acordos_spark.operators.relational import association_rules

    rows = []
    for g in range(10):
        rows += [(g, 1), (g, 2)]
        rows.append((g, 100 + g))  # singleton noise item per basket
    items = spark.createDataFrame(rows, ["basket", "item"])
    got = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(items, "basket", "item", min_pair=5, k=10).collect()
    }
    r12 = got[(1, 2)]
    assert r12["n_ab"] == 10 and r12["confidence"] == 1.0 and r12["lift"] == 1.0
    assert all(a in (1, 2) and b in (1, 2) for a, b in got)


def test_grid_neighbor_join_matches_brute_force(spark):
    """Planted points: pairs straddling cell borders are still found
    (the 3x3 neighborhood), far pairs are not, and cell < radius is
    rejected."""
    import pytest

    from etl_acordos_spark.operators.relational import grid_neighbor_join

    pts = spark.createDataFrame(
        [
            (1, 0.95, 0.5),   # near 2 across the x=1 cell border
            (2, 1.05, 0.5),
            (3, 5.0, 5.0),    # isolated
            (4, 0.95, 0.62),  # near 1 within the same cell
        ],
        ["pid", "x", "y"],
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in grid_neighbor_join(pts, "pid", "x", "y", radius=0.2).collect()
    }
    # (2,4) qualifies too: sqrt(0.1^2 + 0.12^2) ~ 0.156 < 0.2, found
    # across the cell border like (1,2)
    assert got == {(1, 2), (1, 4), (2, 4)}
    with pytest.raises(ValueError, match="cell"):
        grid_neighbor_join(pts, "pid", "x", "y", radius=0.5, cell=0.2)


def test_period_growth_planted_weeks(spark):
    """Weekly totals 100 -> 150 -> 0 -> 30 give +0.5, -1.0, NULL (zero
    base) pct changes; first week is NULL."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import period_growth

    rows = []
    for wk, total in [(1, 100.0), (8, 150.0), (15, 0.0), (22, 30.0)]:
        rows.append(("s", dt(2024, 1, wk), total))
    ev = spark.createDataFrame(rows, ["event_type", "ts", "value"])
    got = [
        r["pct_change"]
        for r in period_growth(ev, "event_type", "ts", "value")
        .orderBy("week")
        .collect()
    ]
    assert got == [None, 0.5, -1.0, None]


def test_active_user_stickiness_bounds(spark):
    """A week where all 4 users appear every observed day has
    stickiness 1.0; a week where each user appears once on separate
    days has stickiness 1/wau."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import (
        active_user_stickiness,
    )

    rows = []
    # week of Jan 1: users 1-4 active on Mon and Tue
    for d in (1, 2):
        rows += [(dt(2024, 1, d), u) for u in range(1, 5)]
    # week of Jan 8: users 1-4 on separate days
    for i, u in enumerate(range(1, 5)):
        rows.append((dt(2024, 1, 8 + i), u))
    ev = spark.createDataFrame(rows, ["ts", "user_id"])
    got = {
        r["week"].isoformat(): (r["wau"], r["avg_dau"], r["stickiness"])
        for r in active_user_stickiness(ev, "user_id", "ts").collect()
    }
    assert got["2024-01-01"] == (4, 4.0, 1.0)
    assert got["2024-01-08"] == (4, 1.0, 0.25)


def test_calendar_dim_spans_range_with_iso_attrs(spark):
    """The spine covers every day inclusive; 2024-01-06/07 are a
    weekend (iso_dow 6/7), 2024-01-08 is a Monday in ISO week 2."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import calendar_dim

    df = spark.createDataFrame(
        [(dt(2024, 1, 3),), (dt(2024, 1, 9),)], ["d"]
    )
    rows = {r["cal_date"].isoformat(): r for r in calendar_dim(df, "d").collect()}
    assert len(rows) == 7
    assert rows["2024-01-06"]["iso_dow"] == 6 and rows["2024-01-06"]["is_weekend"] == 1
    assert rows["2024-01-07"]["iso_dow"] == 7 and rows["2024-01-07"]["is_weekend"] == 1
    assert rows["2024-01-08"]["iso_dow"] == 1 and rows["2024-01-08"]["iso_week"] == 2


def test_benford_profile_flags_uniform_data(spark):
    """Uniform leading digits deviate hard from Benford: digit 1 is
    under-represented (n < expected), digit 9 over-represented, and
    counts + exclusions behave (amounts < 1 dropped)."""
    from etl_acordos_spark.operators.relational import benford_profile

    rows = [(float(d) * 10 + i,) for d in range(1, 10) for i in range(10)]
    rows += [(0.5,)]  # excluded
    df = spark.createDataFrame(rows, ["amount"])
    got = {r["digit"]: r for r in benford_profile(df, "amount").collect()}
    assert sum(r["n"] for r in got.values()) == 90
    assert all(got[d]["n"] == 10 for d in range(1, 10))
    assert got[1]["n"] < got[1]["expected_n"]  # Benford expects ~30%
    assert got[9]["n"] > got[9]["expected_n"]  # Benford expects ~4.6%
    assert got[9]["chi2_term"] > 0


def test_calendar_dim_iso_year_boundary(spark):
    """Dec 29 2025 falls in ISO week 1 of iso_year 2026 — the exact
    mis-bucketing (year, iso_week) would cause, which (iso_year,
    iso_week) avoids."""
    from datetime import datetime as dt

    from etl_acordos_spark.operators.relational import calendar_dim

    df = spark.createDataFrame(
        [(dt(2025, 12, 28),), (dt(2026, 1, 2),)], ["d"]
    )
    rows = {r["cal_date"].isoformat(): r for r in calendar_dim(df, "d").collect()}
    r = rows["2025-12-29"]
    assert r["year"] == 2025 and r["iso_year"] == 2026 and r["iso_week"] == 1
    assert rows["2025-12-28"]["iso_year"] == 2025


def test_iqr_outliers_flags_planted_extreme(spark):
    """A 100-value uniform series plus one extreme value flags exactly
    the extreme (fences robust to the outlier itself, unlike a
    mean/stddev fence it would drag)."""
    from etl_acordos_spark.operators.relational import iqr_outliers

    rows = [(i, "s", float(i % 10)) for i in range(100)]
    rows.append((100, "s", 1000.0))
    ev = spark.createDataFrame(rows, ["event_id", "event_type", "value"])
    got = iqr_outliers(ev, "event_type", "value").collect()
    assert [r["event_id"] for r in got] == [100]
    assert got[0]["hi"] < 1000.0 and got[0]["lo"] <= 0.0


def test_pack_best_fit_bucket_index_matches_naive_scan():
    """The r10 fill-level bucket index (O(n·budget) placement) must
    make IDENTICAL bin choices to the naive O(n·bins) argmax scan it
    replaced (fullest feasible fill, lowest creation index on ties) —
    same fills, same counts, same pack ids — over randomized
    descending-sorted workloads. Pure-Python pin of the executor-side
    algorithm (the SQL oracle replays the same semantics end-to-end)."""
    import heapq
    import random

    def naive(tokens: list[int], budget: int):
        fills: list[int] = []
        counts: list[int] = []
        for tok in tokens:
            best, best_fill = -1, -1
            for i, f in enumerate(fills):
                if f + tok <= budget and f > best_fill:
                    best, best_fill = i, f
            if best < 0:
                fills.append(tok)
                counts.append(1)
            else:
                fills[best] += tok
                counts[best] += 1
        return fills, counts

    def bucket(tokens: list[int], budget: int):
        fills: list[int] = []
        counts: list[int] = []
        at_level: list[list[int]] = [[] for _ in range(budget + 1)]
        for tok in tokens:
            best = -1
            for lvl in range(budget - tok, -1, -1):
                if at_level[lvl]:
                    best = heapq.heappop(at_level[lvl])
                    break
            if best < 0:
                best = len(fills)
                fills.append(tok)
                counts.append(1)
            else:
                fills[best] += tok
                counts[best] += 1
            heapq.heappush(at_level[fills[best]], best)
        return fills, counts

    rng = random.Random(7)
    for _ in range(500):
        budget = rng.choice([8, 16, 64, 256])
        n = rng.randint(0, 120)
        toks = sorted(
            (rng.randint(0, budget) for _ in range(n)), reverse=True
        )
        assert naive(toks, budget) == bucket(toks, budget), (budget, toks)


def test_pack_best_fit_validity_and_beats_naive_no_split(spark, sf_oracle):
    """BFD manifest invariants: conserves chunks and tokens, never
    overfills a pack, numbers packs contiguously per shard — and per
    shard uses NO MORE packs than the naive no-split sequential packer
    (close the pack when the next chunk doesn't fit), the fill-rate
    claim that justifies the operator over arrival-order packing."""
    from etl_acordos_spark.operators.text import doc_chunks, pack_best_fit

    chunks = doc_chunks(
        t(spark, sf_oracle, "documents"), "text", "doc_id",
        window=64, stride=48,
    )
    raw = chunks.select(
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        "doc_id", "chunk_id", "n_chunk_tokens",
    ).collect()
    packs = pack_best_fit(
        chunks, "doc_id", "chunk_id", "n_chunk_tokens",
        budget=256, shards=8,
    ).collect()
    assert sum(p.n_chunks for p in packs) == len(raw)
    assert sum(p.n_tokens for p in packs) == sum(
        r.n_chunk_tokens for r in raw
    )
    assert all(p.n_tokens <= 256 for p in packs)
    by_shard: dict[int, list] = {}
    for p in packs:
        by_shard.setdefault(p.shard, []).append(p)
    arrival: dict[int, list] = {}
    for r in raw:
        arrival.setdefault(r.shard, []).append(r)
    naive_total = 0
    for rows in arrival.values():
        rows.sort(key=lambda r: (r.doc_id, r.chunk_id))
        fill, bins = 0, 0
        for r in rows:
            if bins == 0 or fill + r.n_chunk_tokens > 256:
                bins += 1
                fill = 0
            fill += r.n_chunk_tokens
        naive_total += bins
    for shard, ps in by_shard.items():
        ps.sort(key=lambda p: p.pack_id)
        assert [p.pack_id for p in ps] == list(range(len(ps))), shard
    # fill-rate claim over the corpus: BFD/FFD has adversarial
    # instances where a lucky arrival order beats it on one shard, so
    # compare TOTALS, not per-shard (robust to testdata regeneration)
    assert sum(len(ps) for ps in by_shard.values()) <= naive_total


def test_url_dedup_canonicalization_and_dual_claims(spark):
    """Canonicalization must collapse exactly the decoration classes —
    fragment, host case, trailing slash, tracking params, param order —
    and the dual verdict must claim first-by-id independently on the
    URL and content axes."""
    from etl_acordos_spark.operators.dedup import url_dedup

    rows = [
        (0, "https://A.Example.com/p/1?utm_source=x&page=2#frag", "body-a"),
        # same canonical as 0: case, slash, param order, tracking junk
        (1, "https://a.example.com/p/1/?page=2&ref=side", "body-b"),
        # different page param -> different canonical
        (2, "https://a.example.com/p/1?page=3", "body-c"),
        # unrelated URL but identical CONTENT to doc 0
        (3, "https://other.example.com/q", "body-a"),
        # pure tracking query == no query at all
        (4, "https://b.example.com/r?utm_campaign=z", "body-d"),
        (5, "https://b.example.com/r", "body-e"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "text"])
    got = {r.doc_id: r for r in url_dedup(df, "url", "text", "doc_id").collect()}
    assert got[0].canonical_url == "https://a.example.com/p/1?page=2"
    assert got[1].canonical_url == got[0].canonical_url
    assert got[2].canonical_url == "https://a.example.com/p/1?page=3"
    assert got[4].canonical_url == got[5].canonical_url == (
        "https://b.example.com/r"
    )
    assert not got[0].url_dup and not got[0].content_dup and got[0].keep
    assert got[1].url_dup and not got[1].content_dup and not got[1].keep
    assert got[2].keep
    assert not got[3].url_dup and got[3].content_dup and not got[3].keep
    assert got[4].keep and got[5].url_dup and not got[5].keep


def test_bigram_lm_score_matches_python_reference(spark):
    """The bigram/backoff recurrence replayed in pure Python over a
    tiny corpus — min-count gating must route rare bigrams through the
    0.4·unigram backoff and frequent ones through the conditional."""
    import math

    from etl_acordos_spark.operators.text import bigram_lm_score

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the hat"),
        (2, "the cat sat on the mat again"),
        (3, "dog runs"),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_bigrams, r.bits_per_bigram)
        for r in bigram_lm_score(
            df, "text", "doc_id", min_count=2, backoff_alpha=0.4
        ).collect()
    }
    # python reference
    from collections import Counter

    uni: Counter = Counter()
    c2: Counter = Counter()
    for _, text in corpus:
        toks = text.split(" ")
        uni.update(toks)
        c2.update(zip(toks, toks[1:]))
    cctx: Counter = Counter()
    for (w1, _), c in c2.items():
        cctx[w1] += c
    n = sum(uni.values())
    expect = {}
    for doc_id, text in corpus:
        toks = text.split(" ")
        pairs = list(zip(toks, toks[1:]))
        if not pairs:
            continue
        logps = [
            math.log2(c2[p] / cctx[p[0]])
            if c2[p] >= 2
            else math.log2(0.4 * uni[p[1]] / n)
            for p in pairs
        ]
        bits = -sum(logps) / len(logps)
        expect[doc_id] = (
            len(pairs),
            math.floor(bits * 10000.0 + 0.5) / 10000.0,
        )
    assert got == expect
    # 'dog runs' is a hapax bigram -> backoff path -> high surprisal
    assert got[3][1] > got[0][1]


def test_skyline_2d_sweep_matches_brute_force(spark):
    """The window-sweep skyline must equal the all-pairs domination
    scan on a frame with the tricky tie classes: equal price /
    different size, equal size / different price, and exact duplicate
    points (neither dominates the other -> both kept)."""
    from etl_acordos_spark.operators.relational import skyline_2d

    rows = [
        (0, 10, 5.0),   # frontier
        (1, 10, 5.0),   # duplicate of 0 -> also kept
        (2, 9, 5.0),    # same price, smaller size -> dominated by 0
        (3, 10, 6.0),   # same size, dearer -> dominated by 0
        (4, 20, 9.0),   # frontier (bigger, dearer)
        (5, 15, 9.5),   # dominated by 4 (bigger AND cheaper exists)
        (6, 5, 1.0),    # frontier (cheapest)
        (7, 5, 2.0),    # dominated by 6
    ]
    df = spark.createDataFrame(rows, ["pid", "size", "price"])
    got = {r.pid for r in skyline_2d(df, "size", "price").collect()}
    brute = set()
    for p in rows:
        dominated = any(
            q[1] >= p[1] and q[2] <= p[2] and (q[1] > p[1] or q[2] < p[2])
            for q in rows
        )
        if not dominated:
            brute.add(p[0])
    assert got == brute == {0, 1, 4, 6}


def test_cms_accuracy_one_sided_and_matches_python_sketch(spark):
    """CMS estimates are never below exact counts, and with a
    deliberately tiny 16-bucket sketch the estimates must equal a pure
    Python count-min replaying the same md5 bucket scheme (collisions
    and all)."""
    import hashlib
    from collections import Counter

    from etl_acordos_spark.operators.relational import cms_accuracy

    vals = [f"w{i % 37}" for i in range(1000)] + ["hot"] * 200
    df = spark.createDataFrame([(v,) for v in vals], ["token"])
    got = {
        r.v: (r.n_exact, r.n_cms, r.overestimate)
        for r in cms_accuracy(
            df, "token", depth=2, width_hex=1, k=15
        ).collect()
    }
    assert len(got) == 15
    cells: Counter = Counter()
    for v in vals:
        for s in (1, 2):
            b = hashlib.md5(f"{s}:{v}".encode()).hexdigest()[:1]
            cells[(s, b)] += 1
    exact = Counter(vals)
    for v, (n_exact, n_cms, over) in got.items():
        assert n_exact == exact[v]
        est = min(
            cells[(s, hashlib.md5(f"{s}:{v}".encode()).hexdigest()[:1])]
            for s in (1, 2)
        )
        assert n_cms == est
        assert over == n_cms - n_exact >= 0
    # 37 values in 16 buckets: collisions guaranteed somewhere
    assert any(o > 0 for (_, _, o) in got.values())


def test_ks_test_detects_planted_shift_and_accepts_identical(spark):
    """A location-shifted cohort must reject at alpha=0.05; the same
    distribution split in half must not, and D must match the numpy
    two-sample statistic."""
    import numpy as np

    from etl_acordos_spark.operators.relational import ks_test_2samp

    vals_a = [float(i % 100) for i in range(1000)]
    vals_b = [float((i % 100) + 30) for i in range(1000)]
    rows = [(0, v) for v in vals_a] + [(1, v) for v in vals_b]
    df = spark.createDataFrame(rows, ["variant", "value"])
    r = ks_test_2samp(df, "variant", "value").collect()[0]
    assert r.n_a == r.n_b == 1000
    assert r.reject_05
    # numpy reference over the pooled support
    xs = sorted(set(vals_a + vals_b))
    a, b = np.array(sorted(vals_a)), np.array(sorted(vals_b))
    d_ref = max(
        abs(
            np.searchsorted(a, x, side="right") / len(a)
            - np.searchsorted(b, x, side="right") / len(b)
        )
        for x in xs
    )
    assert abs(r.d_stat - d_ref) < 1e-6

    # i%2 vs i%50 would correlate parity with value — split by block
    # instead so both cohorts see the identical 0..49 cycle
    same = spark.createDataFrame(
        [(i // 1000, float(i % 50)) for i in range(2000)],
        ["variant", "value"],
    )
    r2 = ks_test_2samp(same, "variant", "value").collect()[0]
    assert r2.d_stat == 0.0 and not r2.reject_05


def test_image_ahash_dedup_claims_rerenders_not_distinct(spark):
    """Byte-identical payloads AND a re-encode of the same pixels hash
    equal (first id keeps); a genuinely different pattern gets its own
    hash. Bit packing must match a pure-Python replay."""
    import numpy as np

    from etl_acordos_spark.functions.png import encode_png
    from etl_acordos_spark.operators.multimodal import image_ahash_dedup

    grad = ((np.arange(12)[:, None] + np.arange(16)[None, :]) % 256).astype(
        np.uint8
    )
    other = ((np.arange(12)[:, None] * 7) % 256 * np.ones((1, 16))).astype(
        np.uint8
    )
    rows = [
        (0, bytearray(encode_png(grad))),
        (1, bytearray(encode_png(grad))),   # byte-identical
        (2, bytearray(encode_png(grad.copy()))),  # re-encode, same pixels
        (3, bytearray(encode_png(other))),  # different pattern
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in image_ahash_dedup(df).collect()}
    assert not got[0].dup and got[1].dup and got[2].dup
    assert not got[3].dup
    # pure-python replay of doc 0's hash
    ys = (np.arange(8) * 12) // 8
    xs = (np.arange(8) * 16) // 8
    cells = grad.astype(int)[np.ix_(ys, xs)]
    mean = int(cells.sum()) // 64
    val = 0
    for i, b in enumerate((cells > mean).flatten()):
        if b:
            val |= 1 << i
    assert got[0].phash_hi == (val >> 32) & 0xFFFFFFFF
    assert got[0].phash_lo == val & 0xFFFFFFFF


def test_canonical_url_edge_cases(spark):
    """Review-found edges: a second '?' inside the query must split at
    the FIRST one (keeping the embedded param), and scheme-less inputs
    pass through unchanged instead of collapsing onto '://'."""
    from etl_acordos_spark.operators.dedup import canonical_url

    rows = [
        (0, "https://a.com/p?next=/x?y=1&page=2"),
        (1, "example.com/a"),
        (2, "//cdn.foo.com/b"),
    ]
    df = spark.createDataFrame(rows, ["i", "u"])
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
    }
    # after-first-'?' query: params {next=/x?y=1, page=2} both kept,
    # sorted — the embedded '?' stays inside the next= param value
    assert got[0] == "https://a.com/p?next=/x?y=1&page=2"
    assert got[1] == "example.com/a"
    assert got[2] == "//cdn.foo.com/b"


def test_pack_best_fit_rejects_oversize_chunk(spark):
    """A chunk larger than the budget must raise (executor-side), not
    silently emit an over-budget pack."""
    import pytest as _pytest

    from etl_acordos_spark.operators.text import pack_best_fit

    df = spark.createDataFrame(
        [(0, 0, 300), (1, 0, 10)], ["doc_id", "chunk_id", "n_tok"]
    )
    with _pytest.raises(Exception, match="exceeds"):
        pack_best_fit(
            df, "doc_id", "chunk_id", "n_tok", budget=256, shards=2
        ).collect()


def test_global_row_number_and_ntile_match_window_forms(spark):
    """The distributed prefix-scan rank + closed-form ntile must equal
    Spark's own row_number/ntile window results for any bucket count —
    including n < buckets (every row its own bucket) and heavy ties
    broken by the id column."""
    from pyspark.sql import Window as W

    from etl_acordos_spark.operators.relational import (
        _ntile_from_rank,
        global_row_number,
    )

    rows = [(i, (i * 7) % 13) for i in range(137)]
    df = spark.createDataFrame(rows, ["id", "v"])
    order = [F.asc("v"), F.asc("id")]
    got = global_row_number(df, order, rn_name="rn")
    n = df.count()
    for b in (5, 4, 137, 200):
        g = {
            r.id: (r.rn, _b)
            for r in got.withColumn(
                "_b", _ntile_from_rank(F.col("rn"), F.lit(n), b)
            ).collect()
            for _b in [r["_b"]]
        }
        w = W.orderBy(*order)
        want = {
            r.id: (r.rn, r.b)
            for r in df.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.ntile(b).over(w).alias("b"),
            ).collect()
        }
        assert g == want, f"buckets={b}"


def test_paragraph_near_dedup_drops_dominated_units(spark):
    """Round-7 ext_dedup_para semantics on a handcrafted corpus: a
    repeated paragraph survives only at its first (doc, position) key;
    a unique paragraph always survives; a doc whose every unit is
    dominated disappears; rebuild preserves unit order."""
    from etl_acordos_spark.operators.dedup import paragraph_near_dedup

    para_a = " ".join(f"alpha{i}" for i in range(10))
    para_b = " ".join(f"beta{i}" for i in range(10))
    para_c = " ".join(f"gamma{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"{para_a} {para_b}"),   # first occurrence of A and B
            (2, f"{para_c} {para_a}"),   # C unique, A dominated by doc 1
            (3, para_b),                 # fully dominated -> disappears
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: r
        for r in paragraph_near_dedup(
            df, "text", "doc_id", words_per_para=10
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["text"] == f"{para_a} {para_b}" and out[1]["n_paras"] == 2
    assert out[2]["text"] == para_c and out[2]["n_paras"] == 1


def test_paragraph_near_dedup_hash_families_agree(spark, sf_oracle):
    """md5 (oracle family) and xxhash64 (production family) rebuild
    near-identical documents. NOT exact equality: a borderline pair in
    the banding transition zone (J just below the 16×4 S-curve knee)
    can collide under one hash family and not the other — observed at
    exactly one 30-word unit on this corpus — so the pin is ≥98%
    agreement, which still catches any logic (vs hash-luck) drift."""
    from etl_acordos_spark.operators.dedup import paragraph_near_dedup

    docs = t(spark, sf_oracle, "documents")
    md = {
        (r["doc_id"], r["text"], r["n_paras"])
        for r in paragraph_near_dedup(docs, "text", "doc_id", hash_fn="md5").collect()
    }
    xx = {
        (r["doc_id"], r["text"], r["n_paras"])
        for r in paragraph_near_dedup(docs, "text", "doc_id").collect()
    }
    assert md and xx
    agree = len(md & xx) / len(md | xx)
    assert agree >= 0.98, f"families diverge beyond hash luck: {agree:.3f}"


def test_simhash_hash_families_agree_on_invariants(spark, sf_oracle):
    """SimHash's signature IS the decision statistic, so the hamming<=3
    pair SET is legitimately family-dependent: swapping the (unbiased)
    token hash resamples every per-bit vote, and this corpus has a
    dense hamming continuum at the cliff (measured Jaccard agreement
    between the xxhash64 and md5 pair sets is ~0.25 — unlike MinHash,
    whose verify step is exact Jaccard and therefore hash-independent).
    What IS family-invariant: documents with IDENTICAL distinct token
    sets get identical signatures, so every such pair must appear at
    hamming 0 in BOTH families — the logic pin that survives a family
    swap."""
    from etl_acordos_spark.operators.dedup import simhash_pairs

    docs = t(spark, sf_oracle, "documents")
    # ground truth: pairs with identical distinct-token SETS
    sets_ = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split("text", " "))).alias("st"),
    )
    same = {
        (r.a, r.b)
        for r in sets_.alias("x")
        .join(sets_.alias("y"), F.expr("x.st = y.st AND x.doc_id < y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .collect()
    }
    assert same, "expected identical-token-set doc pairs in the corpus"
    for fam in ("xxhash64", "md5"):
        zero = {
            (r.doc_a, r.doc_b)
            for r in simhash_pairs(docs, "text", "doc_id", hash_fn=fam)
            .filter("hamming = 0")
            .collect()
        }
        missing = same - zero
        assert not missing, f"{fam}: token-identical pairs not at hamming 0: {sorted(missing)[:5]}"


def test_simhash_md5_family_matches_duckdb_bits(spark):
    """Bit-exactness of the md5 token hash assembly on a tiny corpus:
    the Spark signed hi<<32|lo BIGINT and DuckDB's UBIGINT md5 prefix
    are the same 64 bit patterns, so chunk values and hamming agree."""
    import duckdb

    from etl_acordos_spark.operators.dedup import simhash_pairs
    from etl_acordos_spark.queries.llm import _dedup_simhash_oracle

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),   # near-dup of 1
        (3, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        (4, "totally different words here now ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        tuple(r)
        for r in simhash_pairs(df, "text", "doc_id", hash_fn="md5").collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{s}')" for i, s in rows)
        + ") AS t(doc_id, text)"
    )
    want = sorted(tuple(r) for r in con.execute(_dedup_simhash_oracle()).fetchall())
    assert got == want
    assert (1, 3, 0) in got  # the exact dup at hamming 0


def test_hll_md5_merge_property_and_error(spark, sf_oracle):
    """Round-7 ext_hll_md5: registers are the mergeable state — the
    max-per-bucket merge of per-month registers must equal registers
    built over the whole table in one pass (exact, not approximate,
    equality: same hash, same buckets), and the resulting estimate
    must sit within 5% of the exact distinct count (m=4096 gives
    ~1.6% typical error; measured 0.1-1.7% on this data)."""
    from etl_acordos_spark.operators.relational import (
        hll_md5_estimate,
        hll_md5_registers,
    )

    orders = t(spark, sf_oracle, "orders").select(
        F.year("o_orderdate").alias("ano"),
        F.month("o_orderdate").alias("mes"),
        "o_custkey",
    )
    monthly = hll_md5_registers(orders, ["ano", "mes"], "o_custkey")
    merged = {
        (r.bucket, r.mr)
        for r in monthly.groupBy("bucket").agg(F.max("mr").alias("mr")).collect()
    }
    direct = {
        (r.bucket, r.mr)
        for r in hll_md5_registers(
            orders.withColumn("g", F.lit(1)), ["g"], "o_custkey"
        )
        .select("bucket", "mr")
        .collect()
    }
    assert merged == direct, "register merge is not lossless"

    est = hll_md5_estimate(
        monthly.groupBy("bucket")
        .agg(F.max("mr").alias("mr"))
        .withColumn("g", F.lit(1)),
        ["g"],
    ).collect()[0]["approx_distinct"]
    exact = orders.select("o_custkey").distinct().count()
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_incremental_dedup_hash_families_agree(spark, sf_oracle):
    """md5 (oracle family, ext_dedup_incremental registry key) and
    xxhash64 (production family) incremental dedup keep near-identical
    survivor sets — the verify step is hash-independent; only
    borderline banding-zone candidates can differ (the
    minhash_lsh_pairs precedent). Pin: >=95% survivor agreement."""
    from etl_acordos_spark.operators.dedup import incremental_minhash_dedup

    docs = t(spark, sf_oracle, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    out = {}
    for fam in ("xxhash64", "md5"):
        out[fam] = {
            r.doc_id
            for r in incremental_minhash_dedup(
                corpus, batch, "text", "doc_id", threshold=0.5, hash_fn=fam
            ).collect()
        }
    assert out["md5"] and out["xxhash64"]
    agree = len(out["md5"] & out["xxhash64"]) / len(out["md5"] | out["xxhash64"])
    assert agree >= 0.95, f"families diverge beyond hash luck: {agree:.3f}"


def test_hll_sketch_null_dates_do_not_fan_out_the_rollup_join(
    spark, sf_smoke, tmp_path
):
    """With NULL order dates, a NULL-year DATA group and the rollup
    grand-total row both carry ano=NULL; the contract join must pair
    each with its own exact count via grouping() — a bare null-safe
    join cross-matches them (4 rows instead of 2, and the NULL-group
    sketch checked against the grand total)."""
    from pyspark.sql import functions as F

    from etl_acordos_spark.queries.base import t
    from etl_acordos_spark.queries.relational import q_ext_hll_sketch

    orders = t(spark, sf_smoke, "orders")
    null_row = orders.limit(1).withColumn(
        "o_orderdate",
        F.lit(None).cast(orders.schema["o_orderdate"].dataType),
    )
    out = str(tmp_path / "orders.parquet")
    orders.unionByName(null_row).write.parquet(out)
    rows = q_ext_hll_sketch(spark, str(tmp_path)).collect()
    null_rows = sorted(
        (r["exact_clientes"], r["hll_ok"])
        for r in rows
        if r["ano"] is None
    )
    total = orders.select("o_custkey").distinct().count()
    # exactly two NULL-ano rows: the 1-customer NULL data group and the
    # grand total — each with ITS OWN exact count, both within bounds
    assert null_rows == [(1, True), (total, True)], null_rows


def test_fingerprints_hash_families_share_winnowing_structure(spark):
    """Both hash families (md5 — the oracle-pinned registry path — and
    xxhash64 — the production default) must agree on the winnowing
    STRUCTURE: identical n_windows per doc (windows are defined by
    length/window/step arithmetic, not by the digest), exactly one
    window for a doc shorter than the window, deterministic
    fingerprints per family, and the documented output types (hex
    string vs long)."""
    import pytest

    from etl_acordos_spark.operators.text import fingerprints

    docs = spark.createDataFrame(
        [
            (1, "a" * 7),                 # shorter than window -> 1 window
            (2, "abcdefghijklmnop"),      # exactly window chars -> 1
            (3, "x" * 16 + "y" * 8),      # 24 chars -> windows at 1,5,9
            (4, "the quick brown fox jumps over the lazy dog " * 3),
        ],
        "doc_id bigint, text string",
    )
    xx = {r["doc_id"]: r for r in fingerprints(docs, "text", "doc_id").collect()}
    md = {
        r["doc_id"]: r
        for r in fingerprints(docs, "text", "doc_id", hash_fn="md5").collect()
    }
    for d in (1, 2, 3, 4):
        assert xx[d]["n_windows"] == md[d]["n_windows"], d
        assert isinstance(xx[d]["fingerprint"], int), d
        assert (
            isinstance(md[d]["fingerprint"], str)
            and len(md[d]["fingerprint"]) == 32
        ), d
    assert xx[1]["n_windows"] == 1 and xx[2]["n_windows"] == 1
    assert xx[3]["n_windows"] == 3  # ceil((24-15-1)/4)+1 over starts 1,5,9
    # determinism: a rerun is bit-identical per family
    assert xx == {
        r["doc_id"]: r
        for r in fingerprints(docs, "text", "doc_id").collect()
    }
    with pytest.raises(ValueError, match="hash_fn"):
        fingerprints(docs, "text", "doc_id", hash_fn="sha1")


def test_fuzzy_decontaminate_flags_cross_set_only(spark):
    """fuzzy_decontaminate's 100 TB contract: the train side never
    self-joins — two near-dup TRAIN docs with no eval sibling are NOT
    flagged; a train doc near-duplicating an EVAL doc is, with
    n_eval_matches counting every matching eval doc and max_jaccard
    carrying the best verify score."""
    from etl_acordos_spark.operators.dedup import fuzzy_decontaminate

    base = " ".join(f"w{i}" for i in range(40))
    leak = base + " tail_a"
    rows_train = [
        (1, leak),                                # leaks eval docs 100/101
        (2, " ".join(f"t{i}" for i in range(40))),  # in-train dup pair...
        (3, " ".join(f"t{i}" for i in range(40)) + " x"),  # ...with 2
        (4, " ".join(f"z{i}" for i in range(40))),  # clean
    ]
    rows_eval = [
        (100, base),
        (101, base + " tail_b"),
        (102, " ".join(f"e{i}" for i in range(40))),
    ]
    train = spark.createDataFrame(rows_train, ["doc_id", "text"])
    ev = spark.createDataFrame(rows_eval, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_eval_matches"], r["max_jaccard"])
        for r in fuzzy_decontaminate(
            train, ev, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert set(got) == {1}, got  # 2/3 near-dup each other, NOT eval
    n, mj = got[1]
    assert n == 2 and mj >= 0.5, got[1]


def test_bpe_train_distributed_branch_matches_driver_branch(spark):
    """bpe_train auto-selects a driver-side greedy loop when the
    collapsed vocabulary fits in the driver (the broadcast-crossover
    idiom — r13); past `driver_vocab_max` the distributed per-round
    loop runs instead. Both branches must emit the identical rule list
    (and match the pure-Python reference) on the tie-break/overlap
    corpus."""
    from etl_acordos_spark.operators.text import bpe_train

    corpus = [
        "low low low lower lowest",
        "new newer newest low",
        "aaaa aaaa aa",
    ]
    docs = spark.createDataFrame(
        [(i, c) for i, c in enumerate(corpus)], ["doc_id", "text"]
    )
    driver = [
        tuple(r)
        for r in bpe_train(docs, "text", "doc_id", n_merges=8).collect()
    ]
    distributed = [
        tuple(r)
        for r in bpe_train(
            docs, "text", "doc_id", n_merges=8, driver_vocab_max=0
        ).collect()
    ]
    assert driver == distributed == _ref_bpe(corpus, 8, 2)


def test_prefix_filter_keeps_exact_threshold_pairs(spark):
    """PPJoin pruning (r13: length + positional filters on the prefix
    candidate join) must prune only pairs that provably CANNOT reach
    the threshold — a pair at exactly threshold Jaccard sits on every
    bound's boundary and must survive to the verify stage."""
    from etl_acordos_spark.operators.dedup import prefix_filter_pairs

    common = [f"c{i}" for i in range(8)]
    rows = [
        (1, " ".join(common + ["onlya"])),   # |A|=9
        (2, " ".join(common + ["onlyb"])),   # |B|=9, inter=8, union=10
        (3, " ".join(f"z{i}" for i in range(9))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in prefix_filter_pairs(
            df, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert got == {(1, 2, 0.8)}
