"""Text analysis operators — token counting, quality scoring, language
ID, fingerprinting, corpus stats (LLM-pipeline extension, SURVEY.md
§2.6). Everything is a Catalyst column expression over one scan; no
Python per row, no shuffle except the final aggregate where one exists.
(One exception: `char_entropy` needs a per-doc character histogram,
which no builtin expresses — it uses the documented slow-path escape, a
map-only Arrow-batched pandas UDF.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Deliberately tiny public stopword lists — enough to demonstrate the
#: scoring/ID machinery; swap for real lists in production use.
STOPWORDS = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "los", "y", "que"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["le", "les", "et", "une"],
}

#: whitespace-word + BPE-ish regex (letters / digits / single symbol) —
#: ASCII classes only so Java and RE2 regex dialects agree.
TOKEN_REGEX = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace and regex token counts + char/byte lengths per doc."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0)).alias(
            "re_tokens"
        ),
        F.length(F.col(text_col)).alias("n_chars"),
        F.octet_length(F.col(text_col)).alias("n_bytes"),
    )


def char_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document character-level Shannon entropy (bits per char) —
    the classic gibberish/boilerplate quality signal: natural prose
    sits ~4 bits, key-mash and repeated-char junk fall well below,
    random base64 pushes toward log2(alphabet).

    entropy = log2(N) − (Σ_c n_c·log2 n_c)/N over the doc's char counts
    n_c — one pass, no shuffle. A per-doc histogram has no builtin
    column expression, so this is the module's one pandas-UDF operator:
    Arrow-batched, map-only, Counter+numpy per batch. Rounded to 4 dp so
    the engine's and the oracle's float summation orders agree.

    NULL/empty text has no character distribution, so those docs are
    DROPPED (not scored 0.0) — the same semantics a SQL engine gets for
    free from unnesting an empty char list, keeping engine and oracle
    row sets identical whatever the corpus contains.
    """
    import math
    from collections import Counter

    @F.pandas_udf("double")
    def ent(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts))
        for i, s in enumerate(texts):
            if s:
                counts = np.fromiter(
                    Counter(s).values(), dtype=np.float64
                )
                n = counts.sum()
                out[i] = math.log2(n) - float(counts @ np.log2(counts)) / n
        return pd.Series(out)

    return df.filter(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    ).select(
        F.col(id_col),
        F.round(ent(F.col(text_col)), 4).alias("char_entropy"),
    )


def _stop_hits(tok_col: str, lang: str) -> str:
    quoted = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"size(filter({tok_col}, x -> x IN ({quoted})))"


def quality_scores(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic quality score from length / lexical-diversity /
    word-shape / stopword-density signals, each clamped to [0,1] and
    equally weighted. The exact blend is arbitrary by design — the point
    is the single-pass, expression-only shape."""
    tok = df.select(
        F.col(id_col), F.col(text_col), F.split(F.col(text_col), " ").alias("tok")
    )
    # split() returns at least [""] for any non-NULL string, so
    # n_tokens >= 1; a NULL text gives NULL size -> NULL ratios (ANSI:
    # division by NULL is NULL, never DIVIDE_BY_ZERO)
    n_tokens = F.size("tok")
    distinct_ratio = F.size(F.array_distinct("tok")) / n_tokens
    avg_token_len = (
        F.length(F.regexp_replace(F.col(text_col), " ", "")) / n_tokens
    )
    stop_ratio = F.expr(_stop_hits("tok", "en")) / n_tokens
    blend = (
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.25
        + distinct_ratio * 0.25
        + F.least(avg_token_len / F.lit(8.0), F.lit(1.0)) * 0.25
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.25
    )
    return tok.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(avg_token_len, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        # arithmetic half-up rounding, NOT round(): engines disagree on
        # round() for doubles whose 15-digit decimal repr sits on a half
        # (0.42374999999999996 → Spark .4237, DuckDB .4238); floor of
        # the scaled double is bit-deterministic in both
        (F.floor(blend * 10000.0 + 0.5) / 10000.0).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Stopword-profile language ID: count hits per language's stopword
    set, predict the argmax (fixed priority order breaks ties, 'und' when
    no profile matches). One scan, no shuffle."""
    tok = df.select(
        F.col(id_col), F.split(F.lower(F.col(text_col)), " ").alias("tok")
    )
    hits = tok.select(
        F.col(id_col),
        *[
            F.expr(_stop_hits("tok", lang)).alias(f"hits_{lang}")
            for lang in STOPWORDS
        ],
    )
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("und"))
    for lang in langs:  # fixed order = deterministic tie-break
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return hits.select(
        F.col(id_col),
        *[F.col(f"hits_{lang}") for lang in langs],
        pred.alias("pred_lang"),
    )


def fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 16,
    step: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing-style document fingerprint: min digest over rolling
    character windows (window=16, step=4). Per-row expression — linear,
    shuffle-free (measured alpha_30 = 0.92: the pass is volume-bound
    with the per-window digest as the remaining cost).

    *hash_fn* follows the dedup family's convention: ``"xxhash64"``
    (default — one JVM hash per window, a long fingerprint; measured
    26% faster end-to-end at 30x — the substring-window
    materialization, not the digest, dominates the pass) or ``"md5"``
    (hex-string min, lexicographic — engine-portable, what the
    registered query runs so the DuckDB oracle replays it verbatim).
    Min-selection is well-defined in both: longs compare numerically,
    md5 hex compares lexicographically."""
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"fingerprints: hash_fn must be 'xxhash64' or 'md5', got"
            f" {hash_fn!r}"
        )
    wins = (
        f"transform(sequence(1, greatest(length({text_col}) - {window - 1}, 1),"
        f" {step}), i -> substring({text_col}, i, {window}))"
    )
    # n_windows = |sequence(1, G, step)| computed arithmetically — reusing
    # `size(wins)` would rebuild the whole substring array a second time
    # (Catalyst inlines the shared subexpression through collapsed projects)
    n_windows = (
        f"cast((greatest(length({text_col}) - {window - 1}, 1) - 1)"
        f" / {step} as int) + 1"
    )
    return df.select(
        F.col(id_col),
        F.expr(
            f"array_min(transform({wins}, w -> {hash_fn}(w)))"
        ).alias("fingerprint"),
        F.expr(n_windows).alias("n_windows"),
    )


def corpus_stats(df: DataFrame, text_col: str, lang_col: str) -> DataFrame:
    """Per-language corpus aggregates (doc counts, char/token means)."""
    tok = F.split(F.col(text_col), " ")
    return (
        df.select(
            F.col(lang_col),
            F.length(F.col(text_col)).alias("chars"),
            F.size(tok).alias("tokens"),
            F.size(F.array_distinct(tok)).alias("distinct_tokens"),
        )
        .groupBy(lang_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("chars"), 4).alias("avg_chars"),
            F.round(F.avg("tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("distinct_tokens"), 4).alias("avg_distinct_tokens"),
        )
    )


#: PII patterns — ASCII-only so the Java (Spark) and RE2 (DuckDB) regex
#: dialects agree byte-for-byte. Order matters: emails first (a phone
#: pattern could otherwise eat digit runs inside addresses).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+", "[EMAIL]"),
    (r"\+?[0-9][0-9() -]{6,}[0-9]", "[PHONE]"),
    (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
]


def pii_redact(df: DataFrame, text_col: str, out_col: str = "clean_text") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses from a text column.

    A training-data pipeline must scrub PII before anything downstream
    sees the text. Pure chained `regexp_replace` — JVM-side, one scan,
    map-only: at 100 TB this runs at reader throughput with zero shuffle
    and no Python in the path.
    """
    out = F.col(text_col)
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return df.withColumn(out_col, out)


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, round_rank: int = 6
) -> DataFrame:
    """Most-characteristic term per document by TF-IDF.

    tf = term count in the doc; idf = ln((N+1)/(df+1)). All relational:
    explode → two hash aggregates (term-frequency, document-frequency) →
    join on term → windowed top-1. The df table is term-cardinality
    sized (vocabulary, not corpus) — broadcastable at any corpus scale.
    Ranking compares scores rounded to *round_rank* digits (ties broken
    by term) so the winner is stable across engines' last-ulp `ln`
    differences.
    """
    from pyspark.sql import Window

    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tok.groupBy("term").agg(
        F.countDistinct(id_col).alias("doc_freq")
    )
    # corpus size as a lazy 1-row broadcast, not an eager df.count():
    # keeps the whole operator one plan (no driver-side action blocking
    # the build) and lets the scheduler overlap it with the tf/df aggs
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.round("score", round_rank).desc(), F.col("term")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "term", F.round("score", 4).alias("score"))
    )


def doc_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap
    (window=64 tokens, stride=48 ⇒ 16-token overlap) — the
    context-window chunking step that precedes sequence packing in a
    training-data pipeline.

    One scan + a row-multiplying explode, no shuffle: at 100 TB this
    runs at reader throughput and output volume is ~window/stride × the
    input. Chunk starts are 1, 1+stride, 1+2·stride, … while ≤ the token
    count, so every token lands in ≥1 chunk and short docs yield exactly
    one chunk.
    """
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
    )
    return (
        tok.select(
            id_col,
            "tok",
            F.posexplode(
                F.expr(f"sequence(1, size(tok), {stride})")
            ).alias("chunk_id", "chunk_start"),
        )
        .select(
            id_col,
            "chunk_id",
            "chunk_start",
            F.expr(f"size(slice(tok, chunk_start, {window}))").alias(
                "n_chunk_tokens"
            ),
            F.expr(
                f"array_join(slice(tok, chunk_start, {window}), ' ')"
            ).alias("chunk_text"),
        )
    )


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Repetition-based quality signals (the Gopher-style filters an
    LLM corpus pipeline applies before training): per document, the
    fraction of tokens that are repeats (1 − distinct/total) and the
    fraction of all bigrams taken by the single most frequent bigram.

    Shape: one map-only pass for the token stats; bigram explode → two
    hash aggregates (doc,bigram → doc) for the top-bigram share — both
    aggregates partial+final, keyed on the doc id, so the shuffle volume
    is bounded by the bigram vocabulary per doc, never the corpus. Docs
    with < 2 tokens have no bigrams; their share is 0.0 by definition.
    """
    tok = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
    )
    # bigram arrays cached before the explode (explode-over-HOF rule:
    # the interpreted transform would otherwise re-run per bigram row)
    bigram_arrays = tok.select(
        F.col(id_col),
        F.expr(
            "CASE WHEN size(tok) >= 2 THEN"
            " transform(sequence(1, size(tok) - 1),"
            "  i -> concat(element_at(tok, i), ' ', element_at(tok, i + 1)))"
            " ELSE array() END"
        ).alias("bgs"),
    ).cache()
    bigrams = bigram_arrays.select(
        F.col(id_col), F.explode("bgs").alias("bg")
    )
    top_share = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg((F.max("c") / F.sum("c")).alias("top_bigram_frac"))
    )
    token_stats = tok.select(
        F.col(id_col),
        F.size("tok").alias("n_tokens"),
        F.round(
            1 - F.size(F.array_distinct("tok")) / F.size("tok"), 4
        ).alias("dup_token_frac"),
    )
    return (
        token_stats.join(top_share, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "dup_token_frac",
            F.round(F.coalesce("top_bigram_frac", F.lit(0.0)), 4).alias(
                "top_bigram_frac"
            ),
        )
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 4,
) -> DataFrame:
    """Benchmark decontamination: flag every training document sharing
    at least one word *ngram*-gram with the (much smaller) evaluation
    set. Output: (id, n_shared_ngrams) for contaminated docs only.

    The eval side's distinct grams are broadcast — the training corpus
    never shuffles. Grams stay strings so the DuckDB oracle replays
    them exactly; the constant-memory at-scale form is
    `bloom_decontaminate`.
    """
    from etl_acordos_spark.operators.dedup import word_shingles

    def grams(df: DataFrame) -> DataFrame:
        tok = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
        )
        return tok.select(
            id_col,
            F.explode(word_shingles("tok", ngram)).alias("gram"),
        )

    eval_grams = grams(eval_docs).select("gram").distinct()
    return (
        grams(train)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("n_shared_ngrams"))
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 3,
    min_doc_frac: float = 0.01,
) -> DataFrame:
    """Corpus-boilerplate detection: the word *ngram*-grams present in
    at least *min_doc_frac* of documents — headers, footers, license
    blurbs, navigation chrome. Output: (gram, n_docs, doc_frac). The
    complement of `decontaminate`: there a fixed eval set probes the
    corpus; here the corpus reports on itself.

    Plan shape: per-doc DISTINCT shingles (dedup.word_shingles) explode
    to (doc, gram), then ONE hash aggregate per gram — partial
    aggregation collapses each map task to its local gram counts before
    the shuffle, so the exchange carries O(distinct grams · tasks), not
    O(total gram instances). The corpus doc count joins in as a lazy
    1-row cross join (no driver action)."""
    from etl_acordos_spark.operators.dedup import word_shingles

    tok = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("tok"))
    # cache the shingle ARRAYS before the explode — exploding the
    # interpreted-HOF shingle expression re-evaluates the whole array
    # per output row (see README's explode-over-HOF note)
    gram_arrays = tok.select(
        F.col(id_col), word_shingles("tok", ngram).alias("gs")
    ).cache()
    doc_grams = gram_arrays.select(
        F.col(id_col), F.explode("gs").alias("gram")
    )
    total = df.agg(F.count("*").alias("n_total"))
    return (
        doc_grams.groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_docs") / F.col("n_total") >= min_doc_frac)
        .select(
            "gram",
            "n_docs",
            F.round(F.col("n_docs") / F.col("n_total"), 4).alias("doc_frac"),
        )
    )


def lm_score(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document surprisal under the corpus's own unigram LM —
    bits/token = −mean log2 P(w), the cheap in-engine proxy for the
    perplexity filters (KenLM-style) real pipelines run: documents of
    corpus-typical words score low, rare-token gibberish scores high.

    Plan: one explode+agg builds the unigram model, a 1-row total joins
    in-plan, and the scored pass joins tokens→probs then re-aggregates
    per doc. The vocab join is left to Catalyst (auto-broadcast here);
    at 100 TB cap the model to a top-V vocab + OOV bucket so the
    broadcast stays MBs, or let the token-keyed shuffle join run with
    AQE handling stopword skew. MLE over the full corpus vocab means no
    OOV smoothing is needed — every token has corpus support."""
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("n")).withColumn("_k", F.lit(1))
    probs = (
        vocab.withColumn("_k", F.lit(1))
        .join(F.broadcast(total), "_k")
        # n = sum of vocab counts >= c >= 1 whenever a vocab row exists
        # — the divisor is structurally positive (ANSI-safe)
        .select("w", F.log2(F.col("c") / F.col("n")).alias("logp"))
    )
    return (
        tok.join(probs, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(-F.avg("logp"), 4).alias("bits_per_token"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 3,
    backoff_alpha: float = 0.4,
) -> DataFrame:
    """Per-document surprisal under a corpus-trained bigram LM with
    stupid backoff — bits/bigram = −mean log2 P(w_i | w_{i−1}), the
    next step up from :func:`lm_score`'s unigram proxy toward the real
    KenLM-style perplexity filters (CCNet trains an actual LM; a
    conditional model separates "common words in impossible order"
    from genuinely typical prose, which a unigram model cannot).

    ``P(w2 | w1) = c(w1,w2) / c(w1·)`` when the bigram has at least
    *min_count* corpus occurrences, else stupid backoff
    ``alpha · c(w2) / N`` (Brants et al. 2007 — no discounting to keep
    the closed form oracle-exact; alpha 0.4 is the published default).
    Training on the scored corpus itself means every bigram HAS corpus
    support, so *min_count* is what makes the backoff path real: rare
    pairs fall through to the unigram score instead of memorizing
    themselves.

    Plan shape: one scan tokenizes and explodes positional pairs; the
    bigram/context/unigram models are three hash aggregates off that
    stream; corpus total N joins as a 1-row broadcast; the scoring pass
    left-joins the (min-count-filtered) bigram model and coalesces into
    the backoff expression, then re-aggregates per document. Shuffles
    carry word pairs and counts, never document bodies. At 100 TB cap
    the models to a top-V vocabulary + OOV bucket so the model join
    stays broadcastable — here the joins are word-keyed shuffles that
    AQE downgrades to broadcasts while the vocab is dim-sized. The
    first token of each document has no context and is standard-skipped
    (documents under 2 tokens drop out entirely, matching the oracle's
    inner join over an empty bigram set)."""
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tk")
    )
    # positional pairs via the map-side HOF idiom (pmi_collocations):
    # guard size>=2 because sequence(1, 0) would generate DESCENDING
    bg = toks.filter(F.size("tk") >= 2).select(
        F.col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1),"
                " i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
            )
        ).alias("p"),
    ).select(F.col(id_col), F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # context totals derive from the bigram table (vocab-sized), not a
    # second pass over the pair stream
    cctx = c2.groupBy("w1").agg(F.sum("c2").alias("cc"))
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    n_total = uni.agg(F.sum("c1").alias("n")).withColumn("_k", F.lit(1))
    bi_model = (
        c2.filter(F.col("c2") >= min_count)
        .join(cctx, "w1")
        # cc = sum of c2 over the context >= c2 >= 1, so the divisor is
        # structurally positive (ANSI-safe); same for the unigram
        # n >= c1 >= 1 below
        .select(
            "w1", "w2", F.log2(F.col("c2") / F.col("cc")).alias("logp_bi")
        )
    )
    uni_model = (
        uni.withColumn("_k", F.lit(1))
        .join(F.broadcast(n_total), "_k")
        .select(
            F.col("w").alias("w2"),
            F.log2(F.lit(backoff_alpha) * F.col("c1") / F.col("n")).alias(
                "logp_uni"
            ),
        )
    )
    scored = (
        bg.join(bi_model, ["w1", "w2"], "left")
        .join(uni_model, "w2")
        .select(
            F.col(id_col),
            F.coalesce(F.col("logp_bi"), F.col("logp_uni")).alias("logp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        (
            F.floor(-F.avg("logp") * 10000.0 + 0.5) / 10000.0
        ).alias("bits_per_bigram"),
    )


def mixture_sample(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    id_col: str,
    weights: dict[str, float],
    budget_frac: float = 0.5,
) -> DataFrame:
    """Corpus mixture rebalancing: sample each language at the rate that
    makes the kept corpus approximate the target token mixture *weights*
    within a token budget of *budget_frac* × total tokens — the step that
    turns a raw crawl's accidental language mix into a training recipe's
    intended one (the DoReMi/llama-style "data mixture" applied at the
    sampling layer).

    Per-lang acceptance rate r_l = min(1, B·w_l / T_l) with T_l the
    lang's token total and B the token budget — a lang under its target
    share is taken whole (rate 1, it cannot be upsampled by dropping),
    an over-represented one is thinned. Acceptance is the deterministic
    multiplicative id hash (same family as `ext_train_test_split` /
    `domain_cap`), so re-runs and engines agree row-for-row.

    Plan shape: one token-count scan → one tiny per-lang aggregate →
    rates derived in-plan and BROADCAST back — the corpus never
    shuffles; the second scan pass is a map-side hash filter. Output is
    the per-lang audit (kept docs/tokens, rate) a pipeline logs next to
    the sampled write. Weights for langs absent from *weights* are 0 —
    unknown languages are dropped, the conservative default for a
    training mix."""
    w_expr = F.coalesce(
        *[
            F.when(F.col(lang_col) == lng, F.lit(float(w)))
            for lng, w in sorted(weights.items())
        ],
        F.lit(0.0),
    )
    tok = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        F.size(F.split(F.col(text_col), " ")).alias("n_tok"),
        w_expr.alias("w"),
    )
    totals = tok.groupBy("lang").agg(
        F.sum("n_tok").alias("t_lang"), F.first("w").alias("w")
    )
    grand = totals.agg(
        (F.sum("t_lang") * budget_frac).alias("budget")
    ).withColumn("_k", F.lit(1))
    rates = (
        totals.withColumn("_k", F.lit(1))
        .join(F.broadcast(grand), "_k")
        .select(
            "lang",
            F.least(
                F.lit(1.0), F.col("budget") * F.col("w") / F.col("t_lang")
            ).alias("rate"),
        )
    )
    from etl_acordos_spark.functions.hashing import unit_hash

    u = unit_hash(F.col("id"))
    return (
        tok.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.round(F.first("rate"), 6).alias("rate"),
        )
    )


def pack_chunks(
    chunks: DataFrame,
    id_col: str,
    chunk_col: str,
    tokens_col: str,
    budget: int = 256,
    shards: int = 8,
) -> DataFrame:
    """Sequence packing (concat-and-slice): assign every chunk to a
    fixed-token-budget pack, GPT-pretraining style — the shard's chunk
    stream is logically concatenated and sliced every *budget* tokens,
    so pack_id = floor(exclusive-running-token-total / budget).

    Docs are hash-sharded so packing parallelizes: each shard is an
    independent (shard, doc, chunk)-ordered window — one shuffle, state
    O(1) per shard. Output is the per-pack manifest (shard, pack_id,
    n_chunks, n_tokens) a downstream loader would consume.
    """
    from pyspark.sql import Window

    sharded = chunks.withColumn(
        "shard", (F.col(id_col) % shards).cast("int")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, chunk_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "pack_id",
        F.floor(
            F.coalesce(F.sum(tokens_col).over(w), F.lit(0)) / budget
        ).cast("int"),
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(tokens_col).cast("long").alias("n_tokens"),
        )
    )


def pack_best_fit(
    chunks: DataFrame,
    id_col: str,
    chunk_col: str,
    tokens_col: str,
    budget: int = 256,
    shards: int = 8,
) -> DataFrame:
    """Best-fit-decreasing bin packing of chunks into fixed-budget
    packs WITHOUT splitting a chunk across packs — the
    attention-boundary-preserving alternative to :func:`pack_chunks`'s
    concat-and-slice (which fills every pack exactly but cuts
    sequences mid-thought). Token-budget utilization is training-cost
    money: BFD's fill rate is the measured number, compared against
    greedy in tests/test_operators.py.

    Within each doc-hash shard, chunks sorted by (tokens DESC, id,
    chunk) are placed into the fullest open pack that still fits,
    else a new pack — textbook BFD (≤ 11/9·OPT + 4 bins). Packing is
    inherently sequential, so it runs per-shard via `applyInPandas`
    (the sanctioned Python escape hatch): shards are independent, the
    per-shard state is just the open-pack fill table, and parallelism
    at 100 TB comes from raising *shards* so each shard's chunk list
    stays executor-sized — packing quality is per-shard, which is the
    operating point real loaders use anyway (a global BFD would
    serialize the corpus). Deterministic: the shard key, the sort, and
    tie-breaks are all pure functions of the input ids.

    Returns the per-pack manifest (shard, pack_id, n_chunks,
    n_tokens); pack_id numbers packs in creation order within shard.
    A chunk LARGER than the budget cannot be packed without splitting
    (that's pack_chunks' semantics, not this operator's) — it raises
    in the executor rather than silently emitting an over-budget pack
    a loader sized to the budget would truncate.
    """
    id_c, ch_c, tok_c = id_col, chunk_col, tokens_col

    def bfd(pdf: pd.DataFrame) -> pd.DataFrame:
        import heapq

        pdf = pdf.sort_values(
            [tok_c, id_c, ch_c], ascending=[False, True, True]
        )
        shard = int(pdf["shard"].iloc[0]) if len(pdf) else 0
        fills: list[int] = []
        counts: list[int] = []
        # fill-level bucket index: at_level[f] holds a min-heap of the
        # indices of open bins currently filled to exactly f tokens.
        # Placement = scan levels budget-tok .. 0 downward for the
        # first non-empty bucket (the FULLEST feasible fill) and pop
        # its smallest bin index — identical choices to the naive
        # "argmax fill, first index wins" scan, but O(budget) per
        # chunk instead of O(open bins): the naive scan made a 10x
        # shard go 100x (alpha 1.26 at the r10 scale smoke); this is
        # O(n·budget + n log n) per shard — linear in chunks.
        at_level: list[list[int]] = [[] for _ in range(budget + 1)]
        for tok in pdf[tok_c].astype("int64").to_numpy():
            tok = int(tok)
            if tok > budget:
                raise ValueError(
                    f"pack_best_fit: chunk of {int(tok)} tokens exceeds "
                    f"the {budget}-token budget — split oversize chunks "
                    "upstream (doc_chunks) before packing"
                )
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
        return pd.DataFrame(
            {
                "shard": shard,
                "pack_id": range(len(fills)),
                "n_chunks": counts,
                "n_tokens": fills,
            }
        )

    sharded = chunks.select(
        (F.col(id_col) % shards).cast("int").alias("shard"),
        F.col(id_col),
        F.col(chunk_col),
        F.col(tokens_col),
    )
    return sharded.groupBy("shard").applyInPandas(
        bfd, "shard int, pack_id int, n_chunks bigint, n_tokens bigint"
    )


def passage_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    words_per_passage: int = 10,
) -> DataFrame:
    """Global passage-level dedup (the C4 "three-sentence span" rule,
    re-expressed over deterministic word windows because the corpus has
    no sentence markers): split every document into consecutive
    ``words_per_passage``-word passages, keep each distinct passage only
    at its first occurrence ordered by (doc_id, passage index), and
    reassemble documents from their surviving passages.

    Returns ``(id_col, text, n_passages)`` — documents whose every
    passage was seen earlier elsewhere disappear entirely.

    Scale shape (100 TB): chunking is map-side Catalyst HOFs (split +
    sequence + slice — no Python). The dedup decision shuffles only
    ``(xxhash64(passage), doc_id, passage_idx)`` — never passage bodies
    — through one map-side-combinable hash aggregate (min-struct per
    digest, no per-digest sort); the surviving indexes are folded to one
    ``keep``-array row per doc (ids-only shuffle), and a single
    doc_id-keyed join hands each document its keep-set, after which the
    rebuild (re-chunk + filter by index + re-join words) is pure
    map-side. Document text crosses the wire exactly once, and the plan
    never groups-by or windows over passage bodies.
    """
    n = words_per_passage
    chunk_expr = (
        f"transform(sequence(1, size(w), {n}),"
        f" s -> array_join(slice(w, s, {n}), ' '))"
    )
    words = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    # digest arrays are CACHED before the explode: exploding an
    # interpreted-HOF-computed array re-evaluates the whole chunk+hash
    # pipeline per OUTPUT row (O(passages²·words) per doc); the cached
    # projection evaluates once per doc and the explode reads
    # materialized arrays (spillable MEMORY_AND_DISK, ids+digests only)
    digest_arrays = words.select(
        id_col,
        F.expr(f"transform({chunk_expr}, p -> xxhash64(p))").alias("digs"),
    ).cache()
    digests = digest_arrays.select(
        id_col, F.posexplode("digs").alias("pidx", "dig")
    )
    # first occurrence per digest as min(struct(id, pidx)) — a hash
    # aggregate with MAP-SIDE partial aggregation, so each input
    # partition ships at most one candidate winner per digest instead
    # of every (dig, id, pidx) tuple into a per-digest sort window
    keep_sets = (
        digests.groupBy("dig")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("id"), F.col("pidx").alias("pidx")
                )
            ).alias("win")
        )
        .groupBy(F.col("win.id").alias(id_col))
        .agg(F.collect_list("win.pidx").alias("keep"))
    )
    rebuilt = words.join(keep_sets, [id_col], "inner").select(
        id_col,
        F.expr(
            "filter("
            f" transform({chunk_expr}, (p, i) -> struct(i as i, p as p)),"
            " c -> array_contains(keep, c.i))"
        ).alias("kept"),
    )
    return rebuilt.select(
        id_col,
        F.expr("array_join(transform(kept, c -> c.p), ' ')").alias("text"),
        F.size("kept").cast("long").alias("n_passages"),
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int = 4,
    m_bits: int = 1 << 22,
    k_hashes: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Constant-memory benchmark decontamination: the eval set's word
    *ngram*-grams are folded into an *m_bits* Bloom filter (k_hashes
    seeded hash probes per gram) and every training document is
    flagged with the count of its distinct grams the filter claims to
    contain. Output: (id, n_bloom_hits) for flagged docs only — a
    superset of the exact `decontaminate` hit set (false positives at
    rate ~(k·n/m)^k, zero false negatives; callers route flagged docs
    to the exact re-check).

    Why this exists next to `decontaminate`: the exact path
    broadcasts every distinct eval gram, so its executor footprint
    grows with the eval suite; the Bloom bitset is a FIXED m_bits/8
    bytes (512 KiB at the default) no matter how many benchmarks are
    folded in — and the 100 TB train scan still never shuffles.

    Probe shape: Catalyst computes the k positions per gram map-side
    (Kirsch-Mitzenmacher double hashing carved from the gram hash —
    pure integer HOFs, bit-compatible with the build, no per-seed
    hashing), and a vectorized pandas UDF tests them against ONE
    `sc.broadcast` numpy bitset per executor. The bitset must NOT be a
    broadcast-join column: a join materializes the 512 KiB array onto
    every output row (measured 8× slower at sf0.1 before this shape).

    The bitset is built distributively (grams → k bit positions →
    distinct), and only the positions ever reach the driver — bounded
    by k·|eval grams|, independent of corpus size.
    """
    from etl_acordos_spark.operators.dedup import hashed_word_shingles

    assert m_bits % 64 == 0, "m_bits must pack into 64-bit words"
    m = m_bits

    def gram_sets(df: DataFrame) -> DataFrame:
        tok = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
        )
        return tok.select(
            id_col,
            hashed_word_shingles("tok", ngram, hash_fn=hash_fn).alias("gs"),
        )

    # k positions per gram with ZERO additional hash calls: Kirsch-
    # Mitzenmacher double hashing (pos_s = h1 + s·h2 mod m) carved
    # from the gram hash g itself — h1 = g's low lg(m) bits, h2 = the
    # bits above them, stride forced odd so the k positions are
    # distinct mod a power-of-two m. Replaces the r7 scheme of one
    # seeded hash per (gram, seed): the md5 family paid 3 extra md5
    # STRING round-trips per gram on top of the gram hash (4 total —
    # the whole reason the key's anchor sat at 1.86 s), now 1; the
    # xxhash64 family drops its 3 per-gram seeded JVM hashes too. The
    # integer derivation is replayed verbatim by the DuckDB oracle
    # (g % m, g // m, same odd stride), keeping the bit-for-bit
    # build+probe replay of the round-7 promotion.
    pos_expr = (
        f"transform(sequence(0, {k_hashes - 1}),"
        f" s -> pmod(pmod(g, {m}) + s * (2 * (g div {m}) + 1), {m}))"
    )

    # DISTRIBUTED bitset build: positions fold into 64-bit words with
    # `bit_or` on the executors, so the driver collects at most m/64
    # rows (65,536 at the default) regardless of eval-suite size — a
    # million-gram eval corpus never ships raw positions to the driver.
    # The position arrays are cached before the explode (exploding an
    # interpreted-HOF-computed array re-evaluates the whole array per
    # OUTPUT row — measured 4.7s vs 0.3s on a 100-doc eval split).
    pos_arrays = (
        gram_sets(eval_docs)
        .select(
            F.expr(
                f"array_distinct(flatten(transform(gs, g -> {pos_expr})))"
            ).alias("ps")
        )
        .cache()
    )
    try:
        word_rows = (
            pos_arrays.select(F.explode("ps").alias("p"))
            .select(
                F.expr("p div 64").alias("widx"),
                F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
            )
            .groupBy("widx")
            .agg(F.expr("bit_or(bit)").alias("word"))
            .collect()
        )
    finally:
        pos_arrays.unpersist()
    bits = np.zeros(m // 64, dtype=np.uint64)
    for r in word_rows:
        bits[r["widx"]] = np.uint64(r["word"] & 0xFFFFFFFFFFFFFFFF)
    bits_bc = train.sparkSession.sparkContext.broadcast(bits)
    k = k_hashes

    def probe(batches):
        B = bits_bc.value
        for pdf in batches:
            hits = np.zeros(len(pdf), dtype=np.int32)
            for i, ps in enumerate(pdf["ps"]):
                # NULL text → NULL position array: treat as no grams
                p = np.asarray(
                    ps if ps is not None else [], dtype=np.int64
                )
                if p.size == 0:
                    continue
                hit = (
                    B[p // 64] >> (p % 64).astype(np.uint64)
                ) & np.uint64(1)
                hits[i] = int(hit.reshape(-1, k).all(axis=1).sum())
            flagged = hits > 0
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col][flagged],
                    "n_bloom_hits": hits[flagged],
                }
            )

    pos_per_doc = f"flatten(transform(gs, g -> {pos_expr}))"
    return (
        gram_sets(train)
        .select(id_col, F.expr(pos_per_doc).alias("ps"))
        .mapInPandas(probe, schema=f"{id_col} bigint, n_bloom_hits int")
    )


def quality_band_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    lo: float = 0.2,
    hi: float = 0.995,
) -> DataFrame:
    """Quantile-band quality filter — the standard corpus-prep step of
    dropping the worst *lo* tail and the top (1-*hi*) outliers (too-good
    is usually templated/boilerplate) by heuristic quality score.
    Output: (id, quality) of surviving docs.

    The thresholds come from ONE extra aggregate over the scored scan
    (exact `percentile`; swap for `approx_percentile` when the score
    distribution is too wide to sort per group at the target scale) and
    join back as a broadcast single row — the corpus never shuffles.

    Thresholds are floored to the score's own 4-dp grid (with a 1e-6
    pre-floor nudge) so the band comparison is an exact compare between
    two 4-dp numbers — an independent engine replaying this filter
    (e.g. the SQL oracle, whose interpolated quantile may differ in the
    last ulp) makes identical keep/drop decisions at the boundary.
    """
    scored = quality_scores(df, text_col, id_col).select(
        F.col(id_col), F.col("quality")
    )
    grid = lambda c: F.floor(c * 10000.0 + 1e-6) / 10000.0  # noqa: E731
    th = scored.agg(
        grid(F.expr(f"percentile(quality, {lo!r})")).alias("qlo"),
        grid(F.expr(f"percentile(quality, {hi!r})")).alias("qhi"),
    )
    return (
        scored.join(F.broadcast(th))
        .filter(
            (F.col("quality") >= F.col("qlo"))
            & (F.col("quality") <= F.col("qhi"))
        )
        .select(id_col, "quality")
    )


def ppl_buckets(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    id_col: str,
) -> DataFrame:
    """CCNet-style perplexity bucketing: per language, split documents
    into head / middle / tail terciles of LM surprisal (bits/token
    under the corpus's own unigram model — `lm_score`). Training
    recipes keep 'head', sample 'middle', and drop or down-weight
    'tail'; doing it per language stops high-resource languages from
    defining the threshold for low-resource ones.

    One scored scan + one tiny per-language percentile aggregate joined
    back broadcast (#languages rows). Tercile thresholds are floored to
    the score's 4-dp grid (same convention as `quality_band_filter`) so
    the bucket boundary decisions replay exactly in an independent
    engine.
    """
    scores = lm_score(df, text_col, id_col)
    scored = scores.join(
        df.select(F.col(id_col), F.col(lang_col).alias("lang")), id_col
    )
    grid = lambda c: F.floor(c * 10000.0 + 1e-6) / 10000.0  # noqa: E731
    th = scored.groupBy("lang").agg(
        grid(
            F.expr("percentile(bits_per_token, CAST(1 AS DOUBLE)/3)")
        ).alias("p33"),
        grid(
            F.expr("percentile(bits_per_token, CAST(2 AS DOUBLE)/3)")
        ).alias("p67"),
    )
    return (
        scored.join(F.broadcast(th), "lang")
        .select(
            id_col,
            "lang",
            "bits_per_token",
            F.when(F.col("bits_per_token") <= F.col("p33"), "head")
            .when(F.col("bits_per_token") <= F.col("p67"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


# ------------------------------------------------------------------ BM25


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    keep_order_key: bool = False,
) -> DataFrame:
    """Okapi BM25 relevance of every document to a FIXED small query —
    the query-based corpus curation primitive (rank a crawl against
    "what does good data for my domain look like" probe queries).

    Scale shape: per-term tf is a map-only `filter` HOF over the token
    array — for a fixed query there is no reason to build the full
    (doc, term) posting-list explode that general TF-IDF needs; the
    corpus statistics (N, avgdl, per-term document frequency) are ONE
    tiny aggregate row broadcast back over the scan (the same 1-row
    pattern as tfidf/lm_score), so the whole plan is scan → map → 1-row
    broadcast join → TakeOrdered(k). Nothing wider than (id, a few
    ints) ever shuffles.

    No reference parity — the reference has no text retrieval
    (SURVEY.md §2.6 extension surface).
    """
    if not query_terms:
        raise ValueError("bm25_topk: query_terms must be non-empty")
    # NULL text must be dropped, not tokenized (same convention as
    # span_dup_profile): under non-ANSI mode size(NULL) = -1, which
    # would poison avgdl and score NULL docs with garbage tf=-1
    tok = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tk")
    )

    def tf_of(term: str):
        # single-arg lambda only: a second parameter would be bound to
        # the ELEMENT INDEX by the HOF protocol, not a closure default
        return F.size(F.filter(F.col("tk"), lambda x: x == F.lit(term)))

    base = tok.select(
        id_col,
        F.size("tk").alias("dl"),
        *[tf_of(t).alias(f"tf{i}") for i, t in enumerate(query_terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count_if(F.col(f"tf{i}") > 0).alias(f"df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    parts = []
    for i in range(len(query_terms)):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf{i}")
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        parts.append(idf * tf * F.lit(k1 + 1.0) / norm)
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return (
        scored.select(
            F.col(id_col),
            F.round(score, 4).alias("score"),
            F.round(score, 6).alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), F.col(id_col).asc())
        .limit(k)
        # keep_order_key exposes the 6-dp sort key so downstream rank
        # consumers (rrf_fuse) rank on the SAME precision the top-k cut
        # used — re-ranking the 4-dp display score could reorder ties
        .select(id_col, "score", *(["_ord"] if keep_order_key else []))
    )


# ------------------------------------------------- span duplication


def span_dup_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 20,
    keep_below: float = 0.5,
) -> DataFrame:
    """Cross-document span-duplication profile: hash every OVERLAPPING
    *window*-token span of every document and count, per document, how
    many of its spans occur more than once in the whole corpus
    (including within-document repeats). The substring-level
    duplication signal behind "Deduplicating Training Data Makes
    Language Models Better" (Lee et al., 2022) — passage dedup sees
    only aligned chunks, this sees duplication at ANY offset.

    Output: (id, n_spans, n_dup_spans, dup_ratio, keep) where keep =
    dup_ratio < *keep_below* — the gate a curation pipeline applies.

    Scale shape: spans are emitted as 64-bit hashes straight from the
    token array (one xxhash64 over the window's tokens per position —
    no span strings materialize); the span-hash arrays are cached
    before the explode (the explode-over-HOF landmine); everything that
    shuffles is (id, hash) pairs and hash counts. Documents shorter
    than the window contribute their whole text as one span; NULL-text
    documents are DROPPED (SQL semantics — a NULL span matches nothing
    in a group-by/join, so an engine computing this relationally never
    sees those docs; same convention as `char_entropy`).
    """
    from etl_acordos_spark.operators.dedup import hashed_word_shingles

    tok = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("tok")
    )
    sp = tok.select(
        F.col(id_col),
        hashed_word_shingles("tok", window, distinct=False).alias("spans"),
    ).cache()
    ex = sp.select(id_col, F.explode("spans").alias("dig"))
    counts = ex.groupBy("dig").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        ex.join(counts, "dig")
        .groupBy(id_col)
        .agg(F.count_if(F.col("c") > 1).alias("n_dup_spans"))
    )
    return (
        sp.select(id_col, F.size("spans").cast("bigint").alias("n_spans"))
        .join(per_doc, id_col)
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 4
            ).alias("dup_ratio"),
            (
                F.col("n_dup_spans").cast("double") / F.col("n_spans")
                < F.lit(keep_below)
            ).alias("keep"),
        )
    )


#: distinct-word count up to which `bpe_train` runs its greedy rounds in
#: the driver; tests force the distributed rounds by patching it to 0
BPE_DRIVER_VOCAB_MAX = 65536


def bpe_train(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_merges: int = 10,
    min_freq: int = 2,
) -> DataFrame:
    """Learn byte-pair-encoding merge rules over the corpus — the
    tokenizer-training job of an LLM data pipeline (Sennrich et al.
    2016 shape: word-frequency-weighted adjacent-symbol pair counts,
    greedy best-pair merge per round, ``</w>`` end-of-word marker).

    Returns (merge_idx, left, right, merged, pair_freq) — one row per
    learned rule, in learning order.

    Distribution shape: the corpus collapses to a DISTINCT-WORD table
    (word, freq) first — one shuffle on the word — so every later
    round runs over vocabulary rows, not corpus rows (at 100 TB the
    vocabulary is millions of rows while the corpus is trillions of
    tokens; this collapse is what makes distributed BPE feasible).

    Branch crossover (r13, the broadcast-crossover idiom): once
    collapsed, the vocabulary is often SMALL — when it holds at most
    `BPE_DRIVER_VOCAB_MAX` rows (probe: one count over the checkpointed
    leaf) the greedy rounds run in the DRIVER over the collected
    (syms, freq) rows, exactly the loop real tokenizer trainers run
    single-process over word counts. The 12 distributed rounds at
    sf0.1 were 24 jobs over a 31-row table — ~0.25 s of pure
    scheduling per round (r13 profile, OPTIMIZATION_r13.md);
    the driver loop replaces them with one collect. 64Ki rows of
    (short symbol list, count) is a few MB in the driver — the same
    order as a broadcast join's build side. Bit-parity with the
    distributed branch is pinned by
    tests/test_operators.py::test_bpe_train_distributed_branch_matches_driver_branch,
    which forces the distributed rounds by patching the constant to 0
    (both branches also match the pure-Python reference BPE).

    Past the crossover, each round is: HOF pair-explode → one
    (pair, freq) hash aggregate → driver argmax of ONE row (freq desc,
    then lexicographic — fully deterministic) → map-only HOF merge
    fold over the symbol arrays, with the fold GUARDED by an adjacent-
    pair containment predicate so only words containing the just-merged
    pair pay the quadratic array fold (r13; the predicate is one O(len)
    scan, the fold allocates O(len²) — at scale most words skip most
    rounds: 6-16% contained the merged pair per round in the r13
    profile). The per-round fold wraps arrays in new HOF lambdas, so
    the word table is localCheckpoint-ed every round — iterative
    lineage MUST be cut by hand or the analyzer cost doubles per round.

    Not ANSI-SQL-expressible (per-round argmax feeds the next round's
    rewrite) — correctness is pinned by a pure-Python reference BPE in
    tests/test_operators.py.
    """
    if n_merges < 1:
        raise ValueError(f"bpe_train: n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(
            F.explode(F.split(F.col(text_col), " +")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            F.concat(
                F.expr("regexp_extract_all(word, '.', 0)"),
                F.array(F.lit("</w>")),
            ).alias("syms"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    schema = (
        "merge_idx int, left string, right string, merged string,"
        " pair_freq bigint"
    )
    if words.count() <= BPE_DRIVER_VOCAB_MAX:
        vocab = [
            [list(r["syms"]), int(r["freq"])] for r in words.collect()
        ]
        return spark.createDataFrame(
            _bpe_train_driver(vocab, n_merges, min_freq), schema
        )
    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(n_merges):
        pair_counts = (
            words.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2),"
                        " i -> struct(syms[i] AS l, syms[i + 1] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(
                F.col("pair_freq").desc(), F.col("l").asc(), F.col("r").asc()
            )
            .limit(1)
            .collect()
        )
        if not pair_counts or pair_counts[0]["pair_freq"] < min_freq:
            break
        left, right = pair_counts[0]["l"], pair_counts[0]["r"]
        freq = int(pair_counts[0]["pair_freq"])
        merged = left + right
        merges.append((it + 1, left, right, merged, freq))

        # closure FACTORY, not default-arg capture: pyspark counts a
        # lambda's parameters to build the JVM lambda, so extra
        # defaulted params break the HOF signature check
        def make_fold(_l: str, _r: str, _m: str):
            def fold(acc: Column, x: Column) -> Column:
                return F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(_l))
                    & (x == F.lit(_r)),
                    F.concat(
                        F.slice(acc, F.lit(1), F.size(acc) - 1),
                        F.array(F.lit(_m)),
                    ),
                ).otherwise(F.concat(acc, F.array(x)))

            return fold

        fold = make_fold(left, right, merged)

        # fold guard (r13): the fold on a word NOT containing the
        # adjacent (left, right) pair is the identity, but still pays
        # an O(len²) chain of array concats per word — one cheap
        # zip_with/exists scan skips it (CaseWhen evaluates the fold
        # branch only on hit rows)
        n_syms = F.size("syms")
        hit = F.exists(
            F.zip_with(
                F.slice("syms", 1, n_syms - 1),
                F.slice("syms", 2, n_syms - 1),
                lambda a, b: (a == F.lit(left)) & (b == F.lit(right)),
            ),
            lambda p: p,
        )
        words = words.select(
            F.when(
                hit,
                F.aggregate(
                    "syms", F.array().cast("array<string>"), fold
                ),
            )
            .otherwise(F.col("syms"))
            .alias("syms"),
            "freq",
        ).localCheckpoint(eager=True)
    return spark.createDataFrame(merges, schema)


def _bpe_train_driver(
    vocab: list, n_merges: int, min_freq: int
) -> list:
    """The greedy BPE rounds over a COLLECTED (syms, freq) vocabulary —
    the below-crossover branch of `bpe_train`. Bit-identical to the
    distributed loop by construction: exact integer pair counts, the
    same (freq desc, left, right) argmax (Python's code-point string
    order equals Spark's UTF8 binary order on valid UTF-8), and the
    same greedy left-to-right fold ('aaa' under (a,a) → [aa, a])."""
    merges: list[tuple[int, str, str, str, int]] = []
    for it in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for a, b in zip(syms, syms[1:]):
                key = (a, b)
                counts[key] = counts.get(key, 0) + freq
        if not counts:
            break
        (left, right), pair_freq = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pair_freq < min_freq:
            break
        merged = left + right
        merges.append((it + 1, left, right, merged, int(pair_freq)))
        for row in vocab:
            syms = row[0]
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            row[0] = out
    return merges


def bpe_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list,
) -> DataFrame:
    """Encode documents with learned BPE *merges* (the rule list
    `bpe_train` emits: ordered (left, right) pairs) — the apply side of
    the tokenizer pipeline. Returns (id, n_words, n_bpe_tokens,
    chars_per_token) per document.

    Rules are applied SEQUENTIALLY in rank order, one greedy
    left-to-right pass each — exactly the rewrite the trainer performed
    per round, so encoding the training corpus reproduces the trainer's
    final symbol state bit-for-bit (unit-tested against the same
    pure-Python reference).

    The documented slow-path escape: tokenizer encode is per-symbol
    branching no Catalyst expression covers at rule-list depth, so this
    is an Arrow-batched pandas UDF (mapInPandas, map-only, zero
    shuffle) with a per-TASK DISTINCT-WORD cache (r12; bounded at ~1M
    entries, r13) — each unique word is encoded once per task
    regardless of its corpus frequency, which at 100 TB
    (Zipf-distributed words) collapses almost all per-row work into
    dict lookups. The rule list rides in the closure (KBs).

    Tokenization mirrors the TRAINER exactly, not Python defaults:
    words split on SPACE runs only (``split(text, ' +')`` — Python's
    ``str.split()`` would also split on tabs/newlines the trainer
    keeps inside a word), and symbols come from the Java-regex ``'.'``
    the trainer uses, which drops line-terminator characters — both
    re-implemented here so a corpus containing ``\\n``/``\\r`` still
    reproduces the trainer's symbol state.
    """
    import re

    rules = [(str(l), str(r)) for l, r in merges]
    # Java regex '.' (the trainer's regexp_extract_all(word, '.', 0))
    # excludes the five line terminators; Python's '.' keeps '\r', so
    # an explicit class is required for bit-parity
    _sym_re = re.compile("[^\n\r\x85\u2028\u2029]")
    _word_re = re.compile(" +")

    def encode_word(word: str) -> int:
        syms = _sym_re.findall(word) + ["</w>"]
        for left, right in rules:
            out: list = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            syms = out
        return len(syms)

    def run(batches):
        # ONE cache per task, not per Arrow batch (guide §4.5: amortize
        # heavyweight per-row work across every batch in the partition)
        # — each unique word is now encoded once per TASK, so a
        # many-batch partition of Zipf-distributed text re-encodes
        # nothing across batch boundaries. Capped (r12 ADVICE): on a
        # pathological non-Zipf partition the dict stops ADMITTING new
        # entries past ~1M words (≈ tens of MB) instead of growing with
        # every distinct word in the partition; extra words are simply
        # re-encoded, semantics unchanged.
        cache: dict = {}
        cache_cap = 1_048_576
        for pdf in batches:
            n_words = np.zeros(len(pdf), dtype=np.int64)
            n_tok = np.zeros(len(pdf), dtype=np.int64)
            n_chars = np.zeros(len(pdf), dtype=np.int64)
            for i, text in enumerate(pdf[text_col]):
                if text is None:
                    continue
                total = 0
                # trainer split: SPACE runs only (str.split() would
                # also break on tabs/newlines the trainer keeps)
                words = [w for w in _word_re.split(text) if w]
                for w in words:
                    hit = cache.get(w)
                    if hit is None:
                        hit = encode_word(w)
                        if len(cache) < cache_cap:
                            cache[w] = hit
                    total += hit
                n_words[i] = len(words)
                n_tok[i] = total
                n_chars[i] = len(text)
            # round-half-up at 4 dp via exact integer math — np.round's
            # banker's rounding diverges from SQL round() on exact
            # dyadic ties (e.g. 41/32 = 1.28125 → 1.2812 vs 1.2813)
            denom = np.where(n_tok > 0, 2 * n_tok, 1)
            micro = np.where(
                n_tok > 0, (2 * n_chars * 10_000 + n_tok) // denom, 0
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": n_words,
                    "n_bpe_tokens": n_tok,
                    "chars_per_token": micro / 1e4,
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        run,
        schema=(
            f"{id_col} bigint, n_words bigint, n_bpe_tokens bigint,"
            " chars_per_token double"
        ),
    )


def top_ngrams(
    df: DataFrame,
    text_col: str,
    n: int = 2,
    k: int = 25,
) -> DataFrame:
    """Corpus-wide top-k word n-grams — the collocation/frequency table
    behind vocabulary analysis and boilerplate discovery.

    Whitespace tokens (repo tokenizer convention), n-grams built with a
    `sequence`/`transform` HOF so the doc body is scanned once and only
    (ngram, partial count) pairs shuffle — map-side combine collapses
    each partition to its distinct n-grams before the exchange, and the
    final top-k is a TakeOrdered (never a global sort). Ties at the
    boundary break lexicographically so the returned row SET is
    deterministic in both engines.
    """
    if n < 1:
        raise ValueError(f"top_ngrams: n must be >= 1, got {n}")
    joiner = ", ' ', ".join(f"tk[i-{n - 1 - j}]" for j in range(n))
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.split(F.col(text_col), " ").alias("tk"))
        .filter(F.size("tk") >= n)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence({n - 1}, size(tk) - 1),"
                    f" i -> concat({joiner}))"
                )
            ).alias("ngram")
        )
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(k)
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    min_count: int = 25,
    k: int = 20,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    ``pmi = ln( (c_ab / N_b) / ((c_a / N_t) · (c_b / N_t)) )`` over
    whitespace bigrams — the association statistic that separates true
    collocations ("New York") from merely-frequent pairs, the step
    after raw n-gram counting in vocabulary/tokenizer analysis.

    One scan: the tokenized corpus is pinned (eager
    ``localCheckpoint``, the repo's shared-subtree idiom) so the
    unigram and bigram aggregates both read the SAME materialized
    token arrays instead of each re-scanning and re-splitting the
    corpus (the pin trades ~input-sized executor storage for 2× the
    scan+HOF cost — drop it only if storage is tighter than CPU; no
    cache() underneath — the checkpoint leaf already pins this
    invocation, and CacheManager entries would leak until app stop,
    cf. the graph.py round-6 fix). Both
    corpus totals derive from the count tables, never from a second
    pass over the raw streams; they join as 1-row broadcasts. The
    unigram table joins back onto the min-count-filtered bigrams keyed
    on word (AQE broadcasts it while the vocabulary is dim-sized,
    falls back to a shuffle join beyond). ``min_count`` keeps
    rare-pair noise out (PMI is maximized by hapax pairs). PMI is
    grid-floored at 1e-6 BEFORE the TakeOrdered so the top-k boundary,
    tie-broken by (w1, w2), is deterministic in both engines.
    """
    toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.split(F.col(text_col), " ").alias("tk"))
        .localCheckpoint(eager=True)
    )
    unigrams = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c_w"))
        .localCheckpoint(eager=True)
    )
    nt = unigrams.agg(F.sum("c_w").alias("_nt"))
    pairs = (
        toks.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1),"
                    " i -> struct(tk[i-1] AS w1, tk[i] AS w2))"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
    )
    # all-bigram counts pinned once: the corpus total and the filtered
    # collocation table both derive from it — the raw pair stream has
    # exactly ONE consumer and is never materialized
    bigrams_all = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .cache()
        .localCheckpoint(eager=True)
    )
    nb = bigrams_all.agg(F.sum("c_ab").alias("_nb"))
    bigrams = bigrams_all.filter(F.col("c_ab") >= min_count)
    pmi = F.log(
        (F.col("c_ab") / F.col("_nb"))
        / ((F.col("c_a") / F.col("_nt")) * (F.col("c_b") / F.col("_nt")))
    )
    return (
        bigrams.join(
            unigrams.select(
                F.col("w").alias("w1"), F.col("c_w").alias("c_a")
            ),
            "w1",
        )
        .join(
            unigrams.select(
                F.col("w").alias("w2"), F.col("c_w").alias("c_b")
            ),
            "w2",
        )
        .join(F.broadcast(nb))
        .join(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("n"),
            (F.floor(pmi * 1000000.0 + 0.5) / 1000000.0).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )
