"""Document deduplication family — exact, MinHash-LSH, SimHash, n-gram
Jaccard — built entirely from Catalyst higher-order functions (no Python
in the hot path, no MLlib dependency).

The reference's only dedup is `drop_duplicates` (tasks/silver.py:72);
this module is the LLM-data-pipeline extension (SURVEY.md §2.6), designed
for 100 TB:

  - Signatures (MinHash, SimHash) are computed PER ROW with
    `transform`/`aggregate` — a map-only stage, no shuffle, linear scan.
  - Candidate generation shuffles only (band_idx, band_value) pairs —
    tiny compared to the documents — and joins bucket-to-bucket. A hot
    bucket (thousands of identical docs) is the classic skew case: AQE
    skew-join splitting handles it; `max_bucket_size` hard-caps the
    quadratic blowup with an explicit guard.
  - Verification (exact Jaccard) runs only on candidate pairs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from etl_acordos_spark.session import scoped_conf


def let_bound(value_expr: str, var: str, body_expr: str) -> str:
    """SQL let-binding via the single-element-array lambda idiom:
    ``transform(array(V), x -> B)[0]`` evaluates V ONCE and binds it to
    the lambda variable ``x`` inside B.

    Why this exists: Catalyst's CollapseProject inlines projection
    aliases into every downstream reference — an alias used inside an
    N-iteration lambda is recomputed N times at runtime (aliases are
    substitution, not memoization). Lambda variables, by contrast, are
    runtime-bound values the optimizer cannot substitute through, so
    this is the one way to express "compute once, loop over it" inside
    a single Catalyst expression.
    """
    return f"transform(array({value_expr}), {var} -> {body_expr})[0]"


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the scan has fewer splits than cores.

    Signature computation is CPU-bound interpreted-expression work
    (higher-order functions are CodegenFallback), so a single small input
    file must be spread across cores. At real scale the parquet reader
    already yields >= defaultParallelism splits and this is a no-op —
    the full-data shuffle only ever happens on inputs too small for it
    to matter.
    """
    sc = df.sparkSession.sparkContext
    if df.rdd.getNumPartitions() < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df

# ------------------------------------------------------------ tokenizing


def words(col: str = "text") -> Column:
    """Whitespace tokens (single-space split — mirrors the oracle's
    string_split exactly)."""
    return F.split(F.col(col), " ")


def word_shingles(tok_col: str = "tok", n: int = 3) -> Column:
    """Distinct word n-gram shingles; documents shorter than *n* words
    contribute their whole text as one shingle."""
    return F.expr(
        f"array_distinct(CASE WHEN size({tok_col}) >= {n} THEN"
        f" transform(sequence(1, size({tok_col}) - {n - 1}),"
        f"  i -> array_join(slice({tok_col}, i, {n}), ' '))"
        f" ELSE array(array_join({tok_col}, ' ')) END)"
    )


def hashed_word_shingles(
    tok_col: str = "tok", n: int = 3, distinct: bool = True,
    hash_fn: str = "xxhash64",
) -> Column:
    """Word n-gram shingles, emitted directly as 64-bit hashes
    (`xxhash64` over the n token tuple) — never materializing the
    concatenated shingle strings. Same set semantics as
    `word_shingles` up to hash collisions (~2^-64 per pair), but the
    downstream pipeline allocates no strings and shuffles long arrays
    instead of string arrays. Documents shorter than *n* words
    contribute their whole text as one shingle. ``distinct=False``
    keeps every positional occurrence (one hash per window position) —
    the span-duplication profile's contract
    (operators/text.py:span_dup_profile).

    *hash_fn* — ``"xxhash64"`` (default, fastest: JVM hash over the
    raw token tuple) or ``"md5"``: the first 60 bits (15 hex chars) of
    md5 over the JOINED shingle string. md5 produces identical output
    in DuckDB, which is what makes the whole MinHash chain
    hash-oracle-able cross-engine (the CMS-sketch precedent,
    queries/llm.py) — one md5 per shingle, so the cost stays
    per-shingle, not per-permutation. A unit test pins that both
    families verify the same near-dup pairs (the hash family is
    orthogonal to the banding/bucketing/verify logic)."""
    if hash_fn == "xxhash64":
        args = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
        gram = f"xxhash64({args})"
        whole = f"xxhash64(array_join({tok_col}, ' '))"
    elif hash_fn == "md5":
        gram = (
            f"cast(conv(substr(md5(array_join(slice({tok_col}, i, {n}),"
            f" ' ')), 1, 15), 16, 10) as bigint)"
        )
        whole = (
            f"cast(conv(substr(md5(array_join({tok_col}, ' ')), 1, 15),"
            " 16, 10) as bigint)"
        )
    else:
        raise ValueError(
            f"hashed_word_shingles: hash_fn must be 'xxhash64' or 'md5',"
            f" got {hash_fn!r}"
        )
    inner = (
        f"CASE WHEN size({tok_col}) >= {n} THEN"
        f" transform(sequence(1, size({tok_col}) - {n - 1}),"
        f"  i -> {gram})"
        f" ELSE array({whole}) END"
    )
    return F.expr(f"array_distinct({inner})" if distinct else inner)


def shingle_sets(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(doc, sh) hashed-shingle sets — the map-only scan every MinHash
    stage starts from. Called on the full table to build signatures, and
    again on a candidate-restricted slice (semi-join BEFORE the shingle
    HOF, so the n-gram hashing runs only on surviving rows) for verify
    joins.

    Deliberately NO ensure_parallelism here: that helper inspects
    ``df.rdd``, and under AQE converting a join-bearing plan to an RDD
    EXECUTES its upstream shuffle stages at plan-BUILD time (measured:
    an 11 s eager pause before any action). Callers that need the
    repartition guard apply it to the raw scan themselves."""
    return prepare_tokens(df, text_col, id_col).select(
        F.col(id_col).alias("doc"),
        hashed_word_shingles("tok", shingle_n, hash_fn=hash_fn).alias("sh"),
    )


def jaccard(a: str, b: str) -> Column:
    """Exact set Jaccard between two array columns.

    ANSI-safe by construction for every in-repo caller: both shingle
    builders (`word_shingles`, `hashed_word_shingles`) emit the whole
    text as one shingle for short docs, so a non-NULL shingle array is
    never empty and the union size is >= 1; a NULL text propagates a
    NULL array -> NULL jaccard (division by NULL is NULL, not
    DIVIDE_BY_ZERO) — pinned by tests/test_divide_safety.py."""
    return (
        F.size(F.array_intersect(F.col(a), F.col(b)))
        / F.size(F.array_union(F.col(a), F.col(b)))
    ).cast("double")


# ----------------------------------------------------------- exact dedup


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content-hash exact dedup: keep the smallest id per distinct text.

    One hash-aggregate shuffle keyed on the 64-hex content hash — never
    on the document body itself, so 100 TB of text shuffles only ids +
    digests.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha256"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col, "content_sha256")
    )


#: query params that identify a visit, not a resource — stripped by
#: canonical_url (the standard web-corpus cleaning list: UTM campaign
#: tags, affiliate/click ids). Anchored at '^name=' over each param.
TRACKING_PARAM_RE = "^(utm_[^=]*|ref|fbclid|gclid|mc_[^=]*)="


def canonical_url(url: Column) -> Column:
    """Canonicalize a URL for identity comparison — the map-only
    normalization every web-corpus dedup runs BEFORE content hashing
    (CommonCrawl-style pipelines dedup on canonical URL first: it
    catches the recrawl/mirror duplicates that differ only in tracking
    decoration, at zero content cost):

    - strip ASCII tab/CR/LF anywhere (WHATWG URL preprocessing),
      extended to NEL/LS/PS (U+0085/U+2028/U+2029) so the Java-regex
      ``.`` patterns below and the oracle's RE2 twins agree on EVERY
      input, not just terminator-free ones (Java ``.`` excludes all
      five line terminators, RE2 ``.`` only ``\\n`` — the same seam
      the BPE oracle spells out explicitly),
    - drop the ``#fragment`` (client-side only),
    - lowercase the scheme and host (case-insensitive per RFC 3986;
      the path is NOT lowercased — it is case-sensitive — and neither
      is any ``user:pass@`` userinfo ahead of the last ``@`` in the
      authority, also case-sensitive per RFC 3986),
    - strip trailing slashes from the path,
    - drop tracking query params (:data:`TRACKING_PARAM_RE`), keep the
      rest sorted so param order can't split identical resources.

    Scheme-less inputs (relative references, protocol-relative
    ``//host/...``) pass through terminator-stripped but otherwise
    UNCHANGED (the step-0 strip is preprocessing, before any parsing):
    without an authority there is nothing further safe to
    canonicalize, and mapping them all onto one degenerate ``://``
    form would merge distinct documents.

    Pure string expressions (no UDF) with an exact DuckDB twin in the
    ext_dedup_url oracle — keep the two in lockstep (the oracle omits
    the scheme-less guard only because its synthetic URLs always carry
    one)."""
    url = F.regexp_replace(
        url, "[\\t\\n\\r\\x{0085}\\x{2028}\\x{2029}]", ""
    )
    pre = F.substring_index(url, "#", 1)
    base = F.substring_index(pre, "?", 1)
    # everything after the FIRST '?' — substring_index(pre, '?', -1)
    # would take the LAST, diverging from the oracle's split_part(…, 2)
    # on (legal) queries that contain a second '?'
    query = F.regexp_extract(pre, r"^[^?]*\?(.*)$", 1)
    scheme = F.regexp_extract(base, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    auth = F.regexp_extract(base, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)", 1)
    # lowercase only the host (after the LAST '@'); userinfo keeps case
    host = F.concat(
        F.regexp_extract(auth, r"^(.*@)", 1),
        F.lower(F.regexp_replace(auth, r"^.*@", "")),
    )
    path = F.regexp_extract(
        base, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$", 1
    )
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE),
        )
    )
    canon = F.concat(
        F.lower(scheme),
        F.lit("://"),
        host,
        F.regexp_replace(path, "/+$", ""),
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )
    return F.when(scheme != "", canon).otherwise(url)


def url_dedup(
    df: DataFrame, url_col: str, text_col: str, id_col: str
) -> DataFrame:
    """Dual URL + content dedup verdict per document — the cheap first
    pass a web corpus runs before MinHash: a doc is a duplicate if a
    lower-id doc already claimed its canonical URL (recrawl/mirror) OR
    its exact content digest (same bytes at a different address).

    Plan shape: canonicalization and sha2 are map-side; the two
    first-claim decisions are two window-mins keyed on the canonical
    URL / the 64-hex digest — shuffles carry (id, url, digest), never
    the document body. Returns every input row with its verdict
    (keep = first on BOTH axes), so the caller can either filter to
    the keep-set or audit the drop reasons.

    NULL guard: a missing body or URL is NOT a duplicate of other
    missing ones — without it, ``Window.partitionBy`` groups all NULL
    digests/URLs into one partition and every NULL-keyed doc after the
    first gets flagged. NULL keys always pass as keepers."""
    marked = df.select(
        F.col(id_col),
        canonical_url(F.col(url_col)).alias("canonical_url"),
        F.sha2(F.col(text_col), 256).alias("content_sha256"),
    )
    w_url = Window.partitionBy("canonical_url")
    w_content = Window.partitionBy("content_sha256")
    return marked.select(
        id_col,
        "canonical_url",
        (
            F.col("canonical_url").isNotNull()
            & (F.col(id_col) != F.min(id_col).over(w_url))
        ).alias("url_dup"),
        (
            F.col("content_sha256").isNotNull()
            & (F.col(id_col) != F.min(id_col).over(w_content))
        ).alias("content_dup"),
    ).withColumn("keep", ~F.col("url_dup") & ~F.col("content_dup"))


# ------------------------------------------------------------ MinHash-LSH


def minhash_bands(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    pin: str = "cache",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Shared MinHash signature machinery: returns the band table
    ``(doc, band_idx, band_val)``. The per-doc band-value arrays are
    materialized: tiny (doc + `bands` longs) and read by several plan
    branches. The shingle sets themselves are NOT kept — verify joins
    rebuild them via `shingle_sets` on a candidate-restricted slice,
    which at 100 TB is the right trade (a semi-joined re-scan beats
    pinning the full shingle table in executor storage).

    *pin* — how the band-value table is materialized: ``"cache"``
    (default) registers it with the CacheManager, so a repeated
    invocation of the same plan reuses it; ``"checkpoint"`` uses a lazy
    localCheckpoint instead, which is garbage-collected with the
    DataFrame — the right choice for per-microbatch loops
    (streaming.dedup_index), where cache entries would otherwise
    accumulate for the lifetime of the application.

    Storage level stays the deserialized default, DELIBERATELY —
    unlike the graph module's serialized ``_EDGE_PIN``
    (operators/graph.py, forced by a measured 24 GiB OOM at 239M
    pinned edge rows): the dedup pins are O(docs·bands) / O(pairs)
    frames, orders of magnitude narrower per input row than an edge
    explosion, they measured clean through the 100x corpus tiles at an
    8 GiB heap (BASELINE.md round-10 batch), they're re-scanned many
    times per query (deserialized reads skip the per-scan decode), and
    the deserialized level still spills to disk in serialized form
    under pressure. Revisit only if a measured pin OOM appears.

    hash-shingle (n-gram hashes computed straight from the token array —
    no shingle strings ever materialize) → derive the num_perm
    permutations as Carter-Wegman universal hashes (a*h+b) mod p,
    p = 2^31-1, over the reduced base hash — the standard MinHash
    permutation family (what datasketch uses): one multiply+add+mod per
    perm instead of a full hash call, and every intermediate stays under
    2^62 so ANSI-mode arithmetic never overflows → band each signature
    into bands slices of num_perm//bands rows. The permutation constants
    are seeded, so two invocations (e.g. a corpus index built last month
    and today's incoming batch) produce join-compatible band values —
    the property incremental dedup relies on.
    """
    if pin not in ("cache", "checkpoint"):
        # a typo must not silently select the checkpoint path
        raise ValueError(
            f"minhash_bands: pin must be 'cache' or 'checkpoint', got {pin!r}"
        )
    rows_per_band = num_perm // bands
    # NULL-text docs never band: NULL is UNKNOWN content, not identical
    # content — without this filter every NULL-text doc collides in one
    # degenerate bucket and they "verify" against each other at Jaccard
    # 1.0 over [NULL] shingle sets (same contract as URL dedup's null
    # keys, tests/test_advice_fixes.py). They flow through keep-first
    # dedup untouched instead (never candidates, never dominated).
    base = shingle_sets(
        ensure_parallelism(df.filter(F.col(text_col).isNotNull())),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    )
    # fixed per-permutation multipliers/offsets (seeded ⇒ deterministic
    # across runs and engines), drawn from [1, p) / [0, p)
    p = (1 << 31) - 1  # Mersenne prime
    rng = random.Random(0x5EED)
    mult = [rng.randrange(1, p) for _ in range(num_perm)]
    add = [rng.randrange(0, p) for _ in range(num_perm)]
    mult_arr = "array(" + ", ".join(f"{a}L" for a in mult) + ")"
    add_arr = "array(" + ", ".join(f"{b}L" for b in add) + ")"
    # hs and sig are let-bound (not projection aliases): each is computed
    # once per row, then looped over — see let_bound's docstring.
    # band packing: xxhash64 compresses each slice to one long (the
    # production wire format); md5 mode joins the slice values into the
    # exact string instead — collision-free AND reproducible verbatim
    # in DuckDB (no second hash to replicate)
    if hash_fn == "md5":
        pack = (
            f"j -> array_join(transform(slice(sig,"
            f" j * {rows_per_band} + 1, {rows_per_band}),"
            f" v -> cast(v as string)), ',')"
        )
    else:
        pack = (
            f"j -> xxhash64(slice(sig, j * {rows_per_band} + 1,"
            f" {rows_per_band}))"
        )
    band_expr = let_bound(
        f"transform(sh, x -> pmod(x, {p}L))",
        "hs",
        let_bound(
            f"zip_with({mult_arr}, {add_arr},"
            f" (pa, pb) -> array_min(transform(hs, h -> pmod(pa * h + pb, {p}L))))",
            "sig",
            f"transform(sequence(0, {bands - 1}), {pack})",
        ),
    )
    # CACHE the per-doc band-value ARRAYS, then explode the cached
    # attribute: exploding the interpreted-HOF signature expression
    # directly would re-run the whole shingle+permutation pipeline once
    # per OUTPUT row — i.e. `bands`× per document (measured; same
    # landmine as operators/text.py:passage_dedup). The cached table is
    # (doc, bands longs), and the cheap explode is re-derived by every
    # downstream branch.
    sig_tab = base.select("doc", F.expr(band_expr).alias("bandvals"))
    sig_tab = (
        sig_tab.cache()
        if pin == "cache"
        else sig_tab.localCheckpoint(eager=False)
    )
    return sig_tab.select(
        "doc", F.posexplode("bandvals").alias("band_idx", "band_val")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
    link: str = "all",
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding +
    exact-Jaccard verification.

    *hash_fn* selects the base shingle hash family (see
    `hashed_word_shingles`): ``"xxhash64"`` for production,
    ``"md5"`` for the cross-engine-verifiable chain the registry key
    runs (every stage — shingle hash, Carter-Wegman permutations,
    band keys, Jaccard verify — then has an exact DuckDB twin).

    *link* selects the per-bucket candidate topology:

    - ``"all"`` (default): every in-bucket pair is a candidate — the
      complete pair set, but a duplicate-DENSE corpus goes quadratic
      through sub-cap buckets (measured: a 10k-member near-dup cluster
      in an 11.5k-doc corpus yields ~8.8M candidates / ~5.1M verified
      pairs — O(cluster²) even with the bucket cap, because the cap
      bounds each bucket, not the cluster).
    - ``"min"``: STAR linking — each bucket member pairs only with the
      bucket's minimum id, so candidate volume is O(docs · bands)
      regardless of duplicate density (the SlimPajama/BigQuery-minhash
      production shape), and the bucket cap is unnecessary (skipped —
      even a degenerate bucket costs O(bucket), and keeping it lets a
      mega-cluster actually dedup instead of being dropped). Per-bucket
      connectivity is identical to a clique at the CANDIDATE level, so
      pre-verify connected components match ``"all"`` exactly; after
      Jaccard verify, a star edge failing the threshold can disconnect
      what a clique edge would have kept — the accepted trade for
      feeding `keep_representatives` at 100 TB duplicate densities
      (tests/test_dedup_stress.py pins both properties).

    hash-shingle (n-gram hashes computed straight from the token array —
    no shingle strings ever materialize) → derive the num_perm
    permutations as Carter-Wegman universal hashes (a*h+b) mod p,
    p = 2^31-1, over the reduced base hash — the standard MinHash
    permutation family (what datasketch uses): one multiply+add+mod per
    perm instead of a full hash call, and every intermediate stays under
    2^62 so ANSI-mode arithmetic never overflows →
    band → bucket self-join (candidates, ids only) → verify by joining
    shingle sets back onto the surviving pairs.

    With num_perm=64, bands=16 (rows/band=4) the candidate-probability
    curve crosses ~0.5 steeply around J≈0.55 — tuned for near-dup
    thresholds ≥0.5. Buckets larger than *max_bucket_size* are dropped
    (they are degenerate — e.g. an empty shingle — and would otherwise
    go quadratic); dropped buckets of exact duplicates are exactly what
    `exact_dedup` already catches.

    Shuffle discipline for 100 TB: the band table is (doc, band_idx,
    band_val) — three longs per doc per band, never the text; candidate
    pairs are id pairs only; the only stage that moves shingle arrays is
    the final verify join, sized by the (already thresholded) candidate
    count. The tiny band table is cached because three plan branches
    (bucket histogram + both self-join sides) would otherwise recompute
    the signature scan. The verify join rebuilds shingle sets only for
    the ids that appear in a candidate pair — a semi-join BEFORE the
    shingle HOF — so the rebuild re-reads the table but hashes n-grams
    for O(candidates) rows, and the resulting slice is small enough to
    cache for both join sides.
    """
    if link not in ("all", "min"):
        raise ValueError(f"minhash_lsh_pairs: unknown link mode {link!r}")
    bandtab = minhash_bands(
        df, text_col, id_col, num_perm, bands, shingle_n, hash_fn=hash_fn
    )
    if link == "min":
        # star linking: one aggregate + one join per bucket — candidate
        # volume O(entries), no cap needed (see docstring)
        bucket_min = bandtab.groupBy("band_idx", "band_val").agg(
            F.min("doc").alias("doc_a")
        )
        raw_candidates = (
            bandtab.join(bucket_min, ["band_idx", "band_val"])
            .filter(F.col("doc") > F.col("doc_a"))
            .select("doc_a", F.col("doc").alias("doc_b"))
        )
    else:
        bucket_ok = (
            bandtab.groupBy("band_idx", "band_val")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .drop("count")
        )
        entries = bandtab.join(bucket_ok, ["band_idx", "band_val"])
        raw_candidates = (
            entries.select(
                "band_idx", "band_val", F.col("doc").alias("doc_a")
            )
            .join(
                entries.select(
                    "band_idx", "band_val", F.col("doc").alias("doc_b")
                ),
                ["band_idx", "band_val"],
            )
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
        )
    candidates = (
        raw_candidates.dropDuplicates(["doc_a", "doc_b"])
        # eager lineage CUT, not just a cache: the candidate table is
        # referenced three times downstream (both verify sides + the id
        # set for the shingle rebuild), and each reference would inline
        # the whole banding subtree — whose 64-constant HOF expressions
        # make every downstream ANALYSIS pass pay seconds (measured:
        # 4.5 s of plan building before any action, and the CC loop in
        # keep_representatives re-analyzing the tree every round). After
        # the checkpoint the candidates are an RDD leaf: O(pairs) longs
        # in executor storage, trivial to analyze against. The cache()
        # underneath it makes the checkpoint itself cheap to rebuild on
        # repeated invocations (same canonical plan → cache hit), which
        # a lineage cut alone would forfeit.
        .cache()
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .unionByName(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    cand_sets = shingle_sets(
        df.join(cand_ids, [id_col], "left_semi"),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    ).cache()
    sets_a = cand_sets.select(
        F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    sets_b = cand_sets.select(
        F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    return (
        candidates.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .withColumn("jaccard", F.round(jaccard("sh_a", "sh_b"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """NEAR-duplicate benchmark decontamination: flag every *train* doc
    whose shingle-set Jaccard with ANY *eval_docs* doc reaches
    *threshold* — the fuzzy complement to the exact n-gram overlap of
    `operators.text.decontaminate` (which misses paraphrased or
    lightly-edited benchmark leaks) and its Bloom variant. Output
    ``(id_col, n_eval_matches, max_jaccard)`` for flagged train docs
    only.

    Cross-set by construction: each side builds its own MinHash band
    table (seeded permutations make the two band tables
    join-compatible — the `minhash_bands` incremental-dedup property),
    candidates are train-bucket x eval-bucket joins ONLY, and the
    train side never self-joins — at 100 TB the train corpus is the
    big side and an in-train pair is pure waste (the
    `dedup_batch_against` discipline, minus its batch-internal leg).
    The bucket cap applies to the COMBINED per-bucket population,
    mirroring the incremental probe's cap semantics.

    Same candidate/verify shuffle discipline as `minhash_lsh_pairs`:
    bands and id pairs shuffle, shingle arrays move only in the final
    verify join restricted to candidate ids.
    """
    t_bands = minhash_bands(
        train, text_col, id_col, num_perm, bands, shingle_n,
        hash_fn=hash_fn,
    )
    e_bands = minhash_bands(
        eval_docs, text_col, id_col, num_perm, bands, shingle_n,
        hash_fn=hash_fn,
    )
    bucket_ok = (
        t_bands.select("band_idx", "band_val")
        .unionByName(e_bands.select("band_idx", "band_val"))
        .groupBy("band_idx", "band_val")
        .count()
        .filter(F.col("count") <= max_bucket_size)
        .drop("count")
    )
    candidates = (
        t_bands.join(bucket_ok, ["band_idx", "band_val"])
        .select("band_idx", "band_val", F.col("doc").alias("doc_t"))
        .join(
            e_bands.join(bucket_ok, ["band_idx", "band_val"]).select(
                "band_idx", "band_val", F.col("doc").alias("doc_e")
            ),
            ["band_idx", "band_val"],
        )
        .select("doc_t", "doc_e")
        .dropDuplicates(["doc_t", "doc_e"])
        # same eager lineage cut as minhash_lsh_pairs: three downstream
        # references would each re-analyze the 64-constant HOF subtree
        .cache()
        .localCheckpoint(eager=True)
    )
    t_sets = shingle_sets(
        train.join(
            candidates.select(F.col("doc_t").alias(id_col)).distinct(),
            [id_col],
            "left_semi",
        ),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    ).select(F.col("doc").alias("doc_t"), F.col("sh").alias("sh_t"))
    e_sets = shingle_sets(
        eval_docs.join(
            candidates.select(F.col("doc_e").alias(id_col)).distinct(),
            [id_col],
            "left_semi",
        ),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    ).select(F.col("doc").alias("doc_e"), F.col("sh").alias("sh_e"))
    return (
        candidates.join(t_sets, "doc_t")
        .join(e_sets, "doc_e")
        .withColumn("jaccard", F.round(jaccard("sh_t", "sh_e"), 4))
        .filter(F.col("jaccard") >= threshold)
        .groupBy(F.col("doc_t").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_eval_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def paragraph_near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    words_per_para: int = 30,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Paragraph-granular near-dedup — the between-passage-and-doc
    granularity real corpus pipelines run (RefinedWeb/Dolma drop
    near-duplicate paragraphs, not just exact spans): split every
    document into consecutive ``words_per_para``-word paragraph units
    (this corpus has no newline markers, so fixed word windows stand in
    for paragraphs — the `passage_dedup` convention one level up), run
    the SAME seeded MinHash-LSH chain as `minhash_lsh_pairs` over the
    paragraph units, drop every unit that has a verified near-duplicate
    at a lower (doc, paragraph-index) key, and reassemble documents
    from their surviving units.

    Keep rule: a unit survives iff NO earlier unit (ordered by doc id,
    then position) verifies as its near-duplicate — pairwise dominance,
    not cluster-representative selection, so both engines can express
    it without a reachability closure (`ext_dedup_keep` covers the
    cluster variant at doc granularity).

    Scale shape (100 TB): paragraph chunking is map-side Catalyst HOFs;
    everything after inherits `minhash_lsh_pairs`'s discipline — band
    tables carry (unit key, band idx, band val), candidate pairs are
    key pairs, only verified-candidate units re-hash shingles. The
    rebuild folds surviving units back with one doc-keyed aggregate
    (unit text crosses the wire once, in that rebuild shuffle).
    Unit keys pack as ``doc_id * 2^20 + paragraph_idx`` so the whole
    chain reuses the single-column machinery; the packing is exact for
    0 ≤ doc_id < 2^43 and docs under 2^20 paragraphs (a 30 M-word
    doc). Both bounds are ENFORCED in the key expression itself (a
    raise_error branch — colliding packed keys would silently alias
    units of neighboring documents and corrupt the dominance rule).

    Returns ``(id_col, text, n_paras)``; documents whose every
    paragraph was dominated disappear entirely."""
    n = words_per_para
    chunk_expr = (
        f"transform(sequence(1, size(w), {n}),"
        f" s -> array_join(slice(w, s, {n}), ' '))"
    )
    paras = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.split(F.col(text_col), " ").alias("w"))
        .select(id_col, F.posexplode(F.expr(chunk_expr)).alias("pidx", "para"))
        .select(
            id_col,
            "pidx",
            "para",
            # the raise lives INSIDE the used column so no optimizer
            # pass can prune the bounds check away
            F.when(
                (F.col(id_col) < 0)
                | (F.col(id_col) >= (1 << 43))
                | (F.col("pidx") >= (1 << 20)),
                F.raise_error(
                    F.concat(
                        F.lit(
                            "paragraph_near_dedup: packed key out of "
                            "range (need 0 <= doc_id < 2^43 and "
                            "paragraph_idx < 2^20), got doc_id="
                        ),
                        F.col(id_col).cast("string"),
                        F.lit(" pidx="),
                        F.col("pidx").cast("string"),
                    )
                ).cast("bigint"),
            )
            .otherwise(F.col(id_col) * (1 << 20) + F.col("pidx"))
            .alias("pkey"),
        )
    )
    pairs = minhash_lsh_pairs(
        paras.select("pkey", "para"),
        "para",
        "pkey",
        num_perm=num_perm,
        bands=bands,
        threshold=threshold,
        shingle_n=shingle_n,
        hash_fn=hash_fn,
    )
    # minhash_lsh_pairs emits doc_a < doc_b on the packed key, which is
    # exactly (doc, pidx) lexicographic — doc_b is always the later unit
    dominated = pairs.select(F.col("doc_b").alias("pkey")).distinct()
    survivors = paras.join(dominated, "pkey", "left_anti")
    return (
        survivors.groupBy(id_col)
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pidx", "para"))
                ).getField("para"),
                " ",
            ).alias("text"),
            F.count(F.lit(1)).alias("n_paras"),
        )
    )


def incremental_minhash_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Dedup an incoming batch against an existing corpus — the
    production ingest shape: yesterday's N-billion-doc corpus is already
    internally deduplicated, so re-running corpus×corpus every day is
    O(N²·days) wasted. Only two candidate classes exist for a new doc:
    (a) it collides with a corpus doc, (b) it collides with another
    batch doc. Returns the batch docs that survive both.

    Semantics (keep-first, matching `exact_dedup`): a batch doc is
    dropped iff its verified Jaccard ≥ threshold against ANY corpus doc
    or any lower-id batch doc.

    Scale shape: both sides run the same seeded signature machinery
    (`minhash_bands` — in production the corpus side is a STORED band
    index, appended on every ingest, and this function's corpus branch
    is replaced by a scan of that index; the seeded constants are what
    make last month's index join-compatible with today's batch — that
    pipeline is implemented in
    `etl_acordos_spark.streaming.dedup_index`). The
    probe joins key on (band_idx, band_val) with the batch side as the
    (small) build side; corpus band entries never self-join, so daily
    cost is O(|batch| · corpus-collision rate), not O(N²). Oversized
    buckets are dropped like in `minhash_lsh_pairs` (degenerate
    boilerplate); the verify join rebuilds shingle sets only for ids
    that appear in a candidate pair (semi-join before the shingle HOF —
    the corpus is never re-shingled in full) and moves those arrays
    only for the thresholded candidate pairs.

    Corpus and batch id spaces MAY overlap: every candidate carries a
    side marker ('c' = corpus, 'b' = batch) and the verify join keys on
    (doc_old, side), so an id present on both sides is compared against
    the shingle set it actually collided with, never its namesake on
    the other side.
    """
    c_bands = minhash_bands(
        corpus, text_col, id_col, num_perm, bands, shingle_n, hash_fn=hash_fn
    )
    b_bands = minhash_bands(
        batch, text_col, id_col, num_perm, bands, shingle_n, hash_fn=hash_fn
    )
    return dedup_batch_against(
        batch,
        b_bands,
        corpus,
        c_bands,
        text_col,
        id_col,
        threshold=threshold,
        shingle_n=shingle_n,
        max_bucket_size=max_bucket_size,
        hash_fn=hash_fn,
    )


def dedup_batch_against(
    batch: DataFrame,
    b_bands: DataFrame,
    corpus: DataFrame,
    c_bands: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_bucket_size: int = 1000,
    c_bucket_counts: DataFrame | None = None,
    reusable: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Probe core shared by `incremental_minhash_dedup` (which computes
    the corpus band table on the fly) and the streaming index pipeline
    (`etl_acordos_spark.streaming.dedup_index`, where *c_bands* is a
    STORED band index and *corpus* the kept-docs store it indexes).
    Returns the batch ids that survive keep-first dedup against the
    corpus and against lower-id batch docs.

    *reusable* — True (default) registers the candidate/shingle
    intermediates with the CacheManager so an identical re-invocation
    reuses them; False pins them with localCheckpoints only (GC'd with
    the plan) — pass False from per-microbatch loops, where cache
    entries would accumulate for the application's lifetime.

    *c_bucket_counts* — optional persisted ``(band_idx, band_val, n)``
    table holding the corpus side's per-bucket populations. Without it,
    the combined bucket-size cap recounts every corpus band entry per
    call — fine when the corpus side is computed fresh anyway, an
    O(index) shuffle per batch when probing a stored index. With it,
    the cap costs one aggregate over the BATCH's entries plus a merge
    against the (buckets-sized, not entries-sized) count table.
    """
    # cap degenerate buckets by their COMBINED population
    if c_bucket_counts is None:
        combined = (
            c_bands.select("band_idx", "band_val")
            .unionByName(b_bands.select("band_idx", "band_val"))
            .groupBy("band_idx", "band_val")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    else:
        combined = (
            c_bucket_counts.select("band_idx", "band_val", "n")
            .unionByName(
                b_bands.groupBy("band_idx", "band_val").agg(
                    F.count(F.lit(1)).alias("n")
                )
            )
            .groupBy("band_idx", "band_val")
            .agg(F.sum("n").alias("n"))
        )
    bucket_ok = combined.filter(F.col("n") <= max_bucket_size).select(
        "band_idx", "band_val"
    )
    b_entries = b_bands.join(bucket_ok, ["band_idx", "band_val"])
    c_entries = c_bands.join(bucket_ok, ["band_idx", "band_val"])
    new_vs_corpus = b_entries.select(
        "band_idx", "band_val", F.col("doc").alias("doc_new")
    ).join(
        c_entries.select(
            "band_idx", "band_val", F.col("doc").alias("doc_old")
        ),
        ["band_idx", "band_val"],
    )
    new_vs_new = (
        b_entries.select(
            "band_idx", "band_val", F.col("doc").alias("doc_new")
        )
        .join(
            b_entries.select(
                "band_idx", "band_val", F.col("doc").alias("doc_old")
            ),
            ["band_idx", "band_val"],
        )
        .filter(F.col("doc_old") < F.col("doc_new"))
    )
    # side marker disambiguates doc_old when an id exists on BOTH
    # sides: the verify join must compare against the shingle set the
    # band collision actually came from
    candidates = (
        new_vs_corpus.select(
            "doc_new", "doc_old", F.lit("c").alias("side")
        )
        .unionByName(
            new_vs_new.select(
                "doc_new", "doc_old", F.lit("b").alias("side")
            )
        )
        .dropDuplicates(["doc_new", "doc_old", "side"])
    )
    # lineage cut — same rationale as minhash_lsh_pairs: three
    # downstream references would each inline BOTH sides' banding
    # subtrees into every later analysis pass. Reusable callers get
    # cache + eager checkpoint (cheap re-invocation); per-batch loops
    # get a LAZY checkpoint — same leaf plan, materialized once by the
    # first consumer, without spending a dedicated job per batch.
    if reusable:
        candidates = candidates.cache().localCheckpoint(eager=True)
    else:
        candidates = candidates.localCheckpoint(eager=False)
    # candidate-restricted shingle rebuild: semi-join each side down to
    # the ids that actually appear in a candidate pair BEFORE the
    # shingle HOF, so the corpus — the big side — is never re-shingled
    # in full for the verify join
    old_c_ids = (
        candidates.filter(F.col("side") == "c")
        .select(F.col("doc_old").alias(id_col))
        .distinct()
    )
    b_ids_needed = (
        candidates.select(F.col("doc_new").alias(id_col))
        .unionByName(
            candidates.filter(F.col("side") == "b").select(
                F.col("doc_old").alias(id_col)
            )
        )
        .distinct()
    )
    c_sets = shingle_sets(
        corpus.join(old_c_ids, [id_col], "left_semi"),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    )
    b_sets = shingle_sets(
        batch.join(b_ids_needed, [id_col], "left_semi"),
        text_col,
        id_col,
        shingle_n,
        hash_fn,
    )
    b_sets = (
        b_sets.cache() if reusable else b_sets.localCheckpoint(eager=False)
    )
    older = c_sets.select(
        F.col("doc").alias("doc_old"),
        F.col("sh").alias("sh_old"),
        F.lit("c").alias("side"),
    ).unionByName(
        b_sets.select(
            F.col("doc").alias("doc_old"),
            F.col("sh").alias("sh_old"),
            F.lit("b").alias("side"),
        )
    )
    newer = b_sets.select(
        F.col("doc").alias("doc_new"), F.col("sh").alias("sh_new")
    )
    dominated = (
        candidates.join(newer, "doc_new")
        .join(older, ["doc_old", "side"])
        .filter(jaccard("sh_new", "sh_old") >= threshold)
        .select(F.col("doc_new").alias("doc"))
        .distinct()
    )
    return (
        batch.select(F.col(id_col).alias("doc"))
        .join(dominated, "doc", "left_anti")
        .select(F.col("doc").alias(id_col))
    )


def prepare_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Shared prep: id + whitespace tokens."""
    return df.select(F.col(id_col), F.col(text_col), words(text_col).alias("tok"))


# ---------------------------------------------------------------- SimHash


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via 64-bit SimHash + pigeonhole chunk join.

    SimHash packs the sign of per-bit token-hash votes into one BIGINT —
    computed per row (map-only), with each token hashed ONCE into `hs`
    before the 64-bit vote loop (hashing inside the loop would re-hash
    every token string per bit — 64× the work). Pairs within Hamming
    distance ≤3 must share at least one of four 16-bit chunks
    (pigeonhole), so the join keys on (chunk_idx, chunk_value) — never
    all-pairs. The exploded chunk table (four ints per doc) is cached:
    both self-join sides read it.

    *hash_fn* — ``"xxhash64"`` (default) or ``"md5"``: the token hash
    becomes the full 64 bits of md5's first 16 hex chars, assembled as
    two 32-bit halves (``hi << 32 | lo`` — shifts/ORs are pure bit ops,
    so the sign bit landing in bit 63 never trips ANSI overflow). Only
    the token-hash expression changes; the vote loop, chunk extraction
    (masked after arithmetic shift, sign-safe), pigeonhole join, and
    hamming are the SAME code — which is what lets the DuckDB oracle
    (UBIGINT on its side, identical bit patterns) replay the registry
    key bit-for-bit (`ext_dedup_simhash`'s round-7 promotion from
    rows-only, same scheme as the MinHash md5 family).
    """
    if hash_fn == "xxhash64":
        tok_hash = "xxhash64(x)"
    elif hash_fn == "md5":
        tok_hash = (
            "transform(array(md5(x)), m ->"
            " shiftleft(cast(conv(substr(m, 1, 8), 16, 10) as bigint), 32)"
            " | cast(conv(substr(m, 9, 8), 16, 10) as bigint))[0]"
        )
    else:
        raise ValueError(
            f"simhash_pairs: hash_fn must be 'xxhash64' or 'md5',"
            f" got {hash_fn!r}"
        )
    tok = prepare_tokens(ensure_parallelism(df), text_col, id_col)
    # hs is let-bound so every token string is hashed once, not once per
    # bit (a projection alias would be inlined into the 64-bit loop).
    simhash_expr = let_bound(
        f"transform(array_distinct(tok), x -> {tok_hash})",
        "hs",
        "aggregate(sequence(0, 63), cast(0 as bigint), (acc, i) -> acc +"
        " CASE WHEN aggregate(hs,"
        "   0, (a2, h) -> a2 + CASE WHEN (shiftright(h, i) & 1) = 1 THEN 1 ELSE -1 END) > 0"
        " THEN shiftleft(cast(1 as bigint), i) ELSE cast(0 as bigint) END)",
    )
    # cache the (doc, simhash, chunk-array) rows BEFORE the explode:
    # exploding the interpreted-HOF chunk expression would re-run the
    # whole 64-bit vote loop once per emitted chunk row (4× per doc —
    # the explode-over-HOF landmine documented in the README)
    sh = (
        tok.select(
            F.col(id_col).alias("doc"), F.expr(simhash_expr).alias("simhash")
        )
        .withColumn(
            "chunk",
            F.expr(
                "transform(sequence(0, 3),"
                " c -> shiftright(simhash, c * 16) & 65535)"
            ),
        )
        .cache()
    )
    exploded = sh.select(
        "doc", "simhash", F.posexplode("chunk").alias("chunk_idx", "chunk_val")
    )
    left = exploded.select(
        "chunk_idx",
        "chunk_val",
        F.col("doc").alias("doc_a"),
        F.col("simhash").alias("sim_a"),
    )
    right = exploded.select(
        "chunk_idx",
        "chunk_val",
        F.col("doc").alias("doc_b"),
        F.col("simhash").alias("sim_b"),
    )
    # Exactly-once without a distinct shuffle: a pair has at most one
    # collision row per chunk_idx (each doc owns one chunk_val there), so
    # keeping only the FIRST matching chunk — "no earlier chunk also
    # matches" — dedups by predicate. At scale this removes an entire
    # shuffle of the (quadratic-in-cluster-size) pair stream.
    first_match = (
        "chunk_idx = 0 OR NOT exists(sequence(0, chunk_idx - 1),"
        " c -> (shiftright(sim_a, c * 16) & 65535) ="
        "      (shiftright(sim_b, c * 16) & 65535))"
    )
    return (
        left.join(right, ["chunk_idx", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        # cheapest predicate first: hamming drops ~85% of collisions
        .filter(F.expr("bit_count(sim_a ^ sim_b)") <= max_hamming)
        .filter(F.expr(first_match))
        .select(
            "doc_a", "doc_b", F.expr("bit_count(sim_a ^ sim_b)").alias("hamming")
        )
    )


# ------------------------------------------------- cluster representatives


def component_labels(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 10,
) -> DataFrame:
    """Connected-component labels over a near-duplicate PAIR graph via
    min-label propagation with POINTER JUMPING — returns (a, label)
    with ``label`` = the component's smallest id (a singleton labels
    itself). The shared core of `keep_representatives` (keep set) and
    `dup_cluster_stats` (cluster-size profile).

    Each round is a neighbor-min hop (one join + one aggregate on (id,
    label) longs) followed by a path-halving jump (``label :=
    label(label)``, a self-join of the label table) — the jump is what
    turns O(diameter) rounds into O(log diameter): a 1000-node chain
    converges in 10 rounds, property-tested in tests/test_properties.py.
    Each round's checkpoint observes its changed labels (no extra job);
    none stops the loop, and any after ``max_iter`` such rounds raise
    ValueError. All shuffles carry ids only, never document payloads.
    """
    spark = docs.sparkSession
    edges = (
        pairs.selectExpr(f"{pairs.columns[0]} AS a", f"{pairs.columns[1]} AS b")
        .unionByName(
            pairs.selectExpr(
                f"{pairs.columns[1]} AS a", f"{pairs.columns[0]} AS b"
            )
        )
    )
    # Iteration shuffles are many and small-keyed; cached plans block AQE
    # coalescing, so pin the shuffle width to cores for the loop (each
    # round materializes eagerly via its checkpoint, then the prior conf
    # is restored).
    loop_conf = {
        "spark.sql.shuffle.partitions": str(
            spark.sparkContext.defaultParallelism
        )
    }
    try:
        with scoped_conf(spark, loop_conf):
            # The pair stream feeding `edges` can be an expensive plan (LSH
            # banding); cache it so each round re-reads, not re-derives.
            edges = edges.cache()
            labels = docs.select(
                F.col(id_col).alias("a"), F.col(id_col).alias("label")
            ).localCheckpoint(eager=True)
            for _ in range(max_iter + 1):
                neighbor_min = (
                    edges.join(labels.withColumnRenamed("a", "b"), "b")
                    .groupBy("a")
                    .agg(F.min("label").alias("nlabel"))
                )
                hopped = labels.join(neighbor_min, "a", "left").select(
                    "a",
                    F.least(
                        F.col("label"), F.coalesce("nlabel", F.col("label"))
                    ).alias("label"),
                    F.col("label").alias("_old"),
                )
                # pointer jump (path halving): label := label(label). Labels
                # are monotone (label(v) <= v), so the parent lookup always
                # moves toward the component minimum; coalesce covers labels
                # pointing at ids outside the doc set (defensive).
                parents = hopped.select(
                    F.col("a").alias("label"), F.col("label").alias("jlabel")
                )
                # localCheckpoint, not cache: the jump references `hopped`
                # twice, so an uncut lineage would DOUBLE the logical plan
                # every round — exponential analyzer blow-up by iteration
                # ~10. Checkpointing materializes the round and resets the
                # plan to a leaf (iterative algorithms are the one place
                # lineage must be cut by hand).
                changed = Observation()
                jumped = F.coalesce("jlabel", F.col("label"))
                labels = (
                    hopped.join(parents, "label", "left")
                    .observe(
                        changed, F.count_if(jumped != F.col("_old")).alias("n")
                    )
                    .select("a", jumped.alias("label"))
                    .localCheckpoint(eager=True)
                )
                if changed.get["n"] == 0:
                    break
            else:
                raise ValueError(
                    f"component_labels: labels still change after the "
                    f"{max_iter}-round cap; raise `max_iter`"
                )
    finally:
        # the loop has fully materialized `labels` (checkpoint leaf), so
        # the cached edges plan is dead weight — drop it rather than
        # leak one CacheManager entry per keep-set/cluster-stats call
        edges.unpersist()
    return labels


def keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 10,
) -> DataFrame:
    """Reduce a near-duplicate PAIR set to a KEEP set: the kept
    document of each connected component is its smallest id. This is
    the operator a real dedup pipeline ends with — emitting all pairs
    is O(cluster²) output, the keep set is O(n)."""
    labels = component_labels(docs, pairs, id_col, max_iter)
    return labels.filter(F.col("a") == F.col("label")).select(
        F.col("a").alias(id_col)
    )


def dup_cluster_stats(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iter: int = 10,
) -> DataFrame:
    """Near-duplicate cluster-size profile: (cluster_size, n_clusters,
    n_docs) over the components of the pair graph, singletons (docs in
    no pair) excluded — the corpus-health report a dedup pass emits
    (how much mass sits in giant clusters decides whether one kept
    representative suffices or the whole cluster is spam to drop).

    Same scale shape as the label propagation it reuses, plus two
    id-keyed aggregates — nothing but (label, count) longs shuffle."""
    labels = component_labels(docs, pairs, id_col, max_iter)
    sizes = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", F.col("cluster_size") * F.col("n_clusters"))
    )


# -------------------------------------------------------- n-gram Jaccard


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    min_tokens: int = 5,
    use_shingles: bool = False,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact pairwise ASYMMETRIC containment ``|A∩B| / |A|`` — how much
    of document A's distinct-word (or word-*shingle_n*-gram) set lies
    inside B. Catches the
    subset-duplicate class symmetric Jaccard misses: a paragraph quoted
    whole inside a much longer page has Jaccard ≈ |A|/|B| ≈ 0 but
    containment ≈ 1 (the web-crawl case Broder's original resemblance/
    containment pair of measures was built for).

    Emits ORDERED pairs (doc_a contained-in doc_b, doc_a != doc_b) with
    containment ≥ *threshold*; docs under *min_tokens* distinct words
    are skipped (a 2-word doc is "contained" everywhere — pure noise).
    All-pairs by construction: the small-N oracle-able baseline, same
    role as `jaccard_pairs` — at scale, run the SAME banded-LSH
    candidate generation (`minhash_lsh_pairs`) and swap this exact
    containment in as the verify predicate over candidate pairs only.
    """
    tok = prepare_tokens(ensure_parallelism(df), text_col, id_col)
    sets = tok.select(
        F.col(id_col).alias("doc"),
        (
            word_shingles("tok", shingle_n)
            if use_shingles
            else F.array_distinct(F.col("tok"))
        ).alias("s"),
    ).filter(F.size("s") >= min_tokens)
    a = sets.select(F.col("doc").alias("doc_a"), F.col("s").alias("s_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        a.join(b, F.col("doc_a") != F.col("doc_b"))
        .withColumn(
            # size(s_a) >= 1 even at min_tokens=0: split() yields at
            # least [""] and both set builders (word_shingles /
            # array_distinct) preserve >= 1 element, so the divisor is
            # structurally positive (ANSI-safe)
            "containment",
            F.round(
                F.size(F.array_intersect("s_a", "s_b"))
                / F.size("s_a").cast("double"),
                4,
            ),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "containment")
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    use_shingles: bool = False,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard — the small-N oracle-able baseline
    the LSH variants approximate. All-pairs by construction: use ONLY for
    verification at small scale or within LSH candidate buckets."""
    tok = prepare_tokens(ensure_parallelism(df), text_col, id_col)
    sets = tok.select(
        F.col(id_col).alias("doc"),
        (
            word_shingles("tok", shingle_n)
            if use_shingles
            else F.array_distinct(F.col("tok"))
        ).alias("s"),
    )
    a = sets.select(F.col("doc").alias("doc_a"), F.col("s").alias("s_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(jaccard("s_a", "s_b"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    use_shingles: bool = False,
    shingle_n: int = 3,
    candidates_only: bool = False,
) -> DataFrame:
    """EXACT similarity join via prefix filtering (AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08): all pairs
    with token-set Jaccard >= *threshold*, identical output to
    :func:`jaccard_pairs`, WITHOUT the all-pairs cross join.

    This is the deterministic-recall complement to the MinHash-LSH
    paths (`ext_dedup_near`/`ext_dedup_star` trade borderline-pair
    recall for banding probability; this misses NOTHING): order every
    doc's tokens by a global rarity order (corpus frequency asc, token
    asc), keep only each doc's PREFIX — the first
    ``l - ceil(t·l) + 1`` tokens of its ``l`` — and bucket-join docs
    on shared prefix tokens. Completeness: a qualifying pair has
    ``|A∩B| >= ceil(t·|A|)`` (since ``|A∪B| >= |A|``), and the
    SMALLEST common token in the global order has at least
    ``ceil(t·|X|) - 1`` common tokens after it in both sorted lists,
    so it sits inside BOTH prefixes — every qualifying pair shares a
    prefix-token bucket. The exact `jaccard` then verifies candidates
    (same verify stage as the LSH paths).

    Scale shape: one explode+count builds the frequency table (token-
    keyed shuffle; dim-sized -> AQE broadcast on the join back), one
    per-doc sort_array builds the rarity-ordered list map-side, and
    the candidate join buckets on the RAREST tokens per doc — exactly
    the tokens with the smallest buckets, which is what bounds
    candidate volume on non-duplicate text. The bucket join applies
    the PPJoin LENGTH filter (min(l) ≥ t·max(l)) and POSITIONAL filter
    (overlap bound from the shared token's rank in both rarity orders
    ≥ t/(1+t)·(l_a+l_b)) per candidate row before the distinct (r13):
    both are upper-bound prunes — a qualifying pair always survives at
    its first shared prefix token — so the verified output is
    unchanged while non-viable candidates never reach the
    set-intersection verify. On duplicate-dense corpora
    candidates approach the OUTPUT size (near-dup clusters share rare
    tokens), which is the floor for any exact join — the win over
    `jaccard_pairs` is never paying |docs|² across unrelated docs.

    CAVEAT — the filter's power IS the frequency tail: on a SMALL
    vocabulary every "rarest" token is still common, buckets stay
    huge, and the candidate join degrades toward all-pairs (measured:
    142 s vs ~1 s at sf0.1 on this corpus's word sets vs 3-gram
    shingles). Prefer ``use_shingles=True`` for natural text — q-gram/
    shingle domains are heavy-tailed by construction, which is how the
    PPJoin literature applies prefix filtering to strings.
    The epsilon in the prefix length (``ceil(t·l - 1e-9)``) guards the
    IEEE fuzz of ``t·l`` at integer boundaries — it can only LENGTHEN
    the prefix (more candidates, never false negatives).

    *threshold* must satisfy ``0 < threshold <= 1``: above 1 the
    prefix length ``l - ceil(t·l) + 1`` goes negative and ``slice()``
    raises an ANSI runtime error deep in the plan; at or below 0 the
    prefix covers every token and the join silently degrades to
    all-pairs — both rejected eagerly here instead.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            "prefix_filter_pairs: threshold must be in (0, 1], got "
            f"{threshold!r}"
        )
    tok = prepare_tokens(ensure_parallelism(df), text_col, id_col)
    # hashed set elements (xxhash64 longs), not strings: the ordering,
    # the prefix buckets, and the verify sets all shuffle 8-byte longs
    # instead of shingle strings — the minhash chain's established
    # same-set-semantics-up-to-2^-64-collisions equivalence (measured
    # 3.2 s -> see BASELINE for the string-set cost this replaces)
    sets = tok.select(
        F.col(id_col).alias("doc"),
        (
            hashed_word_shingles("tok", shingle_n)
            if use_shingles
            else F.array_distinct(
                F.expr("transform(tok, x -> xxhash64(x))")
            )
        ).alias("s"),
    ).localCheckpoint(eager=True)  # feeds ordering AND the verify join
    toks = sets.select(F.col("doc"), F.explode("s").alias("t"))
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("tf"))
    ordered = (
        toks.join(freq, "t")
        .groupBy("doc")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("tf"), F.col("t")))
            ).alias("ord_s"),
            F.count(F.lit(1)).cast("int").alias("l"),
        )
    )
    alpha = F.ceil(F.lit(float(threshold)) * F.col("l") - F.lit(1e-9))
    prefix_len = (F.col("l") - alpha + 1).cast("int")
    # PPJoin filters (r13, Xiao et al. WWW'08): carry each prefix
    # token's 0-based POSITION in the rarity order plus the set size
    # through the bucket join, and prune candidate rows that provably
    # cannot reach the threshold before the distinct/verify stages.
    # Completeness: a qualifying pair's FIRST shared token (in the
    # global order) sits inside both prefixes (the existing prefix
    # lemma), no shared token precedes it in either list, so at that
    # row overlap ≤ min(l_a - pos_a, l_b - pos_b) is EXACT and the row
    # survives both bounds: the length filter (J ≥ t ⟹
    # min(l) ≥ t·max(l)) and the positional filter
    # (J ≥ t ⟹ overlap ≥ t/(1+t)·(l_a+l_b)). Rows pruned at other
    # shared tokens are harmless — the pair only needs one surviving
    # row. The 1e-9 epsilons guard IEEE fuzz at integer boundaries and
    # can only LOOSEN a bound (keep a candidate), never drop one.
    prefix = (
        ordered.withColumn("plen", prefix_len)
        .select(
            "doc",
            "l",
            F.posexplode(
                F.expr("transform(slice(ord_s, 1, plen), p -> p.t)")
            ).alias("pos", "pt"),
        )
    )
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_la") + F.col("_lb"))
        - F.lit(1e-9)
    )
    cand = (
        prefix.select(
            F.col("doc").alias("doc_a"),
            F.col("l").alias("_la"),
            F.col("pos").alias("_pa"),
            "pt",
        )
        .join(
            prefix.select(
                F.col("doc").alias("doc_b"),
                F.col("l").alias("_lb"),
                F.col("pos").alias("_pb"),
                "pt",
            ),
            "pt",
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.least("_la", "_lb")
            >= F.ceil(
                F.lit(float(threshold)) * F.greatest("_la", "_lb")
                - F.lit(1e-9)
            )
        )
        .filter(
            F.least(
                F.col("_la") - F.col("_pa"), F.col("_lb") - F.col("_pb")
            )
            >= min_overlap
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    if candidates_only:
        # audit/observability mode: the candidate pair set BEFORE the
        # exact verify — what the filter's selectivity claim is pinned
        # on (tests/test_dedup_stress.py)
        return cand
    sa = sets.select(F.col("doc").alias("doc_a"), F.col("s").alias("s_a"))
    sb = sets.select(F.col("doc").alias("doc_b"), F.col("s").alias("s_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.round(jaccard("s_a", "s_b"), 4))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
