"""Embedding similarity search — exact cosine baseline + LSH-bucketed
approximate variant (LLM-pipeline extension, SURVEY.md §2.6).

Vector math stays inside Catalyst higher-order functions
(`zip_with`/`aggregate` fold — sequential, so the oracle's
`list_dot_product` computes bit-identical doubles). The per-row score is
a map-only stage; exact top-k ends in TakeOrdered (per-partition heaps +
driver merge, no global sort).

Scale path: exact all-pairs is O(n²) — fine for verification, wrong at
100 TB. The sign-LSH variant hashes each vector to compact signatures
against a fixed hyperplane matrix (one Arrow-batched numpy matmul per
partition — vector math is the one place a Pandas UDF beats Catalyst
lambdas), buckets on signatures, and scores only within buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def as_double(col: str) -> Column:
    """array<float> → array<double> so folds are double-precision."""
    return F.col(col).cast("array<double>")


def dot(a: str, b: str) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
        " cast(0 as double), (acc, v) -> acc + v)"
    )


def norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> x * x),"
            " cast(0 as double), (acc, v) -> acc + v)"
        )
    )


def cosine(a: str, b: str) -> Column:
    """Cosine similarity between two array columns. A zero vector has
    no defined direction, so its similarity is NULL (try_divide) rather
    than an ANSI DIVIDE_BY_ZERO crash — downstream ``>= threshold`` /
    ``ORDER BY`` treat NULL as non-matching/last, which is the right
    behavior for a degenerate embedding."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _safe_norms(mat: np.ndarray) -> np.ndarray:
    """Row L2 norms with zeros mapped to 1 — a zero vector stays zero
    after "normalization" instead of becoming NaN and poisoning every
    downstream distance/argmin."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return norms


def query_vector(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[float]:
    """Fetch one probe vector by id, raising the family's documented
    ``ValueError`` when the id is absent — the same eager guard
    `ivf_topk`/`pq_topk` apply, shared so query registrations that
    pass the vector as a driver-side parameter (`ext_simsearch`,
    `ext_hybrid_rrf`, `ext_stream_ann_index`) never dereference a
    ``None`` head() on an empty/degenerate table (r10 VERDICT item 1).
    """
    row = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if row is None:
        raise ValueError(
            f"query_vector: query id {query_id!r} not found in {id_col!r}"
        )
    return [float(x) for x in row[0]]


def exact_topk(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against one query vector. Map + TakeOrdered —
    distributes linearly; the ROUNDED score is the sort key (with id
    tiebreak) so results are reproducible across engines."""
    q = F.array(*[F.lit(float(x)) for x in query_vec]).cast("array<double>")
    scored = df.select(
        F.col(id_col),
        as_double(vec_col).alias("v"),
        q.alias("q"),
    )
    if exclude_id is not None:
        scored = scored.filter(F.col(id_col) != exclude_id)
    return (
        scored.withColumn("cosine", F.round(cosine("v", "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "cosine")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine above a threshold — the embedding
    near-duplicate baseline. O(n²): verification scale only; the LSH
    variant is the 100 TB path."""
    from etl_acordos_spark.operators.dedup import ensure_parallelism

    vecs = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v")
    )
    a = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine("v_a", "v_b"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def hard_negatives(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 100,
    k: int = 10,
    dup_ceiling: float = 0.95,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector
    (ids divisible by *query_mod* — a sampled anchor set), the top-*k*
    corpus vectors by cosine AMONG those BELOW *dup_ceiling*. The
    ceiling is what makes a negative "hard but true": candidates at or
    above it are the anchor's near-duplicates/positives (the SemDeDup
    regime — training on them as negatives poisons the objective), so
    the mined set is the most-similar non-duplicate neighbors.

    Output ``(query_id, id_col, cosine, rank)``, rank 1..k per query by
    (rounded cosine desc, id asc) — the family's reproducible sort key.
    Zero-norm vectors cosine to NULL (`cosine`'s try_divide) and the
    ceiling predicate drops NULLs on both engines.

    Scale shape: the anchor set is corpus/query_mod rows and BROADCASTS
    (the standard mining regime — a sampled anchor set vs the full
    corpus); the corpus scans ONCE, scoring q anchors per row map-side,
    and only (query_id, id, cosine) triples — never vectors — reach the
    per-query top-k shuffle, pre-pruned by the ceiling. O(n·q) compute
    with O(survivors) shuffle. For anchor sets too large to broadcast,
    mine per-shard against the IVF index instead (`ivf_topk`'s cell
    routing bounds each anchor's scan to its probe cells).
    """
    from etl_acordos_spark.operators.dedup import ensure_parallelism

    vecs = ensure_parallelism(df).select(
        F.col(id_col), as_double(vec_col).alias("v")
    )
    queries = vecs.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv")
    )
    scored = (
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn("cosine", F.round(cosine("v", "qv"), 6))
        .filter(F.col("cosine") < dup_ceiling)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )


def bitext_margin_pairs(
    df: DataFrame,
    k: int = 4,
    n: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Margin-based bitext mining (Artetxe & Schwenk 2019): score each
    cross-side candidate pair by its cosine RELATIVE to the two
    vectors' k-NN neighborhoods — ``margin = cos(x,y) / ((mean_k(x) +
    mean_k(y)) / 2)`` — the criterion that finds true translation /
    paraphrase pairs where a raw cosine threshold drowns in hubness
    (a "hub" vector close to everything scores high against all, but
    its k-NN mean is equally high, so its margins stay ~1).

    Sides are the id-parity halves (A = even, B = odd — the synthetic
    stand-in for two languages). Exact all-pairs formulation —
    QUADRATIC BY DESIGN, the verification baseline; at 100 TB the same
    margin is computed over LSH/IVF candidate pairs only (the
    ext_simsearch_ann machinery) with k-NN means estimated per bucket,
    the standard mined-bitext shape (CCMatrix). Cosines use the
    sequential fold (bit-identical to DuckDB ``list_dot_product``) and
    are grid-floored at 1e-9 before ranking; only pairs with positive
    cosine participate (a documented simplification of the paper's
    full-kNN denominator — identical on clustered data, and the oracle
    replays the same definition either way). Margins grid-floor at
    1e-6; ties at the top-n boundary break by (a_id, b_id).

    Returns (a_id, b_id, cosine, margin) — the top-*n* mined pairs."""
    vecs = df.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("v")
    )
    a = vecs.filter(F.col("id") % 2 == 0).select(
        F.col("id").alias("a_id"), F.col("v").alias("va")
    )
    b = vecs.filter(F.col("id") % 2 == 1).select(
        F.col("id").alias("b_id"), F.col("v").alias("vb")
    )
    # pin the quadratic stage: it feeds BOTH kNN-mean aggregates and
    # the final margin join — without the cut the all-pairs fold runs
    # 3× (a join node is not an exchange, so nothing is reused)
    pairs = (
        a.crossJoin(b)
        .withColumn(
            "cosine",
            F.floor(cosine("va", "vb") * 1000000000.0 + 0.5)
            / 1000000000.0,
        )
        .filter(F.col("cosine") > 0)
        .select("a_id", "b_id", "cosine")
        .localCheckpoint(eager=True)
    )
    # kNN means as EXACT integer sums: the 1e-9-floored cosine recovers
    # its integer numerator via round(c·1e9); summing longs is
    # order-independent, so the mean — and therefore the margin floor —
    # cannot flip on a summation-order ulp between engines (the repo's
    # exact-sums-for-averages convention)
    c_int = F.round(F.col("cosine") * 1000000000.0).cast("long")
    w_a = Window.partitionBy("a_id").orderBy(
        F.desc("cosine"), F.asc("b_id")
    )
    w_b = Window.partitionBy("b_id").orderBy(
        F.desc("cosine"), F.asc("a_id")
    )
    mean_a = (
        pairs.withColumn("_rn", F.row_number().over(w_a))
        .filter(F.col("_rn") <= k)
        .groupBy("a_id")
        .agg(F.sum(c_int).alias("_sa"), F.count("*").alias("_ca"))
    )
    mean_b = (
        pairs.withColumn("_rn", F.row_number().over(w_b))
        .filter(F.col("_rn") <= k)
        .groupBy("b_id")
        .agg(F.sum(c_int).alias("_sb"), F.count("*").alias("_cb"))
    )
    denom = (
        F.col("_sa") / F.col("_ca") + F.col("_sb") / F.col("_cb")
    ) / 2.0 / 1000000000.0
    return (
        pairs.join(mean_a, "a_id")
        .join(mean_b, "b_id")
        .select(
            "a_id",
            "b_id",
            "cosine",
            (
                F.floor(F.col("cosine") / denom * 1000000.0 + 0.5)
                / 1000000.0
            ).alias("margin"),
        )
        .orderBy(F.desc("margin"), F.asc("a_id"), F.asc("b_id"))
        .limit(n)
    )


_PLANE_SEED = 20240801

# The one integer grid of the exact-integer ANN paths (`ann_topk_lsh`,
# `ivfpq_topk`) and of their DuckDB oracles: a power of two, so x·Q is
# exact for float32 inputs, and its 2^-20 step sits ~5 orders below the
# intra-cluster spread the recall floors are measured on.
QUANT_SCALE = 1 << 20


def quantize_signed(mat: np.ndarray, q: int) -> np.ndarray:
    """``floor(x·Q + 0.5)`` per component WITHOUT the positivity shift —
    for integer computations that never divide (sign-LSH dot products:
    products and sums of signed int64 are exact in every engine; only
    division splits flooring vs truncating). No domain guard needed."""
    return np.floor(np.asarray(mat, dtype=np.float64) * float(q) + 0.5).astype(
        np.int64
    )


def _sign_lsh_quantized_udf(tables: int, bits: int, dim: int):
    """Vectorized multi-table sign-LSH signature UDF over exact
    integers: vectors AND the hyperplane constants quantize to signed
    int64 grids (`QUANT_SCALE`), and the signature bit is
    ``(int dot > 0)``. Order-free integer arithmetic makes the bucket
    structure ANSI-SQL replayable (`ext_simsearch_ann`'s oracle embeds
    the same quantized planes as literals). Sign ties (dot == 0) go to
    bit 0 on both sides. The plane matrix is a CONSTANT, built once
    driver-side and shipped in the closure; each Arrow batch is one
    integer matmul + sign + bit-pack."""
    pint = lsh_planes_int(tables, bits, dim)
    powers = 1 << np.arange(bits)

    @F.pandas_udf("array<int>")
    def sigs(vecs: pd.Series) -> pd.Series:
        mat = quantize_signed(
            np.stack(vecs.to_numpy())[:, :dim], QUANT_SCALE
        )
        signs = (mat @ pint) > 0
        packed = (signs.reshape(len(mat), tables, bits) * powers).sum(axis=2)
        return pd.Series(list(packed.astype(np.int32)))

    return sigs


def lsh_planes_int(tables: int, bits: int, dim: int) -> np.ndarray:
    """The quantized hyperplane constants `_sign_lsh_quantized_udf`
    uses — exposed so the oracle generator embeds the IDENTICAL ints
    as SQL literals (one shared computation, no reimplementation). The
    planes come from a fixed numpy RandomState, bit-stable across
    platforms."""
    planes = np.random.RandomState(_PLANE_SEED).standard_normal(
        (dim, tables * bits)
    )
    return quantize_signed(planes, QUANT_SCALE)


def assign_cell_udf(centroids: np.ndarray):
    """Nearest-centroid cell assignment: one (n × dim) @ (dim × k)
    matmul per Arrow batch, centroids shipped in the closure (k·dim
    floats). Shared by batch `ivf_topk` and the streaming IVF store
    (streaming/ann_index.py) — their unit-tested result equality
    depends on this being the ONE assignment implementation."""
    Cn = centroids / _safe_norms(centroids)

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / _safe_norms(mat)
        return pd.Series(np.argmax(mat @ Cn.T, axis=1).astype(np.int32))

    return assign


def probe_cells(
    centroids: np.ndarray, query: np.ndarray, n_probe: int
) -> list[int]:
    """The *n_probe* cells nearest the query by cosine — the shared
    driver-side probe-selection of batch and streaming IVF."""
    Cn = centroids / _safe_norms(centroids)
    q_norm = float(np.linalg.norm(query))
    if q_norm == 0.0:
        raise ValueError("probe_cells: zero-norm query — cosine undefined")
    return [int(c) for c in np.argsort(-(Cn @ (query / q_norm)))[:n_probe]]


def quantize_mat(mat: np.ndarray, q: int) -> np.ndarray:
    """``floor(x·Q + 0.5) + Q`` per component (the kmeans_assign exact
    shifted-integer domain): x·Q is exact for float32 inputs when Q is
    a power of two, and for x in [-1, 1] every shifted value is
    non-negative, so integer division floors identically in numpy,
    Spark and DuckDB. Out-of-range components raise — below -1 the
    shift goes negative and DuckDB's truncating ``//`` silently
    diverges from a flooring one."""
    m = np.asarray(mat, dtype=np.float64)
    if m.size and not (float(m.min()) >= -1.0 and float(m.max()) <= 1.0):
        # NaN fails BOTH >= and <= — the negated-conjunction form
        # catches it (a plain `min < -1 or max > 1` lets NaN through,
        # where floor().astype(int64) silently yields INT64_MIN)
        raise ValueError(
            "quantize requires components in [-1, 1] (the exact-int "
            f"domain breaks below -1); got range [{m.min()}, {m.max()}]"
        )
    return (np.floor(m * float(q) + 0.5) + q).astype(np.int64)


def _require_int_centroids(centroids: np.ndarray, who: str) -> np.ndarray:
    """Quantized-domain centroids must already BE shifted int64 grids
    (train_coarse_centroids(..., quantize=Q) output). Casting floats
    here would truncate toward zero — near-origin centroids collapse
    and recall degrades silently instead of erroring."""
    C = np.asarray(centroids)
    if not np.issubdtype(C.dtype, np.integer):
        raise ValueError(
            f"{who}: quantized mode needs integer centroids (train with "
            f"quantize=Q); got dtype {C.dtype}"
        )
    return C.astype(np.int64)


def _int_rel_sq_dists(mat: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact int64 squared-L2 to each centroid MINUS the per-row
    ||x||² term — a row constant that cannot change any per-row
    argmin/ordering, so it is never computed (every caller ranks cells
    within a row). One integer matmul; max |term| ≈ dim · (2Q)² ≈ 2^48
    at Q=2^20, dim=64: no int64 overflow."""
    return -2 * (mat @ C.T) + (C * C).sum(axis=1)[None, :]


def assign_cell_quantized_udf(centroids: np.ndarray, q: int):
    """Quantized-domain nearest-centroid assignment: vectors quantize to
    the same shifted-int64 grid as *centroids* and the argmin of EXACT
    integer squared-L2 picks the cell (ties to the lowest cell id —
    np.argmin's first-minimum, matching the oracle's
    ``row_number() OVER (ORDER BY dist, cluster)``). This is what makes
    the IVF cell structure ANSI-SQL replayable: no normalization, no
    float sums, no summation-order sensitivity anywhere."""
    C = _require_int_centroids(centroids, "assign_cell_quantized_udf")

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = quantize_mat(np.stack(vecs.to_numpy()), q)
        d2 = _int_rel_sq_dists(mat, C)
        return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

    return assign


def probe_cells_quantized(
    centroids: np.ndarray, query_int: np.ndarray, n_probe: int
) -> list[int]:
    """The *n_probe* cells nearest the quantized query by exact integer
    squared-L2, ties to the lowest cell id — the replayable twin of
    `probe_cells` (which ranks by cosine over float centroids)."""
    C = _require_int_centroids(centroids, "probe_cells_quantized")
    d2 = _int_rel_sq_dists(query_int[None, :].astype(np.int64), C)[0]
    order = sorted(range(len(C)), key=lambda c: (int(d2[c]), c))
    return order[:n_probe]


def train_coarse_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_factor: int = 4,
    n_iter: int = 4,
    sample: np.ndarray | None = None,
    quantize: int | None = None,
) -> np.ndarray:
    """Spherical k-means coarse quantizer for IVF, trained DRIVER-SIDE
    on a deterministic sample: the first ``train_factor * n_lists``
    vectors by id. This is the production shape (Faiss trains the
    coarse quantizer on a corpus sample, never the full set); the
    id-PREFIX sample specifically keeps the batch build (`ivf_topk`)
    and the streaming store (streaming/ann_index.py) bit-identical —
    the first ingest microbatch contains exactly the lowest ids, so
    both sides see the same training rows (their unit-tested result
    equality depends on it).

    Deterministic end-to-end: init = the first *n_lists* sample rows,
    fixed *n_iter* Lloyd rounds on L2-normalized vectors (cosine
    assignment, the same metric `assign_cell_udf` applies), empty cells
    keep their previous centroid, 9-dp rounding so last-ulp noise never
    leaks into assignments. k-means balances cell populations far
    better than the old "first n_lists raw vectors" baseline — at scale
    an imbalanced coarse quantizer concentrates the probe scan in a few
    giant cells and the n_probe/n_lists cost model breaks down.

    Callers that already hold the id-prefix sample (the streaming
    store's first-batch probe) pass it via *sample* to skip the second
    collect of the same rows.

    With *quantize* = Q (a power of two) training runs in
    `kmeans_assign`'s exact shifted-integer domain instead: squared-L2
    Lloyd over ``floor(x·Q + 0.5) + Q`` int64 components (no
    normalization — normalizing is a float op), argmin ties to the
    lowest cell, centroid update = round-half-up integer mean
    ``(2·sum + n) // (2·n)``. Bit-replayable as unrolled SQL CTEs
    (`ext_simsearch_ivf`'s oracle); returns int64 centroids."""
    train_n = train_factor * n_lists
    if sample is None:
        rows = (
            df.select(as_double(vec_col))
            .orderBy(id_col)
            .limit(train_n)
            .collect()
        )
        sample = np.stack(
            [np.asarray(r[0], dtype=np.float64) for r in rows]
        ) if rows else np.empty((0, 0))
    S = np.asarray(sample, dtype=np.float64)[:train_n]
    if len(S) < n_lists:
        raise ValueError(
            f"train_coarse_centroids: only {len(S)} vectors available "
            f"< n_lists={n_lists}"
        )
    if quantize:
        Sq = quantize_mat(S, quantize)
        C = Sq[:n_lists].copy()
        for _ in range(n_iter):
            a = np.argmin(_int_rel_sq_dists(Sq, C), axis=1)
            for c in range(n_lists):
                members = Sq[a == c]
                if len(members):
                    n = np.int64(len(members))
                    # operands all positive: // floors in every engine
                    C[c] = (2 * members.sum(axis=0) + n) // (2 * n)
        return C
    Sn = S / _safe_norms(S)
    C = Sn[:n_lists].copy()
    for _ in range(n_iter):
        Cn = C / _safe_norms(C)
        a = np.argmax(Sn @ Cn.T, axis=1)
        for c in range(n_lists):
            members = Sn[a == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return np.round(C, 9)


def ivf_topk(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    quantize: int | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) search: partition the
    corpus into *n_lists* cells around coarse centroids, then scan only
    the *n_probe* cells nearest the query.

    The coarse quantizer is k-means over a deterministic id-prefix
    sample (`train_coarse_centroids`); pass *centroids* to probe with
    an externally trained/stored quantizer instead (the streaming
    store's probe path). Cell assignment is one Arrow-batched numpy
    matmul per partition (vectors × centroidsᵀ). At 100 TB the payoff
    is that the scan for a query touches n_probe/n_lists of the corpus,
    and the cell id is a natural partition/bucket key for the stored
    table.

    With *quantize* = Q the whole CELL structure — coarse training,
    corpus assignment, probe selection — runs in the exact
    shifted-integer domain (squared-L2 over ``floor(x·Q + 0.5) + Q``
    int64 grids, ties to the lowest cell), so candidate membership is
    ANSI-SQL replayable and the final exact cosine re-rank makes the
    whole query hash-verifiable (`ext_simsearch_ivf`'s DuckDB oracle
    unrolls it). The float spherical path stays: it is the only path
    for vectors outside [-1, 1] (`quantize_mat` raises there), such as
    the unscaled hub corpus and the streaming store's float mode;
    quantized-vs-float recall parity on the rescaled adversarial
    fixture is pinned in tests/test_simsearch.py.
    """
    qrow = df.filter(F.col(id_col) == query_id).select(as_double(vec_col)).head()
    if qrow is None:
        raise ValueError(f"ivf_topk: query id {query_id!r} not found in {id_col!r}")
    q = np.asarray(qrow[0], dtype=np.float64)

    if quantize:
        if float(np.linalg.norm(q)) == 0.0:
            raise ValueError(
                f"ivf_topk: query vector {query_id!r} has zero norm — cosine undefined"
            )
        C = (
            centroids
            if centroids is not None
            else train_coarse_centroids(
                df, id_col, vec_col, n_lists, quantize=quantize
            )
        )
        assigned = df.select(
            F.col(id_col).alias("id"),
            as_double(vec_col).alias("v"),
            assign_cell_quantized_udf(C, quantize)(
                as_double(vec_col)
            ).alias("cell"),
        )
        probe = probe_cells_quantized(C, quantize_mat(q, quantize), n_probe)
    else:
        C = (
            centroids
            if centroids is not None
            else train_coarse_centroids(df, id_col, vec_col, n_lists)
        )
        assigned = df.select(
            F.col(id_col).alias("id"),
            as_double(vec_col).alias("v"),
            assign_cell_udf(C)(as_double(vec_col)).alias("cell"),
        )
        try:
            probe = probe_cells(C, q, n_probe)
        except ValueError:
            raise ValueError(
                f"ivf_topk: query vector {query_id!r} has zero norm — cosine undefined"
            ) from None
    qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")

    return (
        assigned.filter(F.col("cell").isin(probe))
        .filter(F.col("id") != query_id)
        .withColumn("q", qcol)
        .withColumn("cosine", F.round(cosine("v", "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("vec_id"), "cosine")
    )


def unit_clamped_np(mat: np.ndarray) -> np.ndarray:
    """Sequential-fold L2 normalization + [-1, 1] clamp in numpy —
    bit-identical to `unit_clamped` (and DuckDB's list ops): the
    per-row sum of squares accumulates STRICTLY left-to-right (a Python
    loop over dims, vectorized across rows; numpy's own sum/linalg.norm
    use pairwise summation and would drift a ulp), zero norm maps to 1,
    sqrt/divide/clamp are single correctly-rounded IEEE ops. This is
    the hot-path form: the HOF version suffers Catalyst projection
    collapse (the norm fold inlines into every transform element —
    O(dim²) interpreted lambda ops per row), so the quantized ANN
    pipelines normalize inside their Arrow UDFs with this instead.
    Bit-equality of the two forms is pinned in tests/test_simsearch.py."""
    m = np.asarray(mat, dtype=np.float64)
    acc = np.zeros(len(m))
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    nrm = np.sqrt(acc)
    nrm[nrm == 0.0] = 1.0
    return np.minimum(np.maximum(m / nrm[:, None], -1.0), 1.0)


def unit_clamped(df: DataFrame, out_col: str = "u", vec: str = "v") -> DataFrame:
    """Append an L2-normalized copy of array<double> column *vec*,
    clamped to [-1, 1], computed ENTIRELY in Catalyst HOFs — the
    sequential fold is bit-identical to DuckDB's ``list_dot_product``
    (the proven `ext_simsearch` seam), unlike numpy's pairwise-summed
    ``linalg.norm``. The clamp absorbs the one-ulp overshoot a rounded
    divide can produce (|x|/||v|| can round to 1+2^-52), identically on
    both engines, so downstream quantization is always in-domain.
    Zero norm maps to 1 (the `_safe_norms` convention).

    This is the REFERENCE form (what the oracles' nrm/vq CTEs spell
    out); the quantized ANN hot paths use `unit_clamped_np` inside
    their Arrow UDFs instead — Catalyst projection collapse inlines
    the norm fold into every transform element here, O(dim²)
    interpreted lambda ops per row. Bit-equality of the two forms is
    pinned in tests/test_simsearch.py."""
    n = F.sqrt(dot(vec, vec))
    return df.withColumn(
        "_n", F.when(n == 0.0, F.lit(1.0)).otherwise(n)
    ).withColumn(
        out_col,
        F.expr(
            f"transform({vec},"
            " x -> least(greatest(x / _n, -1.0D), 1.0D))"
        ),
    ).drop("_n")


def _pq_train_codebooks_int(
    Sq: np.ndarray, m: int, ks: int, n_iter: int
) -> np.ndarray:
    """Per-subspace Lloyd in the exact shifted-integer domain — the
    replayable twin of `_pq_train_codebooks`: argmin ties to the lowest
    code (np.argmin first-minimum == the oracle's ``ORDER BY dist,
    code``), round-half-up integer means on the positive domain, empty
    codes keep their previous codeword, fixed iteration count."""
    n, dim = Sq.shape
    dsub = dim // m
    books = np.empty((m, ks, dsub), dtype=np.int64)
    for j in range(m):
        X = Sq[:, j * dsub : (j + 1) * dsub]
        C = X[:ks].copy()
        for _ in range(n_iter):
            a = np.argmin(_int_rel_sq_dists(X, C), axis=1)
            for c in range(ks):
                members = X[a == c]
                if len(members):
                    cnt = np.int64(len(members))
                    C[c] = (2 * members.sum(axis=0) + cnt) // (2 * cnt)
        books[j] = C
    return books


def _pq_train_codebooks(
    sample: np.ndarray, m: int, ks: int, n_iter: int
) -> np.ndarray:
    """Per-subspace Lloyd's k-means on the (already normalized) training
    sample — all driver-side numpy on a few hundred rows. Deterministic:
    init is the first *ks* sample rows' sub-vectors, fixed iteration
    count, empty cells keep their previous codeword."""
    n, dim = sample.shape
    dsub = dim // m
    books = np.empty((m, ks, dsub))
    for j in range(m):
        X = sample[:, j * dsub : (j + 1) * dsub]
        C = X[:ks].copy()
        for _ in range(n_iter):
            d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(ks):
                members = X[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
        books[j] = C
    return books


def pq_topk(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 16,
    ks: int = 32,
    train_n: int = 256,
    refine: int = 4,
    n_iter: int = 5,
    quantize: int | None = None,
) -> DataFrame:
    """Approximate top-k via product quantization (the compression half
    of IVF-PQ): L2-normalize, split each vector into *m* subspaces,
    learn a *ks*-codeword codebook per subspace from a deterministic
    training sample (first *train_n* by id), encode every vector as m
    small codes (here 64 floats → 16 codes, 16× smaller), and score with
    asymmetric distance (ADC): the full-precision query builds one
    (m × ks) inner-product lookup table, each encoded vector's
    approximate score is m table gathers — the corpus never
    decompresses. The PQ shortlist (k·*refine* ids) is exactly
    re-ranked with the HOF cosine for the final answer.

    With *quantize* = Q the pipeline runs the exact shifted-integer
    variant (`_pq_topk_quantized`): normalization happens in Catalyst
    HOFs (bit-identical to DuckDB list ops) and everything after the
    [-1,1]-clamped quantization — codebook training, encode, the ADC
    scan (integer squared-L2 over the unit sphere, the Faiss METRIC_L2
    cosine workaround) — is order-free int64, so the shortlist and the
    whole query hash-verify against `ext_simsearch_pq`'s DuckDB oracle.

    The float IP-ADC path stays the default because the integer one
    loses recall at scale: on the 20× jittered tile
    (`test_ann_recall_floors_at_20x_scale`, refine=16) integer PQ
    recalls 5/10 against float's 10/10, below that test's floor of 7;
    at sf0.01 with default knobs it is 8/10 against 10/10.

    At 100 TB the codes ARE the stored scan column (m bytes/vector vs
    dim·4), codebooks are kilobytes shipped in the UDF closure, and both
    encode and ADC scan are map-only Arrow-batched numpy — no shuffle
    until the k·refine TakeOrdered. Route with IVF cells (`ivf_topk`)
    for the standard IVF-PQ composite. Recall is unit-tested against
    `exact_topk`; the quantized variant hash-verifies end-to-end."""
    if quantize:
        return _pq_topk_quantized(
            df, query_id, id_col, vec_col, k, m, ks, train_n,
            refine, n_iter, quantize,
        )
    train = (
        df.select(as_double(vec_col))
        .orderBy(id_col)
        .limit(train_n)
        .collect()
    )
    S = np.stack([np.asarray(r[0], dtype=np.float64) for r in train])
    S = S / _safe_norms(S)
    dim = S.shape[1]
    dsub = dim // m
    books = _pq_train_codebooks(S, m, ks, n_iter)

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / _safe_norms(mat)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            X = mat[:, j * dsub : (j + 1) * dsub]
            d2 = ((X[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    qrow = df.filter(F.col(id_col) == query_id).select(as_double(vec_col)).head()
    if qrow is None:
        raise ValueError(f"pq_topk: query id {query_id!r} not found in {id_col!r}")
    q = np.asarray(qrow[0], dtype=np.float64)
    q_norm = float(np.linalg.norm(q))
    if q_norm == 0.0:
        raise ValueError(
            f"pq_topk: query vector {query_id!r} has zero norm — cosine undefined"
        )
    qn = q / q_norm
    # ADC lookup table: lut[j, c] = q_j · codeword_c  (IP on normalized
    # vectors ≈ cosine)
    lut = np.stack(
        [books[j] @ qn[j * dsub : (j + 1) * dsub] for j in range(m)]
    )

    @F.pandas_udf("double")
    def adc_score(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy())
        return pd.Series(lut[np.arange(m), C].sum(axis=1))

    encoded = df.select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("v"),
        encode(as_double(vec_col)).alias("codes"),
    )
    shortlist = (
        encoded.filter(F.col("id") != query_id)
        .withColumn("approx_ip", adc_score(F.col("codes")))
        .orderBy(F.col("approx_ip").desc(), F.col("id").asc())
        .limit(k * refine)
    )
    qcol = F.array(*[F.lit(float(x)) for x in q]).cast("array<double>")
    return (
        shortlist.withColumn("q", qcol)
        .withColumn("cosine", F.round(cosine("v", "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("vec_id"), "cosine")
    )


def _pq_topk_quantized(
    df: DataFrame,
    query_id: int,
    id_col: str,
    vec_col: str,
    k: int,
    m: int,
    ks: int,
    train_n: int,
    refine: int,
    n_iter: int,
    q_scale: int,
) -> DataFrame:
    """The exact shifted-integer PQ twin (see `pq_topk`): Catalyst-HOF
    normalization + clamp (`unit_clamped`), driver-side integer
    codebooks (`_pq_train_codebooks_int`), Arrow-batched integer encode
    and integer squared-L2 ADC — every stage replayed CTE-for-CTE by
    `ext_simsearch_pq`'s oracle. On the unit sphere ascending L2-ADC is
    the cosine-descending order's exact stand-in."""
    base = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    qrow = base.filter(F.col("id") == query_id).select("v").head()
    if qrow is None:
        raise ValueError(
            f"pq_topk: query id {query_id!r} not found in {id_col!r}"
        )
    qv = np.asarray(qrow["v"], dtype=np.float64)
    if float(np.linalg.norm(qv)) == 0.0:
        raise ValueError(
            f"pq_topk: query vector {query_id!r} has zero norm — cosine undefined"
        )
    train = base.select("v").orderBy("id").limit(train_n).collect()
    Sq = quantize_mat(
        unit_clamped_np(
            np.stack([np.asarray(r[0], dtype=np.float64) for r in train])
        ),
        q_scale,
    )
    dim = Sq.shape[1]
    dsub = dim // m
    books = _pq_train_codebooks_int(Sq, m, ks, n_iter)
    qq = quantize_mat(unit_clamped_np(qv[None, :]), q_scale)[0]
    # ADC lookup table: FULL integer squared-L2 per (subspace, code) —
    # the query is one fixed row, so no rel-dist shortcut applies (and
    # the oracle mirrors this exact definition)
    lut = np.stack(
        [
            ((qq[j * dsub : (j + 1) * dsub][None, :] - books[j]) ** 2).sum(
                axis=1
            )
            for j in range(m)
        ]
    )

    @F.pandas_udf("array<int>")
    def encode_q(vecs: pd.Series) -> pd.Series:
        mat = quantize_mat(
            unit_clamped_np(np.stack(vecs.to_numpy())), q_scale
        )
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            X = mat[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmin(_int_rel_sq_dists(X, books[j]), axis=1)
        return pd.Series(list(codes))

    @F.pandas_udf("long")
    def adc_q(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy())
        return pd.Series(lut[np.arange(m), C].sum(axis=1))

    shortlist = (
        base.select("id", "v", encode_q(F.col("v")).alias("codes"))
        .filter(F.col("id") != query_id)
        .withColumn("adc_d2", adc_q(F.col("codes")))
        .orderBy(F.col("adc_d2").asc(), F.col("id").asc())
        .limit(k * refine)
    )
    qcol = F.array(*[F.lit(float(x)) for x in qv]).cast("array<double>")
    return (
        shortlist.withColumn("q", qcol)
        .withColumn("cosine", F.round(cosine("v", "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("vec_id"), "cosine")
    )


def ivfpq_topk(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 16,
    ks: int = 32,
    train_n: int = 256,
    refine: int = 8,
    n_iter: int = 5,
) -> DataFrame:
    """IVF-PQ composite ANN — the standard billion-scale vector-index
    layout (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011; Faiss ``IndexIVFPQ``): the coarse quantizer
    prunes the scan to ``n_probe/n_lists`` of the corpus, product-
    quantized RESIDUALS (vector − its cell centroid) compress what
    remains ~16×, ADC scores codes without ever decompressing, and
    exact cosine re-ranks only the ``k·refine`` shortlist.

    Residual encoding is what makes the composite beat raw PQ: within
    a cell the residuals span a much smaller ball than the raw
    vectors, so the same ``m × ks`` codebook budget quantizes finer.

    One arithmetic, exact integers: all geometry lives on the
    quantized-NORMALIZED grid (`unit_clamped_np`, then `quantize_mat`
    at `QUANT_SCALE`). Normalizing and clamping first puts any finite
    input in the [-1, 1] quantize domain, unscaled vectors included.
    Coarse cells come from integer Lloyd over the id-prefix sample;
    residuals shift +2Q into the positive domain (Lloyd means divide —
    negative operands would split flooring vs truncating engines);
    residual codebooks come from `_pq_train_codebooks_int`; and a
    per-probed-cell integer squared-L2 LUT scores ``||(q−c) − r̂||²``.
    Every approximate choice (cells, probes, codes, shortlist) is then
    bit-deterministic, and the whole query hash-verifies against
    `ext_simsearch_ivfpq`'s DuckDB oracle, which replays it
    CTE-for-CTE.

    Scale shape (the point of the composite at 100 TB):

    - training is one driver-side collect of the first
      ``max(train_n, 4·n_lists)`` ids (KB), exactly like `ivf_topk` /
      `pq_topk` — coarse k-means and the shared residual codebooks are
      numpy on that sample, shipped in UDF closures (KB again);
    - encode is map-only Arrow-batched numpy (assign + residual +
      per-subspace argmin in one pass over each batch); at rest the
      (cell, codes) pair IS the stored index — m bytes/vector plus a
      cell id that doubles as the partition key;
    - the probe filters on ``cell`` BEFORE any scoring, so the ADC
      scan touches ~n_probe/n_lists of the rows (with a cell-
      partitioned store this is partition pruning, not a filter);
    - the per-cell query constant is built into each probed cell's
      LUT; the only shuffle is the k·refine TakeOrdered.

    ``refine`` defaults higher than `pq_topk`'s (8 vs 4): residual
    codebooks are trained on ``train_n`` rows SPLIT across cells, so
    per-cell quantization is coarser than raw PQ's and the exact
    re-rank shortlist needs more slack; measured at sf0.01 this
    reaches the IVF pruning ceiling (neighbors outside the probed
    cells are unreachable by construction) while the shortlist stays
    k·refine rows — driver-trivial at any corpus size. Recall is
    unit-tested against `exact_topk` (tests/test_operators.py,
    tests/test_simsearch.py, tests/test_scale_paths.py)."""
    base = df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v"))
    qrow = base.filter(F.col("id") == query_id).select("v").head()
    if qrow is None:
        raise ValueError(
            f"ivfpq_topk: query id {query_id!r} not found in {id_col!r}"
        )
    qv = np.asarray(qrow["v"], dtype=np.float64)
    if float(np.linalg.norm(qv)) == 0.0:
        raise ValueError(
            f"ivfpq_topk: query vector {query_id!r} has zero norm — "
            "cosine undefined"
        )
    rows = (
        base.select("v")
        .orderBy("id")
        .limit(max(train_n, 4 * n_lists))
        .collect()
    )
    U = unit_clamped_np(
        np.stack([np.asarray(r[0], dtype=np.float64) for r in rows])
    )
    # coarse quantizer: integer Lloyd over the (already normalized,
    # already clamped) sample — passed through so training sees the
    # same grid the corpus UDF will
    C = train_coarse_centroids(
        df, id_col, vec_col, n_lists, sample=U, quantize=QUANT_SCALE
    )
    Uq = quantize_mat(U[:train_n], QUANT_SCALE)
    shift = np.int64(2 * QUANT_SCALE)
    tcells = np.argmin(_int_rel_sq_dists(Uq, C), axis=1)
    books = _pq_train_codebooks_int(Uq - C[tcells] + shift, m, ks, n_iter)
    dim = Uq.shape[1]
    dsub = dim // m

    qq = quantize_mat(unit_clamped_np(qv[None, :]), QUANT_SCALE)[0]
    probe = probe_cells_quantized(C, qq, n_probe)
    # per-probed-cell LUT: integer squared-L2 between the query's
    # cell-residual and each codeword — ascending sums rank candidates
    # across cells with the per-cell constant built in
    luts = {}
    for c in probe:
        rq = qq - C[c] + shift
        luts[c] = np.stack(
            [
                (
                    (rq[j * dsub : (j + 1) * dsub][None, :] - books[j]) ** 2
                ).sum(axis=1)
                for j in range(m)
            ]
        )

    @F.pandas_udf("struct<cell:int,codes:array<int>>")
    def encode_q(vecs: pd.Series) -> pd.DataFrame:
        mat = quantize_mat(
            unit_clamped_np(np.stack(vecs.to_numpy())), QUANT_SCALE
        )
        cells = np.argmin(_int_rel_sq_dists(mat, C), axis=1)
        res = mat - C[cells] + shift
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            X = res[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = np.argmin(_int_rel_sq_dists(X, books[j]), axis=1)
        return pd.DataFrame(
            {"cell": cells.astype(np.int32), "codes": list(codes)}
        )

    @F.pandas_udf("long")
    def adc_q(cells: pd.Series, codes: pd.Series) -> pd.Series:
        Cm = np.stack(codes.to_numpy())
        cl = cells.to_numpy()
        out = np.empty(len(Cm), dtype=np.int64)
        for c in np.unique(cl):
            mask = cl == c
            out[mask] = luts[int(c)][np.arange(m), Cm[mask]].sum(axis=1)
        return pd.Series(out)

    encoded = base.select(
        "id", "v", encode_q(F.col("v")).alias("e")
    ).select(
        "id", "v", F.col("e.cell").alias("cell"), F.col("e.codes").alias("codes")
    )
    shortlist = (
        encoded.filter(F.col("cell").isin(probe))
        .filter(F.col("id") != query_id)
        .withColumn("adc_d2", adc_q(F.col("cell"), F.col("codes")))
        .orderBy(F.col("adc_d2").asc(), F.col("id").asc())
        .limit(k * refine)
    )
    qcol = F.array(*[F.lit(float(x)) for x in qv]).cast("array<double>")
    return (
        shortlist.withColumn("q", qcol)
        .withColumn("cosine", F.round(cosine("v", "q"), 6))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("vec_id"), "cosine")
    )


def ann_topk_lsh(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    tables: int = 12,
    bits: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: a vector is a
    candidate iff it collides with the query's full signature in at
    least one of *tables* independent tables; exact cosine re-ranks
    candidates only.

    One arithmetic, exact integers: signatures come from integer dot
    products of `QUANT_SCALE`-quantized vectors against quantized
    planes (`_sign_lsh_quantized_udf`). Signed products and sums never
    divide, so no domain guard applies and unscaled vectors work as
    they are. The bucket structure is bit-deterministic, and the whole
    query hash-verifies against `ext_simsearch_ann`'s DuckDB oracle
    (same quantized planes as literals).

    Recall/cost dial: per-neighbor recall ≈ 1-(1-p^bits)^tables with
    p = 1 - θ/π; expected random-candidate fraction ≈ tables/2^bits
    (~19% with 12×6 — sized for this corpus's near-orthogonal vectors;
    at 100 TB raise `bits` and `tables` together to cut the candidate
    fraction while holding recall). The bucket join shuffles (table,
    signature) ints — never the vectors of non-candidates."""
    sig_udf = _sign_lsh_quantized_udf(tables, bits, dim)
    sigs = df.select(
        F.col(id_col).alias("id"),
        as_double(vec_col).alias("v"),
        sig_udf(as_double(vec_col)).alias("sigs"),
    )
    exploded = sigs.select(
        "id", "v", F.posexplode("sigs").alias("table_idx", "sig_val")
    )
    q = exploded.filter(F.col("id") == query_id).select(
        F.col("v").alias("q_v"), "table_idx", "sig_val"
    )
    cand = (
        exploded.join(F.broadcast(q), ["table_idx", "sig_val"])
        .filter(F.col("id") != query_id)
        .dropDuplicates(["id"])
    )
    return (
        cand.withColumn("cosine", F.round(cosine("v", "q_v"), 6))
        .orderBy(F.col("cosine").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("vec_id"), "cosine")
    )


# ------------------------------------------------- storage quantization


def quantize_int8(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage layout a
    large vector corpus actually persists (4× smaller than float32;
    scoring reads int8 codes plus one scale per vector, the same
    scalar-quantization shape Faiss's SQ8 index uses).

    ``scale = max|x| / 127``; ``q_i = floor(x_i / scale + 0.5)``
    (round-half-up, NOT round(): engines disagree on half-to-even vs
    half-away ties, floor(+0.5) is bit-identical everywhere). A zero
    vector gets scale 0 and all-zero codes (the 1.0 divisor guard never
    changes a nonzero vector's codes).

    Returns (id, scale, q_l1, rmse): the dequantization scale, the L1
    mass of the codes, and the reconstruction RMSE — the acceptance
    check a quantized store runs before swapping the float index out.

    Scale shape: map-only — every expression is a Catalyst HOF fold
    over the vector (scan → project, no shuffle, no UDF, no driver
    state), so it distributes linearly at any corpus size.
    """
    base = (
        df.select(F.col(id_col), as_double(vec_col).alias("v"))
        .withColumn(
            "scale",
            F.expr(
                "aggregate(transform(v, x -> abs(x)),"
                " cast(0 as double), (acc, x) -> greatest(acc, x)) / 127.0"
            ),
        )
        .withColumn(
            "sc",
            F.when(F.col("scale") == 0.0, F.lit(1.0)).otherwise(
                F.col("scale")
            ),
        )
        .withColumn(
            "q", F.expr("transform(v, x -> cast(floor(x / sc + 0.5d) as int))")
        )
    )
    sq_err = F.expr(
        "aggregate(zip_with(v, q, (x, qi) -> (x - qi * sc) * (x - qi * sc)),"
        " cast(0 as double), (acc, e) -> acc + e)"
    )
    return base.select(
        F.col(id_col),
        F.round("scale", 6).alias("scale"),
        F.expr(
            "aggregate(q, cast(0 as bigint), (acc, qi) -> acc + abs(qi))"
        ).alias("q_l1"),
        # try_divide: a zero-dimension vector (size 0) gets NULL rmse
        # instead of an ANSI 0/0 crash
        F.round(F.sqrt(F.try_divide(sq_err, F.size("v"))), 6).alias("rmse"),
    )


# ------------------------------------------------- hybrid retrieval


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    score_a: str,
    score_b: str,
    k: int = 15,
    k_rrf: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two bounded top-k lists — hybrid
    retrieval, the standard way a curation stack merges a lexical
    (BM25) and a semantic (embedding cosine) probe of the same corpus:
    ``rrf(d) = Σ_lists 1 / (k_rrf + rank_list(d))`` with k_rrf = 60
    per Cormack et al. (SIGIR 2009).

    Ranks are assigned by (score desc, id asc) — fully deterministic,
    so the fused list is engine-reproducible. Absent docs contribute 0.
    Output ranks are DOUBLE (not int) so the NULL of a one-list doc
    survives pandas materialization identically everywhere.

    Scale shape: both inputs are ALREADY top-k reductions (TakeOrdered
    output, ≤ k rows each), so the single-partition rank windows and
    the outer join run on driver-bounded data BY CONSTRUCTION — the
    distributed work happened producing the lists. Do not feed unbounded
    frames: rank a corpus-sized frame with a partitioned window first.
    """
    wa = Window.orderBy(F.col(score_a).desc(), F.col(id_col).asc())
    wb = Window.orderBy(F.col(score_b).desc(), F.col(id_col).asc())
    ra = a.select(
        F.col(id_col), F.row_number().over(wa).alias("lex_rank")
    )
    rb = b.select(
        F.col(id_col), F.row_number().over(wb).alias("vec_rank")
    )
    fused = ra.join(rb, id_col, "full_outer").select(
        F.col(id_col),
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(k_rrf) + F.col("vec_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
        F.col("lex_rank").cast("double").alias("lex_rank"),
        F.col("vec_rank").cast("double").alias("vec_rank"),
    )
    return (
        fused.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "rrf_score", "lex_rank", "vec_rank")
    )
