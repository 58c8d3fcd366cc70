"""Relational operators over the star schema.

The reference has no joins, aggregations, windows, or sorts (SURVEY.md
§2.6) — these are the extension inventory, built Spark-first:

  - Dimension joins broadcast the small side explicitly; the fact-side
    scan never shuffles for a dim lookup. At 100 TB the fact table is the
    only thing that should ever move, and only when an agg/join keys on it.
  - Aggregations are single-pass hash aggregates (partial map-side combine
    comes free from Catalyst).
  - Top-k per group is a window + row_number, which AQE executes as a
    local sort within hash-partitioned groups — no global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_acordos_spark.functions.hashing import unit_hash_open


def star_join(
    fact: DataFrame,
    dims: list[tuple[DataFrame, Column | str]],
) -> DataFrame:
    """Join a fact table with N dimension tables (equi-joins).

    Each element of *dims* is ``(dim_df, join_condition_or_key)``. Small
    dims are broadcast — a 5-row `region` table must never induce a
    shuffle of a 100 TB `lineitem`.
    """
    out = fact
    for dim, cond in dims:
        out = out.join(F.broadcast(dim), on=cond, how="inner")
    return out


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    prefix: str = "asof_",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` for the same key. Spark has no native ASOF —
    this is the scalable composition: tag both sides, union, and carry
    right values forward with ``last(ignorenulls)`` over one
    (key, ts)-sorted window.

    One shuffle + one sort per key — no range self-join, no candidate
    explosion; ties at equal ts sort the right row first (matching
    DuckDB/Pandas ASOF `>=` semantics). Skewed hot keys behave like any
    window: AQE-split, state O(1) per carried column.

    DUPLICATE right rows at the same (key, ts) carry an arbitrary one
    of them (the window order is a tie) — dedup the right side first,
    or add a total-order tiebreaker column, if that case can occur.
    The brute-force property test generates unique (key, ts) right
    rows for exactly this reason (tests/test_properties.py).
    """
    lcols = left.columns
    l = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{prefix}{c}") for c in right_cols],
    )
    u = l.unionByName(r, allowMissingColumns=True)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = [
        F.last(f"{prefix}{c}", ignorenulls=True).over(w).alias(f"{prefix}{c}")
        for c in right_cols
    ]
    return (
        u.select(*lcols, "_side", *carried)
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


def range_join_binned(
    fact: DataFrame,
    val_col: str,
    ranges: DataFrame,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Range join (fact.value in [lo, hi)) via binning: explode each
    range onto the fixed-width bins it covers, equi-join on bin, then
    refine with the exact predicate.

    The naive plan is a broadcast-nested-loop (O(|fact|·|ranges|)); the
    binned plan is an equi-join a 100 TB fact can shuffle-partition or
    broadcast on, with per-row work O(ranges-per-bin). Choose bin_width
    ~ the median range width so each range explodes to O(1) bins.
    """
    rb = ranges.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_width).cast("long"),
                F.floor(F.col(hi_col) / bin_width).cast("long"),
            )
        ),
    )
    fb = fact.withColumn(
        "_bin", F.floor(F.col(val_col) / bin_width).cast("long")
    )
    return (
        fb.join(F.broadcast(rb), "_bin")
        .filter(
            (F.col(val_col) >= F.col(lo_col)) & (F.col(val_col) < F.col(hi_col))
        )
        .drop("_bin")
    )


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-k rows per group via row_number over a partitioned window.

    *order_cols* must yield a total order (add a unique tiebreaker) or
    results are nondeterministic — determinism matters more at 1000
    executors, not less.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def merge_upsert(
    existing: DataFrame, updates: DataFrame, key: str, version: str
) -> DataFrame:
    """Lake-side MERGE: latest row per key across existing ∪ updates.

    The reference's only merge is MariaDB's row-at-a-time ``ON DUPLICATE
    KEY UPDATE`` (tasks/bronze.py:102-121); on a Parquet lake the same
    contract is a snapshot rewrite: union both sides, keep the highest
    *version* per *key* (ties break toward updates via a source rank).
    One shuffle on the key; at 100 TB the rewrite scopes to the
    partitions that received updates (partition-pruned read + dynamic
    overwrite), not the whole table.
    """
    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(key).orderBy(
        F.col(version).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def scd2_history(
    snapshots: DataFrame, key: str, version: str, attrs: list[str]
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from versioned snapshots.

    Collapses consecutive versions with unchanged *attrs* and emits one
    validity interval per attribute state: (key, attrs, valid_from,
    valid_to, is_current). Pure window functions — lag to detect change,
    running sum to number change-groups, then one aggregate; two
    shuffles total, both on the dimension key (small relative to facts).
    """
    w = Window.partitionBy(key).orderBy(version)
    changed = F.when(
        F.struct(*attrs).eqNullSafe(
            F.lag(F.struct(*attrs)).over(w)
        ),
        0,
    ).otherwise(1)
    grouped = snapshots.withColumn(
        "_grp", F.sum(changed).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    out = (
        grouped.groupBy(key, "_grp", *attrs)
        .agg(
            F.min(version).alias("valid_from"),
            F.max(version).alias("valid_to_incl"),
        )
        .drop("_grp")
    )
    w_next = Window.partitionBy(key).orderBy("valid_from")
    return (
        out.withColumn("valid_to", F.lead("valid_from").over(w_next))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("valid_to_incl")
    )


def salted_join(
    skewed: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed fact side, replicate the
    dim side per salt bucket.

    A hot key (one customer with 10⁹ rows) makes one sort-merge task
    straggle; salting splits each key into *salt_buckets* sub-keys while
    the (small) dim side is exploded ×salt_buckets so every sub-key still
    finds its match. AQE's skew-join split handles moderate skew
    automatically; explicit salting is the deterministic form for
    pathological keys. Result equals the plain join exactly.
    """
    salted_fact = skewed.withColumn(
        "_salt", (F.rand(seed=7) * salt_buckets).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return salted_fact.join(salted_dim, [key, "_salt"]).drop("_salt")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Change-data-capture diff of two table snapshots: classify every
    key as insert / delete / update (unchanged rows are dropped — CDC
    output is the delta, not the table).

    One full outer join on the key — a single co-partitioned shuffle of
    both snapshots. At 100 TB the snapshots share a partitioning (date /
    key-bucket layer layout), so the join is partition-local; the output
    is O(|changes|), which is what makes log-shipping a 100 TB table
    feasible at all. Output: key, change ∈ {insert,delete,update},
    old_*/new_* for each compared column.
    """
    o = old.select(
        F.col(key),
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        F.col(key),
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    joined = o.join(n, key, "full_outer")
    differs = None
    for c in compare_cols:
        d = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        differs = d if differs is None else (differs | d)
    return (
        joined.withColumn(
            "change",
            F.when(F.col("_in_old").isNull(), F.lit("insert"))
            .when(F.col("_in_new").isNull(), F.lit("delete"))
            .when(differs, F.lit("update")),
        )
        .filter(F.col("change").isNotNull())
        .drop("_in_old", "_in_new")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    rates: dict[str, int],
    default_rate: int = 100,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its key's hash
    bucket (0-99) falls below the stratum's percentage rate.

    The corpus-rebalancing primitive of a training-data pipeline (e.g.
    downsample the dominant language): reproducible across runs, engines,
    and cluster layouts because the bucket is a pure function of the key
    — no rand(), no per-partition state. Map-only: one scan, zero
    shuffle at any scale. The multiplier is distinct from the train/test
    split's (`queries/relational.py q_ext_train_test_split`) so the two
    bucketings are uncorrelated.
    """
    from etl_acordos_spark.functions.hashing import XX_PRIME, hash32

    bucket = hash32(F.col(key_col), XX_PRIME) % 100
    rate = F.lit(default_rate)
    for value, pct in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(bucket < rate)


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel conversion over an event stream: how many users
    completed step 1, then step 2 STRICTLY after their step-1 time, and
    so on — the product-analytics query every event warehouse runs.

    Returns one row per step: (step_idx, step, n_users, pct_of_prev).

    Built as a conditional min-chain: step i's completion time per user
    is ``min(ts) WHERE type = steps[i] AND ts > t_{i-1}``. Each step is
    a filtered scan (the type predicate pushes down to the parquet
    scan) aggregated and joined on ``user_col`` — all step frames hash-
    partition on the same key, so AQE plans co-partitioned joins, and
    every per-user frame is one row per user (the min), never the
    user's event list. No ``collect_list`` of events per user: a
    fold-over-sorted-events formulation is one shuffle cheaper but
    materializes unbounded per-user arrays — one bot user with 10M
    events kills the executor; the min-chain's per-step state is O(1)
    per user at any skew.
    """
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    per_user: list[DataFrame] = []
    prev = None
    for i, step in enumerate(steps):
        sliced = events.filter(F.col(type_col) == step)
        if prev is not None:
            sliced = sliced.join(prev, user_col).filter(
                F.col(ts_col) > F.col("_t_prev")
            )
        cur = sliced.groupBy(user_col).agg(F.min(ts_col).alias("_t_prev"))
        per_user.append(cur)
        prev = cur
    counts = None
    for i, (step, frame) in enumerate(zip(steps, per_user)):
        row = frame.agg(F.count("*").alias("n_users")).select(
            F.lit(i + 1).alias("step_idx"),
            F.lit(step).alias("step"),
            F.col("n_users").cast("bigint"),
        )
        counts = row if counts is None else counts.unionByName(row)
    w = Window.orderBy("step_idx")
    # try_divide: a step that converted NOBODY makes the next step's
    # denominator 0, which a plain division turns into a hard
    # DIVIDE_BY_ZERO crash under ANSI mode (hypothesis-found; the
    # fixture funnel never empties a step) — NULL is the honest pct
    return counts.withColumn(
        "pct_of_prev",
        F.round(
            F.try_divide(
                F.col("n_users").cast("double"), F.lag("n_users").over(w)
            ),
            4,
        ),
    )


def cohort_retention(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort retention: users grouped by the ISO week of their
    FIRST event; for each (cohort, week offset), how many of that
    cohort's users were active — the triangle matrix behind every
    retention dashboard.

    Returns (cohort_week date, week_offset int, n_users bigint).

    One aggregate for first-seen (per-user single row), one join back
    on ``user_col`` (co-keyed with the aggregate's partitioning), a
    distinct on (user, cohort, offset) and the final count — ids and
    week numbers only in every shuffle. Both engines truncate weeks to
    ISO Mondays, so offsets are exact multiples of 7 days and the
    division is integer-exact.
    """
    first = events.groupBy(user_col).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("cohort_week")
    )
    active = (
        events.join(first, user_col)
        .select(
            user_col,
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col(ts_col)).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("bigint").alias("n_users"))
    )


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
) -> DataFrame:
    """Semi-join *big* to *small* with a map-side Bloom pre-filter —
    the runtime-row-level-filtering shape (Spark's AQE injects this
    automatically for some shuffle joins; this operator makes it
    explicit and deterministic). Semantics are EXACTLY ``LEFT SEMI
    JOIN``: the Bloom pass admits a superset (no false negatives), and
    the closing exact semi join removes the false positives.

    Why at 100 TB: a selective dimension predicate leaves a few
    thousand join keys; without the pre-filter every fact row pays the
    exchange before the join drops ~all of them. The Bloom bitset
    (m_bits/8 bytes — 8 KiB at the default) rides into the scan as a
    plan literal and the probe is whole-stage-codegen'd (seeded
    xxhash64 + shift/AND, zero Python), so non-matching rows die at
    reader throughput and only survivors shuffle.

    Build is distributed: distinct keys → k seeded bit positions →
    per-word ``bit_or`` fold; the driver collects at most m_bits/64
    rows no matter how many keys (same protocol as
    operators/text.py:bloom_decontaminate).

    ``xxhash64`` is TYPE-sensitive (``xxhash64(INT 7) !=
    xxhash64(BIGINT 7)``), so the build side is cast to *big*'s key
    type before hashing — without the cast, a dim whose key column is
    a different integral width would hash to disjoint bit positions
    and the pre-filter would silently kill every true match (the
    closing join cannot resurrect filtered rows).
    """
    return _bloom_prefilter(big, small, key, m_bits, k_hashes).join(
        F.broadcast(small.select(key).distinct()), key, "left_semi"
    )


def _bloom_prefilter(
    big: DataFrame, small: DataFrame, key: str, m_bits: int, k_hashes: int
) -> DataFrame:
    """The rows of *big* whose *key* the Bloom filter of *small*'s keys
    admits: every true match plus the false positives that
    `bloom_semi_join`'s closing join removes."""
    if m_bits % 64 != 0:
        # a ragged word array under-allocates the tail word: rows
        # hashing there would probe element_at -> NULL -> dropped
        # silently, i.e. WRONG results, not an error
        raise ValueError(
            f"bloom_semi_join: m_bits must pack into 64-bit words,"
            f" got {m_bits}"
        )
    m = m_bits
    big_key_type = big.schema[key].dataType
    word_rows = (
        small.select(F.col(key).cast(big_key_type).alias("k"))
        .distinct()
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {k_hashes - 1}),"
                    f" s -> pmod(xxhash64(k, s), {m}))"
                )
            ).alias("p")
        )
        .select(
            F.expr("p div 64").alias("widx"),
            F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("widx")
        .agg(F.expr("bit_or(bit)").alias("word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in word_rows:
        words[r["widx"]] = int(r["word"])
    # unrolled AND chain (k is tiny), not a forall() HOF: plain
    # conjunctions stay inside whole-stage codegen, HOFs don't
    def bit_test(s: int) -> str:
        p = f"pmod(xxhash64({key}, {s}), {m})"
        return (
            f"((element_at(_bloom_words, CAST({p} div 64 AS INT) + 1)"
            f" >> CAST({p} % 64 AS INT)) & 1L) = 1L"
        )

    probe = " AND ".join(bit_test(s) for s in range(k_hashes))
    return (
        big.withColumn("_bloom_words", F.lit(words))
        .filter(F.expr(probe))
        .drop("_bloom_words")
    )


def skyline_2d(df: DataFrame, max_col: str, min_col: str) -> DataFrame:
    """2-D skyline (Pareto frontier): the rows not dominated by any
    other row, where q dominates p iff q's *max_col* ≥ p's and q's
    *min_col* ≤ p's with at least one strict — the classic
    Börzsönyi et al. (ICDE'01) operator behind "best price for the
    size" product/offer queries.

    Spark-first shape: instead of the textbook all-pairs NOT EXISTS
    (the oracle's formulation — quadratic), the 2-D case is a sweep:
    a row survives iff (a) no row with the SAME min_col value has a
    strictly larger max_col, and (b) the running max of max_col over
    all STRICTLY smaller min_col values stays below its max_col.

    The running max is a DISTRIBUTED prefix scan, never a global
    single-partition window: the distinct-value aggregate is
    range-partitioned on min_col (ascending ranges land on ascending
    partition ids; values are distinct post-aggregate so no tie can
    straddle a boundary), each partition computes its local
    strictly-preceding running max, and the cross-partition carry is a
    window over ONE ROW PER PARTITION (bounded by
    spark.sql.shuffle.partitions) broadcast back. So even a min_col
    with billions of distinct values (continuous prices at 100 TB)
    scans as ordinary partitioned work — O(n log n) total, no
    self-join, no pair blowup. Range-partition boundaries are sampled
    (not rerun-stable), but the prefix max is associative and
    membership-invariant, so the RESULT is deterministic. One
    value-keyed join hands each fact row its verdict.

    The eager checkpoint after the range exchange is LOAD-BEARING: the
    partitioned frame feeds both the local window and the seeds
    aggregate, and without the pin each branch samples its own
    boundaries — `_pid` could mean different value ranges in the two
    branches and the carry max would cover the wrong prefix (see
    global_row_number). It also keeps the sampling job from
    re-executing the per-value aggregate."""
    per_val = df.groupBy(min_col).agg(F.max(max_col).alias("_best"))
    ranged = (
        per_val.repartitionByRange(F.col(min_col))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(min_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = ranged.withColumn("_run", F.max("_best").over(w_local))
    # one row per partition; the seed window is partition-count-sized
    w_seed = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    seeds = (
        ranged.groupBy("_pid")
        .agg(F.max("_best").alias("_pmax"))
        .withColumn("_carry", F.max("_pmax").over(w_seed))
        .select("_pid", "_carry")
    )
    ranked = local.join(F.broadcast(seeds), "_pid").select(
        min_col,
        "_best",
        # greatest() skips NULLs: first value of the first partition
        # has neither a local run nor a carry and stays NULL
        F.greatest("_run", "_carry").alias("_prev_best"),
    )
    return (
        df.join(ranked, min_col)
        .filter(
            (F.col("_best") == F.col(max_col))
            & (
                F.col("_prev_best").isNull()
                | (F.col("_prev_best") < F.col(max_col))
            )
        )
        .drop("_best", "_prev_best")
    )


#: md5-HLL geometry: 3 hex chars of bucket (m = 4096 registers,
#: ~1.6% relative error), 13 hex chars (52 bits) of rank field
HLL_B_HEX = 3
HLL_RANK_HEX = 13
HLL_M = 16**HLL_B_HEX
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
#: constants injected as DOUBLE literals so both engines fold the same
#: float (a plain decimal literal would parse as DECIMAL in DuckDB and
#: overflow its multiply)
HLL_C = repr(_HLL_ALPHA * HLL_M * HLL_M * 2.0**53)
HLL_P53 = repr(2.0**53)


def hll_md5_registers(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HyperLogLog registers over an md5-derived hash — the
    engine-independent twin of `hll_sketch_agg` (q_ext_hll_sketch keeps
    the native Datasketches demo; this one is hash-oracle-able because
    every step is deterministic string/integer math both engines share):

    - bucket = first HLL_B_HEX hex chars of md5(value) (12 bits,
      m = 4096);
    - rank = leading-zero bits of the next 52-bit field + 1, computed
      from HEX DIGITS (strip leading '0's, case on the first nonzero
      digit) — no floats, no engine-specific bit intrinsics;
    - register = max(rank) per (group, bucket).

    Registers are the MERGEABLE sketch state: max() per bucket unions
    sketches, which is what lets a stored register table answer any
    slice combination without re-scanning facts (same pitch as the
    Datasketches key, now with a closed form DuckDB replays exactly).
    Scale shape: one map-side md5 + string ops per row, then a single
    map-side-combinable max aggregate on (group, bucket) — the shuffle
    carries at most |groups|·4096 rows regardless of input size.

    NULL values are dropped (COUNT DISTINCT semantics: NULL is not an
    element) — also what keeps the streamed twin `streaming_hll_run`,
    which filters NULLs per microbatch, bit-identical to this batch
    build on null-bearing input."""
    rank_expr = (
        f"CASE WHEN rh = repeat('0', {HLL_RANK_HEX}) THEN 53"
        f" ELSE 4 * ({HLL_RANK_HEX} - length(fd0))"
        "  + CASE WHEN substr(fd0, 1, 1) = '1' THEN 3"
        "         WHEN substr(fd0, 1, 1) IN ('2','3') THEN 2"
        "         WHEN substr(fd0, 1, 1) IN ('4','5','6','7') THEN 1"
        "         ELSE 0 END + 1 END"
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            *group_cols,
            F.md5(F.col(value_col).cast("string")).alias("_h"),
        )
        .select(
            *group_cols,
            F.expr(
                f"cast(conv(substr(_h, 1, {HLL_B_HEX}), 16, 10) as int)"
            ).alias("bucket"),
            F.expr(
                f"substr(_h, {HLL_B_HEX + 1}, {HLL_RANK_HEX})"
            ).alias("rh"),
        )
        .select(
            *group_cols,
            "bucket",
            "rh",
            F.expr("regexp_replace(rh, '^0+', '')").alias("fd0"),
        )
        .select(*group_cols, "bucket", F.expr(rank_expr).alias("r"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("mr"))
    )


def hll_md5_estimate(regs: DataFrame, group_cols: list[str]) -> DataFrame:
    """Fold a register table into per-group cardinality estimates —
    the standard HLL estimator with the small-range (linear-counting)
    correction, kept cross-engine exact: register sums use
    2^(53-rank) as DECIMAL(38,0) (exact integer arithmetic — float
    reassociation across buckets would diverge between engines), and
    the one unavoidable float division/ln is grid-floored to 4 dp."""
    agg = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(
                "cast(shiftleft(cast(1 as bigint), 53 - mr)"
                " as decimal(38,0))"
            )
        ).alias("_s"),
        F.count(F.lit(1)).alias("_nb"),
    )
    raw = f"{HLL_C} / (cast(_s as double) + ({HLL_M} - _nb) * {HLL_P53})"
    est = (
        f"cast(floor(CASE WHEN {raw} <= 2.5 * {HLL_M} AND _nb < {HLL_M}"
        f" THEN {HLL_M} * ln({HLL_M} / cast({HLL_M} - _nb as double))"
        f" ELSE {raw} END * 10000 + 0.5) / 10000 as double)"
    )
    return agg.select(*group_cols, F.expr(est).alias("approx_distinct"))


def hll_md5_year_rollup(
    regs: DataFrame, year_col: str = "ano", out_col: str = "approx_clientes"
) -> DataFrame:
    """Per-year + grand-total estimates from a (year, …, bucket, mr)
    register table — the ONE rollup shared by the batch key
    (ext_hll_md5) and the streaming store key (ext_stream_hll), which
    carries the batch key's SQL oracle verbatim: a single
    implementation is what keeps that shared-oracle contract from
    drifting (the cms_report precedent).

    The register table is pinned (cache + eager localCheckpoint, the
    minhash-candidates convention) because BOTH estimate branches read
    it: unpinned, each branch re-runs the whole upstream build — at
    100 TB that is two full fact scans for one rollup (measured 4
    parquet scans in the unpinned plan at sf0.01). Registers are at
    most |groups|·4096 rows, the ideal pin candidate."""
    regs = regs.cache().localCheckpoint(eager=True)
    per = hll_md5_estimate(
        regs.groupBy(year_col, "bucket").agg(F.max("mr").alias("mr")),
        [year_col],
    )
    total = hll_md5_estimate(
        regs.groupBy("bucket")
        .agg(F.max("mr").alias("mr"))
        .withColumn(year_col, F.lit(None).cast("int")),
        [year_col],
    )
    return (
        per.unionByName(total)
        .withColumnRenamed("approx_distinct", out_col)
        .orderBy(F.col(year_col).asc_nulls_last())
    )


def cms_accuracy(
    items: DataFrame,
    col: str,
    depth: int = 4,
    width_hex: int = 3,
    k: int = 30,
) -> DataFrame:
    """Count-min sketch build + accuracy report (Cormode &
    Muthukrishnan 2005): hash every value into ``depth`` rows of
    16^``width_hex`` buckets, estimate a value's count as the MIN of
    its bucket counts (one-sided: never an underestimate), and report
    the top-*k* values by EXACT count with their CMS estimate and
    overestimate — the calibration readout that tells an operator
    whether the sketch geometry fits the stream before trusting it
    unverified (companions: ext_approx HLL distinct, ext_heavy_hitters
    Misra-Gries).

    Everything is deterministic closed-form — bucket ids are hex
    substrings of md5(salt ':' value), so DuckDB replays the identical
    sketch — and fully distributed: the build is a map-side explode of
    ``depth`` salted copies into ONE mergeable (salt, bucket) hash
    aggregate whose result is depth·width cells no matter the input
    size; probes join the cell table back broadcast. The exact counts
    exist for the ACCURACY report (this is a verification query, like
    ext_approx); a production sketch build is just the `cells`
    aggregate, one scan, O(depth·width) state."""
    vals = items.select(F.col(col).alias("v")).filter(
        F.col("v").isNotNull()
    )
    return cms_report(vals, cms_cells(vals, depth, width_hex), depth,
                      width_hex, k)


def _cms_salts(depth: int) -> Column:
    return F.array(*[F.lit(i) for i in range(1, depth + 1)])


def _cms_bucket(width_hex: int) -> Column:
    """ONE bucket definition for build and probe: the sketch is only
    correct if both hash identically, so the expression must not be
    duplicatable out of sync (the oracle-lockstep hazard class).
    Expects columns `salt` and `v` in scope."""
    return F.substring(
        F.md5(F.concat(F.col("salt").cast("string"), F.lit(":"), "v")),
        1,
        width_hex,
    )


def cms_cells(
    vals: DataFrame, depth: int = 4, width_hex: int = 3
) -> DataFrame:
    """The CMS build half: (salt, bucket, cell_n) cell table — one
    map-side depth-explode into one mergeable hash aggregate. Cells are
    ADDITIVE (sums), so partial sketches from shards or microbatches
    merge by summing per (salt, bucket) — see the streaming variant."""
    hashed = vals.select("v", F.explode(_cms_salts(depth)).alias("salt")).select(
        "v", "salt", _cms_bucket(width_hex).alias("bucket")
    )
    return hashed.groupBy("salt", "bucket").agg(
        F.count("*").cast("bigint").alias("cell_n")
    )


def cms_report(
    vals: DataFrame,
    cells: DataFrame,
    depth: int = 4,
    width_hex: int = 3,
    k: int = 30,
) -> DataFrame:
    """The CMS probe half: top-k values by exact count with their
    min-over-depth estimate from *cells* (built batch OR merged from a
    stream — additivity makes them identical)."""
    exact = (
        vals.groupBy("v")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("v"))
        .limit(k)
    )
    probes = exact.select(
        "v",
        "n_exact",
        F.explode(_cms_salts(depth)).alias("salt"),
    ).select("v", "n_exact", "salt", _cms_bucket(width_hex).alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["salt", "bucket"])
        .groupBy("v", "n_exact")
        .agg(F.min("cell_n").cast("bigint").alias("n_cms"))
        .select(
            "v",
            F.col("n_exact").cast("bigint").alias("n_exact"),
            "n_cms",
            (F.col("n_cms") - F.col("n_exact"))
            .cast("bigint")
            .alias("overestimate"),
        )
    )


def heavy_hitters(
    items: DataFrame,
    col: str,
    support: float = 0.01,
    safety: int = 4,
) -> DataFrame:
    """EXACT frequent-items over a column at scale: every value whose
    count exceeds ``support`` × N, with its exact count ``n`` — via the
    classic two-pass sketch-then-verify shape, never a full value
    shuffle.

    Pass 1 is a per-partition MERGEABLE Misra-Gries summary (capacity
    ``safety/support``) inside mapInPandas: per Arrow batch a
    vectorized ``value_counts`` merges into the running summary, and
    truncation back to capacity subtracts the (cap+1)-th count from
    all survivors — the standard MG merge, which preserves the
    undercount bound. Pigeonhole gives the superset guarantee: an item
    with global count > N/capacity must exceed its local threshold in
    at least one partition, so every true frequent item survives
    SOMEWHERE. Only the tiny candidate lists (≤ capacity rows per
    partition) leave the executors. Each partition also emits its row
    total, so N needs no extra pass.

    Pass 2 broadcast-joins the candidate set back over the scan and
    counts EXACTLY, keeping items above the support threshold — false
    candidates die here, so the result is exact and the oracle is
    plain GROUP BY ... HAVING SQL.

    Exactly TWO scans of *items*: the sketch pass is pinned with an
    eager localCheckpoint (its output is ≤ capacity+1 rows per
    partition) so the candidate broadcast and the N total both read the
    materialized summary instead of re-running the sketch — calling
    this operator therefore RUNS the sketch job immediately. At 100 TB
    that is: sketch scan + recount scan, one broadcast of KBs, one
    aggregate over candidate rows only. The alternative single-pass
    GROUP BY shuffles every distinct value; this shuffles none.

    NULL values are ignored entirely — excluded from both the
    candidates and N (the frequent-items contract; note plain
    ``GROUP BY`` would emit a NULL group, this never does). The output
    count column is named ``n``, so ``col`` may not be ``n``.
    """
    import pandas as pd

    if not (0 < support < 1):
        raise ValueError(
            f"heavy_hitters: support must be in (0, 1), got {support}"
        )
    if safety < 1:
        # capacity 0 would make every truncation wipe the summary and
        # silently return an empty result
        raise ValueError(
            f"heavy_hitters: safety must be >= 1, got {safety}"
        )
    if col in ("n", "__hh_pn"):
        raise ValueError(
            f"heavy_hitters: column name {col!r} collides with the"
            " output/internal schema"
        )
    capacity = int(safety / support)
    val_type = items.schema[col].dataType.simpleString()

    def mg(batches):
        counts: dict = {}
        part_n = 0
        for pdf in batches:
            part_n += int(pdf[col].count())  # non-NULL rows only
            vc = pdf[col].value_counts()  # drops NULLs
            for v, c in vc.items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > capacity:
                ranked = sorted(counts.values(), reverse=True)
                cut = ranked[capacity]
                counts = {
                    v: c - cut for v, c in counts.items() if c > cut
                }
        # candidate rows carry a NULL partial; ONE total row per
        # partition carries the partition's non-NULL row count
        yield pd.DataFrame(
            {
                col: list(counts.keys()) + [None],
                "__hh_pn": [None] * len(counts) + [part_n],
            }
        )

    summary = (
        items.select(col)
        .mapInPandas(mg, schema=f"{col} {val_type}, __hh_pn bigint")
        .localCheckpoint(eager=True)
    )
    candidates = (
        summary.filter(F.col(col).isNotNull()).select(col).distinct()
    )
    total = summary.agg(F.sum("__hh_pn").alias("__hh_pn"))
    return (
        items.join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") > F.col("__hh_pn") * support)
        .select(col, F.col("n").cast("bigint").alias("n"))
    )



def fixed_width_bin(value_col: str, bins: int) -> Column:
    """Fixed-width bin index over a broadcast 1-row [_v0, _v1] bounds
    frame: ``least(floor((v - v0) / ((v1 - v0) / bins)), bins - 1)``,
    degenerate ranges (v1 == v0) collapsing to bin 0. ONE definition
    shared by every histogram-shaped operator (psi_drift,
    histogram_quantile_rollup): the expression text must match the SQL
    oracles IEEE-for-IEEE, so there must be exactly one copy to keep
    in sync."""
    raw = F.least(
        F.floor(
            (F.col(value_col) - F.col("_v0"))
            / ((F.col("_v1") - F.col("_v0")) / float(bins))
        ),
        F.lit(bins - 1),
    )
    return (
        F.when(F.col("_v1") > F.col("_v0"), raw)
        .otherwise(F.lit(0))
        .cast("int")
    )


def psi_drift(
    events: DataFrame,
    type_col: str,
    ts_col: str,
    value_col: str,
    bins: int = 10,
) -> DataFrame:
    """Population Stability Index per series: how far each
    ``type_col`` group's ``value_col`` distribution drifted between the
    older and newer half of the timeline — the drift monitor every
    production feature/metric pipeline runs next to its z-score
    alerting.

    Returns one row per type: (type, n_old, n_new, psi), with
    ``psi = Σ_b (p_b - q_b) · ln(p_b / q_b)`` over the observed value
    bins (fixed-width over the global [min, max]), each side Laplace-
    smoothed by 0.5 so empty bins stay finite. The split day is the
    integer midpoint of the observed date range (old = first half) —
    date arithmetic, not a float epoch, so both engines cut the
    timeline on exactly the same row set.

    Scale shape: one global min/max aggregate broadcast back over the
    scan (1-row cross join — never a shuffle of the fact table), one
    (type, bin) hash aggregate with map-side combine, then a per-type
    window + final aggregate over ≤ ``bins`` rows per type. Only
    (type, bin, counts) tuples ever shuffle; the PSI sum is grid-floored
    at 1e-6 so the cross-engine result hashes stably.
    """
    day = F.col(ts_col).cast("date")
    bounds = events.agg(
        F.min(day).alias("_d0"),
        F.max(day).alias("_d1"),
        F.min(value_col).alias("_v0"),
        F.max(value_col).alias("_v1"),
    )
    mid = F.date_add(
        F.col("_d0"),
        F.floor(F.datediff(F.col("_d1"), F.col("_d0")) / 2.0).cast("int"),
    )
    binned = (
        events.join(F.broadcast(bounds))
        .select(
            F.col(type_col).alias("type"),
            fixed_width_bin(value_col, bins).alias("_bin"),
            F.when(day <= mid, F.lit(1)).otherwise(F.lit(0)).alias("_is_old"),
        )
        .groupBy("type", "_bin")
        .agg(
            F.sum("_is_old").alias("_c_old"),
            F.sum(1 - F.col("_is_old")).alias("_c_new"),
        )
    )
    w = Window.partitionBy("type")
    with_tot = (
        binned.withColumn("_n_old", F.sum("_c_old").over(w))
        .withColumn("_n_new", F.sum("_c_new").over(w))
        .withColumn("_nb", F.count("*").over(w))
    )
    p = (F.col("_c_old") + 0.5) / (F.col("_n_old") + 0.5 * F.col("_nb"))
    q = (F.col("_c_new") + 0.5) / (F.col("_n_new") + 0.5 * F.col("_nb"))
    return (
        with_tot.withColumn("_term", (p - q) * F.log(p / q))
        .groupBy("type")
        .agg(
            F.max("_n_old").cast("bigint").alias("n_old"),
            F.max("_n_new").cast("bigint").alias("n_new"),
            (F.floor(F.sum("_term") * 1000000.0 + 0.5) / 1000000.0).alias(
                "psi"
            ),
        )
    )


def gini_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Gini concentration coefficient of ``value_col`` per group — the
    inequality/concentration measure behind revenue-concentration and
    data-mixture-balance dashboards (0 = perfectly even, → 1 = one key
    holds everything).

    Uses the rank formulation ``G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x)``
    with x ascending; ``key_col`` breaks ties so both engines walk the
    same permutation (Gini is invariant to tie order among equal x, the
    tiebreak just pins determinism). One windowed row_number inside
    hash-partitioned groups, then one aggregate — per-key rows shuffle
    once, no global sort at any group count.

    Callers should pre-round ``value_col`` (repo convention: money at
    2 dp) so cross-engine double-sum reassociation can't reorder ranks.
    """
    w = Window.partitionBy(group_col).orderBy(value_col, key_col)
    ranked = df.withColumn("_i", F.row_number().over(w))
    return (
        ranked.groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("n_keys"),
            F.sum(value_col).alias("_sx"),
            F.sum(F.col("_i") * F.col(value_col)).alias("_six"),
        )
        .filter(F.col("_sx") > 0)
        .select(
            group_col,
            "n_keys",
            (
                F.floor(
                    (2.0 * F.col("_six") - (F.col("n_keys") + 1) * F.col("_sx"))
                    / (F.col("n_keys") * F.col("_sx"))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("gini"),
        )
    )


def fuzzy_label_match(
    dirty: DataFrame,
    canon: DataFrame,
    dirty_col: str,
    canon_col: str,
    max_dist: int,
    block_len: int = 2,
) -> DataFrame:
    """Blocked approximate string join: match each dirty label to its
    best canonical label by Levenshtein distance — the record-linkage /
    dimension-reconciliation primitive (dirty category strings → a
    canonical dimension) every ETL cleanup stage needs.

    Blocking key = the first ``block_len`` characters of the consonant
    skeleton (lowercase, vowels and spaces stripped), so the join is
    per-block, never all-pairs: candidate volume is Σ |dirty_b|·|canon_b|
    over blocks, and a skewed block can be split by lengthening the key.
    Best match per dirty label = windowed row_number ordered by
    (distance, canonical) — one row out per dirty label, ties broken
    lexicographically so both engines pick the same winner.
    """

    def skeleton(c: Column) -> Column:
        return F.substring(
            F.regexp_replace(F.lower(c), "[aeiou ]", ""), 1, block_len
        )

    cand = dirty.withColumn("_bk", skeleton(F.col(dirty_col))).join(
        canon.withColumn("_bk", skeleton(F.col(canon_col))), "_bk"
    )
    scored = cand.withColumn(
        "dist", F.levenshtein(F.col(dirty_col), F.col(canon_col)).cast("int")
    ).filter(F.col("dist") <= max_dist)
    w = Window.partitionBy(dirty_col).orderBy("dist", canon_col)
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(dirty_col).alias("dirty"),
            F.col(canon_col).alias("matched"),
            "dist",
        )
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, top-k in one pass:
    Efraimidis–Spirakis A-ES keys (``u^(1/w)``, u uniform per id, take
    the k largest) — the mixture-weighting primitive for building
    training corpora where a doc's inclusion odds follow its weight
    (length, quality, domain boost) rather than uniform chance.

    The uniform variate is the repo's deterministic cross-engine
    multiplicative hash shifted into the OPEN interval (0, 1)
    (functions/hashing.py:unit_hash_open — a closed-interval u = 0
    would freeze the key at 0 and silently exclude that id at any
    weight), so the sample is reproducible across runs, engines, and
    cluster layouts — no RNG state. Keys are grid-floored to 9 dp and tie-broken by id so the
    top-k row SET is identical in both engines (raw ``pow`` can differ
    in the last ULP between libm implementations). One scan, no
    shuffle until the TakeOrdered top-k; rows with weight <= 0 are
    excluded (their inclusion probability is 0).
    """
    u = unit_hash_open(F.col(id_col))
    key = F.pow(u, F.lit(1.0) / F.col(weight_col))
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn(
            "sample_key", F.floor(key * 1000000000.0 + 0.5) / 1000000000.0
        )
        .orderBy(F.desc("sample_key"), F.asc(id_col))
        .limit(k)
    )


def conversion_ztest(
    users: DataFrame, variant_col: str, converted_col: str
) -> DataFrame:
    """Two-proportion pooled z-test over a per-user frame (one row per
    user: variant 0/1, converted 0/1) — the experiment-analysis
    primitive behind every A/B dashboard.

    Returns ONE row: (n_a, x_a, n_b, x_b, z) with
    ``z = (p_b - p_a) / sqrt(p(1-p)(1/n_a + 1/n_b))``, p pooled. Two
    hash aggregates (user dedup upstream, then a 2-row variant
    aggregate folded to one row) — nothing but counts ever shuffles.
    The z statistic is grid-floored at 1e-6; sqrt/division are IEEE
    deterministic on identical expression trees.
    """
    per_var = users.groupBy(variant_col).agg(
        F.count("*").alias("_n"), F.sum(converted_col).alias("_x")
    )
    row = per_var.agg(
        F.sum(F.when(F.col(variant_col) == 0, F.col("_n")))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col(variant_col) == 0, F.col("_x")))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.when(F.col(variant_col) == 1, F.col("_n")))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col(variant_col) == 1, F.col("_x")))
        .cast("bigint")
        .alias("x_b"),
    )
    # ANSI-safe by construction: n_a/n_b are sums of per-variant group
    # counts, so each is either NULL (variant absent — the conditional
    # sum saw no rows) or >= 1; a ZERO denominator is unreachable, and
    # division by NULL yields NULL (not DIVIDE_BY_ZERO), cascading to a
    # NULL z for the degenerate one-variant experiment — pinned by
    # tests/test_divide_safety.py::test_ztest_*
    p_a = F.col("x_a") / F.col("n_a")
    p_b = F.col("x_b") / F.col("n_b")
    p = (F.col("x_a") + F.col("x_b")) / (F.col("n_a") + F.col("n_b"))
    se = F.sqrt(p * (1 - p) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b")))
    # degenerate experiments (0% or 100% pooled conversion) have no
    # defined z — NULL, not a divide-by-zero (ANSI) or inf (DuckDB)
    z = F.when(
        se > 0, F.floor((p_b - p_a) / se * 1000000.0 + 0.5) / 1000000.0
    )
    return row.select("n_a", "x_a", "n_b", "x_b", z.alias("z"))


def ks_test_2samp(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test: D = max |F_a(x) − F_b(x)|
    over the pooled empirical CDFs — the distribution-shift companion
    to `conversion_ztest` (which only sees a binary outcome) and
    `psi_drift` (which pre-bins): KS detects ANY shape difference in a
    continuous metric between two cohorts.

    Plan: one hash aggregate collapses the points to per-distinct-value
    (count_a, count_b) rows; running sums + grand totals come from two
    frames of the SAME single-partition window sort over those distinct
    values; one final max. Only (value, two counts) rows ever shuffle.
    The single-partition window is bounded by DISTINCT metric values —
    fine for metrics with bounded cardinality; for an unbounded metric
    at 100 TB, pre-bin the value (the psi_drift approach) so the
    distinct set stays window-sized, the standard binned-ECDF
    trade. Returns ONE row (n_a, n_b, d_stat, reject_05): d_stat
    grid-floored at 1e-9, reject at alpha=0.05 via the asymptotic
    critical value 1.358·sqrt((n_a+n_b)/(n_a·n_b)).

    Contract: *group_col* must code the two cohorts as 0 and 1 (the
    conversion_ztest convention — map labels upstream). A degenerate
    input (either cohort empty, or labels outside {0, 1} leaving a
    cohort unpopulated) yields NULL d_stat/reject_05 — the test is
    undefined, reported as NULL rather than a fabricated verdict,
    exactly like conversion_ztest's NULL z."""
    pts = df.select(
        F.col(group_col).alias("_g"), F.col(value_col).alias("_x")
    ).filter(F.col("_x").isNotNull())
    per_val = pts.groupBy("_x").agg(
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("_cb"),
    )
    w_run = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy("_x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_val.select(
        F.sum("_ca").over(w_run).alias("_ka"),
        F.sum("_cb").over(w_run).alias("_kb"),
        F.sum("_ca").over(w_all).alias("_na"),
        F.sum("_cb").over(w_all).alias("_nb"),
    )
    # try_divide: an empty cohort (_na/_nb = 0) must null-propagate to
    # NULL d_stat, not throw under ANSI mode — lockstep with the
    # oracle's NULLIF(na, 0) guard
    gap = F.abs(
        F.try_divide(F.col("_ka"), F.col("_na"))
        - F.try_divide(F.col("_kb"), F.col("_nb"))
    )
    row = cum.agg(
        F.max("_na").cast("bigint").alias("n_a"),
        F.max("_nb").cast("bigint").alias("n_b"),
        (F.floor(F.max(gap) * 1000000000.0 + 0.5) / 1000000000.0).alias(
            "d_stat"
        ),
    )
    crit = F.lit(1.358) * F.sqrt(
        F.try_divide(
            F.col("n_a") + F.col("n_b"),
            F.col("n_a").cast("double") * F.col("n_b"),
        )
    )
    return row.select(
        "n_a", "n_b", "d_stat", (F.col("d_stat") > crit).alias("reject_05")
    )


def gap_fill_hours(
    events: DataFrame, series_col: str, ts_col: str, value_col: str
) -> DataFrame:
    """Time-series gap filling: one row per (series, hour) across each
    series' observed span, missing hours forward-filled from the last
    observed hour — the regularization step before any rolling-window
    or forecasting job (windows over a gappy series silently mis-size
    their frames).

    Returns (series, hour, v_filled, was_gap). One (series, hour) hash
    aggregate, a 1-row-per-series bounds aggregate exploded into the
    hour spine (`sequence` — never a driver loop), a co-keyed left
    join, and a per-series ordered window for the fill. Only (series,
    hour, value) tuples shuffle; the fill is O(span) per series, so a
    series spanning years of hours dominates its partition — split the
    spine by month upstream if that skews.
    """
    hourly = events.groupBy(
        F.col(series_col).alias("series"),
        F.date_trunc("hour", F.col(ts_col)).alias("hour"),
    ).agg(F.round(F.sum(value_col), 4).alias("_v"))
    bounds = hourly.groupBy("series").agg(
        F.min("hour").alias("_h0"), F.max("hour").alias("_h1")
    )
    spine = bounds.select(
        "series",
        F.explode(
            F.sequence("_h0", "_h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    joined = spine.join(hourly, ["series", "hour"], "left")
    w = (
        Window.partitionBy("series")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "series",
        "hour",
        F.last("_v", ignorenulls=True).over(w).alias("v_filled"),
        F.col("_v").isNull().cast("int").alias("was_gap"),
    )


def histogram_quantile_rollup(
    df: DataFrame,
    series_col: str,
    tier_col: Column,
    value_col: str,
    bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable quantile sketch rollup — the percentile analog of
    `ext_hll_sketch`: per (series, tier) fixed-width histogram sketches
    (counts per bin over the global value range) merged tier-by-tier
    into per-series quantile estimates, error bounded by one bin width.
    The merge is exact (bin counts are associative), so a two-tier
    rollup answers identically to a single-level histogram — which is
    exactly what the SQL oracle computes, making the merge losslessness
    part of the checked contract.

    Returns (series, q, est): est = left bin edge + linear
    interpolation inside the target bin, grid-floored at 1e-6.

    Scale shape: one global 1-row bounds aggregate broadcast over the
    scan, one (series, tier, bin) hash aggregate (the persistable
    sketch tier — O(series·tiers·bins) rows, KBs per series-day), one
    (series, bin) merge aggregate, then a per-series window over ≤
    ``bins`` rows. Raw values never shuffle twice.
    """
    bounds = df.agg(
        F.min(value_col).alias("_v0"), F.max(value_col).alias("_v1")
    )
    sketch = (
        df.join(F.broadcast(bounds))
        .select(
            F.col(series_col).alias("series"),
            tier_col.alias("_tier"),
            fixed_width_bin(value_col, bins).alias("_bin"),
            "_v0",
            "_v1",
        )
        .groupBy("series", "_tier", "_bin", "_v0", "_v1")
        .agg(F.count("*").alias("_cnt"))
    )
    merged = sketch.groupBy("series", "_bin", "_v0", "_v1").agg(
        F.sum("_cnt").alias("_cnt")
    )
    w = (
        Window.partitionBy("series")
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        merged.withColumn("_cum", F.sum("_cnt").over(w))
        .withColumn(
            "_n", F.sum("_cnt").over(Window.partitionBy("series"))
        )
    )
    qf = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    width = (F.col("_v1") - F.col("_v0")) / float(bins)
    target = F.col("q") * F.col("_n")
    est = (
        F.col("_v0")
        + width
        * (
            F.col("_bin")
            + (target - (F.col("_cum") - F.col("_cnt"))) / F.col("_cnt")
        )
    )
    return (
        cum.select("*", qf)
        .filter(
            (F.col("_cum") >= target)
            & ((F.col("_cum") - F.col("_cnt")) < target)
        )
        .select(
            "series",
            "q",
            (F.floor(est * 1000000.0 + 0.5) / 1000000.0).alias("est"),
        )
    )


def zscore_outliers(
    train: DataFrame,
    score: DataFrame,
    type_col: str,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    threshold: float = 2.5,
) -> DataFrame:
    """Per-group z-score outlier scoring: population mean/stddev per
    ``type_col`` trained on *train*, then *score* rows more than
    ``threshold`` SDs out are flagged — one stats aggregate broadcast
    over the scored scan. *train* and *score* are separate so the batch
    monitor (score what you trained on) and the streaming monitor
    (score a stream against batch-trained stats) share ONE expression
    tree — `ext_anomaly_zscore` and `ext_stream_anomaly` both verify
    against the same oracle, so their construction must never diverge.

    |z| is grid-floored at 1e-4 so the boundary decision and the
    printed value replay exactly in SQL; constant-valued groups
    (sigma 0 — engines disagree on double/0) are dropped in both
    engines.
    """
    stats = (
        train.groupBy(type_col)
        .agg(
            F.avg(value_col).alias("_mu"),
            F.stddev_pop(value_col).alias("_sigma"),
        )
        .filter(F.col("_sigma") > 0)
    )
    z = (F.col(value_col) - F.col("_mu")) / F.col("_sigma")
    abs_z = F.floor(F.abs(z) * 10000.0 + 0.5) / 10000.0
    return (
        score.join(F.broadcast(stats), type_col)
        .withColumn("abs_z", abs_z)
        .filter(F.col("abs_z") > threshold)
        .select(*id_cols, type_col, value_col, "abs_z")
    )


def cusum_changepoint(
    events: DataFrame,
    type_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM changepoint detection per series: the event where the
    running sum of (value − series mean) peaks in magnitude — the
    classic "when did this metric shift" locator that turns
    `ext_psi_drift`'s *whether* into a *when*.

    Returns one row per series: (series, cp_ts, cp_event, cusum) with
    ``cusum = max_i |Σ_{j<=i} (x_j − μ)|``, the argmax event
    identifying the shift boundary.

    Determinism: μ is grid-floored at 1e-9 (a raw avg differs between
    engines in the last ULP from partial-sum reassociation; once μ is
    pinned, the running sum adds identical terms in the identical
    (ts, id) order, so every S_i is bit-identical) and |S| is floored
    at 1e-6 for output and argmax, ties broken by (ts, id). One stats
    aggregate broadcast over the scan, one sequential window per
    series, one argmax window — the per-series pass is O(series
    length) on one partition, like any ordered scan; shard long series
    by epoch upstream if one series dominates.
    """
    stats = events.groupBy(type_col).agg(
        (
            F.floor(F.avg(value_col) * 1000000000.0 + 0.5) / 1000000000.0
        ).alias("_mu")
    )
    w_run = (
        Window.partitionBy(type_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scored = (
        events.join(F.broadcast(stats), type_col)
        .withColumn(
            "_s", F.sum(F.col(value_col) - F.col("_mu")).over(w_run)
        )
        .withColumn(
            "_abs_s", F.floor(F.abs("_s") * 1000000.0 + 0.5) / 1000000.0
        )
    )
    w_pick = Window.partitionBy(type_col).orderBy(
        F.desc("_abs_s"), F.asc(ts_col), F.asc(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(type_col).alias("series"),
            F.col(ts_col).alias("cp_ts"),
            F.col(id_col).alias("cp_event"),
            F.col("_abs_s").alias("cusum"),
        )
    )


def funnel_latency(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    from_step: str,
    to_step: str,
) -> DataFrame:
    """Time-to-convert distribution: for users who completed
    ``to_step`` strictly after their first ``from_step``, the calendar-
    day latency between the two, summarized per ISO-week cohort of the
    first step (same week truncation as cohort_retention) — the "how
    long does conversion take" follow-up to `ext_funnel`'s "how many
    convert".

    Returns (cohort_week, n_users, avg_days, p50_days, max_days).

    Same O(1)-per-user min-chain as funnel_steps (two filtered scans +
    one co-keyed join — never a per-user event list); latency is an
    integer calendar-day difference, so avg (one exact-int sum / one
    division, grid-floored) and the interpolated median (halves of
    ints are exact doubles) replay identically in SQL.
    """
    first_a = (
        events.filter(F.col(type_col) == from_step)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t_a"))
    )
    first_b = (
        events.filter(F.col(type_col) == to_step)
        .join(first_a, user_col)
        .filter(F.col(ts_col) > F.col("_t_a"))
        .groupBy(user_col)
        .agg(
            F.min(ts_col).alias("_t_b"), F.min("_t_a").alias("_t_a")
        )
    )
    lat = first_b.select(
        F.date_trunc("week", F.col("_t_a"))
        .cast("date")
        .alias("cohort_week"),
        F.datediff(F.col("_t_b"), F.col("_t_a")).alias("_days"),
    )
    return lat.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_users"),
        (
            F.floor(F.avg("_days") * 10000.0 + 0.5) / 10000.0
        ).alias("avg_days"),
        F.expr("percentile(_days, 0.5)").alias("p50_days"),
        F.max("_days").cast("int").alias("max_days"),
    )


def global_row_number(
    df: DataFrame, order_cols: list[Column], rn_name: str = "_grn"
) -> DataFrame:
    """Distributed row_number over a TOTAL order without a global
    single-partition window: range-partition on the order (the order
    must be unique — include a tiebreak column, so no key can straddle
    a range boundary), take the local row_number per partition, and
    add the one-row-per-partition cumulative offsets back as a
    broadcast. Range boundaries are sampled (not rerun-stable), but
    rank is membership-invariant, so the assigned numbers are
    deterministic. The offset window is bounded by the partition
    count — skyline_2d's prefix-scan shape, generalized to ranking.

    The eager checkpoint after the range exchange is LOAD-BEARING, not
    an optimization: the partitioned frame feeds both the local window
    and the offsets aggregate, and without the pin each branch would
    run its own boundary-sampling pass — two samplings of a shuffle
    output (fetch-order nondeterministic) can pick DIFFERENT
    boundaries, making `_gp` mean different ranges in the two branches
    and corrupting every rank. The pin also stops the sampling job
    from re-executing the upstream plan (the repartitionByRange
    landmine rfm_segments documents)."""
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("_gp", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = Window.partitionBy("_gp").orderBy(*order_cols)
    local = ranged.withColumn("_glrn", F.row_number().over(w_local))
    w_off = Window.orderBy("_gp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranged.groupBy("_gp")
        .agg(F.count("*").alias("_gn"))
        .withColumn(
            "_goff", F.coalesce(F.sum("_gn").over(w_off), F.lit(0))
        )
        .select("_gp", "_goff")
    )
    return (
        local.join(F.broadcast(offsets), "_gp")
        .withColumn(rn_name, (F.col("_glrn") + F.col("_goff")).cast("long"))
        .drop("_gp", "_glrn", "_goff")
    )


def _ntile_from_rank(rn: Column, n: Column, buckets: int) -> Column:
    """Spark's exact ntile semantics from a 1-based global rank and
    the total count: buckets as even as possible, LARGER buckets
    first — rows 1..r·(q+1) land in the r size-(q+1) buckets, the rest
    in size-q buckets (q = n div buckets, r = n mod buckets)."""
    q = F.floor(n / buckets)
    r = n % buckets
    cutoff = r * (q + 1)
    # ANSI-safe: when n < buckets, q = 0 — but then cutoff = n·1 = n,
    # so EVERY rank takes the when-branch and the otherwise's `/ q` is
    # never evaluated (CASE WHEN branches are lazy in Spark codegen);
    # pinned by test_divide_safety.py::test_rfm_fewer_customers...
    return (
        F.when(rn <= cutoff, F.floor((rn - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rn - 1 - cutoff) / q) + 1)
        .cast("int")
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str,
    date_col: str,
    amount_col: str,
    buckets: int = 5,
) -> DataFrame:
    """RFM customer segmentation: recency / frequency / monetary
    quintiles per customer — the classic warehouse segmentation every
    CRM mart materializes.

    Returns (customer, recency_days, frequency, monetary, r, f, m,
    rfm_score) with each dimension scored 1..buckets with exact
    `ntile` semantics (5 = most recent / most frequent / highest
    spend), ties broken by customer id so bucket assignment is
    engine-deterministic, score = r·100 + f·10 + m. One per-customer
    aggregate, a 1-row global max-date broadcast (recency anchor = the
    data's own horizon, not wall-clock now — reruns replay), then
    three DISTRIBUTED rankings: each dimension's ntile is derived
    closed-form from a `global_row_number` prefix-scan rank + the
    1-row customer count — a billion-customer table never passes
    through a single-partition window sort (the oracle still writes
    plain ntile: identical assignment by construction).
    """
    anchor = orders.agg(F.max(F.col(date_col)).alias("_d_max"))
    per_cust = (
        orders.join(F.broadcast(anchor))
        .groupBy(customer_col)
        .agg(
            F.min(F.datediff(F.col("_d_max"), F.col(date_col))).alias(
                "recency_days"
            ),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(F.sum(amount_col), 2).alias("monetary"),
        )
    )
    n_total = per_cust.agg(F.count("*").alias("_n_cust"))
    scored = per_cust.join(F.broadcast(n_total))
    n = F.col("_n_cust")
    for name, order in (
        ("r", [F.desc("recency_days"), F.asc(customer_col)]),
        ("f", [F.asc("frequency"), F.asc(customer_col)]),
        ("m", [F.asc("monetary"), F.asc(customer_col)]),
    ):
        # global_row_number pins its range-partitioned frame with an
        # eager checkpoint, so each ranking stage executes its upstream
        # (the orders aggregate, then prior stages) exactly once —
        # without a pin the boundary-sampling pass replays it all
        # (measured 3.5× the query at sf0.1)
        scored = global_row_number(scored, order, rn_name="_rnk")
        scored = scored.withColumn(
            name, _ntile_from_rank(F.col("_rnk"), n, buckets)
        ).drop("_rnk")
    return scored.select(
        customer_col,
        "recency_days",
        "frequency",
        "monetary",
        "r",
        "f",
        "m",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("int")
        .alias("rfm_score"),
    )


def association_rules(
    items: DataFrame,
    group_col: str,
    item_col: str,
    min_pair: int = 50,
    k: int = 20,
) -> DataFrame:
    """Market-basket association rules a → b over co-occurrence counts:
    support, confidence, and lift for directed item pairs sharing a
    basket — the recommendation/affinity primitive next to the
    co-purchase graph ops.

    Returns top-k rules by (lift desc, a, b): (item_a, item_b, n_ab,
    support, confidence, lift), all ratios grid-floored at 1e-6.

    Pair generation is per-basket — C(g,2)·2 directed pairs per basket
    of g items, so cap pathological baskets upstream like
    co_occurrence_edges. Item and basket totals are hash aggregates;
    the basket count joins as a 1-row broadcast; item counts join back
    keyed on the item (dim-sized → AQE broadcast). ``min_pair`` prunes
    the rule table before the expensive per-rule math.

    r12 shape (guide §2.3/§2.4, the co_occurrence_edges rewrite):
    baskets collapse to sorted distinct-item arrays in ONE exchange
    (map-side partial collect_set), pairs expand map-only via
    `sorted_pair_structs`, and only the UNORDERED pair flows through
    the count exchange — the directed mirror is stamped on after the
    min_pair filter (n_ab is symmetric), halving the pair volume the
    old distinct + two-sided self-join shuffled. Item counts explode
    off the same arrays (a NULL item kept its own count row in the old
    shape but can never join a pair, so dropping it is invisible);
    the basket total is one count over the grouped table.
    """
    from etl_acordos_spark.operators.graph import (
        group_item_sets,
        sorted_pair_structs,
    )

    # NULL-basket semantics replay the oracle SQL exactly (r12 ADVICE):
    # the oracle's pair self-join and count(DISTINCT basket) both drop
    # NULL basket keys, but its per-item counts (ic) group the distinct
    # (basket, item) rows with NO basket filter — so the aggregate keeps
    # NULL groups (item counts read it unfiltered) and only the
    # pair/basket paths filter, post-aggregate (one boolean per basket
    # row, no extra exchange).
    grouped = group_item_sets(
        items, group_col, item_col, drop_null_groups=False
    )
    baskets = grouped.filter(F.col("_g").isNotNull())
    und = (
        baskets.select(F.explode(sorted_pair_structs("_items")).alias("_p"))
        .groupBy(
            F.col("_p.src").alias("item_a"), F.col("_p.dst").alias("item_b")
        )
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair)
    )
    # both directions in ONE Generate off the filtered unordered table
    # (a union with a column-swapped self would inline the whole
    # count-aggregate subtree twice in the plan)
    pair_counts = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a"), F.col("item_b"), F.col("n_ab")
                ),
                F.struct(
                    F.col("item_b").alias("item_a"),
                    F.col("item_a").alias("item_b"),
                    F.col("n_ab"),
                ),
            )
        ).alias("_r")
    ).select("_r.item_a", "_r.item_b", "_r.n_ab")
    item_counts = (
        grouped.select(F.explode("_items").alias(item_col))
        .groupBy(item_col)
        .agg(F.count("*").cast("bigint").alias("_c"))
    )
    n_baskets = baskets.agg(F.count("*").cast("bigint").alias("_n"))
    grid = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    # ANSI-safe by construction (even at min_pair=0): a rule row exists
    # only for a pair seen in >= 1 basket, so n_ab >= 1; the inner
    # joins guarantee _ca/_cb >= 1 (both items occur in li) and
    # _n >= 1 (a basket containing the pair exists) — every denominator
    # is structurally positive; pinned by test_divide_safety.py
    support = F.col("n_ab") / F.col("_n")
    confidence = F.col("n_ab") / F.col("_ca")
    lift = (F.col("n_ab") / F.col("_ca")) / (F.col("_cb") / F.col("_n"))
    return (
        pair_counts.join(
            item_counts.select(
                F.col(item_col).alias("item_a"), F.col("_c").alias("_ca")
            ),
            "item_a",
        )
        .join(
            item_counts.select(
                F.col(item_col).alias("item_b"), F.col("_c").alias("_cb")
            ),
            "item_b",
        )
        .join(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "n_ab",
            grid(support).alias("support"),
            grid(confidence).alias("confidence"),
            grid(lift).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("item_a"), F.asc("item_b"))
        .limit(k)
    )


def grid_neighbor_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: float,
    cell: float | None = None,
) -> DataFrame:
    """Spatial neighbor self-join: all point pairs within ``radius``
    (planar euclidean), found via fixed-grid binning — the 2-D analog
    of `range_join_binned` and the scale shape behind every geo
    nearest-store / proximity-dedup job.

    One side explodes to its 3×3 neighbor cells and equi-joins the
    other side's home cell, so candidate volume is Σ 9·|cell|² over
    cells instead of |points|² — provided ``cell >= radius`` (default:
    cell = radius), the 3×3 neighborhood provably covers every
    qualifying pair. The exact predicate (squared distance — pure
    double arithmetic, no trig, so both engines evaluate bit-
    identically) refines the candidates; an all-pairs filter is
    therefore a valid oracle. Skewed cells (one city block holding
    half the points) behave like any hot join key: AQE splits them, or
    shrink ``cell`` to re-balance.

    Scale behavior is OUTPUT-bound: pairs grow Θ(n²·r²/A), so the plan
    is linear at constant point density (r10 measured alpha 0.66 at
    10x with area scaled alongside n) but a fixed area densifying 10x
    emits ~82x the pairs and pays for them (alpha 1.44-1.70, see
    BASELINE.md round-10 adjudication) — shrink ``radius``/``cell``
    with density, the same knob as above.

    Returns (id_a, id_b, dist2) with id_a < id_b, dist2 grid-floored
    at 1e-9.
    """
    if cell is None:
        cell = radius
    if cell < radius:
        raise ValueError(
            f"grid_neighbor_join: cell ({cell}) must be >= radius "
            f"({radius}) or the 3x3 neighborhood misses pairs"
        )
    home = points.select(
        F.col(id_col).alias("_ib"),
        F.col(x_col).alias("_xb"),
        F.col(y_col).alias("_yb"),
        F.floor(F.col(x_col) / cell).cast("long").alias("_cx"),
        F.floor(F.col(y_col) / cell).cast("long").alias("_cy"),
    )
    # explode a LITERAL 9-offset array and add offsets AFTER the
    # explode (range_join_binned's pattern) — an inline HOF generator
    # would re-evaluate per output row (the repo's pinned Generate
    # landmine), and Column-API references keep exotic column names
    # resolving identically on both sides
    offsets = F.array(
        *[
            F.struct(
                F.lit(dx).cast("long").alias("dx"),
                F.lit(dy).cast("long").alias("dy"),
            )
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        points.select(
            F.col(id_col).alias("_ia"),
            F.col(x_col).alias("_xa"),
            F.col(y_col).alias("_ya"),
            F.floor(F.col(x_col) / cell).cast("long").alias("_hx"),
            F.floor(F.col(y_col) / cell).cast("long").alias("_hy"),
            F.explode(offsets).alias("_o"),
        )
        .select(
            "_ia",
            "_xa",
            "_ya",
            (F.col("_hx") + F.col("_o.dx")).alias("cx"),
            (F.col("_hy") + F.col("_o.dy")).alias("cy"),
        )
    )
    d2 = (F.col("_xa") - F.col("_xb")) * (F.col("_xa") - F.col("_xb")) + (
        F.col("_ya") - F.col("_yb")
    ) * (F.col("_ya") - F.col("_yb"))
    return (
        probe.join(
            home,
            (F.col("cx") == F.col("_cx")) & (F.col("cy") == F.col("_cy")),
        )
        .filter(F.col("_ia") < F.col("_ib"))
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= radius * radius)
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            (
                F.floor(F.col("dist2") * 1000000000.0 + 0.5)
                / 1000000000.0
            ).alias("dist2"),
        )
    )


def period_growth(
    events: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Week-over-week growth per series: weekly value totals and their
    relative change vs the previous observed week — the
    period-over-period delta behind every BI trend tile.

    Returns (series, week, total, pct_change) with pct_change NULL on
    each series' first week and whenever the previous total is 0 (no
    base → no defined growth, in BOTH engines rather than an
    inf/error split). One (series, week) hash aggregate, then a lag
    window over the tiny rollup; totals rounded to 2 dp (money
    convention) before the ratio so the division replays exactly.
    """
    weekly = events.groupBy(
        F.col(series_col).alias("series"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("week"),
    ).agg(F.round(F.sum(value_col), 2).alias("total"))
    w = Window.partitionBy("series").orderBy("week")
    prev = F.lag("total").over(w)
    pct = F.when(
        prev > 0,
        F.floor((F.col("total") - prev) / prev * 1000000.0 + 0.5)
        / 1000000.0,
    )
    return weekly.select("series", "week", "total", pct.alias("pct_change"))


def active_user_stickiness(
    events: DataFrame, user_col: str, ts_col: str
) -> DataFrame:
    """Weekly active users + DAU/WAU stickiness: per ISO week, the
    distinct weekly actives, the average daily actives over the week's
    OBSERVED days, and their ratio — the engagement metric every
    product dashboard leads with.

    Returns (week, wau, avg_dau, stickiness). Two distinct-count
    aggregates (per day, per week — ids only in the shuffles) and one
    join on the week; avg_dau is an exact-int sum over observed days /
    observed-day count, stickiness grid-floored at 1e-4.
    """
    day = F.col(ts_col).cast("date")
    week = F.date_trunc("week", F.col(ts_col)).cast("date")
    daily = (
        events.select(week.alias("week"), day.alias("day"), user_col)
        .groupBy("week", "day")
        .agg(F.count_distinct(user_col).alias("_dau"))
        .groupBy("week")
        .agg(
            # count(*) counts observed-day rows per week group — a
            # group only exists with >= 1 row, so the denominator is
            # structurally positive (ANSI-safe)
            (
                F.floor(
                    F.sum("_dau") / F.count("*") * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("avg_dau")
        )
    )
    weekly = events.select(week.alias("week"), user_col).groupBy(
        "week"
    ).agg(F.count_distinct(user_col).cast("bigint").alias("wau"))
    return (
        weekly.join(daily, "week")
        .select(
            "week",
            "wau",
            "avg_dau",
            # try_divide: a week whose events all carry NULL user ids
            # has wau = 0 (count_distinct skips NULLs) — stickiness is
            # NULL, not an ANSI DIVIDE_BY_ZERO crash
            (
                F.floor(
                    F.try_divide(F.col("avg_dau"), F.col("wau")) * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("stickiness"),
        )
    )


def calendar_dim(
    df: DataFrame, date_col: str
) -> DataFrame:
    """Generate the calendar dimension spanning the data's own date
    range — the conformed date spine every warehouse joins its facts
    to (no external input, no wall clock: reruns replay).

    Returns one row per calendar day: (cal_date, year, quarter, month,
    iso_year, iso_week, iso_dow, is_weekend). Built by exploding a
    `sequence` from a 1-row min/max aggregate — never a driver loop;
    ISO weekday/week are used because engines disagree on Sunday-based
    conventions (Spark weekday()+1 == DuckDB isodow), and iso_year is
    emitted alongside iso_week because (year, iso_week) is a trap:
    Dec 29-31 can be ISO week 1 of the NEXT iso_year — the correct
    weekly join key is (iso_year, iso_week).
    """
    bounds = df.agg(
        F.min(F.col(date_col).cast("date")).alias("_d0"),
        F.max(F.col(date_col).cast("date")).alias("_d1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("_d0", "_d1")).alias("cal_date")
    )
    iso_dow = (F.weekday("cal_date") + 1).cast("int")
    return spine.select(
        "cal_date",
        F.year("cal_date").cast("int").alias("year"),
        F.quarter("cal_date").cast("int").alias("quarter"),
        F.month("cal_date").cast("int").alias("month"),
        F.expr("extract(YEAROFWEEK FROM cal_date)")
        .cast("int")
        .alias("iso_year"),
        F.weekofyear("cal_date").cast("int").alias("iso_week"),
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).cast("int").alias("is_weekend"),
    )


def benford_profile(
    df: DataFrame, amount_col: str
) -> DataFrame:
    """Benford's-law first-digit profile of a positive amount column —
    the forensic DQ check for fabricated or truncated monetary data
    (organic amounts follow P(d) = log10(1 + 1/d); flat or spiked
    first-digit distributions are a red flag).

    Returns one row per leading digit 1-9: (digit, n, expected_n,
    chi2_term), expected from the Benford pmf × N, the chi-square
    contribution (obs − exp)²/exp grid-floored at 1e-4 (Σ over digits
    vs the χ²₈ critical value is the caller's verdict). One filtered
    scan → 9-group hash aggregate → 1-row total broadcast; rows with
    amount < 1 are excluded (no stable leading digit).
    """
    digit = F.substring(
        F.floor(F.col(amount_col)).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(F.col(amount_col) >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("_n"))
    expected = F.log10(1.0 + 1.0 / F.col("digit")) * F.col("_n")
    chi2 = (F.col("n") - expected) * (F.col("n") - expected) / expected
    return (
        counts.join(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.floor(expected * 10000.0 + 0.5) / 10000.0).alias(
                "expected_n"
            ),
            (F.floor(chi2 * 10000.0 + 0.5) / 10000.0).alias("chi2_term"),
        )
    )


def iqr_outliers(
    events: DataFrame,
    type_col: str,
    value_col: str,
    id_cols: tuple[str, ...] = ("event_id",),
    k: float = 1.5,
) -> DataFrame:
    """Tukey IQR-fence outliers per series: values outside
    [q1 − k·IQR, q3 + k·IQR] — the robust complement to
    `zscore_outliers` (quartile fences shrug off the very outliers a
    mean/stddev fence is dragged by).

    Returns (*id_cols, type, value, lo, hi). One exact-percentile
    aggregate per series broadcast back over the scan. Fences are
    grid-floored at 1e-9 BEFORE the comparison: the engines' exact
    quartile interpolations can differ in the last ULP, so the
    boundary decision must run against a pinned grid value, not the
    raw double. Exact percentile is a per-group sort — fine for
    dimension-cardinality series; at fact-scale series use the
    mergeable histogram sketch (`histogram_quantile_rollup`) for the
    fences instead.
    """
    g = lambda c: F.floor(c * 1000000000.0 + 0.5) / 1000000000.0  # noqa: E731
    iqr = F.col("_q3") - F.col("_q1")
    fences = (
        events.groupBy(type_col)
        .agg(
            F.expr(f"percentile({value_col}, 0.25)").alias("_q1"),
            F.expr(f"percentile({value_col}, 0.75)").alias("_q3"),
        )
        .select(
            type_col,
            g(F.col("_q1") - k * iqr).alias("lo"),
            g(F.col("_q3") + k * iqr).alias("hi"),
        )
    )
    return (
        events.join(F.broadcast(fences), type_col)
        .filter(
            (F.col(value_col) < F.col("lo"))
            | (F.col(value_col) > F.col("hi"))
        )
        .select(*id_cols, type_col, value_col, "lo", "hi")
    )
