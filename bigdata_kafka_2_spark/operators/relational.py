"""Relational operators (SURVEY.md §2.2, §2.3, §2.4, §2.5).

The reference's relational surface is small — projection (P1), coercion
(P2-P4), a conditional column (P5), equality lookup (P6), substring
match (P7/P8), counts (A1/A2), and ``limit`` slices (L1). The engine
re-expresses each as a documented DataFrame transform and fills the
capability-gap table (§2.11: joins, sorts, set ops, windows, distinct,
rollup/cube) with thin, scale-annotated wrappers so the whole surface is
one library.

Scale notes live on each operator: which side broadcasts, where the
shuffle lands, what AQE handles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.functions import contains_term
from bigdata_kafka_2_spark.operators.common import pin


# --- Filters / projections (P1, P6, P7) ---------------------------------

def point_lookup(df: DataFrame, key_col: str, key) -> DataFrame:
    """Equality point lookup (P6, ``README.md:122-126``).

    ``filter(col == lit)`` pushes to the parquet scan
    (min/max + dictionary pruning); on a partitioned layout it becomes
    partition pruning — O(matching files), not O(table).
    """
    return df.filter(F.col(key_col) == F.lit(key))


def substring_filter(df: DataFrame, text_col: str, term: str) -> DataFrame:
    """Lowercase substring containment filter (P7/P8,
    ``README.md:116-120,92``).

    A `contains` predicate cannot use parquet min/max stats, so this is
    a full scan of ``text_col`` — at 100 TB the scale path is the
    inverted-index variant (tokenize → explode → pre-bucketed term
    join); kept here as the semantic baseline.
    """
    return df.filter(contains_term(text_col, term))


def conditional_label(
    df: DataFrame, out_col: str, condition: Column, if_true=1.0, if_false=0.0
) -> DataFrame:
    """Derived conditional column (P5) — the ``is_high_protein`` pattern
    ``when(col > 20.0, 1.0).otherwise(0.0)``
    (``spark_model_trainer.py:151-153``)."""
    return df.withColumn(
        out_col, F.when(condition, F.lit(if_true)).otherwise(F.lit(if_false))
    )


# --- Aggregations (A1, A2) ----------------------------------------------

def grouped_count(df: DataFrame, *group_cols: str, out_col: str = "n") -> DataFrame:
    """Group-by count (A2, ``spark_model_trainer.py:156``).

    Spark's hash aggregate does the partial (map-side) + final split
    automatically — the property §2.3 notes the reference gets for free.
    """
    return df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias(out_col))


# --- Joins (§2.4 — absent in reference, required by harness) ------------

def dim_join(
    fact: DataFrame, dim: DataFrame, on, how: str = "inner", broadcast_dim: bool = True
) -> DataFrame:
    """Fact-to-dimension equi-join.

    Small dimension → ``F.broadcast`` to skip the shuffle entirely: the
    fact side streams map-side. This is THE scale decision for
    star-schema joins — a 100 TB fact table must not shuffle to meet a
    KB-scale dimension. AQE would usually discover this, but making it
    explicit keeps the plan stable.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the fact side's key, replicate the
    (small) other side across ``salt_buckets`` salts, join on
    (key, salt).

    A hot key that would pin one reducer now spreads across
    ``salt_buckets`` tasks. AQE's skew-join splitting handles most
    cases automatically (enabled in the session factory); explicit
    salting remains for extreme single-key skew (e.g. the null/default
    key of a 100 TB log table) and for window/aggregate paths AQE does
    not cover. Result equivalence with the plain join is tested.
    """
    salted_fact = fact.withColumn(
        "__salt", (F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    replicated_dim = dim.withColumn("__salt", salts)
    out = salted_fact.join(replicated_dim, on=[key, "__salt"], how=how)
    return out.drop("__salt")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS — rows of ``left`` with a match in ``right``; never
    duplicates left rows (unlike inner join + distinct)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS — rows of ``left`` without a match in ``right``."""
    return left.join(right, on=on, how="left_anti")


# --- Sorts / limits / top-k (L1, L2) ------------------------------------

def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global top-k via ``orderBy().limit(k)``.

    Spark plans this as TakeOrderedAndProject: each partition keeps a
    k-row heap, the driver merges — no global sort, no full shuffle.
    Callers must pass a total order (tie-break on a key column) for
    deterministic results (the flaw SURVEY §2.5/L1 notes in the
    reference's bare ``limit``).
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k per group: ``row_number`` over a partitioned window.

    One shuffle on ``group_cols``; skewed groups are the risk at scale
    (AQE skew handling does not apply to windows) — for pathological
    skew, pre-aggregate or salt. Ties must be broken by the caller's
    ``order_by`` for determinism.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def _as_double(col: Column, dtype: str) -> Column:
    """Cast an ordering column to double for quantile estimation.

    Timestamps/dates go through ``timestamp`` (epoch seconds); numerics
    cast directly. ANSI-safe (no numeric→timestamp coercion)."""
    if dtype in ("date", "timestamp", "timestamp_ntz"):
        return col.cast("timestamp").cast("double")
    return col.cast("double")


def _shuffle_partitions(df: DataFrame, default: int = 32) -> int:
    """Current shuffle-partition count, tolerant of non-numeric settings
    ("auto" is valid on AQE-coalescing clusters); falls back to the
    cluster's default parallelism, then ``default``."""
    try:
        # no explicit default: Spark type-checks a passed default string
        # against the conf's int type, and the conf has a built-in
        # default anyway
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        try:
            return int(df.sparkSession.sparkContext.defaultParallelism)
        except Exception:
            return default


def _range_bucket(
    df: DataFrame,
    order_col: str,
    num_buckets: int,
    bounds: Sequence[float] | None = None,
) -> tuple[DataFrame, int]:
    """Attach a ``__bkt`` column that range-buckets ``df`` on
    ``order_col`` using approximate quantile boundaries.

    One extra aggregate pass (``approxQuantile`` — a GK sketch, never a
    sort) buys a *value-aligned* partitioning: every row with the same
    ``order_col`` value lands in the same bucket, so a window
    partitioned by ``__bkt`` and ordered by ``order_col`` sees a clean
    global split with no cross-bucket ties. This replaces the
    single-partition ``Window.orderBy`` anti-pattern: the downstream
    exchange is ``hashpartitioning(__bkt)`` across ``num_buckets``
    reducers instead of ``SinglePartition``.

    Returns (bucketed df, effective bucket count). Degenerate inputs
    (constant column, tiny data) collapse to one bucket — correct, just
    unbalanced, exactly like any range partitioner. NULL order values
    land in bucket 0, matching ascending nulls-first ordering.

    Numeric/temporal columns use ``approxQuantile`` boundaries; other
    orderable types (strings) use a bounded hash-sample of values
    (what Spark's own RangePartitioner does with reservoir sampling —
    UTF-8 byte order matches the driver-side sort, so boundaries stay
    consistent with Spark's comparisons).

    ``bounds`` (numeric columns only): caller-supplied split points
    as DOUBLES, skipping the approxQuantile job. Correctness never
    depends on WHERE the splits sit (any value-aligned partition of
    the domain yields the same downstream prefix sums) — only balance
    does — so a caller that already holds quantiles of a RELATED
    distribution (e.g. both rank columns of one pair table, sketched
    in a single multi-column approxQuantile pass) trades a little
    balance for one fewer job per call.
    """
    dtype = dict(df.dtypes)[order_col.strip("`")]
    numericish = dtype in (
        "date", "timestamp", "timestamp_ntz",
        "tinyint", "smallint", "int", "bigint", "float", "double",
    ) or dtype.startswith("decimal")
    if numericish:
        probed = df.withColumn("__ord_d", _as_double(F.col(order_col), dtype))
        if bounds is None:
            probs = [i / num_buckets for i in range(1, num_buckets)]
            bounds = probed.stat.approxQuantile("__ord_d", probs, 0.001)
        bounds = sorted({float(b) for b in bounds})
        cmp_col = F.col("__ord_d")
    else:
        # Deterministic bounded sample: hash-filter ~1/7 of rows, then
        # take the 100k SMALLEST hashes (a TakeOrdered top-k, not a full
        # sort) — unlike a bare limit(), the sampled set (and with it
        # bucket boundaries and plan shape) is identical across runs and
        # partitionings. The collect is bounded at 100k scalar keys
        # (~a few MB); boundaries derived from a hash-uniform subsample
        # of that size are accurate to ~1e-2 quantile error regardless
        # of table size, so the cap does not need to grow with data.
        h = F.xxhash64(F.col(order_col), F.lit(42))
        sampled = (
            df.select(F.col(order_col), h.alias("__h"))
            .filter(F.col(order_col).isNotNull())
            .filter(F.pmod(h, F.lit(7)) == 0)
            .orderBy("__h", order_col)
            .limit(100_000)
            .collect()
        )
        vals = sorted({r[0] for r in sampled})
        bounds = sorted(
            {
                vals[(len(vals) * i) // num_buckets]
                for i in range(1, num_buckets)
            }
        ) if vals else []
        probed = df
        cmp_col = F.col(order_col)
    bucket = sum(
        (F.when(cmp_col > F.lit(b), 1).otherwise(0) for b in bounds),
        start=F.lit(0),
    )
    out = probed.withColumn("__bkt", bucket)
    if numericish:
        out = out.drop("__ord_d")
    return out, len(bounds) + 1


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): for each
    left row, attach the latest right row with ``right_ts <= left_ts``.

    Implementation (composition of built-ins, per the preference order
    in SURVEY §4): tag and union both sides, sort by (timestamp, side)
    within each partition group, carry the right side's values forward
    with ``last(..., ignorenulls=True)`` over an unbounded-preceding
    window, keep the left rows. Right rows sort BEFORE left rows at
    equal timestamps, giving the inclusive (>=) as-of semantics that
    matches DuckDB's ``ASOF JOIN ... ON l >= r``.

    Cost: one shuffle of |L|+|R| rows on ``partition_cols``. The
    UNKEYED case no longer collapses to a single-partition global
    window: the union is range-bucketed on the timestamp (approximate
    quantile boundaries — one cheap sketch pass), the carry-forward
    window runs per bucket in parallel, and each bucket's carry-in (the
    latest right row from all earlier buckets) is resolved from a
    per-bucket aggregate small enough to collect (``num_buckets`` rows,
    never data). Ties on ``right_ts`` within a partition are resolved
    by the last ``right_cols`` value in sort order — pass unique
    timestamps (or a tie-breaking ordering column) for deterministic
    output.
    """
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        *lcols,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"__r_{c}") for c in right_cols],
    )
    # partition columns must carry the RIGHT side's real values (they
    # exist under the same name in both frames) — nulling them would
    # strand every right row in the NULL partition and keyed as-of
    # would never match
    r_tagged = right.select(
        *[
            F.col(c).alias(c)
            if c in partition_cols
            else F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
            for c in lcols
        ],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"__r_{c}") for c in right_cols],
    )
    unioned = l_tagged.unionByName(r_tagged)
    if partition_cols:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy("__ts", "__is_left")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        carried = unioned.select(
            *lcols,
            "__is_left",
            *[
                F.last(f"__r_{c}", ignorenulls=True).over(w).alias(c)
                for c in right_cols
            ],
        )
        return carried.filter(F.col("__is_left") == 1).drop("__is_left")

    # Unkeyed: range-bucket the union on the timestamp so the window
    # parallelizes, then stitch bucket boundaries with carry-ins.
    n_buckets = _shuffle_partitions(unioned)
    bucketed, eff = _range_bucket(unioned, "__ts", min(n_buckets, 64))
    w = (
        Window.partitionBy("__bkt")
        .orderBy("__ts", "__is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = bucketed.select(
        *lcols,
        "__is_left",
        "__bkt",
        *[
            F.last(f"__r_{c}", ignorenulls=True).over(w).alias(c)
            for c in right_cols
        ],
    )
    if eff > 1:
        # Latest NON-NULL right value per (bucket, column) — one
        # aggregate of num_buckets rows, never data. Tracking per
        # COLUMN (not per row) matches the in-bucket window's
        # last(ignorenulls) semantics: if a right column is NULL in the
        # latest right row, the carry-in falls back to the most recent
        # older row where it was non-null, exactly like the
        # single-partition formulation would.
        last_right = (
            bucketed.filter(F.col("__is_left") == 0)
            .groupBy("__bkt")
            .agg(
                *[
                    F.max(
                        F.when(
                            F.col(f"__r_{c}").isNotNull(),
                            F.struct(
                                F.col("__ts"), F.col(f"__r_{c}").alias("v")
                            ),
                        )
                    ).alias(f"__s_{c}")
                    for c in right_cols
                ]
            )
            .collect()
        )
        by_bucket = {r["__bkt"]: r for r in last_right}
        for c in right_cols:
            ctype = dict(right.dtypes)[c]
            carry_in: dict[int, object] = {}
            best = None  # (ts, value) of latest non-null so far
            for b in range(eff):
                if best is not None:
                    carry_in[b] = best[1]
                row = by_bucket.get(b)
                s = row[f"__s_{c}"] if row is not None else None
                if s is not None and (best is None or s["__ts"] >= best[0]):
                    best = (s["__ts"], s["v"])
            fill = F.lit(None).cast(ctype)
            for b, v in carry_in.items():
                fill = F.when(
                    F.col("__bkt") == F.lit(b), F.lit(v).cast(ctype)
                ).otherwise(fill)
            carried = carried.withColumn(c, F.coalesce(F.col(c), fill))
    return carried.filter(F.col("__is_left") == 1).drop("__is_left", "__bkt")


def cumulative_slice(
    df: DataFrame, order_cols: str | Sequence[str], n: int
) -> DataFrame:
    """Deterministic first-n slice — the engine's replacement for the
    reference's order-unstable ``limit(n)`` cumulative slices
    (``spark_model_trainer.py:210-226``, flaw acknowledged at ``:226``).

    ``row_number`` over a total order on ``order_cols`` makes model-k's
    "first k/5 of the data" reproducible across runs and partitionings.

    Scale shape (no single-partition window anywhere):

    1. range-bucket on the LEADING order column (quantile sketch pass —
       rows with equal leading values share a bucket, so per-bucket
       ``row_number`` composes into a global one);
    2. per-bucket row counts (one cheap aggregate, ``num_buckets``
       rows) → cumulative offsets on the driver;
    3. buckets whose offset already exceeds ``n`` are DROPPED before
       the window — the expensive ranking shuffle carries only ~n rows
       regardless of table size;
    4. per-bucket ``row_number`` + broadcast offset, filter ``<= n``.
    """
    return (
        global_row_number(df, order_cols, rn_col="__rn", prune_above=n)
        .filter(F.col("__rn") <= n)
        .drop("__rn")
    )


def global_row_number(
    df: DataFrame,
    order_cols: str | Sequence[str],
    rn_col: str = "__rn",
    prune_above: int | None = None,
) -> DataFrame:
    """Global ``row_number`` over a total order WITHOUT a
    single-partition window (see :func:`cumulative_slice` for the
    bucket/offset construction). When ``prune_above`` is set, buckets
    that start past that rank are dropped before the ranking shuffle.

    Bucket offsets ride the DAG (r14, the ``global_prefix_sum``
    pattern): per-bucket counts are a ≤64-row table whose exclusive
    prefix comes from a bounded 64×64 broadcast triangle join, and
    the offset attaches by broadcast join — no blocking driver
    collect per call. The ``prune_above`` cut is the same broadcast
    side filtered to ``offset < prune_above`` with an inner join, so
    buckets that start past the cut never enter the ranking shuffle.
    Offsets are LONG (a CASE literal built from driver-side counts
    was int-or-long depending on the data; the in-DAG sum must pick
    one static type and only long survives >2^31 ranks).
    """
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n_buckets = _shuffle_partitions(df)
    bucketed, eff = _range_bucket(df, cols[0], min(n_buckets, 64))
    off = F.lit(0).cast("long")
    if eff > 1:
        bcounts = bucketed.groupBy("__bkt").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        lower = bcounts.select(
            F.col("__bkt").alias("__lb"), F.col("__bn").alias("__lbn")
        )
        offs = (
            bcounts.select("__bkt")
            .join(F.broadcast(lower), F.col("__lb") < F.col("__bkt"), "left")
            .groupBy("__bkt")
            .agg(
                F.coalesce(F.sum("__lbn"), F.lit(0))
                .cast("long")
                .alias("__grn_off")
            )
        )
        if prune_above is not None:
            offs = offs.filter(F.col("__grn_off") < int(prune_above))
        bucketed = bucketed.join(F.broadcast(offs), on="__bkt", how="inner")
        off = F.col("__grn_off")
    w = Window.partitionBy("__bkt").orderBy(*[F.col(c) for c in cols])
    return (
        bucketed.withColumn(rn_col, F.row_number().over(w) + off)
        .drop("__bkt", "__grn_off")
    )


def global_prefix_sum(
    df: DataFrame,
    order_cols: str | Sequence[str],
    weight_col: str,
    out_col: str = "cum_before",
    sum_type: str = "long",
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """EXCLUSIVE global prefix sum of ``weight_col`` over a total order
    (``out_col`` = sum of all earlier rows' weights; 0 for the first)
    — without a single-partition window, using
    :func:`global_row_number`'s bucket/offset construction:

    1. range-bucket on the leading order column;
    2. per-bucket weight sums (num_buckets rows) → exclusive bucket
       offsets by a bounded 64×64 broadcast triangle join;
    3. per-bucket exclusive window sum + broadcast-joined bucket
       offset.

    The offsets ride the main DAG (r14): the bucket-sum table is
    bounded at 64 rows, so the triangle join computing each bucket's
    sum-of-predecessors is a constant — and folding it in as a
    broadcast join (instead of a driver collect into a literal CASE)
    removes one blocking job per call, which dominated the
    multi-prefix-sum rank operators' wall time at the scheduler's
    per-job floor. ``order_cols`` must be a total order (include a
    unique key). ``bounds`` forwards caller-supplied split points to
    :func:`_range_bucket` (one shared approxQuantile pass across
    several prefix sums).

    ``sum_type`` is the accumulation type (default ``long``). Pass
    ``decimal(38,0)`` when the GLOBAL sum can exceed 2^63 (e.g. cents
    across a 100 TB fact table): LONG accumulation would silently
    wrap in non-ANSI mode; decimal accumulation overflows loudly to
    NULL instead. Bucket offsets accumulate at the FULL (38, s) sum
    type inside the offset window — fractional-scale decimals (e.g.
    ``decimal(38,6)`` for Kaplan-Meier's log-survival) keep their
    fraction exactly (the r6 driver-side ``int()`` truncation bug
    class stays pinned by the scale-9/12 carry tests) — and only the
    FINISHED offset casts down to the precision-37 operand type,
    where a genuine 37-digit overflow fails loudly to NULL.

    DECIMAL-ADDITION PRECISION RULE (r13, caught by the sf0.01
    vanilla-session verify of q255): Spark's ``DECIMAL(38,s) +
    DECIMAL(38,s)`` needs precision 39, and the allowPrecisionLoss
    resolution caps it at 38 by REDUCING THE SCALE to
    ``max(38 − intDigits, min(s, 6))`` — so scale-9 sums silently
    lose their 9th digit (HALF_UP) and scale-12 their 12th, while
    scale ≤ 6 is protected by the ``min(s, 6)`` floor (why the
    KM/money paths never hit this). The ``cum + off`` addition here
    therefore runs on PRECISION-37 operands (37−s integer digits —
    astronomically more than any cumulative fraction needs), whose
    sum is exactly representable at (38, s): no scale loss, and an
    int-digit overflow still fails loudly to NULL rather than
    rounding.
    """
    return global_prefix_sums(
        df, order_cols, [(weight_col, out_col, sum_type)], bounds
    )


def global_prefix_sums(
    df: DataFrame,
    order_cols: str | Sequence[str],
    specs: Sequence[tuple[str, str, str]],
    bounds: Sequence[float] | None = None,
) -> DataFrame:
    """Several INDEPENDENT exclusive prefix sums over the SAME total
    order in ONE pass: ``specs`` is ``[(weight_col, out_col,
    sum_type), ...]``; each output column equals exactly what a
    separate :func:`global_prefix_sum` call would produce.

    Operations keyed the same way should share one exchange (guide
    §2.4): the survival/rank operators chain 2-4 prefix sums over
    one distinct-time table, and as separate calls each paid its own
    approxQuantile sketch, bucket-sum aggregate, and bucketed window
    shuffle. Here one ``_range_bucket`` pass serves every weight,
    the ≤64-row bucket-sum table carries all k sums, one broadcast
    triangle join computes all k exclusive offsets, and the k window
    sums share a single Window operator (identical partition/order/
    frame). Types follow the single-weight rules per spec — see
    :func:`global_prefix_sum` for the DECIMAL precision reasoning.
    """
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n_buckets = _shuffle_partitions(df)
    bucketed, eff = _range_bucket(df, cols[0], min(n_buckets, 64), bounds)

    import re as _re

    def _acc_type(sum_type: str) -> str:
        # exact-addition operand type: one precision digit of
        # headroom so (acc_type + acc_type) fits (38, s) without the
        # allowPrecisionLoss scale reduction
        if sum_type.startswith("decimal"):
            p, s = map(int, _re.findall(r"\d+", sum_type))
            return f"decimal({min(p, 37)},{s})"
        return sum_type

    def _typed_lit(v: int, sum_type: str):
        if sum_type == "long":
            return F.lit(v).cast("long")
        return F.expr(f"CAST('{v}' AS {_acc_type(sum_type)})")

    offs_by_out: dict[str, F.Column] = {
        out: _typed_lit(0, st) for _w, out, st in specs
    }
    joined = bucketed
    if eff > 1:
        # Exclusive bucket offsets as a ≤64-row broadcast side,
        # computed by a bounded 64×64 broadcast triangle join (sum of
        # all STRICTLY-SMALLER buckets' sums) — never a
        # single-partition window. Keeping the offsets in the DAG
        # instead of collecting them into a literal CASE removes one
        # blocking driver job per call. Types follow the r13
        # precision rule: bucket sums aggregate at the full (38, s)
        # sum type (sum widens precision, never reduces scale), the
        # finished offset casts to the (37, s) operand type where
        # genuine overflow fails LOUDLY to NULL, and a bucket with no
        # predecessors gets an explicit typed zero (never a coalesce
        # that could mask that overflow NULL).
        bsums = bucketed.groupBy("__bkt").agg(
            *[
                F.sum(F.col(w).cast(st)).alias(f"__bs_{i}")
                for i, (w, _o, st) in enumerate(specs)
            ]
        )
        lower = bsums.select(
            F.col("__bkt").alias("__lb"),
            *[
                F.col(f"__bs_{i}").alias(f"__lbs_{i}")
                for i in range(len(specs))
            ],
        )
        offs = (
            bsums.select("__bkt")
            .join(
                F.broadcast(lower),
                F.col("__lb") < F.col("__bkt"),
                "left",
            )
            .groupBy("__bkt")
            .agg(
                *[
                    F.when(F.count("__lb") == 0, _typed_lit(0, st))
                    .otherwise(F.sum(f"__lbs_{i}"))
                    .cast(_acc_type(st))
                    .alias(f"__gps_off_{i}")
                    for i, (_w, _o, st) in enumerate(specs)
                ]
            )
        )
        joined = bucketed.join(F.broadcast(offs), on="__bkt", how="left")
        offs_by_out = {
            out: F.col(f"__gps_off_{i}")
            for i, (_w, out, _st) in enumerate(specs)
        }
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*[F.col(c) for c in cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = joined
    for i, (wcol, ocol, st) in enumerate(specs):
        cum = F.coalesce(
            F.sum(F.col(wcol).cast(st)).over(w), _typed_lit(0, st)
        ).cast(_acc_type(st))
        out = out.withColumn(ocol, (cum + offs_by_out[ocol]).cast(st))
    return out.drop(
        "__bkt", *[f"__gps_off_{i}" for i in range(len(specs))]
    )


# --- Bitmap-prefiltered semi join (shuffle-volume reduction) -------------

def bitmap_semi_join(
    big: DataFrame,
    keys: DataFrame,
    on: str,
    m_bits: int = 1 << 20,
    seed: int = 11,
) -> DataFrame:
    """Semi join of ``big`` against ``keys``' key set, prefiltered by a
    compact hash bitmap — result EXACTLY equals
    ``semi_join(big, keys.select(on).distinct(), on)``; the bitmap is
    a transparent shuffle-volume optimization.

    The 100 TB gap this fills: a broadcast semi join needs the raw key
    SET to fit on every executor, and a shuffle semi join moves the
    whole probe side. When the key set is too big to broadcast raw
    (say 10^8 64-bit keys ≈ 800 MB) its BITMAP at ``m_bits`` = 2^27 is
    16 MB — broadcastable — and filtering ``big`` against it BEFORE
    the exact join removes ~(1 − fill) of non-matching rows from the
    shuffle (single-hash Bloom: false-positive rate = fill ratio ≤
    n_keys/m_bits; false positives are then removed by the exact
    join, false negatives are impossible). Spark's own runtime bloom
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects the
    same shape opportunistically; this operator is the explicit,
    plannable form.

    Plan shape: the bitmap is ≤ m_bits/64 ``(word, bits)`` rows — one
    map-side-combined ``bit_or`` aggregate over the key side, then a
    BROADCAST join on the word index + a bitwise membership filter on
    ``big`` (no explode, codegen'd), then the exact shuffle semi join
    over the surviving rows. ``big`` is never shuffled before the
    filter.
    """
    h_sql = f"pmod(xxhash64(`{on}`, {seed}), {m_bits})"
    word = F.expr(f"CAST({h_sql} div 64 AS LONG)")
    bit = F.expr(f"shiftleft(CAST(1 AS LONG), CAST({h_sql} % 64 AS INT))")
    bitmap = (
        keys.select(word.alias("__word"), bit.alias("__bit"))
        .groupBy("__word")
        .agg(F.bit_or("__bit").alias("__bits"))
    )
    probe = big.withColumn("__word", word).withColumn("__probe_bit", bit)
    filtered = (
        probe.join(F.broadcast(bitmap), on="__word", how="left")
        .filter(
            F.col("__bits").isNotNull()
            & (F.col("__bits").bitwiseAND(F.col("__probe_bit")) != 0)
        )
        .drop("__word", "__probe_bit", "__bits")
    )
    return filtered.join(
        keys.select(on).distinct(), on=on, how="left_semi"
    )


# --- 2-D skyline (Pareto frontier) ---------------------------------------

def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """2-D skyline (Pareto frontier), MAXIMIZING both columns: the rows
    not dominated by any other row, where p dominates q iff ``p.x >=
    q.x AND p.y >= q.y`` and p is strictly greater in at least one.
    Equal (x, y) duplicates don't dominate each other — all survive.
    Rows with NULL in either column are excluded (dominance is
    undefined on NULL).

    The naive plan is the dominance ANTI join — a quadratic
    inequality join no optimizer saves. The 2-D structure collapses
    it to one pass: a point is on the frontier iff its y is (a) the
    maximum among its own x value and (b) strictly greater than the
    best y of every HIGHER x. So:

    1. per-distinct-x max y — one map-side-combined aggregate;
    2. EXCLUSIVE prefix-max of those maxima over x DESCENDING, built
       with the bucket/offset construction (:func:`global_prefix_sum`'s
       machinery with max instead of sum): range-bucket on x, the
       ≤64-row per-bucket maxima folded in as a broadcast triangle
       join riding the DAG (no driver collect), per-bucket window +
       broadcast higher-bucket offset — NO single-partition exchange;
    3. frontier x values filter row-locally; original rows return via
       an equi semi join on (x, y).

    Linear, two shuffles (group-by x, semi join), at 100 TB the
    frontier is tiny so the semi join broadcasts under AQE.
    """
    pts = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    # g (the per-distinct-x maxima) is consumed by the quantile
    # sketch AND the frontier job — pinned, so the aggregate over pts
    # runs once. |distinct x| rows only.
    g = pin(pts.groupBy(x_col).agg(F.max(y_col).alias("__ymax")))
    n_buckets = _shuffle_partitions(g)
    bucketed, eff = _range_bucket(g, x_col, min(n_buckets, 64))
    # max of __ymax over all HIGHER buckets (x strictly greater
    # there), riding the DAG as a ≤64-row broadcast triangle join —
    # the global_row_number/global_prefix_sums offset pattern —
    # instead of a blocking driver collect folded into a literal CASE
    off = F.lit(None).cast(dict(g.dtypes)["__ymax"])
    joined = bucketed
    if eff > 1:
        bmax = bucketed.groupBy("__bkt").agg(F.max("__ymax").alias("__m"))
        higher = bmax.select(
            F.col("__bkt").alias("__hb"), F.col("__m").alias("__hm")
        )
        offs = (
            bmax.select("__bkt")
            .join(F.broadcast(higher), F.col("__hb") > F.col("__bkt"), "left")
            .groupBy("__bkt")
            .agg(F.max("__hm").alias("__sky_off"))
        )
        joined = bucketed.join(F.broadcast(offs), on="__bkt", how="left")
        off = F.col("__sky_off")
    w = (
        Window.partitionBy("__bkt")
        .orderBy(F.col(x_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.max("__ymax").over(w)
    gt_max = F.greatest(within, off)  # greatest skips NULLs
    frontier = (
        joined.withColumn("__gt", gt_max)
        .filter(F.col("__gt").isNull() | (F.col("__ymax") > F.col("__gt")))
        .select(F.col(x_col), F.col("__ymax").alias(y_col))
    )
    return pts.join(frontier, on=[x_col, y_col], how="left_semi")


def global_prefix_max(
    df: DataFrame,
    order_cols: str | Sequence[str],
    value_col: str,
    out_col: str = "max_before",
) -> DataFrame:
    """EXCLUSIVE global prefix max of ``value_col`` over a total order
    (``out_col`` = max of all earlier rows' values; NULL for the
    first row) — the running-max scan, built on the same
    bucket/offset construction as :func:`global_prefix_sum` (never a
    single-partition window): per-bucket exclusive window max +
    driver-side running max of the ≤64 per-bucket maxima, broadcast
    back as bucket offsets. The primitive behind arrival-order
    audits (how late is each event vs the latest event time already
    seen — the watermark-tuning question) and high-water-mark
    monitors.

    ``value_col`` must be orderable; the driver collect is bounded by
    the bucket count, never the data.
    """
    cols = [order_cols] if isinstance(order_cols, str) else list(order_cols)
    n_buckets = _shuffle_partitions(df)
    bucketed, eff = _range_bucket(df, cols[0], min(n_buckets, 64))
    off = F.lit(None).cast(dict(df.dtypes)[value_col])
    if eff > 1:
        maxes = {
            r["__bkt"]: r["__m"]
            for r in bucketed.groupBy("__bkt")
            .agg(F.max(value_col).alias("__m"))
            .collect()
        }
        run = None
        for b in range(eff):
            if run is not None:
                off = F.when(
                    F.col("__bkt") == F.lit(b), F.lit(run)
                ).otherwise(off)
            m = maxes.get(b)
            if m is not None and (run is None or m > run):
                run = m
    w = (
        Window.partitionBy("__bkt")
        .orderBy(*[F.col(c) for c in cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = F.max(F.col(value_col)).over(w)
    return bucketed.withColumn(
        out_col, F.greatest(local, off) if eff > 1 else local
    ).drop("__bkt")
