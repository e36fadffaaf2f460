"""Time-series analytics over event tables (charter extension — the
`events` surface beyond windows/sessionization: gap-filling resample
and ordered-funnel analysis, the two event-analytics staples the
window family doesn't cover).

All deterministic; fp-summing follows the engine's exact-DECIMAL rule
so aggregates are partition-order-independent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin


def resample_ffill(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Daily resample with forward fill:
    ``(user, day, day_value, filled_value)`` — one row per (user, day)
    over the table's FULL day range, ``day_value`` the day's exact
    value sum (NULL on gap days), ``filled_value`` the last observed
    day carried forward (NULL until the user's first event).

    Plan shape: the day grid is users × sequence(min_day, max_day)
    (bounds are a 1-row broadcast; the grid explodes row-locally), the
    observed sums join on (user, day) — the same key the fill window
    partitions by, so the exchange is reused — and the forward fill is
    ``last(ignorenulls)`` over an unbounded-preceding row frame. Sums
    are exact DECIMALs (order-independent across partitionings and
    engines). At 100 TB the grid is |users|·|days| rows — the OUTPUT
    size of any gap-filled resample — and every shuffle is keyed by
    user.
    """
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        events.groupBy(
            F.col(user_col), day.alias("__day")
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("__v")
        )
    )
    bounds = events.agg(
        F.date_trunc("day", F.min(ts_col)).alias("__lo"),
        F.date_trunc("day", F.max(ts_col)).alias("__hi"),
    )
    grid = (
        events.select(user_col)
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            user_col,
            F.explode(
                F.sequence("__lo", "__hi", F.expr("interval 1 day"))
            ).alias("__day"),
        )
    )
    joined = grid.join(daily, on=[user_col, "__day"], how="left")
    w = (
        Window.partitionBy(user_col)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        user_col,
        F.date_format("__day", "yyyy-MM-dd").alias("day"),
        F.col("__v").cast("double").alias("day_value"),
        F.last("__v", ignorenulls=True).over(w).cast("double").alias(
            "filled_value"
        ),
    )


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition statistics over per-user event
    streams: ``(from_type, to_type, n_transitions, prob)`` where
    ``prob`` is the row-normalized transition probability (6 dp) —
    the sequence-analytics complement to :func:`funnel_counts` (a
    funnel checks ONE prescribed path; the transition matrix measures
    every observed path, the input to next-event prediction, journey
    clustering, and anomalous-flow detection).

    Each user's events are ordered by ``(ts, id)`` — the id tie-break
    makes simultaneous events deterministic — and consecutive pairs
    are counted. A user's last event has no successor and contributes
    nothing.

    Plan shape: ONE user-keyed window (``lead`` over the per-user
    order) followed by a map-side-combinable hash aggregate on the
    (from, to) pair; the per-from totals for normalization come from a
    second aggregate over the tiny k×k count table, joined back on
    ``from_type``. At 100 TB the only full-data shuffle is the window's
    user-key exchange — the same key sessionization already shuffles
    on — and the normalization join touches k² rows (k = distinct
    event types), never the event table.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__tot")
    )
    return (
        pairs.join(totals, on="from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(F.col("n_transitions") / F.col("__tot"), 6).alias(
                "prob"
            ),
        )
    )


def funnel_counts(
    events: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within: str | None = None,
) -> DataFrame:
    """Ordered-funnel completion: ``(step_idx, step, n_users)`` —
    users whose FIRST qualifying occurrence of each step strictly
    follows their time for the previous step, optionally within a
    ``within`` horizon of it (e.g. ``"12 hours"`` — the
    product-analytics conversion window). Greedy earliest-anchor
    semantics: each step's time is the user's first qualifying
    occurrence, which makes the result deterministic (a later anchor
    that would have converted is not explored — the standard funnel
    definition).

    Plan shape: one filtered min-aggregate per step, each joined to
    the previous frontier on the user key — k narrow user-keyed
    shuffles for a k-step funnel, never an explode or self cross
    join. The final counts are k scalar aggregates unioned row-
    locally.
    """
    frontier = None
    counts = []
    for i, step in enumerate(steps):
        ev = events.filter(F.col(type_col) == step)
        if frontier is None:
            frontier = ev.groupBy(user_col).agg(
                F.min(ts_col).alias("__t")
            )
        else:
            qual = (
                ev.join(frontier.select(user_col, "__t"), on=user_col)
                .filter(F.col(ts_col) > F.col("__t"))
            )
            if within is not None:
                qual = qual.filter(
                    F.col(ts_col)
                    <= F.col("__t") + F.expr(f"interval {within}")
                )
            frontier = qual.groupBy(user_col).agg(
                F.min(ts_col).alias("__t")
            )
        counts.append(
            frontier.agg(
                F.lit(i + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Batch gap-based sessionization: the input plus a
    ``session_seq`` column — the user's 1-based session number, where
    a new session starts whenever the gap since the user's previous
    event exceeds ``gap``. The batch complement to the streaming
    session window (streaming/windows.py session aggregation): the
    streaming path emits per-session aggregates as data arrives; this
    labels a HISTORICAL event table so sessions can join back to
    events, feed funnels, or partition training sequences.

    Deterministic: events order by ``(ts, id)`` within a user, so
    equal timestamps break ties stably.

    Plan shape: ONE user-keyed window carries both the lag and the
    running new-session sum (same partition key, same ordering — one
    shuffle, one sort, two frame passes Catalyst fuses into a single
    Window node). No self-join, no explode; per-user state is the
    sort buffer, which at 100 TB is bounded by the largest single
    user's history — the same bound any per-user sequence analysis
    carries.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    prev = F.lag(F.col(ts_col)).over(w)
    is_new = F.when(
        prev.isNull()
        | (F.col(ts_col) > prev + F.expr(f"interval {gap}")),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_seq",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-session summary over :func:`sessionize`'s labels:
    ``(user, session_seq, n_events, n_types, started, ended,
    duration_sec)`` — the session-level feature table behind
    engagement metrics, bot detection (impossibly long/dense
    sessions), and sequence-model sample selection.

    Plan shape: the sessionize window hash-partitions by user; the
    follow-up ``groupBy(user, session_seq)`` aggregates within the
    same key prefix, so AQE keeps the exchange (partial aggregation
    collapses each session to one row map-side). ``duration_sec`` via
    ``unix_micros`` difference — exact integer µs, no float drift.
    """
    s = sessionize(events, gap, user_col, ts_col, id_col)
    return s.groupBy(user_col, "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct(type_col).alias("n_types"),
        F.min(ts_col).alias("started"),
        F.max(ts_col).alias("ended"),
        (
            (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col)))
            / F.lit(1000000)
        ).alias("duration_sec"),
    )


def ewma_latest(
    df: DataFrame,
    value_col: str,
    key_col: str,
    order_cols: Sequence[str],
    alpha: float = 0.3,
    m: int = 16,
) -> DataFrame:
    """Per-key truncated exponentially-weighted moving average of the
    last ``m`` observations — ``(key, n_used, ewma)``. The smoothing
    signal a feature pipeline derives per user/entity ("recent
    activity level") where a plain mean over-weights history.

    Truncation is what makes the operator both bounded and exact: the
    infinite EWMA recursion needs every historical row, but the
    weights decay geometrically, so the last ``m`` rows carry all but
    ``(1−α)^m`` of the mass — and a FIXED m means the weight ladder
    ``α(1−α)^j`` is a Python-precomputed literal array shared
    verbatim with the SQL oracle (no engine libm/pow in the plan, the
    q121 discount-ladder rule). Weights are renormalized by the
    partial ladder sum actually used, so keys with fewer than m rows
    get a true weighted mean.

    Plan: one key-partitioned window ranks rows newest-first (rows
    beyond m are DROPPED before any arithmetic — per-key cost is m,
    not history); contributions round to 6 dp into an exact DECIMAL
    sum (order-independent), and the final ratio rounds
    half-away-from-zero in integer arithmetic (the q117 tie rule) —
    bit-identical cross-engine.
    """
    w = [alpha * (1.0 - alpha) ** j for j in range(m)]
    cum6 = []
    acc = 0.0
    for x in w:
        acc += round(x, 6)
        cum6.append(int(round(acc * 1_000_000)))
    rank_w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    ranked = (
        df.withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= m)
        .withColumn(
            "__w", F.element_at(F.array(*[F.lit(x) for x in w]), F.col("__rn"))
        )
        .withColumn(
            "__c",
            F.round(F.col(value_col) * F.col("__w"), 6).cast(
                "decimal(28,6)"
            ),
        )
    )
    cum_arr = F.array(*[F.lit(c).cast("long") for c in cum6])
    return (
        ranked.groupBy(key_col)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_used"),
            (F.sum("__c") * 1_000_000).cast("long").alias("__s6"),
        )
        .withColumn("__d6", F.element_at(cum_arr, F.col("n_used")))
        .select(
            key_col,
            "n_used",
            (
                F.when(F.col("__s6") < 0, -F.lit(1)).otherwise(F.lit(1))
                * F.expr("(abs(__s6) * 10000 * 2 + __d6) div (__d6 * 2)")
                / F.lit(10000.0)
            ).alias("ewma"),
        )
    )


def sequence_pattern_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    pattern: str,
    encoding: dict[str, str] | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: per key, encode the time-ordered event
    sequence as a one-letter-per-event string and count NON-OVERLAPPING
    (leftmost-first) regex matches of ``pattern``: (key, seq_len,
    n_matches).

    ``encoding`` maps event values to single letters (default: first
    character of the event value — caller must ensure distinctness);
    unmapped events encode as '.' (literal dot is regex-escaped by the
    caller if it matters). ``tiebreak_col`` makes equal-timestamp
    ordering total (required for determinism — pass the event id).

    Plan: ONE aggregation per key — ``array_sort`` over collected
    (ts, tiebreak, letter) structs, then a row-local concat +
    ``regexp_count``. The per-key array is bounded by that key's
    event count (the sessionization assumption; a key with millions
    of events needs session-chunking first, as :func:`sessionize`
    provides). Leftmost-non-overlapping is the shared semantics of
    Java regex ``Matcher.find`` and RE2 ``regexp_extract_all``, so
    the SQL transcription agrees. No window over the whole table, no
    explode — the heavy operation is the single groupBy shuffle.
    """
    if encoding is not None:
        letter = F.coalesce(
            *[
                F.when(F.col(event_col) == k, F.lit(v))
                for k, v in encoding.items()
            ],
            F.lit("."),
        )
    else:
        letter = F.substring(F.col(event_col), 1, 1)
    tb = F.col(tiebreak_col) if tiebreak_col else F.lit(0)
    ev = F.struct(
        F.col(ts_col).alias("t"), tb.alias("tb"), letter.alias("l")
    )
    seq = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(ev)), lambda s: s["l"]
        ),
    )
    return (
        df.groupBy(F.col(key_col))
        .agg(seq.alias("__seq"))
        .select(
            key_col,
            F.length("__seq").alias("seq_len"),
            F.regexp_count("__seq", F.lit(pattern)).alias("n_matches"),
        )
    )


def coalesce_intervals(
    df: DataFrame,
    key_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Gaps-and-islands: merge overlapping-or-touching [start, end)
    intervals per key into maximal disjoint islands — (key,
    island_start, island_end, n_merged). The interval-union primitive
    (coverage windows, session stitching, blackout merging).

    Classic two-window construction, both windows PARTITIONED BY KEY
    (state bounded per key, no global sort): a running maximum of
    ``end`` over preceding rows (time-ordered) detects island starts
    (``start > max_end_so_far``), then a running sum of the start
    flags assigns island ids; one groupBy((key, island)) closes each
    island. Interval arithmetic is end-exclusive: an interval
    starting exactly at the running max TOUCHES and merges.
    """
    w_order = Window.partitionBy(key_col).orderBy(
        F.col(start_col).asc(), F.col(end_col).asc()
    )
    prev_max_end = F.max(end_col).over(
        w_order.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull()
            | (F.col(start_col) > prev_max_end),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn(
        "__island",
        F.sum("__new").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return islands.groupBy(key_col, "__island").agg(
        F.min(start_col).alias("island_start"),
        F.max(end_col).alias("island_end"),
        F.count(F.lit(1)).alias("n_merged"),
    ).drop("__island")


def trailing_window_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_sec: int,
    id_cols: Sequence[str] = (),
) -> DataFrame:
    """Time-RANGE trailing aggregate: for every row, the count and
    exact-DECIMAL sum of ``value_col`` over the key's rows in
    ``[ts − window_sec, ts]`` — the moving-window feature the ROW-frame
    family (q94) can't express when events are irregularly spaced
    (rolling exposure, rate limiting, trailing spend).

    The frame is a RANGE frame over ``unix_micros(ts)`` — an exact
    integer axis, so frame boundaries (and tied timestamps, which
    RANGE includes as peers) are bit-identical in any engine; the sum
    is the engine's 4-dp DECIMAL money discipline (order-independent
    within the frame). One shuffle on the key; per-key sorted state —
    never a global sort.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col(ts_col)))
        .rangeBetween(-window_sec * 1_000_000, 0)
    )
    v = F.round(F.col(value_col), 4).cast("decimal(18,4)")
    return df.select(
        key_col,
        *id_cols,
        F.count(F.lit(1)).over(w).alias("n_in_window"),
        F.sum(v).over(w).cast("double").alias("sum_window"),
    )


def cohort_retention(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    grain: str = "day",
    rates: bool = False,
) -> DataFrame:
    """Cohort retention counts: (cohort, offset, n_active) — users
    bucketed by the period of their FIRST event; ``n_active`` =
    distinct users of that cohort active ``offset`` periods later
    (``offset`` is in DAYS between period starts at any grain). The
    product-analytics retention triangle (offset 0 row = cohort
    size; n_active / cohort size = the retention curve).

    ``rates=True`` appends the curve itself: ``n_cohort`` (the
    cohort's offset-0 count — every user is active in their own
    first period by construction, so that row IS the cohort size)
    and ``retention = n_active / n_cohort`` rounded to 4 dp. The
    decay profile a plain per-period activity count hides: growth
    masks churn exactly as long as acquisition outruns it.

    Plan: one per-key min aggregate (map-side combined) for the
    cohort anchor, one equi-join back on the key, one distinct-count
    aggregate over (cohort, offset) — two key shuffles + one
    group-by, no window, no self-join of the event table with
    itself. Output is periods², independent of event volume; the
    rates join broadcasts the tiny cohort-size table onto it.
    """
    ev = df.select(
        F.col(key_col).alias("__k"),
        F.date_trunc(grain, F.col(ts_col)).alias("__p"),
    )
    first = ev.groupBy("__k").agg(F.min("__p").alias("__cohort"))
    joined = ev.join(first, on="__k")
    offset = F.datediff(F.col("__p"), F.col("__cohort"))
    base = (
        joined.select("__k", F.col("__cohort").alias("cohort"), offset.alias("offset"))
        .groupBy("cohort", "offset")
        .agg(F.count_distinct("__k").alias("n_active"))
    )
    if not rates:
        return base
    sizes = base.filter(F.col("offset") == 0).select(
        "cohort", F.col("n_active").alias("n_cohort")
    )
    return base.join(F.broadcast(sizes), on="cohort").select(
        "cohort",
        "offset",
        "n_cohort",
        "n_active",
        F.round(
            F.col("n_active").cast("double") / F.col("n_cohort"), 4
        ).alias("retention"),
    )


def last_touch_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    conversion: str,
    touch: str,
    horizon_sec: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Last-touch attribution: for every CONVERSION event, the most
    recent preceding TOUCH event by the same key within
    ``horizon_sec`` — (key, conversion id/ts, touch id or NULL,
    seconds_since_touch or NULL). The marketing/product-analytics
    question ("which view gets credit for this purchase") and the
    event-level complement to the funnel's cohort counts (q99).

    The as-of-per-row construction (the :func:`point_in_time_join`
    idea, one table): ONE per-key time-ordered window carries
    ``last(touch_struct, ignorenulls=True)`` — each conversion row
    sees the latest touch at-or-before it without any self-join of
    the event table (the naive correlated-subquery plan the oracle
    transcribes); the horizon check is row-local afterwards. Strictly
    one shuffle; ties at equal timestamps order by ``id_col``
    (touch-before-conversion at the exact same instant counts —
    matched by the oracle's ``<=`` with id disambiguation).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tstruct = F.when(
        F.col(event_col) == touch,
        F.struct(
            F.col(ts_col).alias("t"), F.col(id_col).alias("i")
        ),
    )
    flagged = df.withColumn(
        "__touch", F.last(tstruct, ignorenulls=True).over(w)
    ).filter(F.col(event_col) == conversion)
    gap = F.unix_micros(F.col(ts_col)) - F.unix_micros(
        F.col("__touch")["t"]
    )
    in_horizon = F.col("__touch").isNotNull() & (
        gap <= horizon_sec * 1_000_000
    )
    return flagged.select(
        F.col(key_col),
        F.col(id_col).alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.when(in_horizon, F.col("__touch")["i"]).alias("touch_id"),
        F.when(in_horizon, (gap / 1_000_000.0)).alias("sec_since_touch"),
    )


def rolling_active_users(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Rolling distinct-actives: per calendar day, the DAU and the
    exact W-day rolling active-user count — (day, dau, wau). Rolling
    DISTINCT does not decompose into daily sums (a user active twice
    in the window counts once), which is why naive rollups get WAU
    wrong.

    The exact linear construction: dedup to (user, active day) — one
    map-side-combined distinct — then each (user, day) row COVERS the
    W days it keeps the user active for (a row-local ``sequence`` +
    explode, ×W volume, W a small constant), then one distinct-count
    per covered day. No day×day self-join, no window over the event
    table, no inequality join: cost is W·|user-days|, partitioned on
    the day key. Days beyond the data's max day are clipped so the
    output range equals the observed range.
    """
    ud = (
        df.select(
            F.col(key_col).alias("__u"),
            F.date_trunc("day", F.col(ts_col)).alias("__d"),
        )
        .distinct()
    )
    bounds = ud.agg(F.max("__d").alias("__max_d"))
    covered = (
        ud.crossJoin(F.broadcast(bounds))
        .select(
            "__u",
            "__d",
            F.explode(
                F.sequence(
                    F.col("__d"),
                    F.least(
                        F.col("__d")
                        + F.expr(f"INTERVAL {window_days - 1} DAYS"),
                        F.col("__max_d"),
                    ),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("__cover"),
        )
    )
    wau = covered.groupBy(F.col("__cover").alias("day")).agg(
        F.count_distinct("__u").alias("wau")
    )
    dau = ud.groupBy(F.col("__d").alias("day")).agg(
        F.count_distinct("__u").alias("dau")
    )
    # Join FROM the wau side: the covered-day set includes calendar
    # days with zero DAU but a nonzero rolling count (an activity gap
    # shorter than the window) — an inner join would silently drop
    # them. Days with wau = 0 (gaps longer than the window) are
    # uncovered and absent by construction.
    return wau.join(dau, on="day", how="left").select(
        "day",
        F.coalesce(F.col("dau"), F.lit(0)).cast("long").alias("dau"),
        "wau",
    )


def linear_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    conversion: str,
    touch: str,
    horizon_sec: int,
    id_col: str = "event_id",
) -> DataFrame:
    """Multi-touch LINEAR attribution: every conversion's credit
    splits evenly across ALL the same user's qualifying touches in
    the horizon before it — ``(day, n_touches, credit)`` per touch
    calendar day. The fractional-credit complement to
    :func:`last_touch_attribution` (which gives the final touch
    everything): linear attribution is what a mixture/budget view
    reads. A touch qualifies when it precedes the conversion
    (ties broken by ``id_col``, matching
    :func:`last_touch_attribution`'s parameter) within
    ``horizon_sec``.

    Determinism: each touch's credit is ``round(1/n, 6)`` as an
    exact DECIMAL (n = the conversion's qualifying-touch count, a
    window over the conversion key), so day-level sums are
    order-independent. Plan: one user-keyed equi-join bounded by the
    horizon predicate (per-user activity volume, never a global
    range join), one conversion-keyed window, one day aggregate.
    """
    joined = _qualifying_touches(
        df, key_col, ts_col, type_col, conversion, touch,
        horizon_sec, id_col,
    )
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy("__cid"))
    credited = joined.select(
        F.date_trunc("day", F.col("__tts")).alias("day"),
        F.round(F.lit(1.0) / n, 6).cast("decimal(28,6)").alias("__credit"),
    )
    return credited.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("__credit").cast("double").alias("credit"),
    )


def _qualifying_touches(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    conversion: str,
    touch: str,
    horizon_sec: int,
    id_col: str,
) -> DataFrame:
    """(conversion × qualifying touch) rows shared by the multi-touch
    attribution models: per user, every ``touch`` preceding each
    ``conversion`` (ties broken by ``id_col``) within
    ``horizon_sec``. One user-keyed equi-join bounded by the horizon
    predicate — per-user activity volume, never a global range
    join."""
    conv = df.filter(F.col(type_col) == conversion).select(
        F.col(key_col).alias("__u"),
        F.col(id_col).alias("__cid"),
        F.col(ts_col).alias("__cts"),
    )
    t = df.filter(F.col(type_col) == touch).select(
        F.col(key_col).alias("__u"),
        F.col(id_col).alias("__tid"),
        F.col(ts_col).alias("__tts"),
    )
    gap = F.unix_micros(F.col("__cts")) - F.unix_micros(F.col("__tts"))
    return conv.join(t, on="__u").filter(
        (
            (F.col("__tts") < F.col("__cts"))
            | (
                (F.col("__tts") == F.col("__cts"))
                & (F.col("__tid") < F.col("__cid"))
            )
        )
        & (gap <= F.lit(int(horizon_sec) * 1_000_000).cast("long"))
    )


def position_attribution(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    conversion: str,
    touch: str,
    horizon_sec: int,
    id_col: str = "event_id",
    endpoint_weight: float = 0.4,
) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution: per
    conversion, the FIRST and LAST qualifying touches each take
    ``endpoint_weight`` (default 40%) of the credit and the middle
    touches split the remainder evenly — ``(day, n_touches, credit)``
    per touch calendar day. The introduction-plus-closer view
    marketers read next to :func:`linear_attribution`'s uniform
    split: single-touch conversions give that touch everything,
    two-touch conversions split 50/50 (there is no middle to fund).
    Touch order within a conversion is ``(ts, id_col)`` — the same
    total order that qualifies ties, so credit assignment is
    deterministic under timestamp collisions.

    Determinism: each credit is ``round(·, 6)`` as an exact DECIMAL;
    day sums are order-independent. Plan: the shared
    :func:`_qualifying_touches` join + one conversion-keyed window
    pair (count + row_number over the same partition key — one
    shuffle), one day aggregate.
    """
    joined = _qualifying_touches(
        df, key_col, ts_col, type_col, conversion, touch,
        horizon_sec, id_col,
    )
    from pyspark.sql import Window

    wp = Window.partitionBy("__cid")
    w_ord = wp.orderBy(F.col("__tts").asc(), F.col("__tid").asc())
    ew = float(endpoint_weight)
    n = F.count(F.lit(1)).over(wp)
    rn = F.row_number().over(w_ord)
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((rn == 1) | (rn == n), F.lit(ew))
        .otherwise(F.lit(1.0 - 2.0 * ew) / (n - F.lit(2)))
    )
    credited = joined.select(
        F.date_trunc("day", F.col("__tts")).alias("day"),
        F.round(credit, 6).cast("decimal(28,6)").alias("__credit"),
    )
    return credited.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("__credit").cast("double").alias("credit"),
    )


def session_concurrency(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Hourly session-concurrency profile: ``(hour, n_active)`` —
    for each hour bucket, how many gap-based sessions were active
    (a session spanning [started, ended] counts in every hour bucket
    its span touches). The capacity-planning / load-profile view on
    top of :func:`session_stats`: peak concurrency is what a serving
    tier is sized by, and a bot incident shows up as a concurrency
    spike long before per-user counters trip.

    Plan shape: :func:`sessionize`'s one user-keyed window + a
    same-key span aggregate (min/max ts per session — no event-type
    dependency, unlike :func:`session_stats`), then a row-local
    ``sequence`` explode of each session onto its hour buckets
    (output volume = total session-hours, bounded by activity span —
    an interval-stabbing count, never a pairwise interval join) and
    one map-side-combined hour aggregate.
    """
    s = (
        sessionize(events, gap, user_col, ts_col, id_col)
        .groupBy(user_col, "session_seq")
        .agg(
            F.min(ts_col).alias("started"),
            F.max(ts_col).alias("ended"),
        )
    )
    hours = F.explode(
        F.sequence(
            F.date_trunc("hour", F.col("started")),
            F.date_trunc("hour", F.col("ended")),
            F.expr("INTERVAL 1 HOUR"),
        )
    )
    return (
        s.select(hours.alias("hour"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def cusum_changepoint(
    df: DataFrame,
    order_col: str,
    value_col: str,
    unit_scale: int = 1,
) -> DataFrame:
    """CUSUM changepoint over a one-row-per-period series: the period
    maximizing ``|S_i|`` where ``S_i = Σ_{j≤i} (v_j − mean)`` — one
    row ``(n_periods, <order_col>, max_cusum)``. The level-shift
    detector that completes the drift family: PSI/KL (q184/q181)
    compare two snapshots you chose, KS (q192) compares two samples;
    CUSUM finds WHERE in a series the level changed, no split point
    assumed.

    ``value_col`` must be EXACT integer units (counts, cents — the
    caller scales before aggregating; ``unit_scale`` converts the
    reported magnitude back). The mean is never divided out:
    ``n·S_i = n·P_i − i·T`` with ``P_i`` the inclusive prefix sum and
    ``T`` the total — all-integer (DECIMAL(38,0)) arithmetic, one
    division rounded to 4 dp at the very end, bit-identical across
    engines. Ties break toward the earliest period.

    Plan shape: TWO passes of the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum` (values + row index — never a single-partition
    window), a broadcast 1-row total, one TakeOrdered(1).
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    dec = "decimal(38,0)"
    # accumulate in DECIMAL(38,0) end to end: a LONG running sum
    # would silently wrap (non-ANSI) once the series total passes
    # 2^63 — decimal overflows loudly to NULL instead, keeping the
    # docstring's exactness claim honest at any aggregate scale
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    # value and row-index prefixes in ONE bucketed pass (same rows,
    # same order — the multi-weight form shares sketch and window)
    pre2 = global_prefix_sums(
        df.withColumn("__one", F.lit(1)),
        [order_col],
        [(value_col, "__cb", dec), ("__one", "__i0", "long")],
    )
    tot = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast(dec)).alias("__t"),
    )
    p = (F.col("__cb") + F.col(value_col).cast(dec)).cast(dec)
    i = (F.col("__i0") + 1).cast(dec)
    stat = F.abs(
        F.col("__n").cast(dec) * p - i * F.col("__t").cast(dec)
    )
    scored = pre2.crossJoin(F.broadcast(tot)).select(
        F.col("__n").cast("long").alias("n_periods"),
        F.col(order_col),
        stat.alias("__s"),
    )
    top = scored.orderBy(
        F.col("__s").desc(), F.col(order_col).asc()
    ).limit(1)
    return top.select(
        "n_periods",
        order_col,
        F.round(
            F.col("__s").cast("double")
            / (F.col("n_periods") * F.lit(float(unit_scale))),
            4,
        ).alias("max_cusum"),
    )


def seasonal_anomalies(
    series: DataFrame,
    ts_col: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Seasonality-adjusted anomaly detection over a one-row-per-
    period series: subtract the day-of-week baseline (the dominant
    cycle in activity data), then flag residuals by the robust
    modified z-score — input columns + ``residual`` + ``mod_z`` +
    ``is_outlier``. A raw threshold fires every weekend; a
    seasonal-residual MAD flags the Tuesday that looks like a Sunday
    — the monitoring view :func:`cusum_changepoint` (level shifts)
    and q111's raw MAD pass don't cover.

    ``value_col`` should be exact integer units (counts, cents) so
    the per-weekday baseline (``round(avg, 4)``) and residuals are
    engine-identical. Plan: one 7-row weekday aggregate broadcast
    back, then :func:`~bigdata_kafka_2_spark.operators.profile.
    mad_outliers`' two percentile passes — everything per-group tiny
    or broadcast.
    """
    from bigdata_kafka_2_spark.operators.profile import mad_outliers

    dow = F.dayofweek(F.col(ts_col))
    base = series.groupBy(dow.alias("__dow")).agg(
        F.round(F.avg(value_col), 4).alias("__base")
    )
    r = (
        series.withColumn("__dow", dow)
        .join(F.broadcast(base), on="__dow")
        .withColumn(
            "residual", F.col(value_col) - F.col("__base")
        )
        .drop("__dow", "__base")
    )
    return mad_outliers(r, "residual", threshold=threshold)


def theil_sen_trend(
    series: DataFrame,
    x_col: str,
    value_col: str,
) -> DataFrame:
    """Theil–Sen robust trend over a one-row-per-period series: one
    row ``(n_periods, slope, intercept)`` where ``slope`` is the
    MEDIAN of all pairwise slopes (v_j − v_i)/(x_j − x_i) and
    ``intercept`` the median of per-point residual intercepts
    v_i − slope·x_i. The robust member of the trend/drift family:
    the OLS line (q129's Zipf fit discipline) moves with a single
    corrupted period, Theil–Sen tolerates up to ~29% outliers — the
    estimator a monitoring view should fit through spiky activity
    data before alerting on its direction. ``x_col`` must be exact
    integer units (epoch days, period indexes); gaps are honest
    (the true axis, not row position).

    Determinism: every pairwise slope divides two integer-derived
    values identically on both engines; the median is an EXACT rank
    selection under the total order (slope, i, j) — ties broken by
    the pair coordinates — so both engines select the same element
    (lower median), rounded only on output.

    Plan shape: the pair frame is |periods|² /2 rows — bounded by the
    PERIOD count (a series that was already aggregated once), never
    the event volume; rank selection runs through the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_row_number` (no single-partition window); the selected
    1-row slope and the pair/point counts ride broadcasts.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_row_number,
    )

    a = series.select(
        F.col(x_col).cast("long").alias("__i"),
        F.col(value_col).cast("long").alias("__vi"),
    )
    b = series.select(
        F.col(x_col).cast("long").alias("__j"),
        F.col(value_col).cast("long").alias("__vj"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("__j") > F.col("__i"))
        .select(
            "__i",
            "__j",
            (
                (F.col("__vj") - F.col("__vi")).cast("double")
                / (F.col("__j") - F.col("__i")).cast("double")
            ).alias("__s"),
        )
    )
    ranked = global_row_number(pairs, ["__s", "__i", "__j"], rn_col="__rn")
    m = pairs.agg(F.count(F.lit(1)).alias("__m"))
    slope_row = (
        ranked.crossJoin(F.broadcast(m))
        .filter(
            F.col("__rn") == F.floor((F.col("__m") + 1) / 2).cast("long")
        )
        .select(F.col("__s").alias("__slope"))
    )
    resid = a.crossJoin(F.broadcast(slope_row)).select(
        "__i",
        (
            F.col("__vi").cast("double")
            - F.col("__slope") * F.col("__i").cast("double")
        ).alias("__b"),
        "__slope",
    )
    rranked = global_row_number(resid, ["__b", "__i"], rn_col="__rn")
    k = series.agg(F.count(F.lit(1)).alias("__k"))
    return (
        rranked.crossJoin(F.broadcast(k))
        .filter(
            F.col("__rn") == F.floor((F.col("__k") + 1) / 2).cast("long")
        )
        .select(
            F.col("__k").cast("long").alias("n_periods"),
            F.round("__slope", 6).alias("slope"),
            F.round("__b", 6).alias("intercept"),
        )
    )


def kaplan_meier(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Kaplan–Meier survival curve over right-censored durations: one
    row per distinct EVENT time ``t`` with ``n_risk`` (subjects whose
    duration ≥ t), ``n_events`` / ``n_censored`` at t, the cumulative
    ``log_survival`` and ``survival`` = Π_{s≤t} (1 − d_s/n_s). The
    survival-analysis member of the retention family: q162/q218's
    cohort triangles need every subject OBSERVED for the full window,
    while KM uses censored subjects correctly — the estimator a churn
    or document-lifetime analysis runs when the observation window
    cuts lives short (Kaplan & Meier 1958).

    ``subjects`` is one row per subject: integer ``duration_col`` and
    0/1 ``event_col`` (1 = the terminal event happened at duration,
    0 = censored there). Censoring-only times don't change S(t), so
    output rows are event times only — censored mass still leaves the
    risk set between rows, which is the whole point of KM.

    Determinism (the q80 log discipline): each step's factor enters as
    ``round(ln((n−d)/n), 6)`` — integer-derived inputs divide
    identically on both engines — and the cumulative sum runs in
    exact DECIMAL(38,6), so ``log_survival`` is order-independent and
    engine-identical; ``survival`` is rounded from it only on output.

    Plan shape: one groupBy collapses subjects to the distinct-
    duration frame (bounded by the TIME RANGE in integer units, never
    the subject count); the risk set and the cumulative log both ride
    the range-bucketed :func:`~bigdata_kafka_2_spark.operators.
    relational.global_prefix_sum` (no single-partition window); the
    subject total is a broadcast 1-row aggregate.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    g = subjects.groupBy(
        F.col(duration_col).cast("long").alias("t")
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_events"),
        F.sum(
            (F.lit(1) - F.col(event_col).cast("long"))
        ).alias("n_censored"),
    )
    # one subjects scan (the nelson_aalen shape): pin the |T|-row
    # cell table; the subject total is Σ __rem over it
    g = pin(g.withColumn("__rem", F.col("n_events") + F.col("n_censored")))
    tot = g.agg(F.sum("__rem").alias("__N"))
    # subjects removed (event or censor) strictly before t
    risk = global_prefix_sum(
        g,
        ["t"],
        "__rem",
        "__rm",
    ).crossJoin(F.broadcast(tot)).withColumn(
        "n_risk", (F.col("__N") - F.col("__rm")).cast("long")
    )
    # terminal guard: when the whole risk set dies at t (n_risk ==
    # n_events — only possible on the LAST event row), ln(0) is
    # undefined; the step factor is NULL there and survival pins to 0.
    ev = risk.filter(F.col("n_events") > 0).withColumn(
        "__term",
        F.when(
            F.col("n_risk") > F.col("n_events"),
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("n_events")).cast(
                        "double"
                    )
                    / F.col("n_risk").cast("double")
                ),
                6,
            ).cast("decimal(28,6)"),
        ),
    )
    cum = global_prefix_sum(
        ev, ["t"], "__term", "__ls0", sum_type="decimal(38,6)"
    )
    ls = (F.col("__ls0") + F.col("__term")).cast("decimal(38,6)")
    return cum.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        ls.cast("double").alias("log_survival"),
        F.when(F.col("__term").isNull(), F.lit(0.0))
        .otherwise(F.round(F.exp(ls.cast("double")), 6))
        .alias("survival"),
    )


def autocorrelation(
    series: DataFrame,
    x_col: str,
    v_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Sample autocorrelation function of an integer-valued regular
    series at lags 1..``max_lag``: ``(lag, n_pairs, acf)`` — the
    period-detection / residual-whiteness primitive next to
    :func:`seasonal_anomalies` (which ASSUMES a weekly period; the
    ACF is how that period is found) and :func:`cusum_changepoint`
    (whose level-shift alarms show up here as slowly-decaying lags).

    ``series`` is one row per integer period ``x_col`` (e.g. epoch
    day) with an integer measure ``v_col``; gap periods are simply
    absent and contribute no lagged pair (documented small-sample
    behavior; run through a zero-filled resample first if gaps must
    count as zero). r_k uses the full-series mean μ = S/n in the exact
    integer form (multiply through by n²):

        r_k = (n²·Σxy − n·S·(Σh+Σt) + n_k·S²) / (n·(n·Σx² − S²))

    where Σxy/Σh/Σt run over the n_k lag-k pairs. Every sum
    accumulates as exact DECIMAL (a count series squares past 2^63
    on a 100 TB event table); the final combination casts those
    identical integers to double and both engines evaluate the SAME
    left-associated expression (rounded 6 dp) — IEEE doubles are
    deterministic given identical inputs and operation order.

    Plan shape: the series is already aggregated (bounded by the time
    range, not event volume); the lag pairing is one equi-join of the
    series against itself exploded by the ``max_lag`` offsets, then a
    per-lag aggregate and a broadcast 1-row totals join.
    """
    dec = "decimal(38,0)"
    v = F.col(v_col).cast(dec)
    tot = series.agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(v).alias("__s"),
        F.sum(v * v).alias("__sxx"),
    )
    head = series.select(
        F.col(x_col).alias("__x"),
        F.col(v_col).cast(dec).alias("__vh"),
    ).withColumn(
        "lag", F.explode(F.array(*[F.lit(k) for k in range(1, max_lag + 1)]))
    )
    tail_ = series.select(
        F.col(x_col).alias("__xt"),
        F.col(v_col).cast(dec).alias("__vt"),
    )
    pairs = head.join(
        tail_, head["__x"] + head["lag"] == tail_["__xt"]
    )
    per_lag = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec).alias("__nk"),
        F.sum(F.col("__vh") * F.col("__vt")).alias("__sxy"),
        F.sum("__vh").alias("__sh"),
        F.sum("__vt").alias("__st"),
    )
    j = per_lag.crossJoin(F.broadcast(tot))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = (
        d("__n") * d("__n") * d("__sxy")
        - d("__n") * d("__s") * (d("__sh") + d("__st"))
        + d("__nk") * d("__s") * d("__s")
    )
    den = d("__n") * (d("__n") * d("__sxx") - d("__s") * d("__s"))
    # constant series: den = 0 and ANSI mode errors even on DOUBLE
    # division — guard to NULL (the r14 ljung_box caller's contract;
    # non-constant behavior is bit-identical since the guard only
    # changes the den = 0 branch).
    return j.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("__nk").cast("long").alias("n_pairs"),
        F.round(F.when(den != 0, num / den), 6).alias("acf"),
    )


def ols_trend(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares trend over an integer series:
    ``(group..., n_periods, slope, intercept, r2)`` — the classical
    companion to :func:`theil_sen_trend` (which trades efficiency for
    outlier robustness; a monitor typically reports both and alarms
    on disagreement), per GROUP where Theil-Sen's pair frame makes
    per-group fits expensive.

    Closed forms from exact integer sums only:

        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n
        r² = (n·Σxy − Σx·Σy)² / ((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))

    Each Σ accumulates as exact DECIMAL(38,0) in ONE map-side-combined
    aggregate per group (a 10^12-row series squares past 2^63); the
    closed forms then cast those identical integers to double and both
    engines evaluate the same left-associated expression, rounded to
    6 dp on output. One aggregate, no window, no join — scan speed.

    Degenerate groups (n = 1, or a constant x) have no defined slope
    and return NULLs; a constant y gives r² = NULL (0/0), the honest
    answer rather than 1.
    """
    dec = "decimal(38,0)"
    x = F.col(x_col).cast(dec)
    y = F.col(y_col).cast(dec)
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    sxy_n = d("__n") * d("__sxy") - d("__sx") * d("__sy")
    sxx_n = d("__n") * d("__sxx") - d("__sx") * d("__sx")
    syy_n = d("__n") * d("__syy") - d("__sy") * d("__sy")
    slope = F.when(sxx_n > 0, sxy_n / sxx_n)
    intercept = F.when(
        sxx_n > 0, (d("__sy") - (sxy_n / sxx_n) * d("__sx")) / d("__n")
    )
    r2 = F.when(
        (sxx_n > 0) & (syy_n > 0), (sxy_n * sxy_n) / (sxx_n * syy_n)
    )
    return agg.select(
        *group_cols,
        F.col("__n").cast("long").alias("n_periods"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def nelson_aalen(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Nelson–Aalen cumulative-hazard curve over right-censored
    durations (Nelson 1972, Aalen 1978): one row per distinct event
    time ``t`` with ``n_risk``, ``n_events``, the cumulative hazard
    ``H(t) = Σ_{s≤t} d_s/n_s``, its standard error (from the
    variance estimate ``Σ d_s/n_s²``), and the Fleming–Harrington
    survival ``exp(−H)`` — :func:`kaplan_meier`'s additive sibling:
    KM multiplies survival factors, NA sums hazard increments, which
    is the quantity hazard-ratio thinking (and q256's log-rank test)
    lives in, and the better-behaved estimator in small risk sets.

    Same machinery and determinism as KM: the distinct-duration
    collapse, risk sets off the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum`, per-step terms ``round(d/n, 9)`` /
    ``round(d/n², 12)`` accumulated as exact DECIMAL(38,9)/(38,12) —
    order-independent and engine-identical; the displayed hazard/SE/
    survival round only on output.

    Display rounding (r13, caught by the sf0.01 vanilla-session
    verify): the cumulative hazard rounds on the EXACT DECIMAL
    (both engines' decimal round is exact half-up, so ...500 ties at
    the 7th–9th digit resolve identically), never on a double —
    Spark's round-on-double (HALF_UP over the shortest decimal repr)
    and DuckDB's (scale-and-round the raw double) disagree at every
    true tie. The transcendental outputs (exp/sqrt) use the shared
    ``floor(x·1e6 + 0.5)/1e6`` sequence — identical IEEE ops on both
    engines, leaving only the ~1-ulp-at-an-integer-boundary residual
    (q262's COVERAGE note), instead of the systematic tie divergence.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    # one subjects scan: the |T|-row cell table is pinned and
    # the subject total is Σ __rem over it (≡ count(subjects)), so
    # the quantile sketch, the total, and both downstream prefix
    # passes all read the reduced table instead of re-running the
    # caller's duration pipeline per consumer (the q228 precedent).
    g = pin(
        subjects.groupBy(
            F.col(duration_col).cast("long").alias("t")
        ).agg(
            F.sum(F.col(event_col).cast("long")).alias("n_events"),
            F.sum(
                (F.lit(1) - F.col(event_col).cast("long"))
            ).alias("n_censored"),
        ).withColumn(
            "__rem", F.col("n_events") + F.col("n_censored")
        )
    )
    tot = g.agg(F.sum("__rem").alias("__N"))
    risk = global_prefix_sum(
        g,
        ["t"],
        "__rem",
        "__rm",
    ).crossJoin(F.broadcast(tot)).withColumn(
        "n_risk", (F.col("__N") - F.col("__rm")).cast("long")
    )
    n = F.col("n_risk").cast("double")
    d = F.col("n_events").cast("double")
    ev = (
        risk.filter(F.col("n_events") > 0)
        .withColumn(
            "__h", F.round(d / n, 9).cast("decimal(38,9)")
        )
        .withColumn(
            "__v", F.round(d / (n * n), 12).cast("decimal(38,12)")
        )
    )
    # both cumulatives in ONE bucketed pass (same rows, same order —
    # the multi-weight form shares the sketch, offsets, and window)
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    cum = global_prefix_sums(
        ev,
        ["t"],
        [
            ("__h", "__h0", "decimal(38,9)"),
            ("__v", "__v0", "decimal(38,12)"),
        ],
    )
    # precision-37 operands: (38,9)+(38,9) would reduce scale to 8
    # (Spark's allowPrecisionLoss addition rule — see
    # relational.global_prefix_sum's docstring)
    H = (
        F.col("__h0").cast("decimal(37,9)")
        + F.col("__h").cast("decimal(37,9)")
    ).cast("decimal(38,9)")
    V = (
        F.col("__v0").cast("decimal(37,12)")
        + F.col("__v").cast("decimal(37,12)")
    ).cast("decimal(38,12)")
    def disp6(x):
        # shared floor(x*1e6 + 0.5)/1e6 display round (see docstring)
        return F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
            1000000.0
        )

    return cum.select(
        "t",
        "n_risk",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(H, 6).cast("double").alias("cum_hazard"),
        disp6(F.sqrt(V.cast("double"))).alias("se_hazard"),
        disp6(F.exp(-H.cast("double"))).alias("survival_fh"),
    )


def logrank_test(
    subjects: DataFrame,
    group_col,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Two-sample log-rank test (Mantel 1966; the survival-analysis
    member of the two-sample family next to q192's KS and q225's
    Mann–Whitney): one row ``(n, n_group, observed, expected,
    variance, chi2)`` testing whether the ``group_col = TRUE``
    subjects' survival differs from the rest —

        O₁ = Σ_t d₁t,   E₁ = Σ_t d_t·n₁t/n_t,
        V  = Σ_t d_t·(n₁t/n_t)(1−n₁t/n_t)(n_t−d_t)/(n_t−1),
        χ² = (O₁ − E₁)² / V

    summed over distinct event times (the hypergeometric one-degree
    form). This is the censoring-correct comparison a
    mean-of-durations test gets WRONG (censored subjects truncate
    naive means); it needs only the risk-set machinery
    :func:`kaplan_meier` already rides.

    Plan: one groupBy collapses subjects to distinct-duration cells
    with per-group event/removal counts; risk sets come from TWO
    range-bucketed prefix sums (total and group removals); the three
    sums accumulate 9/12-dp-rounded per-time terms in exact DECIMAL.
    Times where the risk set has a single subject contribute zero
    variance (the n_t − 1 = 0 guard, standard in every
    implementation).
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    gflag = (
        F.col(group_col).cast("boolean")
        if isinstance(group_col, str)
        else group_col.cast("boolean")
    )
    e = F.col(event_col).cast("long")
    g = pin(
        subjects.groupBy(
            F.col(duration_col).cast("long").alias("t")
        ).agg(
            F.sum(e).alias("__d"),
            F.sum(F.when(gflag, e).otherwise(F.lit(0))).alias("__d1"),
            F.count(F.lit(1)).alias("__rem"),
            F.sum(F.when(gflag, 1).otherwise(0)).alias("__rem1"),
        )
    )
    # subject totals as bounded driver scalars off the |T|-row cell
    # table (the pagerank node-count pattern; a crossJoin with an
    # aggregate of the same frame trips Spark 4 self-join ambiguity)
    meta = g.agg(
        F.sum("__rem").alias("__N"), F.sum("__rem1").alias("__N1")
    ).collect()[0]
    n_total, n_group = int(meta["__N"]), int(meta["__N1"])
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    # one bucketed pass for both removal prefixes (same rows/order)
    pre = global_prefix_sums(
        g,
        ["t"],
        [("__rem", "__rm", "long"), ("__rem1", "__rm1", "long")],
    )
    risk = pre.select(
        "t",
        "__d",
        "__d1",
        (F.lit(n_total) - F.col("__rm")).cast("double").alias("__n"),
        (F.lit(n_group) - F.col("__rm1")).cast("double").alias("__n1"),
    ).filter(F.col("__d") > 0)
    d = F.col("__d").cast("double")
    p1 = F.col("__n1") / F.col("__n")
    eterm = F.round(d * p1, 9).cast("decimal(38,9)")
    vterm = F.when(
        F.col("__n") > 1,
        F.round(
            d
            * p1
            * (F.lit(1.0) - p1)
            * (F.col("__n") - d)
            / (F.col("__n") - F.lit(1.0)),
            12,
        ),
    ).cast("decimal(38,12)")
    agg = risk.agg(
        F.sum("__d1").alias("__O1"),
        F.sum(eterm).alias("__E1"),
        F.sum(vterm).alias("__V"),
    )
    o1 = F.col("__O1").cast("double")
    e1 = F.col("__E1").cast("double")
    v = F.col("__V").cast("double")
    return agg.select(
        F.lit(n_total).cast("long").alias("n"),
        F.lit(n_group).cast("long").alias("n_group"),
        F.col("__O1").cast("long").alias("observed"),
        F.round(e1, 6).alias("expected"),
        F.round(v, 6).alias("variance"),
        F.round((o1 - e1) * (o1 - e1) / v, 6).alias("chi2"),
    )


def competing_risks_cif(
    subjects: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Aalen–Johansen cumulative incidence under COMPETING RISKS
    (Aalen & Johansen 1978): for subjects whose ``event_col`` is 0
    (censored), 1, or 2 (two mutually exclusive terminal causes), one
    row per distinct event time ``t`` with ``n_risk``, per-cause
    events ``d1``/``d2``, and the cumulative incidence functions

        CIF_k(t) = Σ_{s≤t} S(s−)·d_ks/n_s

    where ``S(s−)`` is the OVERALL (all-cause) Kaplan–Meier survival
    just before s. The estimator 1−KM gets WRONG under competing
    risks: treating cause-2 deaths as censoring overstates cause-1
    incidence because censoring assumes those subjects could still
    fail from cause 1 (the classic Gooley et al. 1999 pitfall —
    e.g. documents leaving a corpus by takedown vs dedup-removal;
    churn by cancellation vs upgrade).

    Machinery and determinism: :func:`kaplan_meier`'s distinct-
    duration collapse and range-bucketed prefix sums throughout —
    the all-cause log-survival rides an EXCLUSIVE prefix (exactly
    S(s−), no shifted window needed), per-cause increments enter as
    ``round(exp(ls_before)·d_k/n, 9)`` with ``exp`` evaluated
    engine-side on identical 6-dp inputs (the KM ln/exp parity
    rule), and both CIFs accumulate inclusively in exact
    DECIMAL(38,9). The all-risk-set-dies terminal row keeps exact
    CIF increments (S(s−) is still finite there; only KM's OWN ln
    term would be −∞, and it is not needed past the last row).
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    e = F.col(event_col).cast("int")
    g = pin(
        subjects.groupBy(
            F.col(duration_col).cast("long").alias("t")
        ).agg(
            F.sum(F.when(e == 1, 1).otherwise(0)).alias("__d1"),
            F.sum(F.when(e == 2, 1).otherwise(0)).alias("__d2"),
            F.count(F.lit(1)).alias("__rem"),
        )
    )
    n_total = int(
        g.agg(F.sum("__rem").alias("__N")).collect()[0]["__N"]
    )
    pre = global_prefix_sum(g, ["t"], "__rem", "__rm")
    risk = pre.withColumn(
        "n_risk", (F.lit(n_total) - F.col("__rm")).cast("long")
    ).filter((F.col("__d1") + F.col("__d2")) > 0)
    n = F.col("n_risk").cast("double")
    d_all = (F.col("__d1") + F.col("__d2")).cast("double")
    # all-cause KM ln factor at t (6 dp, the q224 schedule); NULL on
    # the terminal all-die row — excluded from later prefixes anyway
    lnf = F.when(
        n > d_all,
        F.round(F.log((n - d_all) / n), 6).cast("decimal(28,6)"),
    )
    risk = risk.withColumn("__lf", lnf)
    # EXCLUSIVE prefix of ln factors = ln S(t−) exactly
    risk = global_prefix_sum(
        risk, ["t"], "__lf", "__ls_before", sum_type="decimal(38,6)"
    )
    # EXACT integer-unit increments — no double round anywhere in the
    # accumulation. S(s−) snaps to the 6-dp grid (the one place the
    # engines' exp() can differ is within an ulp of a 6-dp tie — the
    # pagerank rounding-boundary caveat class); from there every
    # quantity is an integer: with S = S(s−)·10⁶ and d, n integers,
    #   round_half_up(S·d / (n·10⁶), 9) · 10⁹  =  (2000·S·d + n) div (2n)
    # exactly (the ndcg integer-division trick) — small-rational
    # increments like d/n land on 9-dp ties CONSTANTLY (observed
    # twice live at sf0.001 through the double path), and the div
    # form is tie-exact and engine-identical. Cumulatives stay in
    # 1e-9 integer units (bounded by 10⁹ — CIF ≤ 1); overflow bound:
    # 2000·S·d needs d > 4.6e9 events at ONE distinct time to wrap.
    s6u = F.round(
        F.round(F.exp(F.col("__ls_before").cast("double")), 6)
        * F.lit(1000000.0),
        0,
    ).cast("long")
    risk = risk.withColumn("__s6u", s6u)
    nl = F.col("n_risk")
    u1 = F.expr(
        "(2000L * __s6u * __d1 + n_risk) DIV (2L * n_risk)"
    )
    u2 = F.expr(
        "(2000L * __s6u * __d2 + n_risk) DIV (2L * n_risk)"
    )
    risk = risk.withColumn("__u1", u1).withColumn("__u2", u2)
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    # both per-cause cumulatives in ONE bucketed pass (same rows and
    # order; the ls_before prefix above cannot merge — u1/u2 are
    # computed FROM its output)
    risk = global_prefix_sums(
        risk,
        ["t"],
        [("__u1", "__c1b", "long"), ("__u2", "__c2b", "long")],
    )
    risk = risk.withColumn(
        "__cif1u", F.col("__c1b") + F.col("__u1")
    ).withColumn("__cif2u", F.col("__c2b") + F.col("__u2"))
    # 6-dp half-up from integer 1e-9 units: (u + 500) DIV 1000 —
    # integer division, never a double quotient truncation
    return risk.select(
        "t",
        "n_risk",
        F.col("__d1").cast("long").alias("d1"),
        F.col("__d2").cast("long").alias("d2"),
        (
            F.expr("(__cif1u + 500L) DIV 1000L").cast("double")
            / F.lit(1000000.0)
        ).alias("cif_1"),
        (
            F.expr("(__cif2u + 500L) DIV 1000L").cast("double")
            / F.lit(1000000.0)
        ).alias("cif_2"),
    )


def ljung_box(
    series: DataFrame,
    x_col: str,
    v_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Ljung–Box portmanteau test for autocorrelation up to
    ``max_lag`` (Ljung & Box 1978): one row ``(n, k, q_stat,
    p_value)`` —

        Q = n(n+2) Σ_{j=1..K} ρ̂²_j / (n − j),   df = K

    the "is this series white noise" gate a forecasting residual or
    a metric stream passes before anyone trusts i.i.d.-based
    readouts on it (the time-axis sibling of q265's SRM gate) — the
    TEST built on the period-detection ACF
    (:func:`autocorrelation`, whose per-lag ρ̂ is exact-integer
    arithmetic on the same regular series contract: one row per
    integer period ``x_col``, integer measure ``v_col``, gap
    periods absent). The survival is the shared both-parity
    chi-square series
    (:func:`~bigdata_kafka_2_spark.operators.mathfn.chi2_sf_col`,
    K ≤ 16). The Q terms round 9 dp into DECIMAL(38,9) over the
    bounded K-row ACF table (order-independent); n is the series
    length as a broadcast 1-row scalar. NULL when the series is
    constant (ACF undefined).
    """
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col

    k = int(max_lag)
    acf = autocorrelation(series, x_col, v_col, max_lag=k)
    n1 = series.agg(F.count(F.lit(1)).alias("__n"))
    staged = acf.crossJoin(F.broadcast(n1))
    agg = staged.agg(
        F.max("__n").alias("__nv"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(
            F.round(
                F.col("acf") * F.col("acf")
                / (F.col("__n").cast("double") - F.col("lag")),
                9,
            ).cast("decimal(38,9)")
        ).alias("__t"),
        F.min("acf").alias("__anull"),
    )
    nd = F.col("__nv").cast("double")
    q = nd * (nd + 2.0) * F.col("__t").cast("double")
    ok = F.col("__anull").isNotNull()
    p = chi2_sf_col(q, F.col("__k").cast("int"))
    return agg.select(
        F.col("__nv").cast("long").alias("n"),
        F.col("__k").cast("long").alias("k"),
        F.round(F.when(ok, q), 6).alias("q_stat"),
        F.round(F.when(ok, p), 9).alias("p_value"),
    )


def runs_test(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Wald–Wolfowitz runs test for randomness around the median
    (Wald & Wolfowitz 1940): one row ``(n, n_above, n_below, runs,
    z, p_value)`` — are the above/below-median signs of a
    time-ordered series randomly mixed, or do they clump (trend /
    regime persistence) or alternate (over-correction)? The
    distribution-free companion of :func:`acf_lags` for the same
    "is my metric stream i.i.d." question.

        μ_R = 2·n₁n₂/n + 1,
        σ²_R = 2n₁n₂(2n₁n₂ − n) / (n²(n−1)),
        z = (R − μ_R)/σ_R,   p = erfc(|z|/√2)

    Values EQUAL to the median are dropped (the standard
    convention). The median is the exact interpolated percentile
    (the q23 Spark↔DuckDB parity); run boundaries come from ONE
    equi-join on the shifted rank key (the :func:`acf_lags`
    machinery at lag 1); the counts are exact integers and z is one
    double expression on the 1-row result. NULL z/p when either
    side is empty.
    """
    from bigdata_kafka_2_spark.operators.mathfn import erfc_col
    from bigdata_kafka_2_spark.operators.relational import (
        global_row_number,
    )
    import math as _math

    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(
        F.col(ts_col).alias("__ts"),
        F.col(id_col).alias("__id"),
        v.alias("__v"),
    )
    med = base.agg(
        F.percentile(F.col("__v"), F.lit(0.5)).alias("__med")
    )
    signed = (
        base.crossJoin(F.broadcast(med))
        .filter(F.col("__v") != F.col("__med"))
        .select(
            "__ts",
            "__id",
            (F.col("__v") > F.col("__med")).alias("__up"),
        )
    )
    ranked = pin(global_row_number(signed, ["__ts", "__id"], "__rn"))
    pairs = ranked.select(
        (F.col("__rn") + 1).alias("__rnk"),
        F.col("__up").alias("__ua"),
    ).join(
        ranked.select(
            F.col("__rn").alias("__rnk"), F.col("__up").alias("__ub")
        ),
        on="__rnk",
    )
    bounds = pairs.agg(
        F.sum(
            F.when(F.col("__ua") != F.col("__ub"), 1).otherwise(0)
        ).alias("__switch")
    )
    counts = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(F.col("__up"), 1).otherwise(0)).alias("__n1"),
        F.sum(F.when(~F.col("__up"), 1).otherwise(0)).alias("__n2"),
    )
    j = counts.crossJoin(F.broadcast(bounds))
    n = F.col("__n").cast("double")
    n1 = F.col("__n1").cast("double")
    n2 = F.col("__n2").cast("double")
    r = (F.col("__switch") + 1).cast("double")
    mu_r = 2.0 * n1 * n2 / n + 1.0
    var_r = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n)
        / (n * n * (n - 1.0))
    )
    z = (r - mu_r) / F.sqrt(var_r)
    ok = (F.col("__n1") > 0) & (F.col("__n2") > 0) & (var_r > 0)
    p = erfc_col(F.abs(z) / F.lit(_math.sqrt(2.0)))
    return j.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__n1").cast("long").alias("n_above"),
        F.col("__n2").cast("long").alias("n_below"),
        (F.col("__switch") + 1).cast("long").alias("runs"),
        F.round(F.when(ok, z), 6).alias("z"),
        F.round(F.when(ok, p), 9).alias("p_value"),
    )
