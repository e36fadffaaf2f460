"""Pairwise-preference analytics — the RLHF/preference-data family.

A preference dataset is a stream of comparisons "a beat b"; the
operators here aggregate raw comparisons into a canonical win table
and fit Bradley–Terry strengths (Bradley & Terry 1952) with Hunter's
MM updates (Hunter 2004, *MM algorithms for generalized Bradley-Terry
models*) — the standard model behind reward-model data curation,
annotator-quality auditing, and win-rate leaderboards. Everything is
declarative DataFrame composition on the engine's iterative-dataflow
discipline (fixed unrolled iterations, 12-dp rounding schedule, exact
DECIMAL sums of rounded terms), so the fit is bit-identical to the
unrolled-CTE SQL oracle at every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin

#: 12-dp strength arithmetic — same scale as the PageRank/HITS
#: induction (operators/graph._RANK_SCALE).
_SCALE = 12
_DEC = "decimal(38,12)"


def pairwise_wins(
    df: DataFrame,
    group_col: str,
    player_col: str,
    rank_col: str,
) -> DataFrame:
    """Canonical win table from WITHIN-GROUP comparisons: one row
    ``(a, b, wins_a, wins_b)`` per unordered player pair ``a < b``,
    where every two rows of one group with different players form a
    comparison won by the smaller ``rank_col`` (ties are dropped —
    they carry no preference signal in a Bradley–Terry likelihood).

    Plan shape: one group-keyed self-equi-join (pair volume bounded
    by Σ|group|² — groups are baskets/sessions, never the corpus),
    canonicalized by ``player_a < player_b`` so each comparison is
    generated exactly once, then one map-side-combined aggregate to
    |players|² rows at most. The comparison-mining front half of
    :func:`bradley_terry`.
    """
    left = df.select(
        F.col(group_col).alias("__g"),
        F.col(player_col).alias("a"),
        F.col(rank_col).alias("__ra"),
    )
    right = df.select(
        F.col(group_col).alias("__g"),
        F.col(player_col).alias("b"),
        F.col(rank_col).alias("__rb"),
    )
    pairs = left.join(right, on="__g").filter(F.col("a") < F.col("b"))
    return (
        pairs.groupBy("a", "b")
        .agg(
            F.sum(
                F.when(F.col("__ra") < F.col("__rb"), 1).otherwise(0)
            )
            .cast("long")
            .alias("wins_a"),
            F.sum(
                F.when(F.col("__rb") < F.col("__ra"), 1).otherwise(0)
            )
            .cast("long")
            .alias("wins_b"),
        )
        .filter((F.col("wins_a") + F.col("wins_b")) > 0)
    )


def bradley_terry(
    matches: DataFrame,
    iterations: int = 3,
    broadcast_players: int = 2_000_000,
) -> DataFrame:
    """Bradley–Terry strengths from a canonical win table
    ``(a, b, wins_a, wins_b)`` (``a < b``, from
    :func:`pairwise_wins`): ``(player, strength)`` with Σ strength =
    1 after ``iterations`` rounds of Hunter's MM update

        R_i = W_i / Σ_{j≠i} n_ij / (w_i + w_j)     (then normalize)

    where ``W_i`` is player i's total wins and ``n_ij`` the total
    decided comparisons between i and j. The model behind reward-data
    win rates: strengths are interval-scale preference scores
    (P(i beats j) = w_i/(w_i+w_j)), which raw win percentages are not
    when the comparison graph is unbalanced.

    Scale plan — the Pregel shape shared with
    :func:`~bigdata_kafka_2_spark.operators.graph.pagerank`: the
    symmetric match table (2 rows per pair) is the edge list,
    pinned once; per round ONE edge⋈strength join per side
    (strength vector broadcast below ``broadcast_players``, shuffle
    join above), one i-keyed aggregate, one broadcast 1-row
    normalization total. Iterations are FIXED and unrolled — the
    12-dp determinism induction: each pair term
    ``round(n_ij/(w_i+w_j), 12)`` and each round's strengths are
    12-dp rounded, per-player term sums and the normalization total
    accumulate as exact DECIMAL(38,12) of those rounded terms, so
    Spark and the unrolled-CTE oracle agree bit-for-bit at every
    round at any partitioning.

    Precondition (MLE existence, Ford 1957): every player needs at
    least one win — a zero-win player's update is 0 and a pair of
    zero-strength opponents would divide by zero in later rounds; the
    operator raises if any ``W_i = 0`` (one bounded 1-row aggregate,
    the pattern of pagerank's node count) rather than silently
    fitting a degenerate model. Full Ford connectivity (every
    partition of players has wins across the cut) is the caller's
    contract, as in every BT implementation.
    """
    if iterations < 1:
        raise ValueError(
            f"bradley_terry: iterations must be >= 1, got {iterations}"
        )
    n_tot = (F.col("wins_a") + F.col("wins_b")).alias("n")
    sym = pin(
        matches.select(
            F.col("a").alias("i"), F.col("b").alias("j"), n_tot
        )
        .unionAll(
            matches.select(
                F.col("b").alias("i"), F.col("a").alias("j"), n_tot
            )
        )
    )
    wins = pin(
        matches.select(F.col("a").alias("i"), F.col("wins_a").alias("__w"))
        .unionAll(
            matches.select(
                F.col("b").alias("i"), F.col("wins_b").alias("__w")
            )
        )
        .groupBy("i")
        .agg(F.sum("__w").alias("__W"))
    )
    zero = wins.filter(F.col("__W") <= 0).count()
    if zero:
        raise ValueError(
            f"bradley_terry: {zero} player(s) have zero wins — the "
            "MLE does not exist (Ford 1957); filter them out or merge "
            "sparse players before fitting"
        )
    k = wins.count()
    bc = F.broadcast if k <= broadcast_players else (lambda df: df)

    w = wins.select(
        "i", F.round(F.lit(1.0 / float(k)), _SCALE).alias("w")
    )
    for _ in range(iterations):
        wj = w.select(F.col("i").alias("j"), F.col("w").alias("__wj"))
        terms = (
            sym.join(bc(w), on="i")
            .join(bc(wj), on="j")
            .select(
                "i",
                F.round(
                    F.col("n").cast("double")
                    / (F.col("w") + F.col("__wj")),
                    _SCALE,
                ).cast(_DEC).alias("__t"),
            )
        )
        denom = terms.groupBy("i").agg(F.sum("__t").alias("__d"))
        raw = (
            wins.join(bc(denom), on="i")
            .select(
                "i",
                F.round(
                    F.col("__W").cast("double")
                    / F.col("__d").cast("double"),
                    _SCALE,
                ).alias("__r"),
            )
        )
        tot = raw.agg(
            F.sum(F.col("__r").cast(_DEC)).alias("__s")
        )
        w = pin(
            raw.crossJoin(F.broadcast(tot))
            .select(
                "i",
                F.round(
                    F.col("__r") / F.col("__s").cast("double"), _SCALE
                ).alias("w"),
            )
        )
    return w.select(F.col("i").alias("player"), F.col("w").alias("strength"))


def bt_oracle_sql(
    matches_cte: str, iterations: int = 3
) -> str:
    """Unrolled-iteration DuckDB transcription of
    :func:`bradley_terry` (kept beside the operator so the rounding
    and normalization schedule stays in lockstep). ``matches_cte`` is
    SQL producing ``m(a, b, wins_a, wins_b)`` with ``a < b``; every
    round CTE is referenced ≥2× so ``plans.resolve_oracle``
    materializes it."""
    s = _SCALE
    parts = [
        f"""
    WITH m AS ({matches_cte}),
    sym AS (
      SELECT a AS i, b AS j, wins_a + wins_b AS n FROM m
      UNION ALL
      SELECT b AS i, a AS j, wins_a + wins_b AS n FROM m
    ),
    wins AS (
      SELECT i, CAST(sum(w) AS BIGINT) AS W FROM (
        SELECT a AS i, wins_a AS w FROM m
        UNION ALL SELECT b, wins_b FROM m
      ) GROUP BY i
    ),
    meta AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM wins),
    w0 AS (
      SELECT i, round(1.0 / (SELECT k FROM meta), {s}) AS w FROM wins
    )"""
    ]
    for r in range(1, iterations + 1):
        p = r - 1
        parts.append(
            f""",
    d{r} AS (
      SELECT sym.i,
             sum(CAST(round(CAST(n AS DOUBLE) / (wi.w + wj.w), {s})
                      AS DECIMAL(38,{s}))) AS d
      FROM sym
        JOIN w{p} wi ON wi.i = sym.i
        JOIN w{p} wj ON wj.i = sym.j
      GROUP BY sym.i
    ),
    r{r} AS (
      SELECT wins.i,
             round(CAST(W AS DOUBLE) / CAST(d AS DOUBLE), {s}) AS r
      FROM wins JOIN d{r} ON d{r}.i = wins.i
    ),
    w{r} AS (
      SELECT i, round(r / CAST((SELECT sum(CAST(r AS DECIMAL(38,{s})))
                                FROM r{r}) AS DOUBLE), {s}) AS w
      FROM r{r}
    )"""
        )
    parts.append(
        f"""
    SELECT i AS player, w AS strength FROM w{iterations}
    """
    )
    return "".join(parts)


def win_rate_wilson(
    matches: DataFrame, z: float = 1.959964
) -> DataFrame:
    """Win-rate leaderboard with Wilson score intervals: per player
    ``(player, n_decided, wins, win_rate, wilson_lo, wilson_hi)``
    from a canonical win table (:func:`pairwise_wins`). The Wilson
    interval (Wilson 1927) is the small-sample-honest ranking bound —
    sorting by ``wilson_lo`` instead of raw win rate is the standard
    fix for "3 wins out of 3" outranking "95 out of 100" on a
    leaderboard. The descriptive face of the preference family
    (:func:`bradley_terry` models pair-dependent strength; this reads
    the marginal record with honest uncertainty).

    One |players|-bounded aggregate over the symmetrized win table;
    the interval arithmetic is row-local double math with ``z``
    entering as a shared literal (default: the two-sided 95% normal
    quantile to 6 dp, precomputed so no engine libm call appears),
    rounded 6 dp — engine-identical by the shared-expression rule.
    """
    per = (
        matches.select(
            F.col("a").alias("player"),
            F.col("wins_a").alias("__w"),
            (F.col("wins_a") + F.col("wins_b")).alias("__n"),
        )
        .unionAll(
            matches.select(
                F.col("b").alias("player"),
                F.col("wins_b").alias("__w"),
                (F.col("wins_a") + F.col("wins_b")).alias("__n"),
            )
        )
        .groupBy("player")
        .agg(
            F.sum("__w").cast("long").alias("wins"),
            F.sum("__n").cast("long").alias("n_decided"),
        )
    )
    n = F.col("n_decided").cast("double")
    p = F.col("wins").cast("double") / n
    z2 = float(z) * float(z)
    denom = F.lit(1.0) + F.lit(z2) / n
    center = p + F.lit(z2) / (F.lit(2.0) * n)
    spread = F.lit(float(z)) * F.sqrt(
        p * (F.lit(1.0) - p) / n
        + F.lit(z2) / (F.lit(4.0) * n * n)
    )
    return per.select(
        "player",
        "n_decided",
        "wins",
        F.round(p, 6).alias("win_rate"),
        F.round((center - spread) / denom, 6).alias("wilson_lo"),
        F.round((center + spread) / denom, 6).alias("wilson_hi"),
    )


def preference_cycles(matches: DataFrame) -> DataFrame:
    """Transitivity audit of a preference record: one row
    ``(n_players, n_oriented_pairs, n_cycles, max_cycles, zeta)``
    counting CIRCULAR TRIADS (a beats b beats c beats a) among
    majority-decided pairs — Kendall's consistency coefficient
    ``zeta = 1 − d/d_max`` (Kendall & Babington Smith 1940, with
    ``d_max = (k³−k)/24`` for odd k, ``(k³−4k)/24`` for even k on a
    complete record; reported against the COMPLETE-record bound, so
    an incomplete comparison graph shows a conservatively high
    consistency). Circular triads are exactly the comparisons no
    Bradley–Terry ordering can explain — the data-quality gate run
    BEFORE :func:`bradley_terry` (a low zeta means annotator noise or
    true intransitivity, and the fitted strengths will paper over
    it).

    Plan shape: orient each pair toward its majority winner (exact
    ties drop — they orient nothing), then count directed 3-cycles
    with the canonical-rotation trick: every cyclic triad has exactly
    ONE edge (u→v) with u < min of the other corner, so joining the
    oriented edge list twice and keeping ``x < y AND x < z`` counts
    each cycle exactly once. Wedge volume is Σ out-deg² — the
    triangle-counting bound, |players|-scaled, never comparison-
    scaled.

    Degenerate records: with ≤ 2 players no triad exists and
    ``d_max`` is 0 (even-k formula ``(k³−4k)/24`` vanishes at k=2),
    so ``max_cycles`` and ``zeta`` return NULL explicitly — the
    coefficient is undefined, not 1.0 (r12 advice: the NULL-guarded
    degenerate path every sibling statistic uses).
    """
    won_a = F.col("wins_a") > F.col("wins_b")
    oriented = pin(
        matches.filter(
            F.col("wins_a") != F.col("wins_b")
        ).select(
            F.when(won_a, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(won_a, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    players = (
        matches.select(F.col("a").alias("p"))
        .unionAll(matches.select(F.col("b").alias("p")))
        .distinct()
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = oriented.select(F.col("u").alias("z"), F.col("v").alias("x"))
    cycles = (
        e1.join(e2, on="y")
        .join(e3, on=["z", "x"])
        .filter((F.col("x") < F.col("y")) & (F.col("x") < F.col("z")))
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    meta = players.agg(F.count(F.lit(1)).alias("__k")).crossJoin(
        F.broadcast(oriented.agg(F.count(F.lit(1)).alias("__m")))
    )
    k = F.col("__k").cast("double")
    dmax = F.when(
        F.col("__k") % 2 == 1, (k * k * k - k) / F.lit(24.0)
    ).otherwise((k * k * k - F.lit(4.0) * k) / F.lit(24.0))
    defined = dmax > F.lit(0.0)
    return meta.crossJoin(F.broadcast(cycles)).select(
        F.col("__k").cast("long").alias("n_players"),
        F.col("__m").cast("long").alias("n_oriented_pairs"),
        F.col("__d").cast("long").alias("n_cycles"),
        F.when(defined, F.round(dmax, 2)).alias("max_cycles"),
        F.when(
            defined,
            F.round(
                F.lit(1.0) - F.col("__d").cast("double") / dmax, 6
            ),
        ).alias("zeta"),
    )
