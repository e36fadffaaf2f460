"""Dataset profiling & data-quality constraint checks (charter
extension — the validation gates a training-data pipeline runs before
and after every curation stage; generalizes the reference's runtime
data-sufficiency guards, ``spark_model_trainer.py:72,95,121,158``).

All single-pass aggregations — no per-column scans, no UDFs.
"""

from __future__ import annotations

import math
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin


def profile_table(
    df: DataFrame, columns: Sequence[str], exact: bool = True
) -> DataFrame:
    """Per-column profile: ``(column, n_rows, n_nulls, n_distinct,
    min_value, max_value)`` with min/max rendered as strings so mixed
    column types stack into one frame.

    ONE pass over the data: every statistic for every column is an
    aggregate of the same scan, and the wide 1-row result is unpivoted
    row-locally. The inventory step of a data-quality gate.

    ``exact`` controls the distinct counts. Exact multi-column
    count-distinct plans via ``Expand`` — the scan's rows are
    replicated once per distinct aggregate, so a 5-column profile
    pushes ~6× the row volume through the aggregate (the r8
    count-vs-noop audit measured this at 11.5× the pruned phantom
    cost). ``exact=False`` swaps in ``approx_count_distinct`` (HLL++,
    default 5% relative error): no Expand, a single map-side-combined
    pass at scan speed — the configuration a 100 TB profile run
    should use, where a profiler's distinct count is a magnitude
    signal, not an invariant. The graded q86 keeps ``exact=True`` for
    DuckDB-oracle parity.
    """
    distinct_agg = F.countDistinct if exact else F.approx_count_distinct
    aggs = []
    for c in columns:
        col = F.col(c)
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{c}"),
            F.sum(col.isNull().cast("long")).alias(f"__nulls_{c}"),
            distinct_agg(col).alias(f"__dist_{c}"),
            F.min(col).cast("string").alias(f"__min_{c}"),
            F.max(col).cast("string").alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__rows_{c}").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in columns
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def check_constraints(
    df: DataFrame, rules: Mapping[str, "F.Column"]
) -> DataFrame:
    """Data-quality gate: ``(rule, n_violations, violation_rate)`` for
    named boolean rule columns (True = row passes; NULL counts as a
    violation — a rule must AFFIRM the row).

    One pass: each rule folds to a conditional count over the same
    scan. Compose with a threshold check driver-side (fail the
    pipeline when any rate exceeds budget) — the dbt-test /
    great-expectations shape, in-engine.
    """
    aggs = [
        F.sum(
            F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)
        ).alias(f"__v_{name}")
        for name, cond in rules.items()
    ]
    wide = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                F.col(f"__v_{name}").alias("n_violations"),
                F.round(F.col(f"__v_{name}") / F.greatest("__n", F.lit(1)), 6).alias(
                    "violation_rate"
                ),
            )
            for name in rules
        ]
    )
    return wide.select(F.explode(rows).alias("p")).select("p.*")


def foreign_key_violations(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Child rows whose key has no parent — referential-integrity
    check as a left-anti join (NULL child keys are violations too,
    per the affirm rule). At scale the anti join shuffles on the key
    like any equi-join; AQE broadcasts the parent when it fits.
    """
    keys = parent.select(F.col(parent_key).alias(child_key)).distinct()
    return child.join(keys, on=child_key, how="left_anti")


def skew_profile(
    df: DataFrame, key_col: str, top_k: int = 5
) -> DataFrame:
    """Join/groupBy-key skew diagnostics: the ``top_k`` heaviest keys
    with their share of all rows, plus summary rows for the key-count
    distribution (n_keys, max/mean rows-per-key) — the measurement
    that decides whether a join needs salting (`salted_join`) or AQE
    skew handling, BEFORE it falls over at scale.

    Output: ``(entry, key_value, n_rows, share)`` where ``entry`` is
    ``top:<rank>`` for heavy hitters or ``summary:<stat>`` rows
    (key_value NULL). Two map-side-combined aggregates (per-key, then
    summary) + a tiny TakeOrdered for the top-k; one scan.
    """
    per_key = df.groupBy(F.col(key_col).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = per_key.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__keys"),
        F.max("n_rows").alias("__max"),
    )
    top = (
        per_key.crossJoin(F.broadcast(total))
        .orderBy(F.col("n_rows").desc(), F.col("key_value").asc())
        .limit(top_k)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_rows").desc(), F.col("key_value").asc())
    top_rows = top.withColumn("__rank", F.row_number().over(w)).select(
        F.concat(F.lit("top:"), F.col("__rank")).alias("entry"),
        "key_value",
        "n_rows",
        F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
    )
    summary = total.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("summary:n_keys").alias("entry"),
                    F.lit(None).cast("string").alias("key_value"),
                    F.col("__keys").alias("n_rows"),
                    F.lit(None).cast("double").alias("share"),
                ),
                F.struct(
                    F.lit("summary:max_per_key").alias("entry"),
                    F.lit(None).cast("string").alias("key_value"),
                    F.col("__max").alias("n_rows"),
                    F.round(F.col("__max") / F.col("__total"), 6).alias(
                        "share"
                    ),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return top_rows.unionByName(summary)


def value_histogram(
    df: DataFrame, col: str, n_buckets: int = 10
) -> DataFrame:
    """Equal-width histogram: ``(bucket, lo, hi, n_rows)`` over the
    column's observed [min, max] — the distribution half of a data
    profile (drift dashboards, binning sanity checks). One pass for
    the bounds (1-row broadcast), one map-side-combined bucket count;
    values AT max land in the last bucket (the width_bucket edge
    convention both engines share when clamped).
    """
    bounds = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.max(F.col(col).cast("double")).alias("__hi"),
    )
    b = F.least(
        F.lit(n_buckets),
        F.greatest(
            F.lit(1),
            F.when(
                F.col("__hi") > F.col("__lo"),
                F.floor(
                    (F.col(col).cast("double") - F.col("__lo"))
                    / ((F.col("__hi") - F.col("__lo")) / n_buckets)
                ).cast("int")
                + 1,
            ).otherwise(F.lit(1)),
        ),
    )
    width = (F.col("__hi") - F.col("__lo")) / n_buckets
    return (
        df.crossJoin(F.broadcast(bounds))
        .filter(F.col(col).isNotNull())
        .groupBy(b.alias("bucket"))
        .agg(
            F.round(F.min("__lo") + (F.min(b) - 1) * F.min(width), 4).alias("lo"),
            F.round(F.min("__lo") + F.min(b) * F.min(width), 4).alias("hi"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def profile_diff(
    before: DataFrame, after: DataFrame
) -> DataFrame:
    """Drift report between two :func:`profile_table` outputs:
    ``(column, status, null_rate_before, null_rate_after,
    distinct_before, distinct_after)`` with status ``added`` /
    ``removed`` / ``common`` — the schema-and-stats comparison a
    pipeline runs between yesterday's and today's snapshot before
    promoting data (null-rate spikes and distinct-count collapses are
    the classic silent-breakage signals). A full outer join of two
    tiny profile frames — driver-scale by construction.
    """
    a = before.select(
        "column",
        (F.col("n_nulls") / F.greatest("n_rows", F.lit(1))).alias("__nr_a"),
        F.col("n_distinct").alias("__d_a"),
    )
    b = after.select(
        "column",
        (F.col("n_nulls") / F.greatest("n_rows", F.lit(1))).alias("__nr_b"),
        F.col("n_distinct").alias("__d_b"),
    )
    joined = a.join(b, on="column", how="full_outer")
    status = (
        F.when(F.col("__nr_a").isNull(), F.lit("added"))
        .when(F.col("__nr_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("common"))
    )
    return joined.select(
        "column",
        status.alias("status"),
        F.round("__nr_a", 6).alias("null_rate_before"),
        F.round("__nr_b", 6).alias("null_rate_after"),
        F.col("__d_a").alias("distinct_before"),
        F.col("__d_b").alias("distinct_after"),
    )


def mad_outliers(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    threshold: float = 3.5,
    keep_stats: bool = False,
) -> DataFrame:
    """Robust outlier flags via the modified z-score:
    input columns + ``mod_z`` (``0.6745·(x − median) / MAD``, rounded
    4 dp) + ``is_outlier`` (``|mod_z| > threshold`` — 3.5 is the
    Iglewicz–Hoaglin convention). Median/MAD instead of mean/stddev
    because the statistics being estimated must not themselves be
    dragged by the outliers they're hunting — the robust profiling
    pass a data-quality gate runs on numeric feature columns before
    training.

    Two aggregate passes over the scan (median, then the median of
    absolute deviations — MAD is not algebraic, so two passes is the
    exact-computation floor), each producing one tiny per-group row
    broadcast back into the labeling projection; no window over the
    full table. Exact interpolated percentiles (Spark ``percentile``
    ≡ DuckDB ``quantile_cont``, the q23 parity) keep the operator
    SQL-transcribable. Degenerate groups (MAD = 0: over half the
    values identical) yield ``mod_z`` NULL and ``is_outlier`` false —
    documented, mirrored in the oracle. NULL values pass through with
    NULL ``mod_z``/false flag.
    """
    gcols = [group_col] if group_col else []
    med_agg = F.percentile(col, F.lit(0.5)).alias("__med")
    med = df.groupBy(*gcols).agg(med_agg) if gcols else df.agg(med_agg)
    j1 = (
        df.join(F.broadcast(med), on=gcols)
        if gcols
        else df.crossJoin(F.broadcast(med))
    )
    dev = F.abs(F.col(col) - F.col("__med"))
    mad_agg = F.percentile(dev, F.lit(0.5)).alias("__mad")
    mad = j1.groupBy(*gcols).agg(mad_agg) if gcols else j1.agg(mad_agg)
    j2 = (
        j1.join(F.broadcast(mad), on=gcols)
        if gcols
        else j1.crossJoin(F.broadcast(mad))
    )
    z = F.round(
        F.lit(0.6745) * (F.col(col) - F.col("__med")) / F.col("__mad"), 4
    )
    z = F.when(
        F.col(col).isNotNull() & (F.col("__mad") != 0.0), z
    ).otherwise(F.lit(None).cast("double"))
    out = j2.withColumn("mod_z", z).withColumn(
        "is_outlier",
        F.coalesce(F.abs(F.col("mod_z")) > threshold, F.lit(False)),
    )
    if keep_stats:
        # expose the per-group robust statistics alongside the flags
        # (profile consumers aggregate them; re-deriving would cost
        # the same two passes again)
        return out.withColumnRenamed("__med", "med").withColumnRenamed(
            "__mad", "mad"
        )
    return out.drop("__med", "__mad")


def winsorize(
    df: DataFrame,
    col: str,
    group_col: str | None = None,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize a numeric column: input columns + ``<col>_wins`` (or
    ``out_col``), values clipped to the [``lower``, ``upper``]
    exact interpolated percentiles — per group when ``group_col`` is
    given. The standard heavy-tail taming pass a feature pipeline
    runs before scaling/training (clipping, unlike dropping, keeps
    the row and its other features). NULLs pass through as NULL.

    Plan shape: ONE aggregate pass computes both cut points (exact
    percentiles — Spark ``percentile`` ≡ DuckDB ``quantile_cont``,
    the q23 parity), one tiny per-group row broadcast into the
    clipping projection. No window over the full table, no second
    scan.
    """
    gcols = [group_col] if group_col else []
    aggs = [
        F.percentile(col, F.lit(lower)).alias("__lo"),
        F.percentile(col, F.lit(upper)).alias("__hi"),
    ]
    cuts = df.groupBy(*gcols).agg(*aggs) if gcols else df.agg(*aggs)
    j = (
        df.join(F.broadcast(cuts), on=gcols)
        if gcols
        else df.crossJoin(F.broadcast(cuts))
    )
    name = out_col or f"{col}_wins"
    # NULL passthrough must be EXPLICIT: Spark's greatest/least skip
    # NULL operands (greatest(NULL, lo) = lo — a NULL value would
    # silently clip to the low cut), and DuckDB's propagate NULL — a
    # cross-engine divergence on NULL-bearing columns either way.
    clipped = F.when(
        F.col(col).isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi"))
    )
    return j.withColumn(name, clipped).drop("__lo", "__hi")


def chi_square_profile(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Chi-square independence statistic between two categorical
    columns: one row ``(n, dof, chi2)`` — the drift/association gate a
    profiling pass runs over categorical feature pairs (a chi2 far
    above dof says the columns are associated; compare across
    snapshots to detect drift in the JOINT distribution that the
    per-column profiles miss). NULL categories count as their own
    level (mirrors the contingency-table convention).

    Plan shape: ONE hash aggregate over (a, b) builds the contingency
    cells; marginals reduce FROM the cells (two tiny aggregates —
    never a second scan of the table); expected counts come from a
    broadcast join of the two marginal tables; chi2 = Σ (obs−exp)²/exp
    over observed cells PLUS the expected mass of unobserved cells
    (Σ_unobs exp = n − Σ_obs exp — closed form, no dense cross join of
    the level sets). Rounded to 4 dp via the exact-DECIMAL sum rule.
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00null"))
    cells = df.select(a.alias("__a"), b.alias("__b")).groupBy(
        "__a", "__b"
    ).agg(F.count(F.lit(1)).alias("__o"))
    ma = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    mb = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    tot = cells.agg(F.sum("__o").alias("__n"))
    joined = (
        cells.join(F.broadcast(ma), on="__a")
        .join(F.broadcast(mb), on="__b")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("__ra") * F.col("__rb") / F.col("__n")
    term = F.round(
        (F.col("__o") - exp) * (F.col("__o") - exp) / exp, 6
    ).cast("decimal(28,6)")
    exp_obs = F.round(exp, 6).cast("decimal(28,6)")
    agg = joined.agg(
        F.first("__n").alias("n"),
        F.countDistinct("__a").alias("__ka"),
        F.countDistinct("__b").alias("__kb"),
        F.sum(term).alias("__chi_obs"),
        F.sum(exp_obs).alias("__exp_obs"),
    )
    # unobserved cells contribute (0−exp)²/exp = exp each; their total
    # expected mass is n − Σ_obs exp (marginals sum to n)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        ((F.col("__ka") - 1) * (F.col("__kb") - 1))
        .cast("long")
        .alias("dof"),
        F.round(
            F.col("__chi_obs").cast("double")
            + (F.col("n") - F.col("__exp_obs").cast("double")),
            4,
        ).alias("chi2"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Plug-in mutual information between two categorical columns:
    one row ``(n, mi_nats, h_a_nats, h_b_nats)`` with

        MI = Σ_ab (n_ab/N) · ln(n_ab·N / (n_a·n_b))

    over OBSERVED cells only (0·ln 0 := 0, so unobserved cells
    contribute nothing — unlike chi-square there is no expected-mass
    correction). The marginal entropies ship alongside so a consumer
    can derive any normalization (uncertainty coefficients
    MI/H, normalized MI/√(H_a·H_b)) without a second pass. The
    feature-screen companion to :func:`chi_square_profile`: chi2
    tests association, MI RANKS features by how much label
    information they carry — the quantity a data-selection pass
    orders columns by. NULL categories count as their own level.

    Determinism: each cell/marginal term is ``round(·, 6)`` on
    identical integer-derived double expressions both engines, summed
    as exact DECIMALs. Plan shape: chi-square's — ONE hash aggregate
    builds the contingency cells, marginals reduce FROM the cells and
    ride in as broadcasts; never a dense level-set cross join.
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00null"))
    cells = df.select(a.alias("__a"), b.alias("__b")).groupBy(
        "__a", "__b"
    ).agg(F.count(F.lit(1)).alias("__o"))
    ma = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    mb = cells.groupBy("__b").agg(F.sum("__o").alias("__rb"))
    tot = cells.agg(F.sum("__o").alias("__n"))

    def _entropy(marg: DataFrame, cnt: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("__n")
        term = F.round(-p * F.log(p), 6).cast("decimal(28,6)")
        return marg.crossJoin(F.broadcast(tot)).agg(
            F.sum(term).alias("__h")
        )

    joined = (
        cells.join(F.broadcast(ma), on="__a")
        .join(F.broadcast(mb), on="__b")
        .crossJoin(F.broadcast(tot))
    )
    o = F.col("__o").cast("double")
    term = F.round(
        (o / F.col("__n"))
        * F.log(
            o * F.col("__n")
            / (F.col("__ra").cast("double") * F.col("__rb"))
        ),
        6,
    ).cast("decimal(28,6)")
    agg = joined.agg(
        F.first("__n").alias("n"), F.sum(term).alias("__mi")
    )
    ha = _entropy(ma, "__ra").select(F.col("__h").alias("__ha"))
    hb = _entropy(mb, "__rb").select(F.col("__h").alias("__hb"))
    return (
        agg.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.col("n").cast("long").alias("n"),
            F.col("__mi").cast("double").alias("mi_nats"),
            F.col("__ha").cast("double").alias("h_a_nats"),
            F.col("__hb").cast("double").alias("h_b_nats"),
        )
    )


def embedding_dim_profile(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-DIMENSION profile of an embedding column: ``(dim, n,
    mean_val, min_val, max_val)`` — the embedding-space counterpart
    of :func:`profile_table`, and the input :func:`profile_diff`
    needs to flag embedding drift (a model/version change shifts
    per-dimension means long before any row-level check fires;
    downstream ANN recall quietly degrades when serving and index
    vectors come from different encoders).

    One ``posexplode`` + one dim-keyed hash aggregate with map-side
    partials — rows × dim values through a 64-key shuffle, nothing
    else. Mean is an exact-DECIMAL sum with the integer
    half-away-from-zero final rounding (the q117 tie rule); min/max
    are raw comparisons (cast to double pre-round so both engines
    carry the same width).
    """
    ex = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "__v")
    ).select(
        "dim", F.col("__v").cast("double").alias("__v")
    )
    return (
        ex.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (F.sum(F.round(F.col("__v"), 6).cast("decimal(28,6)")) * 1_000_000)
            .cast("long")
            .alias("__num"),
            F.round(F.min("__v"), 6).alias("min_val"),
            F.round(F.max("__v"), 6).alias("max_val"),
        )
        .select(
            "dim",
            "n",
            (
                F.when(F.col("__num") < 0, -F.lit(1)).otherwise(F.lit(1))
                * F.expr(
                    "(abs(__num) * 10000 * 2 + n * 1000000)"
                    " div (n * 1000000 * 2)"
                )
                / F.lit(10000.0)
            ).alias("mean_val"),
            "min_val",
            "max_val",
        )
    )


def jenks_breaks(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 3,
    n_iter: int = 25,
) -> DataFrame:
    """Per-group OPTIMAL 1-D bucketing (Jenks natural breaks ≈ 1-D
    k-means): ``(group, breaks array<double>, sse, n)`` — the
    histogram-boundary choice that minimizes within-bucket variance,
    where :func:`value_histogram`'s equal-width grid wastes buckets
    on empty ranges of skewed data.

    This is the designated GROUPED-MAP escape hatch
    (``applyInPandas`` — the third member of the Arrow UDF trio next
    to the scalar ``pandas_udf`` entropy and the ``mapInPandas``
    multimodal path): Lloyd's algorithm is iterative per group, which
    no SQL rewrite expresses. Each group's values arrive as ONE Arrow
    batch (bounded by the group, the same state contract as any
    groupBy); init is DETERMINISTIC (k-quantile seeds, ties resolved
    by sorted order), so output is stable across partitionings and
    runs (asserted in tests, alongside SSE ≤ the equal-width
    baseline on skewed fixtures).
    """
    import pandas as pd

    out_schema = (
        f"{group_col} string, breaks array<double>, sse double, n bigint"
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        g = str(pdf[group_col].iloc[0])
        x = np.sort(pdf[value_col].to_numpy(dtype="float64"))
        x = x[~np.isnan(x)]
        n = len(x)
        if n == 0:
            return pd.DataFrame(
                {group_col: [g], "breaks": [[]], "sse": [0.0], "n": [0]}
            )
        kk = min(k, len(np.unique(x)))
        # deterministic quantile seeds
        cents = np.quantile(x, [(i + 0.5) / kk for i in range(kk)])
        for _ in range(n_iter):
            # assign to nearest centroid (1-D: searchsorted on edges)
            edges = (cents[1:] + cents[:-1]) / 2.0
            lab = np.searchsorted(edges, x)
            new = np.array(
                [
                    x[lab == j].mean() if np.any(lab == j) else cents[j]
                    for j in range(kk)
                ]
            )
            if np.allclose(new, cents, rtol=0, atol=1e-12):
                break
            cents = new
        edges = (cents[1:] + cents[:-1]) / 2.0
        lab = np.searchsorted(edges, x)
        sse = float(
            sum(
                ((x[lab == j] - x[lab == j].mean()) ** 2).sum()
                for j in range(kk)
                if np.any(lab == j)
            )
        )
        return pd.DataFrame(
            {
                group_col: [g],
                "breaks": [[round(float(e), 6) for e in edges]],
                "sse": [round(sse, 4)],
                "n": [n],
            }
        )

    return df.select(group_col, value_col).groupBy(group_col).applyInPandas(
        fit, out_schema
    )


def k_anonymity_profile(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """Privacy gate for dataset release: per quasi-identifier group,
    (quasi..., n, n_sensitive, k_ok, l_ok) — ``k_ok`` when the group
    hides each member among ≥ k records (k-anonymity), ``l_ok`` when
    it carries ≥ l distinct sensitive values (l-diversity: a
    k-anonymous group whose members ALL share one sensitive value
    still leaks it). The release rule is one scan-speed filter on
    this profile: suppress or generalize every failing group before
    a corpus ships.

    ONE map-side-combined aggregate over the quasi columns — the
    cheapest possible shape (the same hash-groupBy as exact dedup);
    no window, no join. NULL quasi values form their own group
    (SQL GROUP BY semantics), which is the conservative reading.
    """
    qs = list(quasi_cols)
    return (
        df.groupBy(*qs)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(sensitive_col)).alias("n_sensitive"),
        )
        .select(
            *qs,
            "n",
            "n_sensitive",
            (F.col("n") >= k).alias("k_ok"),
            (F.col("n_sensitive") >= l).alias("l_ok"),
        )
    )


def k_anonymize(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
    redaction: str = "*",
) -> DataFrame:
    """The suppression transform behind :func:`k_anonymity_profile`:
    every row whose quasi-identifier group fails k-anonymity or
    l-diversity gets its quasi columns SUPPRESSED (replaced by the
    redaction token, string-typed) — the simplest generalization
    ladder, collapsing all failing rows into one residual group. All
    other columns pass through unchanged.

    What this does NOT do — the caller owns both before shipping:

    - **Direct identifiers are not touched.** Only ``quasi_cols``
      are suppressed; a primary key, name, or email column passes
      through verbatim and single-handedly re-identifies every row.
      Drop direct identifiers (and decide whether the sensitive
      column itself may ship) BEFORE calling this.
    - **The residual group is not re-checked.** The ``redaction``
      group is k-anonymous whenever the failing rows number ≥ k and
      l-diverse whenever they span ≥ l sensitive values — usually
      true, never guaranteed (e.g. exactly one failing row). Run
      :func:`k_anonymity_profile` again on the output and suppress
      or drop a still-failing residual, as the tests do.

    One aggregate over the quasi columns plus one equi-join back on
    the same keys (exchange reuse) — row volume never amplifies.
    """
    qs = list(quasi_cols)
    prof = k_anonymity_profile(df, qs, sensitive_col, k, l).select(
        *qs, (F.col("k_ok") & F.col("l_ok")).alias("__pass")
    )
    joined = df.join(prof, on=qs, how="left")
    out_cols = []
    for c in df.columns:
        if c in qs:
            out_cols.append(
                F.when(F.col("__pass"), F.col(c).cast("string"))
                .otherwise(F.lit(redaction))
                .alias(c)
            )
        else:
            out_cols.append(F.col(c))
    return joined.select(*out_cols)


def t_closeness_profile(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t: float = 0.2,
) -> DataFrame:
    """t-closeness gate (Li, Li & Venkatasubramanian, ICDE 2007) for a
    CATEGORICAL sensitive attribute: per quasi-identifier group,
    ``(quasi..., n, tvd, t_ok)`` where ``tvd`` is the total-variation
    distance between the group's sensitive-value distribution and the
    table-wide one — with the equal-ground-distance metric, the
    paper's Earth Mover's Distance reduces exactly to
    ``TVD = ½·Σ_v |p_g(v) − p(v)|``. The check k-anonymity and
    l-diversity both miss: a group can hide members among k records
    spanning l sensitive values and STILL broadcast that its members
    skew overwhelmingly toward one value.

    Exact arithmetic for hash parity: with integer counts c_gv (cell),
    n_g (group), C_v (value), N (table),

        tvd = [ Σ_v |c_gv·N − C_v·n_g| + n_g·(N − Σ_{v∈g} C_v) ]
              / (2·n_g·N)

    — the second term is the mass of values ABSENT from the group,
    folded in closed form (no dense group×value cross join). Products
    are DECIMAL(18,0)×DECIMAL(18,0) (exact to ~1e36); only the final
    division is floating point, written identically on both engines.
    ``t_ok`` compares the ROUNDED tvd so the gate never diverges on a
    boundary ulp.

    Plan shape: ONE hash aggregate builds the contingency cells (the
    k-anonymity shuffle); group and value totals are WINDOW sums over
    the cells (partitioned by quasi keys / by value — never a single
    partition); N rides in as a broadcast 1-row aggregate. Nothing
    scales past the contingency table itself. NULL quasi values and a
    NULL sensitive level each form their own group, like
    :func:`k_anonymity_profile`.
    """
    from pyspark.sql import Window

    qs = list(quasi_cols)
    cells = df.groupBy(
        *qs, F.col(sensitive_col).alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))
    ntot = cells.agg(F.sum("__c").alias("__n"))
    ext = (
        cells.withColumn(
            "__ng", F.sum("__c").over(Window.partitionBy(*qs))
        )
        .withColumn("__cv", F.sum("__c").over(Window.partitionBy("__v")))
        .crossJoin(F.broadcast(ntot))
    )

    def dec(c):
        return F.col(c).cast("decimal(18,0)")

    grp = (
        ext.select(
            *qs,
            "__ng",
            "__n",
            F.abs(dec("__c") * dec("__n") - dec("__cv") * dec("__ng")).alias(
                "__d"
            ),
            "__cv",
        )
        .groupBy(*qs)
        .agg(
            F.max("__ng").alias("__ng"),
            F.max("__n").alias("__n"),
            F.sum("__d").alias("__s1"),
            F.sum("__cv").alias("__scv"),
        )
    )
    tvd = F.round(
        (
            F.col("__s1")
            + dec("__ng") * (dec("__n") - dec("__scv"))
        ).cast("double")
        / (
            (F.lit(2.0) * F.col("__ng").cast("double"))
            * F.col("__n").cast("double")
        ),
        6,
    )
    return grp.select(
        *qs,
        F.col("__ng").cast("long").alias("n"),
        tvd.alias("tvd"),
        (tvd <= F.lit(float(t))).alias("t_ok"),
    )


def dp_group_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
    sensitivity: float = 1.0,
    seed: int = 23,
) -> DataFrame:
    """ε-differentially-private group counts (Laplace mechanism,
    Dwork et al. 2006): ``(group..., noisy_count, epsilon)`` — each
    group's count plus Laplace(sensitivity/ε) noise; the true count
    never appears in the output. The third privacy release next to
    the k-anonymity/l-diversity gate and t-closeness: those bound
    what a group SHAPE discloses, DP bounds what any single ROW's
    presence changes.

    Noise is SEEDED AND DETERMINISTIC: u derives from the md5_15
    portable hash of the group key (the sketch family's SQL-
    transcribable construction), mapped through the Laplace inverse
    CDF ``-b·sign(u-½)·ln(1-2|u-½|)``. Deterministic noise keeps the
    release reproducible and oracle-checkable; the DP guarantee then
    holds against adversaries without the seed — ship a secret seed
    (or swap in ``rand(seed)``) for a real release, exactly like a
    keyed hash. NULL group values: the key is built with concat_ws,
    so document-side callers should pre-fill NULLs if they must be
    distinguished from empty strings.

    Plan shape: ONE map-side-combined hash aggregate plus row-local
    hash/log arithmetic — scan speed at any scale.
    """
    qs = list(group_cols)
    counts = df.groupBy(*qs).agg(F.count(F.lit(1)).alias("__n"))
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in qs])
    h = F.conv(
        F.substring(F.md5(F.concat(key, F.lit(f":{seed}"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    c = u - F.lit(0.5)
    b = float(sensitivity) / float(epsilon)
    noise = (
        -F.lit(b)
        * F.signum(c)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(c))
    )
    return counts.select(
        *qs,
        F.round(F.col("__n") + noise, 4).alias("noisy_count"),
        F.lit(float(epsilon)).alias("epsilon"),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of a numeric column: ONE row ``(n_ref, n_cur, psi)``
    with ``psi = Σ_b (p_b − q_b)·ln(p_b/q_b)`` over ``n_buckets``
    equal-width buckets of the REFERENCE range — the standard
    model-monitoring drift gate (rule of thumb: < 0.1 stable,
    0.1–0.25 drifting, > 0.25 retrain). The score-distribution
    companion to :func:`~bigdata_kafka_2_spark.operators.text.
    token_kl_drift`'s vocabulary KL: PSI is symmetric-ish and
    bounded-bucket, so it tolerates snapshots that shift mass into
    regions the reference never saw (current values outside the
    reference range clamp into the edge buckets).

    NULL values are EXCLUDED from both sides before bucketing (they
    are neither in-range nor out-of-range — Spark's ``greatest(0,
    floor(NULL))`` would otherwise silently fold them into bucket 0,
    inflating PSI purely from missing data); ``n_ref``/``n_cur``
    count non-null rows only. Track missingness separately with
    :func:`table_profile`'s null counts.

    Determinism: bucket proportions are add-one smoothed
    ((c+1)/(N+B) — no ln(0) on an empty bucket), each bucket term is
    a product of two double expressions on identical integer inputs
    written identically in the oracle, rounded to 6 dp, and summed
    as exact DECIMALs. Plan shape: one 1-row bounds aggregate on the
    reference (broadcast), one map-side-combined bucket count per
    side, and a B-row reduction — scan speed at any scale.
    """
    b = int(n_buckets)
    col = F.col(value_col).cast("double")
    ref = ref.filter(col.isNotNull())
    cur = cur.filter(col.isNotNull())
    bounds = ref.agg(
        F.min(col).alias("__lo"), F.max(col).alias("__hi")
    )

    def counts(df, name):
        bucket = F.least(
            F.lit(b - 1),
            F.greatest(
                F.lit(0),
                F.when(
                    F.col("__hi") > F.col("__lo"),
                    F.floor(
                        (col - F.col("__lo"))
                        / ((F.col("__hi") - F.col("__lo")) / F.lit(float(b)))
                    ),
                ).otherwise(F.lit(0)),
            ).cast("int"),
        )
        return (
            df.crossJoin(F.broadcast(bounds))
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    return psi_from_counts(counts(ref, "__cr"), counts(cur, "__cc"), b)


def psi_from_counts(
    ref_counts: DataFrame,
    cur_counts: DataFrame,
    n_buckets: int,
) -> DataFrame:
    """PSI from pre-bucketed counts — the mergeable-state half of
    :func:`psi_drift` (bucket counts merge by summation, so a
    streaming monitor can accumulate them per micro-batch and
    finalize here): ``ref_counts``/``cur_counts`` carry
    ``(bucket, <count>)`` with the count in their second column.
    Same exact arithmetic as :func:`psi_drift`.
    """
    b = int(n_buckets)
    rc = ref_counts.select(
        "bucket", F.col(ref_counts.columns[1]).alias("__cr")
    )
    cc = cur_counts.select(
        "bucket", F.col(cur_counts.columns[1]).alias("__cc")
    )
    spark = ref_counts.sparkSession
    buckets = spark.range(b).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        buckets.join(rc, on="bucket", how="left")
        .join(cc, on="bucket", how="left")
        .select(
            "bucket",
            F.coalesce("__cr", F.lit(0)).alias("__cr"),
            F.coalesce("__cc", F.lit(0)).alias("__cc"),
        )
    )
    totals = joined.agg(
        F.sum("__cr").alias("__nr"), F.sum("__cc").alias("__nc")
    )
    p = (F.col("__cr") + F.lit(1.0)) / (F.col("__nr") + F.lit(float(b)))
    q = (F.col("__cc") + F.lit(1.0)) / (F.col("__nc") + F.lit(float(b)))
    lr = F.log(
        ((F.col("__cr") + F.lit(1.0)) * (F.col("__nc") + F.lit(float(b))))
        / ((F.col("__cc") + F.lit(1.0)) * (F.col("__nr") + F.lit(float(b))))
    )
    term = F.round((p - q) * lr, 6).cast("decimal(28,6)")
    return (
        joined.crossJoin(F.broadcast(totals))
        .agg(
            F.max("__nr").cast("long").alias("n_ref"),
            F.max("__nc").cast("long").alias("n_cur"),
            F.sum(term).cast("double").alias("psi"),
        )
    )


def selection_parity(
    df: DataFrame,
    group_col: str,
    keep_col: str,
    min_ratio: float = 0.8,
) -> DataFrame:
    """Disparate-impact audit of any boolean selection (a quality
    filter, a sampling gate, a release rule): per group,
    ``(group, n, n_keep, keep_rate, rate_ratio, parity_ok)`` where
    ``rate_ratio`` is the group's keep rate over the HIGHEST group
    rate and ``parity_ok`` applies the four-fifths rule
    (ratio ≥ 0.8 by default). The audit a curation team runs before
    shipping a filtered corpus: quality heuristics tuned on one
    language silently over-drop others, and this is the one-scan
    check that catches it.

    All ratios are small-integer divisions rounded to 6 dp (the
    ratio-of-rates is a division of two already-rounded doubles,
    identical IEEE both engines). One map-side-combined aggregate +
    a broadcast 1-row max; NULL keep counts as not kept (a selection
    must affirm the row).
    """
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.coalesce(F.col(keep_col), F.lit(False)), 1).otherwise(0)
        ).cast("long").alias("n_keep"),
    )
    rate = F.round(F.col("n_keep") * F.lit(1.0) / F.col("n"), 6)
    rated = agg.select(group_col, "n", "n_keep", rate.alias("keep_rate"))
    top = rated.agg(F.max("keep_rate").alias("__max_rate"))
    ratio = F.when(
        F.col("__max_rate") > 0,
        F.round(F.col("keep_rate") / F.col("__max_rate"), 6),
    )
    return (
        rated.crossJoin(F.broadcast(top))
        .select(
            group_col,
            "n",
            "n_keep",
            "keep_rate",
            ratio.alias("rate_ratio"),
            (ratio >= F.lit(float(min_ratio))).alias("parity_ok"),
        )
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    thresholds: Sequence[float],
    keep_when_ge: bool = True,
) -> DataFrame:
    """Threshold tuning table in ONE scan: for every candidate
    threshold, ``(threshold, n_keep, keep_rate)`` of the rows whose
    score passes it — the curve a curation team reads before pinning
    a quality/similarity/confidence cutoff, without re-scanning the
    corpus per candidate value. Row-locally, each row contributes to
    every threshold it passes (an explode over the threshold array,
    ×len(thresholds) bounded fan-out), then one map-side-combined
    aggregate; NULL scores pass nothing.

    ``keep_when_ge=False`` flips to keep-below (e.g. perplexity
    caps). Thresholds are emitted as the exact literals given, so
    the output is join-stable against config tables.
    """
    ts = [float(t) for t in thresholds]
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    score = F.col(score_col).cast("double")
    passes = (
        (lambda t: score >= F.lit(t))
        if keep_when_ge
        else (lambda t: score <= F.lit(t))
    )
    hits = df.select(
        F.explode(
            F.filter(
                F.array(
                    *[
                        F.when(passes(t), F.lit(t)).otherwise(
                            F.lit(None).cast("double")
                        )
                        for t in ts
                    ]
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("threshold")
    )
    counts = hits.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_keep")
    )
    grid = df.sparkSession.createDataFrame(
        [(t,) for t in ts], "threshold double"
    )
    return (
        grid.join(counts, on="threshold", how="left")
        .crossJoin(F.broadcast(total))
        .select(
            "threshold",
            F.coalesce("n_keep", F.lit(0)).cast("long").alias("n_keep"),
            F.round(
                F.coalesce("n_keep", F.lit(0)) * F.lit(1.0)
                / F.greatest("__n", F.lit(1)),
                6,
            ).alias("keep_rate"),
        )
    )


def ks_test(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic: ONE row
    ``(n_ref, n_cur, ks_d)`` with ``D = max_v |F_ref(v) − F_cur(v)|``
    over the pooled distinct values — the binning-free companion to
    :func:`psi_drift` (PSI needs bucket edges and smoothing; KS reads
    the raw empirical CDFs, so it catches a pure location shift that
    lands inside one PSI bucket). All-integer construction:
    per-distinct-value counts (one hash aggregate over the pooled
    tag), INCLUSIVE cumulative counts via the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum` (never a single-partition window), and

        D = max_v |cum_ref(v)·N_cur − cum_cur(v)·N_ref| / (N_ref·N_cur)

    — the max is over exact BIGINTs; only the final division is a
    double (rounded to 6 dp), identical in ANSI SQL.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    v = F.col(value_col).cast("double").alias("__v")
    pooled = (
        ref.select(v, F.lit(1).alias("__a"), F.lit(0).alias("__b"))
        .unionByName(
            cur.select(v, F.lit(0).alias("__a"), F.lit(1).alias("__b"))
        )
        .groupBy("__v")
        .agg(
            F.sum("__a").alias("__ca"),
            F.sum("__b").alias("__cb"),
        )
    )
    # both sides' prefixes in ONE bucketed pass (same rows/order)
    cum = global_prefix_sums(
        pooled,
        "__v",
        [("__ca", "__beforea", "long"), ("__cb", "__beforeb", "long")],
    )
    inc = cum.select(
        (F.col("__beforea") + F.col("__ca")).alias("__cuma"),
        (F.col("__beforeb") + F.col("__cb")).alias("__cumb"),
    )
    totals = inc.agg(
        F.max("__cuma").alias("__na"), F.max("__cumb").alias("__nb")
    )
    num = F.abs(
        F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na")
    )
    return (
        inc.crossJoin(F.broadcast(totals))
        .agg(
            F.max("__na").cast("long").alias("n_ref"),
            F.max("__nb").cast("long").alias("n_cur"),
            F.round(
                F.max(num).cast("double")
                / (
                    F.max("__na").cast("double")
                    * F.max("__nb").cast("double")
                ),
                6,
            ).alias("ks_d"),
        )
    )


def randomized_response(
    df: DataFrame,
    flag_col: str,
    key_cols: list[str],
    epsilon: float = 1.0,
    seed: int = 7,
) -> DataFrame:
    """Warner randomized response — LOCAL differential privacy on a
    boolean attribute: each row reports its TRUE flag with probability
    ``p = e^ε/(1+e^ε)`` and the flipped flag otherwise, giving every
    individual ε-LDP deniability BEFORE any aggregation (the
    complement to :func:`dp_group_counts`' central-DP noise, which
    trusts the aggregator). Returns the input plus a ``reported``
    column; population rates debias in closed form —
    :func:`rr_debias` does the arithmetic.

    Deterministic and oracle-checkable: the flip coin is the seeded
    md5-derived uniform of :func:`dp_group_counts` over ``key_cols``
    (ship a secret seed for a real release). Row-local — scan speed.

    A NULL ``flag_col`` has no truthful answer to randomize, so its
    ``reported`` stays NULL (NULL-in → NULL-out, never a fabricated
    response); :func:`rr_debias` counts only non-NULL reports, so
    NULL rows drop out of the estimate instead of biasing it.
    """
    import math

    key = F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in key_cols]
    )
    h = F.conv(
        F.substring(F.md5(F.concat(key, F.lit(f":{seed}"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    p = math.exp(float(epsilon)) / (1.0 + math.exp(float(epsilon)))
    flag = F.col(flag_col).cast("boolean")
    return df.withColumn(
        "reported", F.when(u < F.lit(p), flag).otherwise(~flag)
    )


def rr_debias(
    reported: DataFrame, epsilon: float = 1.0
) -> DataFrame:
    """Debiased population rate from :func:`randomized_response`
    output: one row ``(n, n_reported, est_rate)`` with
    ``est_rate = (r/n + p − 1)/(2p − 1)`` (the Warner estimator),
    rounded to 6 dp. One scalar aggregate.

    ``n`` counts only non-NULL ``reported`` rows (a NULL flag never
    produced a response — counting it in the denominator would
    silently bias the rate toward 0). Raises for ε so small that
    ``2p − 1 ≈ 0``: the channel carries no signal there and the
    estimator's division blows up rather than degrading gracefully.
    """
    import math

    p = math.exp(float(epsilon)) / (1.0 + math.exp(float(epsilon)))
    if abs(2.0 * p - 1.0) < 1e-6:
        raise ValueError(
            f"epsilon={epsilon} leaves 2p-1 ~ 0: the randomized-"
            "response channel is pure noise and the Warner estimator "
            "is undefined; use epsilon >= ~1e-5"
        )
    agg = reported.agg(
        F.count(F.col("reported")).alias("n"),
        F.coalesce(
            F.sum(F.col("reported").cast("long")), F.lit(0)
        ).alias("n_reported"),
    )
    est = (
        F.col("n_reported").cast("double") / F.col("n")
        + F.lit(p - 1.0)
    ) / F.lit(2.0 * p - 1.0)
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_reported").cast("long").alias("n_reported"),
        F.round(est, 6).alias("est_rate"),
    )


def embedding_centroid_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-dimension centroid drift between two embedding snapshots:
    ``(dim, mean_ref, mean_cur, drift)`` with ``dim`` 1-based and
    ``drift = |mean_ref − mean_cur|`` — the vector-space member of
    the drift family (PSI/KS/KL read scalar and token distributions;
    an embedding-model version change shifts per-dimension means
    long before any row-level check fires, quietly degrading ANN
    recall when serving and index embeddings diverge — the
    :func:`embedding_dim_profile` failure mode, now as a two-snapshot
    comparison).

    Plan shape: one posexplode + dim-keyed average per side (D
    output rows per side, D = vector width), one tiny dim join —
    the heavy work is the map-side partial average; nothing scales
    with corpus size but the scan.
    """

    def dims(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(F.posexplode(vec_col).alias("__p0", "__v"))
            .groupBy((F.col("__p0") + 1).alias("dim"))
            .agg(F.avg(F.col("__v").cast("double")).alias(tag))
        )

    r = dims(ref, "__mr")
    c = dims(cur, "__mc")
    return r.join(c, on="dim", how="full").select(
        F.col("dim").cast("long").alias("dim"),
        F.round("__mr", 6).alias("mean_ref"),
        F.round("__mc", 6).alias("mean_cur"),
        F.round(F.abs(F.col("__mr") - F.col("__mc")), 6).alias(
            "drift"
        ),
    )


def fd_violations(
    df: DataFrame,
    lhs_cols: Sequence[str],
    rhs_cols: Sequence[str],
) -> DataFrame:
    """Functional-dependency check: the LHS values that map to MORE
    than one distinct RHS tuple — ``(lhs..., n_rows, n_rhs)`` per
    violating key, empty when ``lhs → rhs`` holds. The
    schema-semantics member of the data-quality family:
    :func:`check_constraints` tests row-local rules and
    :func:`foreign_key_violations` cross-table references; an FD
    probe answers "is this column actually determined by that key?"
    — the question that catches a bad join key or a
    should-be-dimension attribute smeared across a fact table before
    it silently fans out a downstream join.

    NULLs count as a distinct RHS level (the affirm rule: an FD with
    missing determinees is violated, not vacuously true). One
    map-side-combined aggregate on the LHS key; the distinct count
    plans via Expand on the (lhs, rhs) pair — the exact-count cost,
    same as :func:`profile_table` ``exact=True``.
    """
    rhs = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in rhs_cols
        ],
    )
    per = (
        df.select(*lhs_cols, rhs.alias("__rhs"))
        .groupBy(*lhs_cols)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("__rhs").alias("n_rhs"),
        )
    )
    return per.filter(F.col("n_rhs") > 1)


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    top_k: int = 20,
) -> DataFrame:
    """Top-k most anomalous embedding vectors by diagonal Mahalanobis
    distance: ``(id, score)`` with ``score = Σ_d z_d²`` over
    per-dimension z-scores — the vector-space data-cleaning pass
    (corrupt decodes, zero vectors, wrong-model strays sit far from
    the per-dimension envelope; dropping them before ANN index build
    protects recall). The two-snapshot companion is
    :func:`embedding_centroid_drift`; this ranks rows WITHIN one
    snapshot.

    Determinism: per-dimension mean/stddev (population) are rounded
    to 6 dp before the z-scores, each z² term is rounded to 6 dp and
    summed as an exact DECIMAL — order-independent and engine-
    identical. Degenerate dimensions (stddev 0) contribute 0. Ties
    break by id.

    Plan shape: one posexplode + dim-keyed stats aggregate (D rows,
    broadcast back), one id-keyed DECIMAL sum, one TakeOrdered(k).
    """
    dims = df.select(
        F.col(id_col), F.posexplode(vec_col).alias("__p0", "__v")
    ).select(
        id_col, F.col("__p0").alias("__d"),
        F.col("__v").cast("double").alias("__v"),
    )
    stats = dims.groupBy("__d").agg(
        F.round(F.avg("__v"), 6).alias("__m"),
        F.round(F.stddev_pop("__v"), 6).alias("__s"),
    )
    term = F.when(
        F.col("__s") > 0,
        F.round(
            ((F.col("__v") - F.col("__m")) / F.col("__s"))
            * ((F.col("__v") - F.col("__m")) / F.col("__s")),
            6,
        ),
    ).otherwise(F.lit(0.0)).cast("decimal(28,6)")
    scores = (
        dims.join(F.broadcast(stats), on="__d")
        .groupBy(id_col)
        .agg(F.sum(term).cast("double").alias("score"))
    )
    return scores.orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    ).limit(int(top_k))


#: Benford first-digit probabilities log10(1 + 1/d), d = 1..9 —
#: Python-computed literals shared VERBATIM with the SQL oracle (the
#: q121 ladder rule) so both engines compare against identical bits.
BENFORD_P: tuple[float, ...] = tuple(
    __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
)


def benford_profile(df: DataFrame, value_col: str) -> DataFrame:
    """Benford's-law first-digit forensics over a positive numeric
    column: one row per leading digit ``(digit, n_obs, p_obs, p_exp,
    excess)`` — the fraud/synthetic-data smell test an ingest audit
    runs on naturally-growing magnitudes (transaction amounts,
    populations, counts): organic multiplicative data leads with 1
    ~30% of the time; fabricated or truncated feeds flatten toward
    uniform. Values below 1 are excluded (no leading digit in the
    integer part — the classic formulation).

    Determinism: the leading digit comes from the STRING of
    ``CAST(floor(value) AS BIGINT)`` — integer rendering is
    byte-identical across engines, where ``floor(log10(v))`` is not
    (boundary ulps at powers of ten). Expected probabilities are
    Python literals (:data:`BENFORD_P`) shared verbatim with the
    oracle. One map-side-combined 9-group aggregate + a broadcast
    1-row total: scan speed at any table size.
    """
    v = F.col(value_col)
    digit = F.substring(
        F.floor(v).cast("long").cast("string"), 1, 1
    ).cast("int")
    counts = (
        df.filter(v >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").cast("long").alias("__n"))
    p_exp = F.lit(None).cast("double")
    for d, p in enumerate(BENFORD_P, start=1):
        p_exp = F.when(F.col("digit") == d, F.lit(p)).otherwise(p_exp)
    p_obs = F.round(F.col("n_obs").cast("double") / F.col("__n"), 6)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            p_obs.alias("p_obs"),
            F.round(p_exp, 6).alias("p_exp"),
            F.round(
                F.col("n_obs").cast("double") / F.col("__n") - p_exp, 6
            ).alias("excess"),
        )
    )


def mann_whitney_u(
    a: DataFrame, b: DataFrame, value_col: str
) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) two-sample test: one
    row ``(n_a, n_b, r_a, u_a, u_b, cles_a, z)`` comparing the
    distribution of ``value_col`` between samples ``a`` and ``b`` —
    the rank-based (median-shift-sensitive) member of the two-sample
    family next to :func:`ks_test` (max-CDF-gap) and
    :func:`psi_drift` (binned mass movement): it delivers a single
    standardized direction+magnitude where KS only says "differs".

    ALL-INTEGER rank construction — ranks are never materialized per
    row: per pooled DISTINCT value the average tie rank is
    ``C_v + (c_v + 1)/2`` where ``C_v`` is the exclusive prefix count
    (range-bucketed :func:`~bigdata_kafka_2_spark.operators.
    relational.global_prefix_sum`, never a single-partition window)
    and ``c_v`` the tie size, so the doubled rank-sum
    ``2·R_A = Σ_v c_v^A·(2·C_v + c_v + 1)`` is an exact integer
    accumulated as DECIMAL(38,0) (a 10^12-row fact table squares past
    2^63; decimal overflow is loud, not silent). ``U_A = R_A −
    n_A(n_A+1)/2``; the tie-corrected normal approximation

        z = (U_A − n_A·n_B/2) / sqrt(n_A·n_B/12·((N+1) − T/(N(N−1))))

    with ``T = Σ_v (c_v³ − c_v)`` divides exact integers once at the
    end (rounded 6 dp), and ``cles_a = U_A/(n_A·n_B)`` is the
    common-language effect size. The shuffle carries one row per
    distinct value; everything else is map-side combined.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    v = F.col(value_col).cast("double").alias("__v")
    pooled = (
        a.select(v, F.lit(1).alias("__a"), F.lit(0).alias("__b"))
        .unionByName(
            b.select(v, F.lit(0).alias("__a"), F.lit(1).alias("__b"))
        )
        .groupBy("__v")
        .agg(F.sum("__a").alias("__ca"), F.sum("__b").alias("__cb"))
    )
    dec = "decimal(38,0)"
    cum = global_prefix_sum(
        pooled.withColumn("__c", F.col("__ca") + F.col("__cb")),
        "__v",
        "__c",
        out_col="__before",
        sum_type=dec,
    )
    rank2 = (
        F.lit(2).cast(dec) * F.col("__before").cast(dec)
        + F.col("__c").cast(dec)
        + F.lit(1).cast(dec)
    )
    t_term = (
        F.col("__c").cast(dec) * F.col("__c").cast(dec) * F.col("__c").cast(dec)
        - F.col("__c").cast(dec)
    )
    agg = cum.agg(
        F.sum(F.col("__ca").cast(dec)).alias("__na"),
        F.sum(F.col("__cb").cast(dec)).alias("__nb"),
        F.sum(F.col("__ca").cast(dec) * rank2).alias("__r2a"),
        F.sum(t_term).alias("__t"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    n = na + nb
    r_a = F.col("__r2a").cast("double") / F.lit(2.0)
    u_a2 = F.col("__r2a") - na * (na + F.lit(1).cast(dec))
    u_a = u_a2.cast("double") / F.lit(2.0)
    u_b = na.cast("double") * nb.cast("double") - u_a
    mu = na.cast("double") * nb.cast("double") / F.lit(2.0)
    tie = F.col("__t").cast("double") / (
        n.cast("double") * (n.cast("double") - F.lit(1.0))
    )
    var = (
        na.cast("double")
        * nb.cast("double")
        / F.lit(12.0)
        * ((n.cast("double") + F.lit(1.0)) - tie)
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        r_a.alias("r_a"),
        u_a.alias("u_a"),
        u_b.alias("u_b"),
        F.round(
            u_a / (na.cast("double") * nb.cast("double")), 6
        ).alias("cles_a"),
        F.round((u_a - mu) / F.sqrt(var), 6).alias("z"),
    )


def gini_concentration(
    df: DataFrame, key_col: str, weight_col: str
) -> DataFrame:
    """Revenue/mass concentration profile over per-key totals: one row
    ``(n_keys, total, gini, top1pct_share, top10pct_share)`` — the
    inequality audit of a corpus or customer base (is 90% of the
    training mass coming from 1% of the domains?). Complements
    :func:`skew_profile` (which looks at partition-key skew for JOIN
    planning) with the economic-concentration view.

    Exact construction: per-key totals sum ``weight_col`` rounded to
    4 dp as DECIMAL (order-independent); keys are ranked ascending by
    ``(total, key)`` via the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_row_number` (never a single-partition window), and

        G = (2·Σ i·x_i − (n+1)·Σ x) / (n·Σ x)

    is assembled from exact DECIMAL(38,4) sums with ONE double
    division at the end (rounded 6 dp). Top-share numerators are
    exact DECIMAL sums over the ranked tail (rank > n − ⌈p·n⌉).
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_row_number,
    )

    dec = "decimal(38,4)"
    totals = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.sum(
            F.round(F.col(weight_col).cast("double"), 4).cast(dec)
        ).alias("__x")
    )
    ranked = global_row_number(totals, ["__x", "__k"], rn_col="__i")
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__i").cast(dec) * F.col("__x")).alias("__six"),
    )
    n_d = F.col("__n").cast("double")
    sx_d = F.col("__sx").cast("double")
    gini = (
        F.lit(2.0) * F.col("__six").cast("double")
        - (n_d + F.lit(1.0)) * sx_d
    ) / (n_d * sx_d)
    shares = ranked.crossJoin(
        F.broadcast(agg.select("__n", F.col("__sx").alias("__tot")))
    )
    # ⌈n/d⌉ in exact integer arithmetic — ceil(n*0.1) in doubles
    # rounds 500*0.1 up to 50.000000000000004 and takes 51 keys
    tail = lambda d: F.sum(  # noqa: E731
        F.when(
            F.col("__i")
            > F.col("__n") - F.expr(f"(__n + {d - 1}) div {d}"),
            F.col("__x"),
        ).otherwise(F.lit(0).cast(dec))
    )
    top = shares.agg(
        F.max("__n").alias("__n2"),
        F.max("__tot").alias("__tot2"),
        tail(100).alias("__t1"),
        tail(10).alias("__t10"),
    )
    return (
        agg.crossJoin(F.broadcast(top))
        .select(
            F.col("__n").alias("n_keys"),
            F.round(sx_d, 2).alias("total"),
            F.round(gini, 6).alias("gini"),
            F.round(
                F.col("__t1").cast("double")
                / F.col("__tot2").cast("double"),
                6,
            ).alias("top1pct_share"),
            F.round(
                F.col("__t10").cast("double")
                / F.col("__tot2").cast("double"),
                6,
            ).alias("top10pct_share"),
        )
    )


def loo_contributions(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Leave-one-group-out ablation table — data-valuation lite: per
    group ``(group..., n, group_mean, corpus_mean, loo_mean, delta)``
    where ``loo_mean`` is the corpus mean of ``value_col`` WITHOUT
    the group and ``delta = loo_mean − corpus_mean`` (positive means
    removing the group RAISES the corpus metric — the group drags it
    down). The first-order mixture-design signal a training-data team
    reads before re-weighting domains: exact for the mean family
    where Shapley-style valuation needs sampling.

    All algebra, no second pass: ``loo_mean = (S − S_g)/(N − n_g)``
    from ONE map-side-combined aggregate of exact DECIMAL sums plus
    a broadcast 1-row total. Groups covering the whole corpus return
    NULL ``loo_mean`` (no corpus left to measure). Scan speed at any
    scale; the output is one row per group.

    Rows with a NULL value are EXCLUDED before counting — otherwise
    they would inflate the ``n`` denominators while contributing
    nothing to the DECIMAL sums, silently deflating every mean.
    """
    dec = "decimal(38,4)"
    df = df.where(F.col(value_col).isNotNull())
    v = F.round(F.col(value_col).cast("double"), 4).cast(dec)
    qs = list(group_cols)
    g = df.groupBy(*qs).agg(
        F.count(F.lit(1)).alias("__ng"),
        F.sum(v).alias("__sg"),
    )
    tot = g.agg(
        F.sum("__ng").alias("__n"), F.sum("__sg").alias("__s")
    )
    j = g.crossJoin(F.broadcast(tot))
    corpus_mean = F.col("__s").cast("double") / F.col("__n").cast("double")
    loo = F.when(
        F.col("__n") > F.col("__ng"),
        (F.col("__s") - F.col("__sg")).cast("double")
        / (F.col("__n") - F.col("__ng")).cast("double"),
    )
    return j.select(
        *qs,
        F.col("__ng").cast("long").alias("n"),
        F.round(
            F.col("__sg").cast("double") / F.col("__ng").cast("double"), 6
        ).alias("group_mean"),
        F.round(corpus_mean, 6).alias("corpus_mean"),
        F.round(loo, 6).alias("loo_mean"),
        F.round(loo - corpus_mean, 6).alias("delta"),
    )


def gini_split_stump(
    df: DataFrame,
    feature_col: str,
    label_col,
) -> DataFrame:
    """Exact best binary split of a numeric feature against a boolean
    label — the decision STUMP / supervised-discretization primitive
    (CART's split search, one level): one row ``(threshold, n_left,
    n_right, pos_left, pos_right, gini_gain)`` where ``threshold`` is
    the distinct feature value v maximizing the Gini impurity
    decrease of the partition ``feature ≤ v`` vs ``> v``. The
    supervised cousin of :func:`jenks_breaks` (which discretizes
    against the feature's own variance, labels unseen) — feature
    screening, monotone-binning, and leakage-free threshold picking
    all reduce to this search.

    All-integer construction: per-DISTINCT-value (count, positives)
    cells, INCLUSIVE prefix sums via the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum` (never a single-partition window), totals as
    a broadcast 1-row aggregate. The maximized score

        f(v) = pL²/nL + (nL−pL)²/nL + pR²/nR + (nR−pR)²/nR

    (monotone in the impurity decrease) is evaluated in double from
    those exact integers — identical inputs through an identical
    expression on both engines — and the argmax breaks ties toward
    the smallest threshold. ``gini_gain`` reports the actual
    weighted-impurity decrease, rounded 6 dp. The last distinct value
    is excluded (an empty right side is not a split).
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    lab = label_col if not isinstance(label_col, str) else F.col(label_col)
    cells = (
        df.select(
            F.col(feature_col).cast("double").alias("__v"),
            lab.cast("int").alias("__y"),
        )
        .groupBy("__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__y").alias("__p"),
        )
    )
    # both prefixes in ONE bucketed pass (same rows, same order)
    pre = global_prefix_sums(
        cells,
        "__v",
        [("__c", "__cb", "long"), ("__p", "__pb", "long")],
    )
    tot = cells.agg(
        F.sum("__c").alias("__nt"), F.sum("__p").alias("__pt")
    )
    j = pre.crossJoin(F.broadcast(tot))
    nl = (F.col("__cb") + F.col("__c")).cast("double")
    pl = (F.col("__pb") + F.col("__p")).cast("double")
    nr = F.col("__nt").cast("double") - nl
    pr = F.col("__pt").cast("double") - pl
    f = (
        pl * pl / nl
        + (nl - pl) * (nl - pl) / nl
        + pr * pr / nr
        + (nr - pr) * (nr - pr) / nr
    )
    n_d = F.col("__nt").cast("double")
    p_d = F.col("__pt").cast("double")
    parent = F.lit(1.0) - (p_d / n_d) * (p_d / n_d) - (
        (n_d - p_d) / n_d
    ) * ((n_d - p_d) / n_d)
    child = (
        nl / n_d * (F.lit(1.0) - (pl / nl) * (pl / nl)
                    - ((nl - pl) / nl) * ((nl - pl) / nl))
        + nr / n_d * (F.lit(1.0) - (pr / nr) * (pr / nr)
                      - ((nr - pr) / nr) * ((nr - pr) / nr))
    )
    scored = j.filter(nr > 0).select(
        F.col("__v").alias("threshold"),
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        pl.cast("long").alias("pos_left"),
        pr.cast("long").alias("pos_right"),
        f.alias("__f"),
        (parent - child).alias("__gain"),
    )
    return (
        scored.orderBy(F.col("__f").desc(), F.col("threshold").asc())
        .limit(1)
        .select(
            "threshold",
            "n_left",
            "n_right",
            "pos_left",
            "pos_right",
            F.round(F.col("__gain"), 6).alias("gini_gain"),
        )
    )


def diff_in_differences(
    df: DataFrame,
    group_col,
    period_col,
    value_col: str,
) -> DataFrame:
    """Two-by-two difference-in-differences estimate: one row
    ``(n_t_pre, n_t_post, n_c_pre, n_c_post, mean_t_pre, mean_t_post,
    mean_c_pre, mean_c_post, did, se)`` for a boolean treatment
    ``group_col`` and boolean post-period ``period_col`` —

        DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post − ȳ_c,pre)

    the canonical quasi-experimental estimator when treatment wasn't
    randomized but a control series shares the trend (Card & Krueger
    1994): the causal/experimentation member of the two-sample family
    (:func:`mann_whitney_u` / :func:`ks_test` ask IF distributions
    differ; DiD asks how much of a shift is ATTRIBUTABLE net of the
    common trend). ``se`` is the unpooled large-sample standard error
    ``sqrt(Σ s²_cell/n_cell)`` — the four-cell delta-method form.

    ONE map-side-combined aggregate builds all four cells (counts,
    exact-DECIMAL sums, and Σx² for the variances); every mean and
    the estimate divide exact integers/decimals through identical
    double expressions on both engines, rounded 6 dp. Scan speed at
    any scale; the output is one row.

    Rows with a NULL value are EXCLUDED before counting — otherwise
    they would inflate the cell ``n`` counts while contributing
    nothing to the DECIMAL sums, silently deflating every mean.
    """
    df = df.where(F.col(value_col).isNotNull())
    g = (
        F.col(group_col).cast("boolean")
        if isinstance(group_col, str)
        else group_col.cast("boolean")
    )
    p = (
        F.col(period_col).cast("boolean")
        if isinstance(period_col, str)
        else period_col.cast("boolean")
    )
    dec = "decimal(38,4)"
    v = F.round(F.col(value_col).cast("double"), 4).cast(dec)
    v2 = F.round(
        F.col(value_col).cast("double")
        * F.col(value_col).cast("double"),
        4,
    ).cast(dec)

    def cell(tag, cond):
        return [
            F.sum(F.when(cond, 1).otherwise(0)).alias(f"__n_{tag}"),
            F.sum(F.when(cond, v)).alias(f"__s_{tag}"),
            F.sum(F.when(cond, v2)).alias(f"__q_{tag}"),
        ]

    agg = df.agg(
        *cell("tpre", g & ~p),
        *cell("tpost", g & p),
        *cell("cpre", ~g & ~p),
        *cell("cpost", ~g & p),
    )

    def mean(tag):
        return F.col(f"__s_{tag}").cast("double") / F.col(
            f"__n_{tag}"
        ).cast("double")

    def var_over_n(tag):
        n = F.col(f"__n_{tag}").cast("double")
        m = mean(tag)
        return (
            (F.col(f"__q_{tag}").cast("double") / n - m * m)
            * n
            / (n - F.lit(1.0))
        ) / n

    did = (mean("tpost") - mean("tpre")) - (
        mean("cpost") - mean("cpre")
    )
    se = F.sqrt(
        var_over_n("tpost")
        + var_over_n("tpre")
        + var_over_n("cpost")
        + var_over_n("cpre")
    )
    out = [
        F.col(f"__n_{t}").cast("long").alias(f"n_{t[0]}_{t[1:]}")
        for t in ("tpre", "tpost", "cpre", "cpost")
    ]
    means = [
        F.round(mean(t), 6).alias(f"mean_{t[0]}_{t[1:]}")
        for t in ("tpre", "tpost", "cpre", "cpost")
    ]
    return agg.select(
        *out, *means, F.round(did, 6).alias("did"),
        F.round(se, 6).alias("se"),
    )


def stratified_ate(
    df: DataFrame,
    stratum_col,
    treat_col,
    outcome_col: str,
) -> DataFrame:
    """Stratified average-treatment-effect estimate: per stratum
    ``(stratum, n, n_treated, mean_treated, mean_control, effect)``
    plus the stratum-size-weighted overall row (stratum NULL) —

        ATE = Σ_s (N_s / N) · (ȳ_s,treated − ȳ_s,control)

    exact post-stratification (Cochran 1968): within a stratum,
    treatment is compared against control ONLY among like units, so
    confounding carried by the stratum variable is removed — the
    identification-by-adjustment member of the causal family
    (:func:`diff_in_differences` adjusts with a pre-period; this
    adjusts with observed covariate strata, and equals inverse-
    propensity weighting exactly when propensities are stratum
    constants). ``effect`` is NULL for strata missing either arm, and
    such strata are EXCLUDED from the overall row (their effect is
    unidentified; the overall weight renormalizes over identified
    strata — documented standard practice).

    ONE map-side-combined aggregate builds every stratum cell (counts
    + exact-DECIMAL outcome sums); the overall row is a second tiny
    aggregate over identified strata. NULL outcomes are excluded
    before counting (the NULL-deflation guard shared with
    :func:`loo_contributions`). Scan speed at any scale; output is
    |strata| + 1 rows.
    """
    t = (
        F.col(treat_col).cast("boolean")
        if isinstance(treat_col, str)
        else treat_col.cast("boolean")
    )
    s_col = (
        F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    )
    dec = "decimal(38,4)"
    df = df.where(F.col(outcome_col).isNotNull())
    v = F.round(F.col(outcome_col).cast("double"), 4).cast(dec)
    cells = df.groupBy(s_col.alias("__s")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.when(t, 1).otherwise(0)).alias("__nt"),
        F.sum(F.when(t, v)).alias("__st"),
        F.sum(F.when(~t, v)).alias("__sc"),
    )
    mt = F.col("__st").cast("double") / F.col("__nt").cast("double")
    mc = F.col("__sc").cast("double") / (
        F.col("__n") - F.col("__nt")
    ).cast("double")
    ident = (F.col("__nt") > 0) & (F.col("__n") > F.col("__nt"))
    per = cells.select(
        F.col("__s").cast("string").alias("stratum"),
        F.col("__n").cast("long").alias("n"),
        F.col("__nt").cast("long").alias("n_treated"),
        F.round(F.when(F.col("__nt") > 0, mt), 6).alias("mean_treated"),
        F.round(
            F.when(F.col("__n") > F.col("__nt"), mc), 6
        ).alias("mean_control"),
        F.round(F.when(ident, mt - mc), 6).alias("effect"),
    )
    dec12 = "decimal(38,12)"
    overall = (
        cells.filter(ident)
        .select(
            F.col("__n").alias("__w"),
            F.round(mt - mc, 6).alias("__eff"),
        )
        .agg(
            F.sum("__w").alias("__N"),
            F.sum(
                F.round(
                    F.col("__w").cast("double") * F.col("__eff"), 12
                ).cast(dec12)
            ).alias("__we"),
        )
        .select(
            F.lit(None).cast("string").alias("stratum"),
            F.col("__N").cast("long").alias("n"),
            F.lit(None).cast("long").alias("n_treated"),
            F.lit(None).cast("double").alias("mean_treated"),
            F.lit(None).cast("double").alias("mean_control"),
            F.round(
                F.col("__we").cast("double") / F.col("__N").cast("double"),
                6,
            ).alias("effect"),
        )
    )
    return per.unionAll(overall)


def jackknife_ratio_se(
    df: DataFrame,
    group_cols: Sequence[str],
    num_col: str,
    den_col: str,
) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of a ratio metric
    ``Σ num / Σ den`` (Quenouille 1956; the grouped form is the
    standard cluster jackknife): one row ``(groups, ratio, se_jack)``
    where each pseudo-estimate drops one group,

        θ_(g) = (S_num − s_g) / (S_den − d_g),
        SE² = (G−1)/G · Σ_g (θ_(g) − θ̄_·)²

    — the uncertainty a ratio metric (revenue per order, tokens per
    doc, dup rate) actually carries when observations cluster, which
    the naive iid SE understates. The inference member of the
    leave-one-group family (:func:`loo_contributions` reports each
    group's EFFECT; this turns the same algebra into a confidence
    width).

    Pure algebra, two passes over the GROUP table only: one map-side-
    combined aggregate to per-group exact-DECIMAL sums + a broadcast
    1-row total gives every pseudo-estimate; a second tiny aggregate
    over |groups| rows turns them into the SE. Pseudo-estimates are
    rounded 9 dp and their moments accumulate as exact
    DECIMAL(38,9)/(38,18), so the result is engine-identical. NULL
    numerators/denominators are excluded row-wise before counting.

    Degenerate records (r12 advice): a pseudo-estimate whose
    leave-one-out denominator is zero (one group carries ALL of
    Σ den) is undefined — rather than silently averaging over fewer
    pseudo-values than G, the operator returns NULL ``se_jack``
    whenever ANY pseudo-estimate is undefined, and likewise for
    G < 2 (a single group gives the jackknife nothing to vary).
    """
    dec = "decimal(38,4)"
    df = df.where(
        F.col(num_col).isNotNull() & F.col(den_col).isNotNull()
    )
    nv = F.round(F.col(num_col).cast("double"), 4).cast(dec)
    dv = F.round(F.col(den_col).cast("double"), 4).cast(dec)
    g = df.groupBy(*list(group_cols)).agg(
        F.sum(nv).alias("__sn"), F.sum(dv).alias("__sd")
    )
    tot = g.agg(
        F.sum("__sn").alias("__tn"),
        F.sum("__sd").alias("__td"),
        F.count(F.lit(1)).alias("__G"),
    )
    theta = F.when(
        (F.col("__td") - F.col("__sd")) != 0,
        F.round(
            (F.col("__tn") - F.col("__sn")).cast("double")
            / (F.col("__td") - F.col("__sd")).cast("double"),
            9,
        ),
    )
    pseudo = g.crossJoin(F.broadcast(tot)).select(
        F.col("__G"),
        F.col("__tn"),
        F.col("__td"),
        theta.alias("__th"),
    )
    agg = pseudo.agg(
        F.max("__G").alias("__G"),
        F.max("__tn").alias("__tn"),
        F.max("__td").alias("__td"),
        F.sum(
            F.when(F.col("__th").isNotNull(), 1).otherwise(0)
        ).alias("__Gv"),
        F.sum(F.col("__th").cast("decimal(38,9)")).alias("__s1"),
        F.sum(
            F.round(F.col("__th") * F.col("__th"), 18).cast(
                "decimal(38,18)"
            )
        ).alias("__s2"),
    )
    gd = F.col("__G").cast("double")
    mean = F.col("__s1").cast("double") / gd
    var = (
        (F.col("__s2").cast("double") / gd - mean * mean)
        * (gd - F.lit(1.0))
    )
    # SE only when EVERY pseudo-estimate is defined and there are at
    # least two groups — a partial moment sum over fewer than G
    # pseudo-values is not the jackknife, it's a silent subsample
    return agg.select(
        F.col("__G").cast("long").alias("groups"),
        F.round(
            F.col("__tn").cast("double") / F.col("__td").cast("double"),
            6,
        ).alias("ratio"),
        F.when(
            (F.col("__Gv") == F.col("__G")) & (F.col("__G") >= 2),
            F.round(F.sqrt(var), 6),
        ).alias("se_jack"),
    )


def mantel_haenszel_or(
    df: DataFrame,
    stratum_col,
    exposure_col,
    outcome_col,
) -> DataFrame:
    """Mantel–Haenszel pooled odds ratio across stratified 2×2 tables
    (Mantel & Haenszel 1959): one row ``(n_strata, n, or_mh, log_or,
    se_log)`` for boolean exposure/outcome stratified by
    ``stratum_col`` —

        OR_MH = Σ_s (a_s·d_s / n_s) / Σ_s (b_s·c_s / n_s)

    with the Robins–Breslow–Greenland variance of ``log OR``. The
    confounder-adjusted ASSOCIATION member of the causal family:
    :func:`stratified_ate` adjusts a mean difference; this pools the
    odds ratio, the form epidemiology and A/B analysis expect for
    binary outcomes. Strata with an empty margin contribute zero to
    both sums (the estimator's built-in continuity — no Haldane
    fudge needed).

    ONE map-side-combined aggregate builds every stratum's 2×2 cell
    counts; the pooled sums accumulate 9-dp-rounded per-stratum terms
    in exact DECIMAL(38,9). All-integer until the per-stratum term
    divisions; final ratios in double, rounded 6 dp.
    """
    e = (
        F.col(exposure_col).cast("boolean")
        if isinstance(exposure_col, str)
        else exposure_col.cast("boolean")
    )
    y = (
        F.col(outcome_col).cast("boolean")
        if isinstance(outcome_col, str)
        else outcome_col.cast("boolean")
    )
    s_col = (
        F.col(stratum_col) if isinstance(stratum_col, str) else stratum_col
    )
    cells = df.groupBy(s_col.alias("__s")).agg(
        F.sum(F.when(e & y, 1).otherwise(0)).alias("__a"),
        F.sum(F.when(e & ~y, 1).otherwise(0)).alias("__b"),
        F.sum(F.when(~e & y, 1).otherwise(0)).alias("__c"),
        F.sum(F.when(~e & ~y, 1).otherwise(0)).alias("__d"),
    )
    n_s = (
        F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")
    ).cast("double")
    r_term = F.round(
        F.col("__a").cast("double") * F.col("__d").cast("double") / n_s, 9
    )
    s_term = F.round(
        F.col("__b").cast("double") * F.col("__c").cast("double") / n_s, 9
    )
    # RBG variance pieces: P=(a+d)/n, Q=(b+c)/n
    p_s = (F.col("__a") + F.col("__d")).cast("double") / n_s
    q_s = (F.col("__b") + F.col("__c")).cast("double") / n_s
    dec9 = "decimal(38,9)"
    agg = cells.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum(F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d"))
        .alias("__n"),
        F.sum(r_term.cast(dec9)).alias("__R"),
        F.sum(s_term.cast(dec9)).alias("__S"),
        F.sum(F.round(p_s * r_term, 9).cast(dec9)).alias("__pr"),
        F.sum(
            F.round(p_s * s_term + q_s * r_term, 9).cast(dec9)
        ).alias("__ps_qr"),
        F.sum(F.round(q_s * s_term, 9).cast(dec9)).alias("__qs"),
    )
    R = F.col("__R").cast("double")
    S = F.col("__S").cast("double")
    var = (
        F.col("__pr").cast("double") / (F.lit(2.0) * R * R)
        + F.col("__ps_qr").cast("double") / (F.lit(2.0) * R * S)
        + F.col("__qs").cast("double") / (F.lit(2.0) * S * S)
    )
    return agg.select(
        F.col("__k").cast("long").alias("n_strata"),
        F.col("__n").cast("long").alias("n"),
        F.round(R / S, 6).alias("or_mh"),
        F.round(F.log(R / S), 6).alias("log_or"),
        F.round(F.sqrt(var), 6).alias("se_log"),
    )


def eb_shrunk_rates(
    df: DataFrame,
    group_cols: Sequence[str],
    success_col,
) -> DataFrame:
    """Empirical-Bayes shrunken per-group success rates under a
    beta-binomial prior fitted by METHOD OF MOMENTS (Robbins 1956
    empirical Bayes; the Efron & Morris batting-average classic): per
    group ``(group..., n, successes, raw_rate, shrunk_rate)`` with

        shrunk = (x + α) / (n + α + β)

    where (α, β) match the across-group mean/variance of raw rates —
    the estimator every leaderboard/quality dashboard needs when
    group sizes vary wildly: a 2-of-2 domain no longer outranks a
    970-of-1000 one, because small-n rates shrink hard toward the
    corpus prior while large-n rates barely move. The Bayesian
    sibling of q251's Wilson bound (Wilson widens the interval; EB
    moves the point estimate).

    Moment fit (the standard MoM for beta): with m = mean(rate),
    v = var(rate) across groups, ``c = m(1−m)/v − 1``, α = m·c,
    β = (1−m)·c; a degenerate fit (v ≥ m(1−m), all-equal rates, or
    c ≤ 0) returns the raw rates unshrunk with α = β = 0 — the
    honest no-prior answer. Group rate moments accumulate as exact
    DECIMAL of 9/12-dp-rounded terms; the prior lands as two bounded
    driver scalars (the pagerank node-count pattern), so the output
    projection is one broadcast-free row-local expression.
    """
    s = (
        F.col(success_col)
        if isinstance(success_col, str)
        else success_col
    ).cast("long")
    g = pin(
        df.groupBy(*list(group_cols)).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(s).alias("__x"),
        )
    )
    rate = F.round(
        F.col("__x").cast("double") / F.col("__n").cast("double"), 9
    )
    mom = g.select(
        rate.cast("decimal(38,9)").alias("__r"),
        F.round(rate * rate, 12).cast("decimal(38,12)").alias("__r2"),
    ).agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__r").alias("__s1"),
        F.sum("__r2").alias("__s2"),
    ).collect()[0]
    k = float(mom["__k"])
    m = float(mom["__s1"]) / k
    v = float(mom["__s2"]) / k - m * m
    # α/β stay UNROUNDED doubles: every op here is a plain IEEE
    # expression the oracle transcribes verbatim, so both engines
    # produce bit-identical priors with no rounding convention to
    # keep in sync
    alpha = beta = 0.0
    if 0.0 < v < m * (1.0 - m):
        c = m * (1.0 - m) / v - 1.0
        if c > 0.0:
            alpha, beta = m * c, (1.0 - m) * c
    return g.select(
        *list(group_cols),
        F.col("__n").cast("long").alias("n"),
        F.col("__x").cast("long").alias("successes"),
        F.round(
            F.col("__x").cast("double") / F.col("__n").cast("double"), 6
        ).alias("raw_rate"),
        F.round(
            (F.col("__x").cast("double") + F.lit(alpha))
            / (F.col("__n").cast("double") + F.lit(alpha + beta)),
            6,
        ).alias("shrunk_rate"),
    )


def groupwise_chi2_fdr(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    flag_col,
    alpha: float = 0.1,
) -> DataFrame:
    """Per-group chi-square independence tests with Benjamini–Hochberg
    FDR control ACROSS groups (Benjamini & Hochberg 1995): one row
    per group ``(group, n, chi2, df, p_value, p_rank, bh_cutoff,
    tested, rejected)`` testing, within each group, whether ``cat_col`` and
    the boolean ``flag_col`` are associated — and then controlling
    the false-discovery rate over the whole family of tests, which is
    what a segment-sweep drift monitor actually needs (testing 25
    nations at α=0.1 each yields ~2.5 false alarms per sweep;
    BH keeps the EXPECTED false-discovery fraction at α). The
    multiple-testing completion of the per-test family (q126's single
    chi-square, q192's KS, q225's MW all report one p-ish statistic;
    this makes a FLEET of them jointly honest).

    The chi-square p-value uses the closed-form survival for BOTH
    df parities (``operators.mathfn.chi2_sf_col`` — even df is the
    plain exp-polynomial; odd df adds the erfc term via the shared
    literal-coefficient A&S 7.1.26 approximation both engines
    evaluate in the same IEEE order; r12 advice, upgraded from the
    even-only form that silently dropped odd-df groups from the BH
    family). The r13→r14 adjudication of the 1.57× wall-clock move:
    CASE WHEN codegen SHORT-CIRCUITS the parity dispatch — measured
    r14 at 20M rows, the dispatcher on constant even df costs within
    2 ns/row of the bare even closed form while the erfc term alone
    is ~9 ns/row, so even-df groups never pay the odd-df series at
    runtime; the regression is the one-off plan/codegen compilation
    of the doubled expression tree (a per-QUERY constant — probes
    flat at 0.90/1.00), accepted as the price of real odd-df
    p-values. Groups whose implied df is zero or > 16 still get NULL
    ``p_value`` and are EXCLUDED — the output's ``tested`` boolean
    makes any exclusion visible so a monitor can alarm on
    silently-untested segments. BH: rank tests by
    (p asc, group asc), reject every rank ≤ r* = max{r : p_r ≤
    α·r/m}; r* is one bounded aggregate over the |groups|-row test
    table, never a per-row scan.

    Plan: ONE map-side-combined aggregate to (group, cat, flag)
    cells, per-group margins by two tiny reaggregations, the full
    margin GRID per group (absent cells enter as O = 0 — they
    contribute (0−E)²/E = E, which a present-cells-only sum would
    silently drop), 9-dp-rounded cell terms summed in exact
    DECIMAL(38,9), and a rank window over the |groups|-row test
    table (bounded by the number of tests, never data). Degenerate
    groups (single category or single flag value — df 0) carry NULL
    p and never reject.
    """
    fl = (
        F.col(flag_col) if isinstance(flag_col, str) else flag_col
    ).cast("boolean").cast("int")
    cells = df.groupBy(
        F.col(group_col).alias("__g"),
        F.col(cat_col).alias("__c"),
        fl.alias("__f"),
    ).agg(F.count(F.lit(1)).alias("__o"))
    rows_m = cells.groupBy("__g", "__c").agg(
        F.sum("__o").alias("__rs")
    )
    cols_m = cells.groupBy("__g", "__f").agg(
        F.sum("__o").alias("__cs")
    )
    tot = cells.groupBy("__g").agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__c").alias("__kc"),
        F.countDistinct("__f").alias("__kf"),
    )
    grid = (
        rows_m.join(cols_m, on="__g")
        .join(cells, on=["__g", "__c", "__f"], how="left")
        .join(F.broadcast(tot), on="__g")
    )
    e = (
        F.col("__rs").cast("double")
        * F.col("__cs").cast("double")
        / F.col("__n").cast("double")
    )
    o = F.coalesce(F.col("__o"), F.lit(0)).cast("double")
    term = F.round((o - e) * (o - e) / e, 9).cast("decimal(38,9)")
    per = grid.groupBy("__g").agg(
        F.max("__n").alias("__nv"),
        F.max("__kc").alias("__kcv"),
        F.max("__kf").alias("__kfv"),
        F.sum(term).alias("__x2"),
    )
    dfree = (F.col("__kcv") - 1) * (F.col("__kfv") - 1)
    x = F.col("__x2").cast("double")
    # closed-form survival for BOTH parities, df 1..16 (mathfn's
    # paired-builder discipline keeps the oracle bit-compatible)
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col

    p_val = F.round(chi2_sf_col(x, dfree, max_df=16), 9)
    tests = per.select(
        "__g",
        F.col("__nv").cast("long").alias("n"),
        F.round(x, 6).alias("chi2"),
        dfree.cast("long").alias("df"),
        p_val.alias("__p"),
    )
    from pyspark.sql import Window

    # single-partition rank window over the |tests|-row table only —
    # bounded by the number of GROUPS under test, never by data (the
    # bounded-scalar class, not the forbidden data-sized window)
    w = Window.orderBy(F.col("__p").asc_nulls_last(), F.col("__g").asc())
    ranked = tests.withColumn("__r", F.row_number().over(w))
    m_tests = ranked.agg(
        F.sum(F.when(F.col("__p").isNotNull(), 1).otherwise(0)).alias(
            "__m"
        )
    )
    j = ranked.crossJoin(F.broadcast(m_tests))
    cutoff = F.round(
        F.lit(float(alpha)) * F.col("__r").cast("double")
        / F.col("__m").cast("double"),
        9,
    )
    flagged = j.withColumn(
        "__ok",
        F.when(
            F.col("__p").isNotNull() & (F.col("__p") <= cutoff),
            F.col("__r"),
        ),
    )
    rstar = flagged.agg(
        F.coalesce(F.max("__ok"), F.lit(0)).alias("__rstar")
    )
    return (
        flagged.crossJoin(F.broadcast(rstar))
        .select(
            F.col("__g").alias(group_col),
            "n",
            "chi2",
            "df",
            F.col("__p").alias("p_value"),
            F.col("__r").cast("long").alias("p_rank"),
            cutoff.alias("bh_cutoff"),
            F.col("__p").isNotNull().alias("tested"),
            (
                F.col("__p").isNotNull()
                & (F.col("__r") <= F.col("__rstar"))
            ).alias("rejected"),
        )
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 50,
) -> DataFrame:
    """Hill estimator of the power-law TAIL index of a positive
    metric (Hill 1975): one row ``(k, x_kplus1, alpha_hill)`` with

        α̂ = [ (1/k) Σ_{i=1..k} ln(x_(i) / x_(k+1)) ]^{-1}

    over the k+1 largest values — the tail-only heavy-tail
    diagnostic next to q179's Zipf fit (Zipf regresses the WHOLE
    rank-frequency line, which body curvature contaminates; Hill
    reads the tail exponent from the top order statistics alone,
    which is what burstiness/hub risk actually depends on: token
    frequencies, degree distributions, document lengths).

    Plan: the top k+1 values arrive by ``TakeOrderedAndProject``
    (per-partition heaps of k+1 — never a global sort), are
    pinned as a bounded frame, and the pivot ``x_(k+1)`` is
    ONE bounded driver scalar (the pagerank node-count pattern —
    also sidestepping the Spark 4 crossJoin-with-own-aggregate
    ambiguity); per-order-statistic terms ``round(ln(x_i) −
    ln(x_{k+1}), 9)`` sum in exact DECIMAL(38,9), both logs
    evaluated engine-side on identical inputs (the KM ln-parity
    rule). ``k`` AUTO-SIZES down to (available positive values − 1)
    when the table is smaller than the requested tail (the r7
    auto-size rule for fixed structure counts — the output ``k``
    reports what was used); fewer than 2 positive values, or a top
    set with zero tail spread, returns NULL alpha (the estimator is
    undefined; the honest answer, not a division by zero).
    """
    vals = pin(
        df.select(F.col(value_col).cast("double").alias("__x"))
        .filter(F.col("__x") > 0)
        .orderBy(F.col("__x").desc())
        .limit(int(k) + 1)
    )
    got = vals.count()
    spark = df.sparkSession
    if got < 2:
        return spark.createDataFrame(
            [(0, None, None)],
            "k long, x_kplus1 double, alpha_hill double",
        )
    k_eff = min(int(k), got - 1)
    xk1 = float(
        vals.agg(F.min("__x").alias("__m")).collect()[0]["__m"]
    )
    term = F.round(
        F.log(F.col("__x")) - F.log(F.lit(xk1)), 9
    ).cast("decimal(38,9)")
    # sum over ALL k_eff+1 rows: the pivot's own term (and any value
    # tied with it) is exactly ln(1) = 0, so the sum equals Σ_{i=1..k}
    agg = vals.agg(F.sum(term).alias("__s"))
    mean = F.col("__s").cast("double") / F.lit(float(k_eff))
    return agg.select(
        F.lit(int(k_eff)).cast("long").alias("k"),
        F.round(F.lit(xk1), 6).alias("x_kplus1"),
        F.when(
            F.col("__s") > 0, F.round(F.lit(1.0) / mean, 6)
        ).alias("alpha_hill"),
    )


def cochran_armitage_trend(
    df: DataFrame,
    score_col,
    success_col,
) -> DataFrame:
    """Cochran–Armitage test for a MONOTONE trend in proportions
    across ordered categories (Cochran 1954, Armitage 1955): one row
    ``(n, n_success, n_levels, t_stat, variance, z2, significant)``
    for an integer ``score_col`` (the category's position in the
    ordering) and boolean ``success_col`` —

        T = Σ_i w_i·(a_i − n_i·p̄),
        Var = p̄(1−p̄)·(Σ w_i²·n_i − (Σ w_i·n_i)²/N),
        Z² = T²/Var

    — the 1-df trend test that beats the omnibus chi-square
    (q126/q259) exactly when the alternative is ORDERED (quality
    rate rising across priority tiers, defect rate across size
    buckets): the omnibus spends degrees of freedom on every
    deviation pattern; this spends one on the monotone one.
    ``significant`` compares Z² against the shared 95% χ²₁ literal
    3.841458820694124 — no normal-CDF library call on either engine.

    ONE map-side-combined aggregate; every sum (Σw·a, Σw·n, Σw²·n,
    A, N) is an exact BIGINT, the statistic divides them through
    identical double expressions on both engines, rounded 6 dp.
    Degenerate inputs (all-success/all-failure, or a single level)
    carry zero variance and return NULL z2, never a division error.
    """
    w = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("long")
    s = (
        F.col(success_col)
        if isinstance(success_col, str)
        else success_col
    ).cast("boolean").cast("long")
    agg = df.agg(
        F.count(F.lit(1)).alias("__N"),
        F.sum(s).alias("__A"),
        F.sum(w * s).alias("__wa"),
        F.sum(w).alias("__wn"),
        F.sum(w * w).alias("__w2n"),
        F.countDistinct(w).alias("__k"),
    )
    N = F.col("__N").cast("double")
    A = F.col("__A").cast("double")
    p = A / N
    t = F.col("__wa").cast("double") - p * F.col("__wn").cast("double")
    var = (
        p
        * (F.lit(1.0) - p)
        * (
            F.col("__w2n").cast("double")
            - F.col("__wn").cast("double")
            * F.col("__wn").cast("double")
            / N
        )
    )
    z2 = t * t / var
    ok = (F.col("__A") > 0) & (F.col("__A") < F.col("__N")) & (
        F.col("__k") > 1
    )
    return agg.select(
        F.col("__N").cast("long").alias("n"),
        F.col("__A").cast("long").alias("n_success"),
        F.col("__k").cast("long").alias("n_levels"),
        F.round(t, 6).alias("t_stat"),
        F.round(F.when(ok, var), 6).alias("variance"),
        F.round(F.when(ok, z2), 6).alias("z2"),
        F.when(ok, z2 > F.lit(3.841458820694124)).alias("significant"),
    )


def two_proportion_ztest(
    df: DataFrame,
    arm_col,
    outcome_col,
) -> DataFrame:
    """Two-proportion z-test (the A/B-testing workhorse): one row
    ``(n_a, x_a, n_b, x_b, p_a, p_b, diff, z, p_value)`` comparing a
    boolean outcome rate between two arms (``arm_col`` boolean —
    True = arm A) under the pooled-variance normal approximation,

        z = (p̂_a − p̂_b) / √( p̂(1−p̂)(1/n_a + 1/n_b) )

    with the TWO-SIDED p-value ``erfc(|z|/√2)`` — the first p in the
    repo to use the shared literal-coefficient erfc
    (:mod:`~bigdata_kafka_2_spark.operators.mathfn`), which both
    engines evaluate in the same IEEE order, so the oracle gate can
    finally hash normal-tail p-values. Degenerate inputs (an empty
    arm, or a pooled rate of exactly 0 or 1 — zero variance) return
    NULL z/p explicitly.

    Rows with a NULL arm or NULL outcome are EXCLUDED before
    aggregating (the explicit row-exclusion discipline the sibling
    operators use): a NULL arm is an assignment bug, not arm B, and
    a NULL outcome is missing data, not a non-conversion — silently
    coercing either would bias both n and the rates.

    ONE map-side-combined aggregate over the fact table (four
    integer cells); all ratio arithmetic is row-local double math on
    the 1-row result, rounded 6 dp (z, rates) / 9 dp (p).
    """
    from bigdata_kafka_2_spark.operators.mathfn import erfc_col

    a = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("boolean")
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean").cast("int")
    df = df.filter(a.isNotNull() & y.isNotNull())
    agg = df.agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(a, y).otherwise(0)).alias("__xa"),
        F.sum(F.when(a, 0).otherwise(1)).alias("__nb"),
        F.sum(F.when(a, 0).otherwise(y)).alias("__xb"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    xa = F.col("__xa").cast("double")
    xb = F.col("__xb").cast("double")
    pa = xa / na
    pb = xb / nb
    pool = (xa + xb) / (na + nb)
    se = F.sqrt(
        pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    z = (pa - pb) / se
    ok = (
        (F.col("__na") > 0)
        & (F.col("__nb") > 0)
        & (F.col("__xa") + F.col("__xb") > 0)
        & (F.col("__xa") + F.col("__xb") < F.col("__na") + F.col("__nb"))
    )
    p_two = erfc_col(F.abs(z) / F.lit(math.sqrt(2.0)))
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__xa").cast("long").alias("x_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.col("__xb").cast("long").alias("x_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(pa - pb, 6).alias("diff"),
        F.round(F.when(ok, z), 6).alias("z"),
        F.round(F.when(ok, p_two), 9).alias("p_value"),
    )


def srm_check(
    df: DataFrame,
    arm_col,
    expected: dict[str, float] | None = None,
    alpha: float = 0.001,
) -> DataFrame:
    """Sample-ratio-mismatch gate (the first sanity check every
    experimentation platform runs before reading a metric): one row
    per arm ``(arm, n, expected_share, expected_n, chi2_term)`` plus
    the family columns ``(chi2, df, p_value, srm_flag)`` repeated per
    row — a goodness-of-fit chi-square of observed arm counts against
    ``expected`` shares (default: equal split across the observed
    arms). A significant p (below the conventionally strict
    ``alpha`` = 0.001 — traffic splits have huge n, so real SRM shows
    up at extreme significance) means the ASSIGNMENT is broken and
    every downstream metric is invalid.

    The survival function is
    :func:`~bigdata_kafka_2_spark.operators.mathfn.chi2_sf_col` —
    BOTH df parities supported (arms−1 up to 17 arms), so a 4-arm
    split (df = 3, odd) hashes cross-engine, which the even-only
    closed form never could. One map-side-combined count aggregate
    (|arms| rows); per-arm terms round 9 dp and sum in exact
    DECIMAL(38,9); the family scalars broadcast back onto the
    |arms|-row output.
    """
    arm = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("string")
    per = df.groupBy(arm.alias("arm")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return srm_from_counts(per, expected=expected, alpha=alpha)


def srm_from_counts(
    per: DataFrame,
    expected: dict[str, float] | None = None,
    alpha: float = 0.001,
) -> DataFrame:
    """:func:`srm_check`'s count-consuming core: ``per`` is one row
    per arm ``(arm, n)`` — the shape a MERGEABLE streaming count
    ingest maintains (``streaming.ingest.run_streaming_counts``), so
    the SRM gate can run on live accumulating traffic without ever
    rescanning the event stream.

    With an explicit ``expected`` dict the arm UNIVERSE is the dict:
    an expected arm with zero observed traffic is densified in with
    ``n = 0`` so it contributes its full ``E`` to chi2 (a dead arm is
    exactly the mismatch SRM exists to catch), and an OBSERVED arm
    absent from ``expected`` raises ``ValueError`` — silently
    dropping its term while inflating df would mask the breakage.
    The check is one bounded anti-join collect over the (tiny,
    one-row-per-arm) count table.
    """
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col

    if expected is not None:
        total_share = float(sum(expected.values()))
        exp_df = per.sparkSession.createDataFrame(
            [(str(k), float(v) / total_share)
             for k, v in sorted(expected.items())],
            "arm string, expected_share double",
        )
        unknown = sorted(
            r["arm"]
            for r in per.join(
                F.broadcast(exp_df), on="arm", how="left_anti"
            ).select("arm").collect()
        )
        if unknown:
            raise ValueError(
                "srm_from_counts: observed arm(s) not in expected: "
                f"{unknown} — fix the expected shares or the "
                "assignment; dropping them would silently bias chi2"
            )
        per = exp_df.join(
            per.select("arm", "n"), on="arm", how="left"
        ).select(
            "arm",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            "expected_share",
        )
    else:
        n_arms = per.agg(F.count(F.lit(1))).collect()[0][0]
        per = per.withColumn(
            "expected_share", F.lit(1.0 / float(n_arms))
        )
    tot = per.agg(F.sum("n").alias("__N"))
    j = per.crossJoin(F.broadcast(tot))
    exp_n = F.col("expected_share") * F.col("__N").cast("double")
    term = F.round(
        (F.col("n").cast("double") - exp_n)
        * (F.col("n").cast("double") - exp_n)
        / exp_n,
        9,
    ).cast("decimal(38,9)")
    rows = j.select(
        "arm",
        "n",
        "expected_share",
        exp_n.alias("__en"),
        term.alias("__t"),
    )
    fam = rows.agg(
        F.sum("__t").alias("__x2"),
        F.count(F.lit(1)).alias("__k"),
    )
    x = F.col("__x2").cast("double")
    dfree = (F.col("__k") - 1).cast("int")
    fam_cols = fam.select(
        F.round(x, 6).alias("chi2"),
        dfree.cast("long").alias("df"),
        F.round(chi2_sf_col(x, dfree), 9).alias("p_value"),
    ).withColumn(
        "srm_flag", F.col("p_value") < F.lit(float(alpha))
    )
    return (
        rows.crossJoin(F.broadcast(fam_cols))
        .select(
            "arm",
            F.col("n").cast("long").alias("n"),
            F.round("expected_share", 6).alias("expected_share"),
            F.round("__en", 2).alias("expected_n"),
            F.round(F.col("__t").cast("double"), 6).alias("chi2_term"),
            "chi2",
            "df",
            "p_value",
            "srm_flag",
        )
    )


def cuped_adjusted_ate(
    df: DataFrame,
    arm_col,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance-reduced treatment-effect estimate (Deng,
    Xu, Kohavi & Walker, WSDM 2013): one row ``(n_t, n_c, theta,
    ate_raw, ate_cuped, var_reduction)`` where the pre-experiment
    covariate X adjusts the metric Y,

        θ = Cov(X, Y) / Var(X)          (pooled over both arms)
        Y' = Y − θ·(X − mean X)
        ATE_cuped = mean(Y'|treat) − mean(Y'|control)

    — the industry-standard variance-reduction for online
    experiments (≈ρ² of the metric variance removed, reported as
    ``var_reduction``). The point estimate is unbiased for the same
    ATE because E[X] is arm-independent under randomization; the
    gain is narrower confidence bands, i.e. shorter experiments.

    ONE map-side-combined aggregate computes every moment (per-arm
    sums + pooled cross-moments) as exact DECIMAL of 4-dp-rounded
    inputs / 9-dp-rounded products; θ and the adjusted means are
    row-local double arithmetic on the 1-row result, rounded 6 dp —
    engine-identical. Degenerate inputs (an empty arm or zero
    covariate variance) return NULL adjusted columns.
    """
    a = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("boolean")
    dec = "decimal(38,4)"
    dec9 = "decimal(38,9)"
    xv = F.round(F.col(covariate_col).cast("double"), 4).cast(dec)
    yv = F.round(F.col(metric_col).cast("double"), 4).cast(dec)
    xy = F.round(
        F.col(covariate_col).cast("double")
        * F.col(metric_col).cast("double"),
        9,
    ).cast(dec9)
    xx = F.round(
        F.col(covariate_col).cast("double")
        * F.col(covariate_col).cast("double"),
        9,
    ).cast(dec9)
    yy = F.round(
        F.col(metric_col).cast("double")
        * F.col(metric_col).cast("double"),
        9,
    ).cast(dec9)
    agg = df.agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("__nt"),
        F.sum(F.when(a, 0).otherwise(1)).alias("__nc"),
        F.sum(xv).alias("__sx"),
        F.sum(yv).alias("__sy"),
        F.sum(xy).alias("__sxy"),
        F.sum(xx).alias("__sxx"),
        F.sum(yy).alias("__syy"),
        F.sum(F.when(a, yv)).alias("__syt"),
        F.sum(F.when(~a, yv)).alias("__syc"),
        F.sum(F.when(a, xv)).alias("__sxt"),
        F.sum(F.when(~a, xv)).alias("__sxc"),
    )
    nt = F.col("__nt").cast("double")
    nc = F.col("__nc").cast("double")
    n = nt + nc
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = F.col("__sxy").cast("double") - sx * sy / n
    varx = F.col("__sxx").cast("double") - sx * sx / n
    vary = F.col("__syy").cast("double") - sy * sy / n
    theta = cov / varx
    ate_raw = (
        F.col("__syt").cast("double") / nt
        - F.col("__syc").cast("double") / nc
    )
    ate_cuped = ate_raw - theta * (
        F.col("__sxt").cast("double") / nt
        - F.col("__sxc").cast("double") / nc
    )
    rho2 = cov * cov / (varx * vary)
    ok = (F.col("__nt") > 0) & (F.col("__nc") > 0) & (varx > 0) & (
        vary > 0
    )
    return agg.select(
        F.col("__nt").cast("long").alias("n_t"),
        F.col("__nc").cast("long").alias("n_c"),
        F.round(F.when(ok, theta), 6).alias("theta"),
        F.round(
            F.when((F.col("__nt") > 0) & (F.col("__nc") > 0), ate_raw),
            6,
        ).alias("ate_raw"),
        F.round(F.when(ok, ate_cuped), 6).alias("ate_cuped"),
        F.round(F.when(ok, rho2), 6).alias("var_reduction"),
    )


def mde_by_group(
    df: DataFrame,
    group_cols: Sequence[str],
    metric_col: str,
    z_alpha: float = 1.959964,
    z_beta: float = 0.841621,
) -> DataFrame:
    """Minimum detectable effect per group (experiment POWER
    planning): one row per group ``(group, n, mean, sd, mde_abs,
    mde_rel)`` with the classic two-sample normal-approximation MDE
    at a 50/50 split of the group's current n,

        MDE = (z_{α/2} + z_β) · sd · √(2 / (n/2))

    (default z literals: two-sided α = 0.05, power = 0.80 — shared
    as plain doubles, no engine quantile call). The planning face of
    the experimentation family: :func:`two_proportion_ztest` and
    :func:`cuped_adjusted_ate` read an experiment out; this says
    what an experiment on THIS segment could even detect — segments
    whose MDE exceeds any plausible effect aren't worth testing.

    ONE map-side-combined aggregate (count + exact-DECIMAL moment
    sums of 4/9-dp-rounded terms) per group; sd uses the n−1 sample
    form; groups with n < 4 return NULL MDE (no meaningful split).
    """
    dec = "decimal(38,4)"
    dec9 = "decimal(38,9)"
    v = F.round(F.col(metric_col).cast("double"), 4).cast(dec)
    v2 = F.round(
        F.col(metric_col).cast("double")
        * F.col(metric_col).cast("double"),
        9,
    ).cast(dec9)
    g = df.groupBy(*list(group_cols)).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v).alias("__s"),
        F.sum(v2).alias("__s2"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    var = (
        F.col("__s2").cast("double") - n * mean * mean
    ) / (n - F.lit(1.0))
    sd = F.sqrt(var)
    mde = (
        F.lit(float(z_alpha) + float(z_beta))
        * sd
        * F.sqrt(F.lit(2.0) / (n / F.lit(2.0)))
    )
    ok = (F.col("__n") >= 4) & (var > 0)
    return g.select(
        *list(group_cols),
        F.col("__n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(F.when(F.col("__n") >= 2, sd), 6).alias("sd"),
        F.round(F.when(ok, mde), 6).alias("mde_abs"),
        F.round(F.when(ok & (mean != 0), mde / mean), 6).alias(
            "mde_rel"
        ),
    )


def kruskal_wallis(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test (Kruskal & Wallis 1952): one row
    ``(n, k, h, h_adj, df, p_value)`` testing whether ``value_col``'s
    distribution differs across the k groups of ``group_col`` — the
    k-SAMPLE completion of the two-sample family
    (:func:`mann_whitney_u` compares two samples; KW is its rank
    machinery generalized, collapsing to MW at k = 2), with the
    tie-corrected statistic referred to chi-square with k−1 degrees
    of freedom via :func:`~bigdata_kafka_2_spark.operators.mathfn.
    chi2_sf_col` (BOTH parities — a 4-group sweep's df = 3 needs the
    odd-df survival).

    ALL-INTEGER rank construction (the :func:`mann_whitney_u`
    discipline): per pooled DISTINCT value, the doubled tie-average
    rank is ``2·C_v + c_v + 1`` with ``C_v`` the exclusive prefix
    count (range-bucketed global_prefix_sum, never a single-partition
    window); each group's doubled rank-sum ``2R_j = Σ_v c_jv·(2C_v +
    c_v + 1)`` is an exact DECIMAL(38,0). Then

        H = 3·Σ_j (2R_j)²/n_j / (N(N+1)) − 3(N+1)
        H_adj = H / (1 − T/(N³−N)),   T = Σ_v (c_v³ − c_v)

    with the per-group quotients rounded 9 dp into exact
    DECIMAL(38,9) before the k-bounded sum, and the final arithmetic
    one double expression transcribed verbatim by the oracle. The
    shuffle carries one row per (group, distinct value) plus one per
    distinct value; everything else is map-side combined.
    """
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("string")
    v = F.col(value_col).cast("double")
    # (group, value) counts feed the value table, the rank join, and
    # through vt the prefix-sum's bounds + offset jobs — materialize
    # once so the fact is scanned exactly once (see spearman_corr).
    gv = pin(
        df.groupBy(g.alias("__g"), v.alias("__v")).agg(
            F.count(F.lit(1)).alias("__cjv")
        )
    )
    vt = gv.groupBy("__v").agg(F.sum("__cjv").alias("__c"))
    dec = "decimal(38,0)"
    pre = global_prefix_sum(vt, "__v", "__c", "__before", sum_type=dec)
    rank2 = (
        F.lit(2).cast(dec) * F.col("__before").cast(dec)
        + F.col("__c").cast(dec)
        + F.lit(1).cast(dec)
    )
    t_term = (
        F.col("__c").cast(dec)
        * F.col("__c").cast(dec)
        * F.col("__c").cast(dec)
        - F.col("__c").cast(dec)
    )
    joined = gv.join(
        pre.select("__v", rank2.alias("__rk2")),
        on="__v",
    )
    per = joined.groupBy("__g").agg(
        F.sum(F.col("__cjv").cast(dec)).alias("__nj"),
        F.sum(F.col("__cjv").cast(dec) * F.col("__rk2")).alias(
            "__r2j"
        ),
    )
    ties = pre.agg(F.sum(t_term).alias("__T"))
    q = F.col("__r2j") * F.col("__r2j")
    term = F.round(
        q.cast("double") / F.col("__nj").cast("double"), 9
    ).cast("decimal(38,9)")
    fam = per.agg(
        F.sum("__nj").alias("__N"),
        F.count(F.lit(1)).alias("__k"),
        F.sum(term).alias("__S"),
    ).crossJoin(F.broadcast(ties))
    Nd = F.col("__N").cast("double")
    h = (
        F.lit(3.0) * F.col("__S").cast("double") / (Nd * (Nd + F.lit(1.0)))
        - F.lit(3.0) * (Nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__T").cast("double") / (
        Nd * Nd * Nd - Nd
    )
    h_adj = h / corr
    # stage h/h_adj/corr as columns before the survival (the q292
    # rule: chi2_sf_col copies its argument into every series term
    # of every df branch — feed it a column reference, not a tree)
    fam = fam.select(
        "__N", "__k",
        h.alias("__h"),
        h_adj.alias("__hadj"),
        corr.alias("__corr"),
    )
    dfree = (F.col("__k") - 1).cast("int")
    ok = (F.col("__k") >= 2) & (F.col("__corr") > 0)
    return fam.select(
        F.col("__N").cast("long").alias("n"),
        F.col("__k").cast("long").alias("k"),
        F.round(F.when(ok, F.col("__h")), 6).alias("h"),
        F.round(F.when(ok, F.col("__hadj")), 6).alias("h_adj"),
        dfree.cast("long").alias("df"),
        F.round(
            F.when(ok, chi2_sf_col(F.col("__hadj"), dfree)), 9
        ).alias("p_value"),
    )


def cronbach_alpha_int(
    df: DataFrame,
    item_cols: Sequence[str],
) -> DataFrame:
    """Cronbach's alpha (Cronbach 1951) over k INTEGER-valued items:
    one row ``(n, k, alpha)`` measuring internal consistency — do the
    items move together, i.e. measure one construct? The
    scale-reliability member of the annotation-quality family
    (:func:`~bigdata_kafka_2_spark.operators.evalmetrics` houses the
    rank agreements; q215's Krippendorff handles coder agreement;
    alpha audits a COMPOSITE SCORE built from several signals, e.g. a
    document quality score summing length/token/diversity counts).

        α = k/(k−1) · (1 − Σ_i σ²_i / σ²_T),   T = Σ_i item_i

    Exactness: items are INTEGER by contract (counts/lengths — the
    composite-score case; asserted by a long cast), so with
    num = n·Σx² − (Σx)² the sample-variance denominators n(n−1)
    cancel between numerator and denominator and
    ``α = k/(k−1)·(1 − Σ num_i / num_T)`` is ONE double division over
    exact DECIMAL(38,0) integer moments — no rounding anywhere before
    the final 6-dp output. Squares multiply at DECIMAL scale 0, where
    Spark's precision-cap rule never reduces scale (overflow fails
    loudly to NULL; see global_prefix_sum's docstring). Degenerate
    inputs (n < 2 or zero total variance) return NULL alpha.
    """
    k = len(list(item_cols))
    if k < 2:
        raise ValueError("cronbach_alpha_int needs >= 2 items")
    dec = "decimal(38,0)"
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(item_cols):
        x = F.col(c).cast("long").cast(dec)
        aggs.append(F.sum(x).alias(f"__s{i}"))
        aggs.append(F.sum(x * x).alias(f"__q{i}"))
    tot = None
    for c in item_cols:
        x = F.col(c).cast("long").cast("decimal(19,0)")
        tot = x if tot is None else tot + x
    aggs.append(F.sum(tot.cast(dec)).alias("__st"))
    aggs.append(
        F.sum(
            (tot.cast(dec) * tot.cast(dec))
        ).alias("__qt")
    )
    agg = df.agg(*aggs)
    n = F.col("__n").cast(dec)
    num_t = (n * F.col("__qt") - F.col("__st") * F.col("__st")).cast(
        "double"
    )
    num_sum = None
    for i in range(k):
        num_i = (
            n * F.col(f"__q{i}") - F.col(f"__s{i}") * F.col(f"__s{i}")
        ).cast("double")
        num_sum = num_i if num_sum is None else num_sum + num_i
    alpha = (
        F.lit(float(k) / float(k - 1))
        * (F.lit(1.0) - num_sum / num_t)
    )
    ok = (F.col("__n") >= 2) & (num_t > 0)
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.round(F.when(ok, alpha), 6).alias("alpha"),
    )


def groupwise_ks_fdr(
    df: DataFrame,
    group_col,
    value_col: str,
    alpha: float = 0.05,
    max_values: int = 1_000_000,
) -> DataFrame:
    """Per-group two-sample Kolmogorov–Smirnov drift sweep with
    Benjamini–Hochberg FDR control ACROSS groups: one row per group
    ``(group, n, d_stat, p_value, p_rank, bh_cutoff, rejected)``
    testing each group's ``value_col`` distribution against the REST
    of the table (the leave-one-out drift question a segment monitor
    actually asks), with the family-wise sweep kept jointly honest by
    BH — the continuous-metric sibling of :func:`groupwise_chi2_fdr`
    (categorical) completing the drift-gate pair.

    EXACT D construction: per pooled DISTINCT value, the group's and
    the pool's INCLUSIVE cumulative counts give

        D_g = max_v |cum_g·n_rest − cum_rest·n_g| / (n_g·n_rest)

    as one integer max over exact DECIMAL(38,0) cross-products (no
    per-row CDF doubles anywhere); the asymptotic p is
    ``Q(λ)`` with λ = (√ne + 0.12 + 0.11/√ne)·D, ne = n_g·n_rest/N
    (Stephens 1970's small-sample correction) via
    :func:`~bigdata_kafka_2_spark.operators.mathfn.ks_sf_col`.

    Plan: the evaluation grid is |groups|·|distinct values| rows
    (LINEAR in distinct values with a |groups| constant — the CDF
    difference can peak at another group's change point, so the full
    grid is the exact form); per-group cumulatives ride a
    group-partitioned window whose state is the group's grid slice.
    ``max_values`` (default 1e6) asserts the grid stays executor-
    friendly — bucket the metric first (e.g. ``F.round(v, 2)``) for
    unbounded-cardinality values, which keeps D exact FOR THE
    BUCKETED metric (the drift gate's usual contract). BH ranks over
    the |groups|-row test table exactly as the chi-square gate does.
    """
    from pyspark.sql import Window

    from bigdata_kafka_2_spark.operators.mathfn import ks_sf_col
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("string")
    v = F.col(value_col).cast("double")
    # (group, value) counts feed the cardinality guard, the value
    # table's prefix-sum (bounds + offset jobs), the grid join, and
    # the total — materialize once so the fact is scanned exactly
    # once (see spearman_corr); N also derives from it, replacing a
    # second full-fact aggregate.
    gv = pin(
        df.groupBy(g.alias("__g"), v.alias("__v")).agg(
            F.count(F.lit(1)).alias("__cgv")
        )
    )
    vt = gv.groupBy("__v").agg(F.sum("__cgv").alias("__cv"))
    n_vals = vt.count()
    if n_vals > int(max_values):
        raise ValueError(
            f"groupwise_ks_fdr: {n_vals} distinct values exceed "
            f"max_values={max_values}; bucket the metric first "
            "(the grid is |groups| x |distinct values|)"
        )
    dec = "decimal(38,0)"
    pooled = global_prefix_sum(vt, "__v", "__cv", "__pb", sum_type=dec)
    pooled = pooled.withColumn(
        "__cum_all", F.col("__pb") + F.col("__cv").cast(dec)
    )
    groups = gv.groupBy("__g").agg(
        F.sum("__cgv").cast(dec).alias("__ng")
    )
    grid = pooled.select("__v", "__cum_all").crossJoin(
        F.broadcast(groups)
    )
    grid = grid.join(gv, on=["__g", "__v"], how="left").withColumn(
        "__c", F.coalesce(F.col("__cgv"), F.lit(0)).cast(dec)
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_g = F.sum("__c").over(w)
    tot = gv.agg(F.sum("__cgv").alias("__N"))
    scored = grid.select(
        "__g",
        "__ng",
        cum_g.alias("__cg"),
        F.col("__cum_all"),
    ).crossJoin(F.broadcast(tot))
    nr = F.col("__N").cast(dec) - F.col("__ng")
    cum_r = F.col("__cum_all") - F.col("__cg")
    dint = F.abs(F.col("__cg") * nr - cum_r * F.col("__ng"))
    per = scored.groupBy("__g").agg(
        F.max("__ng").alias("__ngv"),
        F.max(nr).alias("__nrv"),
        F.max(dint).alias("__dmax"),
    )
    ngd = F.col("__ngv").cast("double")
    nrd = F.col("__nrv").cast("double")
    d_stat = F.col("__dmax").cast("double") / (ngd * nrd)
    ne = ngd * nrd / (ngd + nrd)
    lam = (
        F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)
    ) * d_stat
    p_val = F.when(
        (F.col("__ngv") > 0) & (F.col("__nrv") > 0),
        F.round(ks_sf_col(lam), 9),
    )
    tests = per.select(
        "__g",
        F.col("__ngv").cast("long").alias("n"),
        F.round(d_stat, 6).alias("d_stat"),
        p_val.alias("__p"),
    )
    # BH over the |groups|-row table (the groupwise_chi2_fdr shape)
    wr = Window.orderBy(F.col("__p").asc_nulls_last(), F.col("__g").asc())
    ranked = tests.withColumn("__r", F.row_number().over(wr))
    m_tests = ranked.agg(
        F.sum(F.when(F.col("__p").isNotNull(), 1).otherwise(0)).alias(
            "__m"
        )
    )
    j = ranked.crossJoin(F.broadcast(m_tests))
    cutoff = F.round(
        F.lit(float(alpha)) * F.col("__r").cast("double")
        / F.col("__m").cast("double"),
        9,
    )
    flagged = j.withColumn(
        "__ok",
        F.when(
            F.col("__p").isNotNull() & (F.col("__p") <= cutoff),
            F.col("__r"),
        ),
    )
    rstar = flagged.agg(
        F.coalesce(F.max("__ok"), F.lit(0)).alias("__rstar")
    )
    return (
        flagged.crossJoin(F.broadcast(rstar))
        .select(
            F.col("__g").alias(group_col if isinstance(group_col, str) else "group"),
            "n",
            "d_stat",
            F.col("__p").alias("p_value"),
            F.col("__r").cast("long").alias("p_rank"),
            cutoff.alias("bh_cutoff"),
            (
                F.col("__p").isNotNull()
                & (F.col("__r") <= F.col("__rstar"))
            ).alias("rejected"),
        )
    )


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Tie-corrected Spearman rank correlation (Spearman 1904): one
    row ``(n, rho)`` — Pearson's correlation computed on mid-ranks,
    the MONOTONE-association member next to the mirror's Pearson
    (q98): it sees any monotone relationship where Pearson sees only
    linear, and heavy-tailed metrics can't distort it. The
    feature-screening companion to :func:`mann_whitney_u`'s
    two-sample shape on the same exact rank machinery.

    ALL-INTEGER rank construction, attached IN PLACE (r14 plan): the
    FACT table reduces to one map-side-combined (x, y) pair-count
    table first (scanned once, pinned — the q228
    precedent), then each variable's DOUBLED mid-rank ``2·C_v + c_v
    + 1`` rides the pair table itself through ONE value-aligned
    range-bucketed shuffle per variable: a RANGE-frame window pair
    on the same sort — peers-inclusive running count S≤ and
    peers-only count c_v — gives ``2·(S≤ + bucket_off) − c_v + 1``
    with the bucket offsets folded in as a bounded 64×64 broadcast
    triangle join. No per-variable rank TABLE and no join-back: the
    r13 shape built two distinct-value rank tables and shuffled the
    pair table against each (six exchanges); this one is two
    shuffles and an aggregate. Both variables' bucket bounds come
    from a single multi-column approxQuantile pass, so the whole
    operator is the sketch job (which materializes the pin) and the
    aggregate.
    Window running counts are LONG (bounded by the row count, which
    physically fits a long); every Pearson moment — Σc·(2r_x),
    Σc·(2r_x)², Σc·(2r_x)(2r_y) — accumulates as exact DECIMAL(38,0)
    weighted by the pair counts (the factor 2 cancels in the
    correlation ratio). One double expression at the end, rounded
    6 dp, transcribed verbatim by the oracle. NULL rho when either
    variable is constant (zero rank variance).
    """
    from pyspark.sql import Window

    from bigdata_kafka_2_spark.operators.relational import (
        _range_bucket,
        _shuffle_partitions,
    )

    dec = "decimal(38,0)"
    pairs = pin(
        df.groupBy(
            F.col(x_col).cast("double").alias("__x"),
            F.col(y_col).cast("double").alias("__y"),
        ).agg(F.count(F.lit(1)).alias("__cp"))
    )

    nb = min(_shuffle_partitions(pairs), 64)
    bx, by = pairs.stat.approxQuantile(
        ["__x", "__y"], [i / nb for i in range(1, nb)], 0.001
    )

    def attach_rank2(src_df: DataFrame, src: str, out: str, bnds):
        b, eff = _range_bucket(src_df, src, nb, bnds)
        off = F.lit(0).cast("long")
        if eff > 1:
            bs = b.groupBy("__bkt").agg(
                F.sum("__cp").cast("long").alias("__bs")
            )
            lower = bs.select(
                F.col("__bkt").alias("__lb"),
                F.col("__bs").alias("__lbs"),
            )
            offs = (
                bs.select("__bkt")
                .join(
                    F.broadcast(lower),
                    F.col("__lb") < F.col("__bkt"),
                    "left",
                )
                .groupBy("__bkt")
                .agg(
                    F.coalesce(F.sum("__lbs"), F.lit(0))
                    .cast("long")
                    .alias("__off")
                )
            )
            b = b.join(F.broadcast(offs), on="__bkt", how="left")
            off = F.col("__off")
        ws = Window.partitionBy("__bkt").orderBy(src)
        s_le = F.sum("__cp").over(
            ws.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c_eq = F.sum("__cp").over(
            ws.rangeBetween(Window.currentRow, Window.currentRow)
        )
        r2 = (
            F.lit(2).cast(dec) * (s_le + off).cast(dec)
            - c_eq.cast(dec)
            + F.lit(1).cast(dec)
        )
        return b.withColumn(out, r2).drop("__bkt", "__off")

    rows = attach_rank2(
        attach_rank2(pairs, "__x", "__rx", bx), "__y", "__ry", by
    )
    c = F.col("__cp").cast(dec)
    agg = rows.agg(
        F.sum(c).alias("__n"),
        F.sum(c * F.col("__rx")).alias("__sx"),
        F.sum(c * F.col("__ry")).alias("__sy"),
        F.sum(c * F.col("__rx") * F.col("__rx")).alias("__sxx"),
        F.sum(c * F.col("__ry") * F.col("__ry")).alias("__syy"),
        F.sum(c * F.col("__rx") * F.col("__ry")).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    cov = F.col("__sxy").cast("double") - sx * sy / n
    vx = F.col("__sxx").cast("double") - sx * sx / n
    vy = F.col("__syy").cast("double") - sy * sy / n
    rho = cov / F.sqrt(vx * vy)
    ok = (vx > 0) & (vy > 0)
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.round(F.when(ok, rho), 6).alias("rho"),
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Gini coefficient of a NONNEGATIVE money/measure column
    (concentration of spend across customers, of tokens across
    documents, of traffic across keys — the skew number a capacity
    or fairness review reads, and the shuffle-skew early warning for
    the salting machinery): one row ``(n, total, gini)``, 0 = evenly
    spread, →1 = one unit holds everything.

    EXACT mid-rank construction on the q275 machinery: values round
    to cents (2 dp, the money rule) and group to one row per
    DISTINCT cents value; the doubled tie-averaged rank per value is
    ``2·C_v + c_v + 1`` from the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum`; then the tie-correct rank formulation

        G = Σ_v v·c_v·(2C_v + c_v + 1) / (n·Σv·c_v) − (n + 1)/n

    accumulates every product as exact DECIMAL(38,0) and divides
    ONCE at the end (rounded 6 dp) — engine- and partitioning-
    identical. Rows with NULL values are excluded; negative values
    raise (the Lorenz construction is undefined there); NULL gini
    when n = 0 or total = 0.

    Plan: one map-side-combined value-count aggregate ends the
    data-sized work; the prefix sum and moment aggregate run on the
    distinct-value table.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    dec = "decimal(38,0)"
    cents = (
        F.round(F.col(value_col).cast("double"), 2)
        .cast("decimal(18,2)")
        * 100
    ).cast("long")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(cents.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    neg = g.filter(F.col("__v") < 0).limit(1).count()
    if neg:
        raise ValueError(
            "gini_coefficient requires nonnegative values "
            "(the Lorenz curve is undefined below zero)"
        )
    pre = global_prefix_sum(g, "__v", "__c", "__b")
    r2 = (
        F.lit(2).cast(dec) * F.col("__b").cast(dec)
        + F.col("__c").cast(dec)
        + F.lit(1).cast(dec)
    )
    agg = pre.agg(
        F.sum(F.col("__c").cast(dec)).alias("__n"),
        F.sum(F.col("__v").cast(dec) * F.col("__c").cast(dec)).alias(
            "__s"
        ),
        F.sum(
            F.col("__v").cast(dec) * F.col("__c").cast(dec) * r2
        ).alias("__rs"),
    )
    n = F.col("__n").cast("double")
    ok = (F.col("__n") > 0) & (F.col("__s") > 0)
    gini = (
        F.col("__rs").cast("double")
        / (n * F.col("__s").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__s").cast("double") / 100.0, 2).alias("total"),
        F.round(F.when(ok, gini), 6).alias("gini"),
    )


def trimmed_winsorized_mean(
    df: DataFrame,
    value_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Robust central-tendency readout: one row ``(n, k_trim,
    trimmed_mean, winsorized_mean, lo_bound, hi_bound)`` where the
    α-trimmed mean drops the ⌊αn⌋ smallest and largest observations
    and the winsorized mean CLAMPS them to the surviving boundary
    order statistics instead — the metric pair an experiment readout
    publishes when a heavy-tailed metric (revenue, latency) makes
    the raw mean one whale away from flipping sign.

    EXACT selection arithmetic, no sort: values round to cents and
    group per distinct value with exclusive prefix counts C_v
    (range-bucketed :func:`global_prefix_sum`); with k = ⌊αn⌋,
    lo = k, hi = n − k, each value contributes

        kept_v = max(0, min(C_v + c_v, hi) − max(C_v, lo))

    occurrences to the trimmed interior — pure integer interval
    overlap, so ties at the trim boundary resolve identically on
    both engines by construction. The winsorized sum adds k·L + k·U
    with L/U the (k+1)-th / (n−k)-th order statistics (conditional
    mins over the same prefix table). DECIMAL(38,0) cent sums, one
    double division each at the end (4 dp). Since k = ⌊αn⌋ < n/2
    the trimmed interior is nonempty for every nonempty input; an
    EMPTY input returns one all-NULL row.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    if not 0.0 <= float(alpha) < 0.5:
        raise ValueError("alpha must be in [0, 0.5)")
    dec = "decimal(38,0)"
    cents = (
        F.round(F.col(value_col).cast("double"), 2)
        .cast("decimal(18,2)")
        * 100
    ).cast("long")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(cents.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    pre = pin(global_prefix_sum(g, "__v", "__c", "__b"))
    tot = pre.agg(F.sum("__c").alias("__n"))
    j = pre.crossJoin(F.broadcast(tot))
    k = F.floor(F.lit(float(alpha)) * F.col("__n")).cast("long")
    lo = k
    hi = F.col("__n") - k
    kept = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__b") + F.col("__c"), hi)
        - F.greatest(F.col("__b"), lo),
    )
    agg = j.agg(
        F.max("__n").alias("__nv"),
        F.max(k).alias("__k"),
        F.sum(F.col("__v").cast(dec) * kept.cast(dec)).alias("__ts"),
        F.sum(kept.cast(dec)).alias("__tn"),
        F.min(
            F.when(F.col("__b") + F.col("__c") >= k + 1, F.col("__v"))
        ).alias("__L"),
        F.min(
            F.when(
                F.col("__b") + F.col("__c") >= F.col("__n") - k,
                F.col("__v"),
            )
        ).alias("__U"),
    )
    tmean = F.col("__ts").cast("double") / (
        F.col("__tn").cast("double") * 100.0
    )
    wsum = (
        F.col("__ts").cast("double")
        + F.col("__k").cast("double") * F.col("__L").cast("double")
        + F.col("__k").cast("double") * F.col("__U").cast("double")
    )
    wmean = wsum / (F.col("__nv").cast("double") * 100.0)
    ok = F.col("__tn") > 0
    return agg.select(
        F.col("__nv").cast("long").alias("n"),
        F.col("__k").cast("long").alias("k_trim"),
        F.round(F.when(ok, tmean), 4).alias("trimmed_mean"),
        F.round(F.when(ok, wmean), 4).alias("winsorized_mean"),
        F.round(F.col("__L").cast("double") / 100.0, 2).alias(
            "lo_bound"
        ),
        F.round(F.col("__U").cast("double") / 100.0, 2).alias(
            "hi_bound"
        ),
    )


def ratio_metric_delta_ci(
    df: DataFrame,
    arm_col,
    unit_col: str,
    num_col: str,
    den_col,
) -> DataFrame:
    """Per-arm RATIO metric with a delta-method confidence interval
    (Deng, Knoblich & Lu, KDD 2018's practical guidance): one row
    per arm ``(arm, n_units, num, den, ratio, se, ci_lo, ci_hi)``
    for metrics of the form Σy/Σx — revenue per order, clicks per
    session — where the naive per-ROW variance is wrong because the
    unit of randomization (user) contributes many correlated rows.

        R = ȳ/x̄,  Var(R) ≈ (s²_y − 2R·s_xy + R²·s²_x) / (n·x̄²)

    with s² the unit-level sample (co)variances. Rows aggregate to
    the randomization unit FIRST (one map-side-combined groupBy);
    unit numerators round 4 dp into exact DECIMAL(18,4), so every
    square/cross-product is an EXACT DECIMAL(37,8) — the ideal
    18+18+1 precision fits under 38, so Spark never trips the
    allowPrecisionLoss scale reduction (the r13 digit-loss class);
    the variance is one double expression on the per-arm 1-row
    moments, CI = R ± 1.959963984540054·se (the two-sided 95%
    normal literal, shared verbatim with the oracle). NULL se/CI
    when an arm has < 2 units or x̄ = 0.
    """
    a = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("string")
    y = F.col(num_col).cast("double")
    x = (
        F.col(den_col) if isinstance(den_col, str) else den_col
    ).cast("double")
    units = df.groupBy(
        a.alias("arm"), F.col(unit_col).alias("__u")
    ).agg(
        F.round(F.sum(y), 4).cast("decimal(18,4)").alias("__y"),
        F.round(F.sum(x), 4).cast("decimal(18,4)").alias("__x"),
    )
    per = units.groupBy("arm").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").alias("__sy"),
        F.sum("__x").alias("__sx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__x")).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sy = F.col("__sy").cast("double")
    sx = F.col("__sx").cast("double")
    vy = (F.col("__syy").cast("double") - sy * sy / n) / (n - 1.0)
    vx = (F.col("__sxx").cast("double") - sx * sx / n) / (n - 1.0)
    cxy = (F.col("__sxy").cast("double") - sx * sy / n) / (n - 1.0)
    xbar = sx / n
    r = sy / sx
    var_r = (vy - 2.0 * r * cxy + r * r * vx) / (n * xbar * xbar)
    se = F.sqrt(var_r)
    z = F.lit(1.959963984540054)
    ok = (F.col("__n") >= 2) & (sx != 0) & (var_r >= 0)
    return per.select(
        "arm",
        F.col("__n").cast("long").alias("n_units"),
        F.round(sy, 4).alias("num"),
        F.round(sx, 4).alias("den"),
        F.round(F.when(sx != 0, r), 6).alias("ratio"),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(F.when(ok, r - z * se), 6).alias("ci_lo"),
        F.round(F.when(ok, r + z * se), 6).alias("ci_hi"),
    )


def msprt_always_valid_p(
    df: DataFrame,
    arm_col,
    metric_col: str,
    tau: float = 1.0,
) -> DataFrame:
    """Mixture sequential probability ratio test (Johari, Koomen,
    Pekelis & Walsh 2017 — "peeking-proof" A/B readout): one row
    ``(n_a, n_b, diff, var_hat, lam, p_always_valid, significant)``
    giving the ALWAYS-VALID p-value for the difference in means
    under a N(0, τ²) mixture prior,

        Λ = √(V/(V+τ²)) · exp(θ̂²·τ² / (2V(V+τ²))),
        p = min(1, 1/Λ),   V = s²_pooled·(1/n_a + 1/n_b)

    — valid at EVERY interim look, so a dashboard refreshing on live
    traffic (the streaming-SRM companion) can stop the moment it
    crosses α without inflating false positives, which the fixed-n
    z-test (q264) cannot offer.

    One map-side-combined aggregate (4-dp-rounded DECIMAL(18,4)
    metrics, squares as EXACT DECIMAL(37,8) — ideal precision under
    38, so no allowPrecisionLoss scale reduction); Λ is one double
    expression on the 1-row result. NULL p when either arm has < 2
    units or the pooled variance is 0. ``significant`` is p < 0.05.
    """
    a = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("boolean")
    m = F.round(F.col(metric_col).cast("double"), 4).cast(
        "decimal(18,4)"
    )
    agg = df.filter(a.isNotNull() & m.isNotNull()).agg(
        F.sum(F.when(a, 1).otherwise(0)).alias("__na"),
        F.sum(F.when(~a, 1).otherwise(0)).alias("__nb"),
        F.sum(F.when(a, m)).alias("__sa"),
        F.sum(F.when(~a, m)).alias("__sb"),
        F.sum(F.when(a, m * m)).alias("__saa"),
        F.sum(F.when(~a, m * m)).alias("__sbb"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    sa = F.col("__sa").cast("double")
    sb = F.col("__sb").cast("double")
    ssa = F.col("__saa").cast("double") - sa * sa / na
    ssb = F.col("__sbb").cast("double") - sb * sb / nb
    s2 = (ssa + ssb) / (na + nb - 2.0)
    v = s2 * (1.0 / na + 1.0 / nb)
    diff = sa / na - sb / nb
    t2 = F.lit(float(tau) * float(tau))
    lam = F.sqrt(v / (v + t2)) * F.exp(
        diff * diff * t2 / (2.0 * v * (v + t2))
    )
    p = F.least(F.lit(1.0), 1.0 / lam)
    ok = (F.col("__na") >= 2) & (F.col("__nb") >= 2) & (s2 > 0)
    return agg.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.round(diff, 6).alias("diff"),
        # 4 dp, not 9: V of a money metric sits near 1e6-1e7, and 9
        # fractional digits would push past double's exact-decimal
        # band (the q292 pooled_var lesson).
        F.round(F.when(ok, v), 4).alias("var_hat"),
        F.round(F.when(ok, lam), 6).alias("lam"),
        F.round(F.when(ok, p), 9).alias("p_always_valid"),
        F.when(ok, p < 0.05).alias("significant"),
    )


def theil_index(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index of a NONNEGATIVE money/measure column
    (Theil 1967): one row ``(n, total, theil)`` —

        T = (1/n) Σ (xᵢ/μ)·ln(xᵢ/μ)

    0 = perfectly even, ln(n) = one unit holds everything. The
    entropy-based companion of :func:`gini_coefficient`: unlike
    Gini it is additively DECOMPOSABLE into between-group +
    within-group terms, which is why fairness and concentration
    audits that need per-segment attribution prefer it. Zero values
    contribute 0 (the x·ln x → 0 limit); negatives raise.

    Exactness: values round to cents and group to one row per
    DISTINCT cents value (the data-sized work ends at that map-side-
    combined aggregate); μ is an exact DECIMAL cent ratio on a
    bounded 1-row broadcast; each distinct value's c·(v/μ)·ln(v/μ)
    rounds 9 dp into exact DECIMAL(38,9) (the single libm log runs
    on identical IEEE ratios both engines — the KM ln-parity rule),
    and T divides once at the end (6 dp).
    """
    dec = "decimal(38,0)"
    cents = (
        F.round(F.col(value_col).cast("double"), 2)
        .cast("decimal(18,2)")
        * 100
    ).cast("long")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(cents.alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    neg = g.filter(F.col("__v") < 0).limit(1).count()
    if neg:
        raise ValueError(
            "theil_index requires nonnegative values "
            "(x*ln(x) is undefined below zero)"
        )
    tot = g.agg(
        F.sum(F.col("__c").cast(dec)).alias("__n"),
        F.sum(F.col("__v").cast(dec) * F.col("__c").cast(dec)).alias(
            "__s"
        ),
    )
    j = g.crossJoin(F.broadcast(tot))
    mu = F.col("__s").cast("double") / F.col("__n").cast("double")
    ratio = F.col("__v").cast("double") / mu
    term = F.when(
        F.col("__v") > 0,
        F.round(
            F.col("__c").cast("double") * ratio * F.log(ratio), 9
        ),
    ).otherwise(F.lit(0.0))
    agg = j.agg(
        F.max("__n").alias("__nv"),
        F.max("__s").alias("__sv"),
        F.sum(term.cast("decimal(38,9)")).alias("__t"),
    )
    ok = (F.col("__nv") > 0) & (F.col("__sv") > 0)
    return agg.select(
        F.col("__nv").cast("long").alias("n"),
        F.round(F.col("__sv").cast("double") / 100.0, 2).alias(
            "total"
        ),
        F.round(
            F.when(
                ok,
                F.col("__t").cast("double")
                / F.col("__nv").cast("double"),
            ),
            6,
        ).alias("theil"),
    )


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Kendall's τ-b rank correlation with tie correction (Kendall
    1945) for BOUNDED-cardinality ordinal pairs: one row ``(n,
    concordant, discordant, tau_b)`` — the third member of the
    association family (q98 Pearson: linear; q275 Spearman: monotone
    via ranks; τ-b: pairwise order agreement, the most robust and
    the natural one for ordinal scales like ratings × buckets).

    CONTRACT: both columns must have bounded distinct-value spaces
    (ratings, buckets, small integer grades) — the fact table
    reduces to a |X|·|Y|-cell contingency table FIRST (one map-side-
    combined aggregate; the data-sized work ends there), and the
    concordant/discordant mass comes from the CELL-pair triangle
    join (|X|·|Y|)² — bounded by the VALUE SPACE, independent of
    row count (the q276 linear-kappa marginal-join class).

        τ_b = (P − Q) / √((n₀ − n₁)(n₀ − n₂))

    computed in DOUBLED integer units (n(n−1), Σt(t−1) — halving
    cancels in the ratio) so every term is exact DECIMAL(38,0);
    ONE double sqrt+division at the end (6 dp). NULL τ when either
    margin is fully tied. Rows with NULLs are excluded.
    """
    x = F.col(x_col)
    y = F.col(y_col)
    rows = df.filter(x.isNotNull() & y.isNotNull())
    cells = pin(
        rows.groupBy(x.alias("__x"), y.alias("__y"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    dec = "decimal(38,0)"
    a = cells.select(
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__c").alias("__ca"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__c").alias("__cb"),
    )
    prod = F.col("__ca").cast(dec) * F.col("__cb").cast(dec)
    pq = (
        a.join(F.broadcast(b), F.col("__xb") > F.col("__xa"))
        .agg(
            F.sum(
                F.when(F.col("__yb") > F.col("__ya"), prod)
            ).alias("__p"),
            F.sum(
                F.when(F.col("__yb") < F.col("__ya"), prod)
            ).alias("__q"),
        )
    )
    nx = cells.groupBy("__x").agg(F.sum("__c").alias("__t"))
    ny = cells.groupBy("__y").agg(F.sum("__c").alias("__t"))

    def tie_mass(m: DataFrame) -> DataFrame:
        t = F.col("__t").cast(dec)
        return m.agg(
            F.sum(t).alias("__n"),
            F.sum(t * (t - F.lit(1).cast(dec))).alias("__tt"),
        )

    tx = tie_mass(nx).select(
        F.col("__n").alias("__nx"), F.col("__tt").alias("__ttx")
    )
    ty = tie_mass(ny).select(
        F.col("__n").alias("__ny"), F.col("__tt").alias("__tty")
    )
    j = pq.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n = F.col("__nx")
    n0d = n * (n - F.lit(1).cast(dec))  # doubled n0
    d1 = (n0d - F.col("__ttx")).cast("double")
    d2 = (n0d - F.col("__tty")).cast("double")
    p = F.coalesce(F.col("__p"), F.lit(0).cast(dec))
    q = F.coalesce(F.col("__q"), F.lit(0).cast(dec))
    num = F.lit(2.0) * (p - q).cast("double")  # doubled units
    ok = (d1 > 0) & (d2 > 0)
    return j.select(
        n.cast("long").alias("n"),
        p.cast("long").alias("concordant"),
        q.cast("long").alias("discordant"),
        F.round(
            F.when(ok, num / F.sqrt(d1 * d2)), 6
        ).alias("tau_b"),
    )


def bartlett_test(
    df: DataFrame,
    group_col,
    value_col: str,
) -> DataFrame:
    """Bartlett's test of variance homogeneity across groups
    (Bartlett 1937): one row ``(k, n, pooled_var, chi2, p_value)``
    — the equal-variance gate a pooled analysis (q264's z-test,
    q280's mSPRT, ANOVA-style readouts) should run first, since all
    of them assume one common variance.

        χ² = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C,
        C  = 1 + (Σ 1/(nᵢ−1) − 1/(N−k)) / (3(k−1)),   df = k−1

    with the survival from
    :func:`~bigdata_kafka_2_spark.operators.mathfn.chi2_sf_col`
    (both parities, df ≤ 16 → up to 17 groups; NULL beyond).
    Groups with fewer than 2 observations are EXCLUDED (their
    variance is undefined); NULL χ²/p when k < 2 or any group
    variance is 0 (ln degenerates — the standard contract).

    Exactness: per-group moments are exact DECIMAL of 4/9-dp-
    rounded values (the CUPED discipline); the k-row term table
    sums ln terms rounded 9 dp into DECIMAL(38,9) (bounded rows,
    order-independent); the survival evaluates engine-side on the
    identical double. ONE map-side-combined aggregate over the
    fact table; everything after is |groups|-bounded.
    """
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col

    g = (
        F.col(group_col) if isinstance(group_col, str) else group_col
    ).cast("string")
    v = F.col(value_col).cast("double")
    dec4 = "decimal(38,4)"
    dec9 = "decimal(38,9)"
    per = (
        df.filter(g.isNotNull() & v.isNotNull())
        .groupBy(g.alias("__g"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.round(v, 4).cast(dec4)).alias("__s"),
            F.sum(F.round(v * v, 9).cast(dec9)).alias("__ss"),
        )
        .filter(F.col("__n") >= 2)
    )
    nd = F.col("__n").cast("double")
    var_i = (
        F.col("__ss").cast("double")
        - F.col("__s").cast("double")
        * F.col("__s").cast("double")
        / nd
    ) / (nd - 1.0)
    terms = per.select(
        F.col("__n"),
        var_i.alias("__var"),
        F.round((nd - 1.0) * F.log(var_i), 9).cast(dec9).alias(
            "__t1"
        ),
        F.round(F.lit(1.0) / (nd - 1.0), 9).cast(dec9).alias("__t2"),
        F.round((nd - 1.0) * var_i, 9).cast(dec9).alias("__t3"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).alias("__k"),
        F.sum("__n").alias("__N"),
        F.min("__var").alias("__minvar"),
        F.sum("__t1").alias("__s1"),
        F.sum("__t2").alias("__s2"),
        F.sum("__t3").alias("__s3"),
    )
    kd = F.col("__k").cast("double")
    Nd = F.col("__N").cast("double")
    sp2 = F.col("__s3").cast("double") / (Nd - kd)
    c_corr = F.lit(1.0) + (
        F.col("__s2").cast("double") - F.lit(1.0) / (Nd - kd)
    ) / (F.lit(3.0) * (kd - F.lit(1.0)))
    chi2_expr = ((Nd - kd) * F.log(sp2) - F.col("__s1").cast("double")) \
        / c_corr
    # STAGE chi2 as a column before the survival: chi2_sf_col embeds
    # its argument tree into every series term of every df branch
    # (~1600 copies) — substituting the ~40-node chi2 expression
    # built a ~60k-node plan whose optimizer passes alone cost ~4 s
    # per execution at ONE output row. A column reference keeps the
    # survival tree constant-sized; CollapseProject will not inline
    # a non-cheap alias into many uses, so the staging survives
    # optimization. Values are identical.
    agg = agg.select(
        "__k", "__N", "__minvar", sp2.alias("__sp2"),
        chi2_expr.alias("__chi2"),
    )
    sp2 = F.col("__sp2")
    chi2 = F.col("__chi2")
    ok = (F.col("__k") >= 2) & (F.col("__minvar") > 0)
    p = chi2_sf_col(chi2, (F.col("__k") - 1).cast("int"))
    # pooled_var rounds at 2 dp, NOT 6: a variance of a money column
    # sits near 1e10, and 6 fractional digits would need ~17
    # significant digits — past double precision, so the two engines'
    # re-rounded doubles could differ in the last ulp (caught by the
    # sf0.01 vanilla-session verify). 2 dp keeps the canonical string
    # inside the exact-double band at any realistic magnitude.
    return agg.select(
        F.col("__k").cast("long").alias("k"),
        F.col("__N").cast("long").alias("n"),
        F.round(F.when(ok, sp2), 2).alias("pooled_var"),
        F.round(F.when(ok, chi2), 6).alias("chi2"),
        F.round(F.when(ok, p), 9).alias("p_value"),
    )


def cramers_v(
    df: DataFrame,
    col_a,
    col_b,
) -> DataFrame:
    """Chi-square test of independence + Cramér's V effect size
    (Cramér 1946) between two BOUNDED categorical columns: one row
    ``(n, r, c, chi2, df, p_value, cramers_v)`` — the categorical-
    association member of the correlation family (Pearson/Spearman/
    τ-b are numeric/ordinal; V is the [0,1] strength number for
    nominal × nominal, the segment-vs-segment dependence a mix
    audit reads).

    The full r×c grid INCLUDING zero cells is built from the two
    bounded marginal tables (broadcast cross join — |A|·|B| rows by
    the bounded-cardinality contract, never data-sized), the
    observed counts left-joined in, so structurally-absent cells
    contribute their full E = (rowₐ·colᵦ)/N term. Per-cell
    (O−E)²/E rounds 9 dp into DECIMAL(38,9) over the bounded grid;
    df = (r−1)(c−1) with the survival from
    :func:`~bigdata_kafka_2_spark.operators.mathfn.chi2_sf_col`
    (NULL beyond df 16 — the shared-literal series bound);
    V = √(χ²/(N·min(r−1, c−1))). Rows with NULLs are excluded.
    """
    from bigdata_kafka_2_spark.operators.mathfn import chi2_sf_col

    a = (
        F.col(col_a) if isinstance(col_a, str) else col_a
    ).cast("string")
    b = (
        F.col(col_b) if isinstance(col_b, str) else col_b
    ).cast("string")
    rows = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    cont = rows.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).alias("__o")
    )
    ra = rows.groupBy("__a").agg(F.count(F.lit(1)).alias("__na"))
    cb = rows.groupBy("__b").agg(F.count(F.lit(1)).alias("__nb"))
    grid = (
        ra.crossJoin(F.broadcast(cb))
        .join(cont, on=["__a", "__b"], how="left")
        .select(
            "__a",
            "__b",
            "__na",
            "__nb",
            F.coalesce(F.col("__o"), F.lit(0)).alias("__o"),
        )
    )
    tot = rows.agg(F.count(F.lit(1)).alias("__N"))
    j = grid.crossJoin(F.broadcast(tot))
    e = (
        F.col("__na").cast("double")
        * F.col("__nb").cast("double")
        / F.col("__N").cast("double")
    )
    od = F.col("__o").cast("double")
    term = F.round((od - e) * (od - e) / e, 9).cast("decimal(38,9)")
    agg = j.agg(
        F.max("__N").alias("__n"),
        F.count_distinct(F.col("__a")).alias("__r"),
        F.count_distinct(F.col("__b")).alias("__c"),
        F.sum(term).alias("__chi2"),
    )
    chi2 = F.col("__chi2").cast("double")
    rr = F.col("__r").cast("long")
    cc = F.col("__c").cast("long")
    dfree = ((rr - 1) * (cc - 1)).cast("int")
    nd = F.col("__n").cast("double")
    mindim = F.least(rr - 1, cc - 1).cast("double")
    ok = (rr >= 2) & (cc >= 2)
    p = chi2_sf_col(chi2, dfree)
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        rr.alias("r"),
        cc.alias("c"),
        F.round(F.when(ok, chi2), 6).alias("chi2"),
        F.when(ok, dfree.cast("long")).alias("df"),
        F.round(F.when(ok, p), 9).alias("p_value"),
        F.round(
            F.when(ok, F.sqrt(chi2 / (nd * mindim))), 6
        ).alias("cramers_v"),
    )


