"""Sampling & split operators for training-data pipelines (charter
extension).

Deterministic-by-construction: every split/sample decision is a pure
function of the row's key (seeded ``xxhash64``), never of partitioning
or row order — re-running on re-partitioned (or re-sharded 100 TB)
data yields byte-identical membership, and adding rows never moves
existing rows between splits (the property naive ``randomSplit``
lacks).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin

_BUCKETS = 1_000_000


def hash_bucket(key_col: str, seed: int = 42, buckets: int = _BUCKETS):
    """Stable bucket in [0, buckets) from a seeded xxhash64 of the key."""
    return F.pmod(F.xxhash64(F.col(key_col), F.lit(seed)), F.lit(buckets))


def split_expr(bucket, fractions: Mapping[str, float]):
    """Named-split label from a [0, 1e6) bucket column by hash range
    (``fractions`` must sum to ≤ 1; remainder → last split)."""
    names = list(fractions)
    expr = None
    acc = 0.0
    for name in names[:-1]:
        acc += fractions[name]
        cond = bucket < int(acc * _BUCKETS)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return F.lit(names[-1]) if expr is None else expr.otherwise(F.lit(names[-1]))


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: Mapping[str, float],
    seed: int = 42,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash range.

    ``fractions`` e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}``
    (must sum to ≤ 1; remainder falls into the last split). Membership
    depends only on (key, seed) — stable under re-partitioning,
    appends, and re-runs.
    """
    return df.withColumn(
        out_col, split_expr(hash_bucket(key_col, seed), fractions)
    )


def _cluster_bucketed(
    df, text_col, id_col, jaccard_threshold, seed, bucket_fn, **minhash_kwargs
):
    """``df`` joined to its near-dup cluster map (verified MinHash-LSH
    pairs → :func:`dedup_clusters`), and the [0, 1e6) bucket Column of
    each row's ``cluster_rep`` — ``bucket_fn(rep)`` when given, else
    the seeded xxhash64 bucket. Shared by the leakage-safe split and
    folds, which differ only in how they label the bucket."""
    from bigdata_kafka_2_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_verified_pairs,
    )

    pairs = minhash_lsh_verified_pairs(
        df, text_col, id_col, jaccard_threshold=jaccard_threshold,
        **minhash_kwargs,
    )
    clusters = dedup_clusters(pairs, df.select(id_col), id_col)
    rep = F.col("cluster_rep")
    bucket = (
        bucket_fn(rep)
        if bucket_fn is not None
        else F.pmod(F.xxhash64(rep, F.lit(seed)), F.lit(_BUCKETS))
    )
    return df.join(clusters, on=id_col), bucket


def leakage_safe_split(
    df: DataFrame,
    fractions: Mapping[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    out_col: str = "split",
    bucket_fn=None,
    **minhash_kwargs,
) -> DataFrame:
    """Train/val/test split where DISCOVERED near-duplicate documents
    never straddle a boundary — the leakage guard a naive per-document
    split lacks (a near-copy of a test document in train inflates eval
    scores; dedup-then-split still leaks when dedup keeps one member
    of a pair that crosses the boundary in the undeduped serving set).

    RECALL BOUND (r7 advice): pair discovery is banded MinHash-LSH
    with probabilistic recall — a true pair whose signature collides
    in no band is never discovered and CAN still straddle. The
    no-straddle guarantee is therefore exact over the discovered pair
    graph and holds for all pairs only up to LSH recall at the chosen
    ``(n_hashes, bands)`` vs ``jaccard_threshold`` (recall ≈
    1-(1-t^r)^b; size the bands for the threshold via
    ``**minhash_kwargs`` — at the defaults, pairs at the 0.5
    threshold collide with ≥~96% probability per the banding curve,
    and planted-pair recall is measured in tests). The q79/q81 oracles
    transcribe exact all-pairs Jaccard, so their hash check ALSO
    verifies LSH achieved full recall at grading scale — a
    band-misses-pair event there would surface as a hash mismatch,
    not pass silently.

    Mechanism: verified near-dup pairs (banded MinHash-LSH candidates
    + exact-Jaccard verify) → connected components → every document
    joins its cluster's min-id REPRESENTATIVE, and the split decision
    hashes the representative, so whole clusters move together;
    singletons (the overwhelming mass) hash their own id, identical
    to :func:`hash_split`. Output: input columns + ``cluster_rep`` +
    ``out_col``.

    Scale shape: the pair graph and label propagation touch only the
    dup subgraph (operators/dedup.dedup_clusters); the split itself
    is one broadcast-free equi-join of the cluster map (keyed by id)
    plus a row-local hash — no new shuffle class beyond the dedup
    the pipeline already runs. ``bucket_fn`` (Column → [0,1e6)
    bucket) overrides the production seeded-xxhash64 bucket for the
    oracle gate (q91's portability pattern).
    """
    joined, bucket = _cluster_bucketed(
        df, text_col, id_col, jaccard_threshold, seed, bucket_fn,
        **minhash_kwargs,
    )
    return joined.withColumn(out_col, split_expr(bucket, fractions))


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, seed: int = 42
) -> DataFrame:
    """Keep ~``fraction`` of rows by hash threshold — a repeatable
    Bernoulli sample (same rows every run, any partitioning)."""
    return df.filter(hash_bucket(key_col, seed) < int(fraction * _BUCKETS))


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    seed: int = 42,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample dominant
    languages in a corpus): each stratum keeps its own hash fraction.

    Unlike ``DataFrame.sampleBy`` this is exactly reproducible across
    partitionings and appends (hash threshold, not RNG-per-partition).
    """
    bucket = hash_bucket(key_col, seed)
    keep = None
    for stratum, frac in fractions.items():
        cond = (F.col(strata_col) == stratum) & (bucket < int(frac * _BUCKETS))
        keep = cond if keep is None else keep | cond
    # strata not named in fractions are kept in full
    named = F.col(strata_col).isin(list(fractions))
    return df.filter((~named) | keep)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    key_col: str,
    seed: int = 42,
    u=None,
) -> DataFrame:
    """Weighted sample WITHOUT replacement of size ``k`` — the
    Efraimidis–Spirakis A-ES scheme: each row draws an exponential
    order key ``-ln(u) / w`` (u a hash-derived uniform, w the weight)
    and the ``k`` smallest keys win. Inclusion probability rises with
    weight; the single pass is a ``TakeOrderedAndProject`` (per-
    partition heaps of k), no global sort, no shuffle beyond the final
    k-row merge — the quality-weighted corpus-subsampling primitive
    (sample documents proportionally to a quality score).

    Deterministic for a fixed (key, seed): re-runs and re-partitions
    yield the same sample (the engine's sampling contract). Rows with
    weight <= 0 never win. ``u`` overrides the uniform column (the
    oracle-transcribable md5_15 uniform for hash-checked queries;
    default is the production seeded-xxhash64 bucket).
    """
    if u is None:
        u = (hash_bucket(key_col, seed, _BUCKETS) + 1) / F.lit(
            float(_BUCKETS + 1)
        )  # uniform in (0, 1]
    ekey = -F.log(u) / F.col(weight_col).cast("double")
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("__ekey", ekey)
        .orderBy(F.col("__ekey").asc(), F.col(key_col).asc())
        .limit(k)
        .drop("__ekey")
    )


def temperature_mixture_weights(
    df: DataFrame,
    group_cols: Sequence[str],
    alpha: float = 0.5,
) -> DataFrame:
    """Per-group temperature-scaled mixture weights:
    ``(group..., n_rows, weight)`` with ``weight ∝ n_rows^alpha``,
    normalized to sum 1 — the multilingual/domain rebalancing recipe
    (alpha=1 keeps natural proportions, alpha→0 approaches uniform;
    alpha≈0.3–0.7 is the usual corpus-mixing range, upsampling tails
    without letting the head domain drown them).

    One map-side-combined count per group plus a 1-row total,
    broadcast back — group count is the number of DOMAINS (tiny by
    construction), so both joins are broadcast and the data path is
    never touched. ``alpha=0.5`` uses ``sqrt`` (exactly-rounded IEEE,
    engine-portable); other alphas use ``pow``.
    """
    n = F.col("n_rows").cast("double")
    wexpr = F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(float(alpha)))
    counts = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    tot = counts.agg(F.sum(wexpr).alias("__ws"))
    return counts.crossJoin(F.broadcast(tot)).select(
        *group_cols,
        "n_rows",
        (wexpr / F.col("__ws")).alias("weight"),
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    total_rows: int,
    alpha: float = 0.5,
    seed: int = 42,
    bucket=None,
) -> DataFrame:
    """Deterministic temperature-balanced corpus sample of ≈
    ``total_rows`` rows: each group keeps a hash fraction
    ``min(1, total_rows · weight_g / n_g)`` of its rows, where
    ``weight_g`` comes from :func:`temperature_mixture_weights`.

    The keep decision is a per-row hash threshold (same contract as
    :func:`deterministic_sample`: membership is a pure function of
    (key, seed) — stable under re-partitioning and appends), NOT a
    per-group ``row_number`` — an exact-count take would sort each
    group through one reducer, which a 100 TB head domain cannot do.
    The data path is one scan + a broadcast join of the tiny weights
    table; sampled size concentrates tightly around ``total_rows``.

    ``bucket`` overrides the production xxhash64 bucket with a
    caller-supplied [0, 1e6) integer column (the oracle gate passes a
    portable multiplicative-hash bucket, q91's pattern).
    """
    w = temperature_mixture_weights(df, group_cols, alpha)
    frac = F.least(
        F.lit(1.0), F.lit(float(total_rows)) * F.col("weight") / F.col("n_rows")
    )
    thr = F.floor(frac * F.lit(_BUCKETS))
    w = w.select(*group_cols, thr.alias("__thr"))
    b = hash_bucket(key_col, seed) if bucket is None else bucket
    return (
        df.join(F.broadcast(w), on=list(group_cols))
        .filter(b < F.col("__thr"))
        .drop("__thr")
    )


def dsir_logweights(
    df: DataFrame,
    target_pred,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance log-weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document in the raw pool by how much more likely its tokens
    are under the TARGET distribution than under the raw pool's own —
    ``(id, dl, dsir_logweight, avg_logratio)`` where

        dsir_logweight = Σ_tok tf · [ln p_t(tok) − ln p_r(tok)]

    with both unigram models add-one smoothed over the SHARED raw
    vocabulary (a token unseen in the target scores 1/(T_t+V), never
    −inf). ``target_pred`` is a boolean Column marking the in-domain
    exemplar docs (e.g. ``F.col("lang") == "en"`` or a curated-subset
    flag); selection = rank by weight and keep the top fraction (or
    feed :func:`score_buckets` for banded sampling). ``avg_logratio``
    is the length-normalized variant (Σ/dl) for rankings that should
    not favor long documents. The paper hashes n-grams into a fixed
    bucket count to bound the feature space; the unigram-vocabulary
    form here is the SQL-transcribable equivalent with V playing the
    bucket count (at 100 TB the vocab table is millions of rows —
    executor-broadcast scale, same as unigram_logprob_scores).

    Plan shape: ONE token explode + (id, tok) aggregate feeds both
    vocabulary aggregates (raw and target — target counts ride the
    same shuffle, flagged per doc before the explode) and the scoring
    join on the same ``tok`` key; totals are a 1-row broadcast.
    Per-token log-ratios are rounded to 4 dp and summed as exact
    DECIMALs (the bm25 order-independence rule).
    """
    from bigdata_kafka_2_spark.operators.text import normalize_text

    toks = (
        df.select(
            F.col(id_col),
            target_pred.alias("__tgt"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "__tgt", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = toks.groupBy("tok").agg(
        F.sum("tf").alias("__cr"),
        F.sum(F.when(F.col("__tgt"), F.col("tf")).otherwise(0)).alias(
            "__ct"
        ),
    )
    totals = vocab.agg(
        F.sum("__cr").alias("__Tr"),
        F.sum("__ct").alias("__Tt"),
        F.count(F.lit(1)).alias("__V"),
    )
    logratio = F.log(
        (F.col("__ct") + F.lit(1.0)) / (F.col("__Tt") + F.col("__V"))
    ) - F.log(
        (F.col("__cr") + F.lit(1.0)) / (F.col("__Tr") + F.col("__V"))
    )
    contrib = (F.col("tf") * F.round(logratio, 4)).cast("decimal(28,4)")
    return (
        toks.join(vocab, on="tok")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("dl"),
            F.sum(contrib).alias("__s"),
        )
        .withColumn(
            "__a", (F.col("__s") * 10000).cast("long")
        )
        .select(
            id_col,
            "dl",
            # __s is an exact DECIMAL(28,4): casting to double is
            # value-preserving at 4 dp (no re-rounding, no ties).
            F.col("__s").cast("double").alias("dsir_logweight"),
            # round(__s/dl, 4) hits EXACT .5 ties (e.g. -0.1488/32 =
            # -0.00465) where Spark's HALF_UP and DuckDB's double
            # rounding disagree — found by the r8 driver-simulation
            # verify at sf0.01.  Do the rounding in exact integer
            # arithmetic instead (half away from zero), identical in
            # both engines: a = __s·10⁴ (exact BIGINT), q =
            # sign(a)·((|a|·2 + dl) div (2·dl)).
            (
                F.when(F.col("__a") < 0, -F.lit(1)).otherwise(F.lit(1))
                * F.expr("(abs(__a) * 2 + dl) div (dl * 2)")
                / F.lit(10000.0)
            ).alias("avg_logratio"),
        )
    )


def score_buckets(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    cuts: tuple[float, ...] = (1 / 3, 2 / 3),
    labels: tuple[str, ...] = ("tail", "middle", "head"),
    out_col: str = "bucket",
) -> DataFrame:
    """CCNet-style per-group score bucketing: label each row by which
    quantile band of its group's score distribution it falls in —
    ``labels[i]`` for scores in [q(cuts[i-1]), q(cuts[i])), the last
    label for the top band. CCNet splits each language by the
    perplexity terciles of its own corpus (head/middle/tail) and
    trains on head+middle; with ``score_col`` = the unigram-LM
    logprob (operators/text.unigram_logprob_scores), higher = more
    probable = "head", so labels run tail→head in score order.

    Thresholds are EXACT interpolated percentiles (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, the q23 parity), one
    tiny per-group row each, broadcast into the labeling join — one
    aggregate pass + one scan, no window over the full table (a
    percent_rank formulation would sort every group). Rows with NULL
    score label NULL. Requires ``len(labels) == len(cuts) + 1``.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError("need exactly len(cuts)+1 labels")
    gcols = [group_col] if group_col else []
    thr_aggs = [
        F.percentile(score_col, F.lit(float(c))).alias(f"__t{i}")
        for i, c in enumerate(cuts)
    ]
    thr = df.groupBy(*gcols).agg(*thr_aggs) if gcols else df.agg(*thr_aggs)
    joined = (
        df.join(F.broadcast(thr), on=gcols)
        if gcols
        else df.crossJoin(F.broadcast(thr))
    )
    s = F.col(score_col)
    label = F.lit(labels[-1])
    for i in range(len(cuts) - 1, -1, -1):
        label = F.when(s < F.col(f"__t{i}"), F.lit(labels[i])).otherwise(label)
    label = F.when(s.isNull(), F.lit(None).cast("string")).otherwise(label)
    return joined.withColumn(out_col, label).drop(
        *[f"__t{i}" for i in range(len(cuts))]
    )


def distribution_matched_sample(
    df: DataFrame,
    ref: DataFrame,
    col: str,
    key_col: str,
    n_buckets: int = 10,
    seed: int = 42,
    bucket=None,
    keep_bucket: bool = False,
) -> DataFrame:
    """Largest deterministic subsample of ``df`` whose distribution
    over ``col`` matches ``ref``'s — the eval-set/ablation
    construction primitive (e.g. carve a training subset whose length
    distribution matches a benchmark's, so comparisons aren't
    confounded by length). Rows are kept by seeded hash threshold, so
    the sample is reproducible across runs and partitionings (the
    module's sampling contract).

    Mechanism: equal-width buckets over the REFERENCE's [min, max]
    (one 1-row broadcast bounds pass; df values outside clamp into
    the edge buckets, same convention as ``profile.value_histogram``);
    per-bucket keep rate = ``α · ref_frac_b / df_frac_b`` with
    ``α = min_b (df_frac_b / ref_frac_b)`` over buckets present in
    BOTH — the largest uniform scaling under which no bucket needs
    more rows than df has. Buckets with no reference mass are dropped
    (df-only mass has nothing to match). The bucket/rate table is
    ≤ n_buckets rows, broadcast into the keep filter; expected match
    is exact in distribution, realized counts are hash-binomial
    (q76's temperature-mixture convention). NULL ``col`` rows are
    dropped.
    """
    b = F.broadcast(
        ref.agg(
            F.min(col).cast("double").alias("__lo"),
            F.max(col).cast("double").alias("__hi"),
        )
    )

    def bucketed(d: DataFrame) -> DataFrame:
        width = (F.col("__hi") - F.col("__lo")) / F.lit(n_buckets)
        raw = F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0)
        ).otherwise(
            F.floor((F.col(col).cast("double") - F.col("__lo")) / width)
        )
        bkt = F.least(
            F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)
        ).cast("int")
        return (
            d.filter(F.col(col).isNotNull())
            .crossJoin(b)
            .withColumn("__bkt", bkt)
        )

    rf = (
        bucketed(ref)
        .groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__rn"))
        .crossJoin(
            F.broadcast(ref.filter(F.col(col).isNotNull()).agg(
                F.count(F.lit(1)).alias("__rt")
            ))
        )
        .select("__bkt", (F.col("__rn") / F.col("__rt")).alias("__rfrac"))
    )
    dfb = bucketed(df)
    dfr = (
        dfb.groupBy("__bkt")
        .agg(F.count(F.lit(1)).alias("__dn"))
        .crossJoin(
            F.broadcast(df.filter(F.col(col).isNotNull()).agg(
                F.count(F.lit(1)).alias("__dt")
            ))
        )
        .select("__bkt", (F.col("__dn") / F.col("__dt")).alias("__dfrac"))
    )
    rates = rf.join(dfr, on="__bkt")
    alpha = F.broadcast(
        rates.agg(F.min(F.col("__dfrac") / F.col("__rfrac")).alias("__a"))
    )
    rates = rates.crossJoin(alpha).select(
        "__bkt",
        F.least(
            F.lit(1.0), F.col("__a") * F.col("__rfrac") / F.col("__dfrac")
        ).alias("__rate"),
    )
    # ``bucket`` overrides the production seeded-xxhash64 keep hash
    # with a portable expression for the oracle gate (q91's pattern);
    # floor() before the cast — Spark's double->long cast truncates
    # while DuckDB's rounds, so the raw cast would disagree on the
    # threshold row.
    keep_hash = hash_bucket(key_col, seed) if bucket is None else bucket
    kept = (
        dfb.join(F.broadcast(rates), on="__bkt")
        .filter(
            keep_hash < F.floor(F.col("__rate") * _BUCKETS).cast("long")
        )
    )
    kept = kept.drop("__lo", "__hi", "__rate")
    if keep_bucket:
        # expose the matching bucket (distribution-audit consumers
        # aggregate on it; re-deriving needs the ref bounds again)
        return kept.withColumnRenamed("__bkt", "bucket")
    return kept.drop("__bkt")


def leakage_safe_folds(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    seed: int = 42,
    out_col: str = "fold",
    bucket_fn=None,
    **minhash_kwargs,
) -> DataFrame:
    """K-fold cross-validation assignment where discovered
    near-duplicate documents always share a fold — the CV counterpart
    of :func:`leakage_safe_split` (same recall bound, same cluster
    machinery): rotating a fold out as the validation set never
    leaves a near-copy of a validation document in the training
    folds. Fold = hash of the cluster REPRESENTATIVE mod k, so whole
    clusters move together and singletons (the overwhelming mass)
    hash their own id. Output: input columns + ``cluster_rep`` +
    ``out_col`` (0..k-1).

    Same scale shape as the split: pair graph and label propagation
    bounded by the dup subgraph, then one equi-join of the cluster
    map plus a row-local hash.
    """
    joined, bucket = _cluster_bucketed(
        df, text_col, id_col, jaccard_threshold, seed, bucket_fn,
        **minhash_kwargs,
    )
    return joined.withColumn(out_col, F.pmod(bucket, F.lit(k)).cast("int"))


def budget_fill(
    df: DataFrame,
    score_col: str,
    weight_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget-constrained selection: keep the highest-``score``
    rows until their cumulative ``weight`` reaches ``budget`` — "fill
    a 1B-token training budget with the best-scoring documents", the
    selection step after quality scoring that a fraction-based sample
    cannot express (the budget is in TOKENS, not documents, and the
    cut point depends on the score distribution).

    Deterministic: rows order by (score DESC, id) — a total order —
    and a row is kept iff the weight of all STRICTLY better rows is
    under budget (so the output overshoots by at most one document,
    never undershoots; the greedy knapsack rule every curation run
    uses). The cumulative weight runs through
    :func:`~bigdata_kafka_2_spark.operators.relational.global_prefix_sum`
    — range-bucketed, no single-partition window, driver state one
    offset per bucket. Output: input columns + ``cum_before``.
    """
    from bigdata_kafka_2_spark.operators.relational import global_prefix_sum

    ordered = df.withColumn("__ord", -F.col(score_col))
    cum = global_prefix_sum(
        ordered, ["__ord", id_col], weight_col, "cum_before"
    )
    return cum.filter(F.col("cum_before") < budget).drop("__ord")


def coherent_sample(
    parent: DataFrame,
    parent_key: str,
    fraction: float,
    children: Mapping[str, tuple[DataFrame, str]] | None = None,
    seed: int = 42,
    bucket_fn=None,
) -> dict[str, DataFrame]:
    """Referentially-consistent sampling: draw a deterministic hash
    sample of the PARENT keys, then pull each child table's rows for
    exactly those keys — the way a usable dev/test dataset is cut
    from a 100 TB lake (independent per-table samples break every
    join: a 1% orders sample x 1% lineitem sample intersects on
    ~0.01% of orders).

    Returns ``{"parent": sampled_parent, <child_name>:
    sampled_child, ...}``. The parent filter is a row-local hash
    threshold (any partitioning, no shuffle); each child follows via
    a LEFT SEMI join on its foreign key — Spark broadcasts the
    sampled key set when it fits, and the child never shuffles
    otherwise more than its join requires. Downstream fractions
    compose: the children keep their parents' full fan-out, so join
    densities match production (the property per-table sampling
    destroys). ``bucket_fn`` overrides the production seeded-xxhash64
    bucket with an SQL-portable hash for oracle gates (q91's
    pattern).
    """
    key = F.col(parent_key)
    bucket = (
        bucket_fn(key)
        if bucket_fn is not None
        else F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(_BUCKETS))
    )
    sampled = parent.filter(bucket < int(fraction * _BUCKETS))
    out = {"parent": sampled}
    keys = sampled.select(parent_key)
    for name, (child, fk) in (children or {}).items():
        out[name] = child.join(
            keys.withColumnRenamed(parent_key, fk), on=fk, how="left_semi"
        )
    return out


def rendezvous_assign(
    df: DataFrame,
    key_col: str = "doc_id",
    n_shards: int = 8,
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment:
    ``(key, shard)`` where ``shard = argmax_s hash(key, s)`` over
    ``s ∈ [0, n_shards)`` — the consistent-routing primitive for a
    served ANN/feature index: when a shard is ADDED, only the keys
    whose argmax lands on the new shard move (exactly ``~1/(n+1)`` of
    them, property-tested as an exact set identity in
    tests/test_sampling_hrw.py), versus ``mod n`` routing where
    nearly every key moves.

    Entirely ROW-LOCAL: the candidate hashes are a ``transform`` over
    a literal shard sequence and the winner an ``array_max`` over
    ``(hash, shard)`` structs — no shuffle, no join, no state; at 100
    TB this is a scan-speed projection. Hashing uses the engine's
    portable ``md5_15`` family (first 15 hex digits of
    ``md5(key || '#' || shard)`` parsed base-16), so assignments are
    bit-identical in DuckDB and stable across engines and releases —
    the property that lets a Spark-built index be routed to by any
    non-Spark serving tier. Ties (never observed for a 60-bit hash;
    would need an md5 prefix collision between two shard suffixes of
    the SAME key) break toward the larger shard id via the struct
    ordering, mirrored in the oracle's ``ORDER BY hv DESC, shard
    DESC``.
    """
    key_str = F.col(key_col).cast("string")
    candidates = F.transform(
        F.sequence(F.lit(0), F.lit(n_shards - 1)),
        lambda s: F.struct(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(key_str, F.lit("#"), s.cast("string"))
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
            s.alias("shard"),
        ),
    )
    return df.select(
        F.col(key_col),
        F.array_max(candidates)["shard"].alias(out_col),
    )


def shuffle_rank(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    out_col: str = "shuffle_rank",
) -> DataFrame:
    """Deterministic global SHUFFLE ORDER: every row gets its
    position (1-based) in a seed-keyed pseudorandom permutation —
    the reproducible training-order primitive (epoch e reads the
    corpus ordered by ``shuffle_rank`` with seed e; re-runs, resumes
    and audits see the byte-identical order, unlike
    ``df.orderBy(rand())`` whose sample is neither seed-portable
    across engines nor stable across partitionings).

    Order key = the engine-portable ``md5_15`` hash of
    ``id || ':' || seed`` (uniform in [0, 2^60) — collision-free in
    practice, id as total tie-break), ranked with
    :func:`relational.global_row_number`'s bucket/offset
    construction — range-bucketed, NO single-partition window, so
    assigning a shuffle order to 100 TB costs one bucketed sort. A
    writer that ``repartitionByRange``s on the rank gets skew-free
    shuffled shards for sequential training reads.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_row_number,
    )

    key = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"), F.lit(f":{seed}")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    withkey = df.withColumn("__shuf", key)
    return global_row_number(
        withkey, ["__shuf", id_col], rn_col=out_col
    ).drop("__shuf")


def oof_target_encoding(
    df: DataFrame,
    category_col: str,
    target_col: str,
    fold_col: str,
    min_samples: int = 1,
) -> DataFrame:
    """Leakage-safe OUT-OF-FOLD target encoding table: per
    ``(category, fold)``, the mean of ``target_col`` over the
    category's rows in every OTHER fold — the categorical-feature
    encoding that never lets a row see its own target (in-fold target
    means are the classic leakage that inflates validation scores;
    this is the K-fold repair, the feature-engineering member of the
    leakage-safety family next to :func:`leakage_safe_split` /
    :func:`leakage_safe_folds`).

    Pure algebra, no per-fold rescans: ONE map-side-combined
    aggregate produces per-(category, fold) counts and exact-DECIMAL
    target sums; the out-of-fold mean is ``(S_cat − S_cat,fold) /
    (n_cat − n_cat,fold)`` off a category-keyed join of the same
    tiny aggregate — |categories|·|folds| rows end to end, scan
    speed at any table size. Cells whose out-of-fold support falls
    below ``min_samples`` return NULL (the honest cold-start answer;
    callers back off to the global mean).

    Rows with a NULL target are EXCLUDED before counting — otherwise
    they would inflate the ``n`` denominators while contributing
    nothing to the DECIMAL sums, silently deflating every mean.
    """
    dec = "decimal(38,4)"
    df = df.where(F.col(target_col).isNotNull())
    v = F.round(F.col(target_col).cast("double"), 4).cast(dec)
    cell = df.groupBy(
        F.col(category_col).alias("__c"), F.col(fold_col).alias("fold")
    ).agg(
        F.count(F.lit(1)).alias("__nf"),
        F.sum(v).alias("__sf"),
    )
    cat = cell.groupBy("__c").agg(
        F.sum("__nf").alias("__n"), F.sum("__sf").alias("__s")
    )
    oof_n = F.col("__n") - F.col("__nf")
    oof = F.when(
        oof_n >= int(min_samples),
        (F.col("__s") - F.col("__sf")).cast("double")
        / oof_n.cast("double"),
    )
    return (
        cell.join(cat, on="__c")
        .select(
            F.col("__c").alias(category_col),
            "fold",
            F.col("__nf").cast("long").alias("n_rows"),
            F.round(oof, 6).alias("oof_mean"),
        )
    )


def ipf_raking(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iterations: int = 3,
) -> DataFrame:
    """Iterative proportional fitting (raking; Deming & Stephan 1940)
    of the ``row_col`` × ``col_col`` contingency table toward UNIFORM
    marginals: ``(row, col, n, raked_weight)`` where ``raked_weight``
    is the cell's fitted mass after ``iterations`` row/column scaling
    rounds — the survey-statistics reweighting a training-data team
    runs to neutralize joint sampling skew (e.g. make every
    (language, domain) stratum contribute as if both marginals were
    balanced) without per-row resampling. Per-ROW weights are
    ``raked_weight / n``.

    Scale plan: ONE map-side-combined scan aggregate reduces the
    corpus to the |rows|×|cols| cell table (bounded by category
    cardinalities, never data); each round is two aggregate+broadcast-
    join pairs over that table (row sums then column sums). Fixed
    unrolled iterations on the 12-dp determinism schedule: marginal
    sums accumulate as exact DECIMAL(38,12) of 12-dp-rounded weights
    and every rescale re-rounds to 12 dp, so the fit is bit-identical
    to the unrolled-CTE oracle at any partitioning. Uniform targets
    (grand total / marginal cardinality) keep the oracle transcription
    dataset-independent; generalized target tables are one extra
    broadcast join away.
    """
    if iterations < 1:
        raise ValueError(
            f"ipf_raking: iterations must be >= 1, got {iterations}"
        )
    dec = "decimal(38,12)"
    cells = pin(
        df.groupBy(
            F.col(row_col).alias("__r"), F.col(col_col).alias("__c")
        )
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    # bounded driver scalars off the |cells|-row table (the pagerank
    # node-count pattern): grand total and marginal cardinalities fix
    # the uniform targets; the target ratios N/kr, N/kc are exact
    # integer-to-double divisions, identical in Python and SQL
    meta = cells.agg(
        F.sum("__n").alias("__N"),
        F.countDistinct("__r").alias("__kr"),
        F.countDistinct("__c").alias("__kc"),
    ).collect()[0]
    t_row = float(meta["__N"]) / float(meta["__kr"])
    t_col = float(meta["__N"]) / float(meta["__kc"])
    w = cells.select(
        "__r", "__c", "__n",
        F.round(F.col("__n").cast("double"), _IPF_SCALE).alias("__w"),
    )
    for _ in range(iterations):
        rs = w.groupBy("__r").agg(
            F.sum(F.col("__w").cast(dec)).alias("__rs")
        )
        w = w.join(F.broadcast(rs), on="__r").select(
            "__r", "__c", "__n",
            F.round(
                F.col("__w")
                * (F.lit(t_row) / F.col("__rs").cast("double")),
                _IPF_SCALE,
            ).alias("__w"),
        )
        cs = w.groupBy("__c").agg(
            F.sum(F.col("__w").cast(dec)).alias("__cs")
        )
        w = pin(
            w.join(F.broadcast(cs), on="__c").select(
                "__r", "__c", "__n",
                F.round(
                    F.col("__w")
                    * (F.lit(t_col) / F.col("__cs").cast("double")),
                    _IPF_SCALE,
                ).alias("__w"),
            )
        )
    return w.select(
        F.col("__r").alias(row_col),
        F.col("__c").alias(col_col),
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__w"), 6).alias("raked_weight"),
    )


_IPF_SCALE = 12


def ipf_oracle_sql(
    table: str, row_col: str, col_col: str, iterations: int = 3
) -> str:
    """Unrolled DuckDB transcription of :func:`ipf_raking` with
    uniform targets (kept beside the operator so the rounding and
    scaling schedule stays in lockstep)."""
    s = _IPF_SCALE
    parts = [
        f"""
    WITH cells AS (
      SELECT {row_col} AS r, {col_col} AS c, count(*) AS n
      FROM {table} GROUP BY 1, 2
    ),
    meta AS (
      SELECT CAST(sum(n) AS DOUBLE) AS N,
             CAST(count(DISTINCT r) AS DOUBLE) AS kr,
             CAST(count(DISTINCT c) AS DOUBLE) AS kc
      FROM cells
    ),
    w0 AS (
      SELECT r, c, n, round(CAST(n AS DOUBLE), {s}) AS w FROM cells
    )"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f""",
    rs{i} AS (
      SELECT r, sum(CAST(w AS DECIMAL(38,{s}))) AS rs
      FROM w{p} GROUP BY r
    ),
    wr{i} AS (
      SELECT w{p}.r, c, n,
             round(w * ((SELECT N FROM meta) / (SELECT kr FROM meta)
                        / CAST(rs AS DOUBLE)), {s}) AS w
      FROM w{p} JOIN rs{i} ON rs{i}.r = w{p}.r
    ),
    cs{i} AS (
      SELECT c, sum(CAST(w AS DECIMAL(38,{s}))) AS cs
      FROM wr{i} GROUP BY c
    ),
    w{i} AS (
      SELECT r, wr{i}.c, n,
             round(w * ((SELECT N FROM meta) / (SELECT kc FROM meta)
                        / CAST(cs AS DOUBLE)), {s}) AS w
      FROM wr{i} JOIN cs{i} ON cs{i}.c = wr{i}.c
    )"""
        )
    parts.append(
        f"""
    SELECT r AS {row_col}, c AS {col_col}, CAST(n AS BIGINT) AS n,
           round(w, 6) AS raked_weight
    FROM w{iterations}
    """
    )
    return "".join(parts)


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
) -> DataFrame:
    """Optimal (Neyman 1934) stratified-sample allocation for a total
    ``budget``: per stratum ``(stratum, n, stddev, share, n_alloc)``
    with

        n_h = budget · N_h·S_h / Σ_k N_k·S_k

    — minimum-variance allocation for estimating the population mean:
    big, internally-VARIABLE strata get proportionally more of the
    label/inspection budget than big-but-homogeneous ones, the
    planning step in front of :func:`stratified_sample` (which
    executes per-stratum rates this operator chooses).
    ``n_alloc`` floors the real allocation (callers round up the
    remainder wherever their cost model prefers — the fractional
    ``share`` is reported precisely for that); single-row strata
    carry zero variance and draw no budget.

    ONE map-side-combined aggregate (counts + exact-DECIMAL Σx/Σx²)
    gives every stratum's sample stddev; the normalizer is a
    broadcast 1-row sum of 9-dp-rounded N_h·S_h terms in exact
    DECIMAL(38,9). All divisions run in double, rounded 6 dp.
    """
    dec = "decimal(38,4)"
    df = df.where(F.col(value_col).isNotNull())
    v = F.round(F.col(value_col).cast("double"), 4).cast(dec)
    v2 = F.round(
        F.col(value_col).cast("double") * F.col(value_col).cast("double"),
        4,
    ).cast(dec)
    g = df.groupBy(F.col(stratum_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(v).alias("__x"),
        F.sum(v2).alias("__q"),
    )
    n = F.col("__n").cast("double")
    mean = F.col("__x").cast("double") / n
    sd = F.when(
        F.col("__n") > 1,
        F.sqrt(
            F.greatest(
                (F.col("__q").cast("double") / n - mean * mean)
                * n
                / (n - F.lit(1.0)),
                F.lit(0.0),
            )
        ),
    ).otherwise(F.lit(0.0))
    term = F.round(n * sd, 9).cast("decimal(38,9)")
    cells = g.select("__s", "__n", sd.alias("__sd"), term.alias("__t"))
    tot = cells.agg(F.sum("__t").alias("__tt"))
    share = F.col("__t").cast("double") / F.col("__tt").cast("double")
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("__s").alias(stratum_col),
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__sd"), 6).alias("stddev"),
        F.round(share, 6).alias("share"),
        F.floor(F.lit(float(int(budget))) * share)
        .cast("long")
        .alias("n_alloc"),
    )


def kish_ess(df: DataFrame, weight_col: str) -> DataFrame:
    """Kish effective sample size and design effect of a weight
    column (Kish 1965): one row ``(n, sum_w, ess, deff)`` with

        ESS = (Σw)² / Σw²,     deff = n / ESS

    — the statistical COST meter of any reweighting: raking,
    importance weights, and IPW all trade bias for variance, and ESS
    says how many equal-weight rows the weighted sample is actually
    worth (deff ≫ 1 flags weights too skewed to use). Run it on
    :func:`ipf_raking`'s per-row weights before shipping them.

    One map-side-combined aggregate; weight sums and sums of squares
    accumulate as exact DECIMAL of 6-dp/12-dp-rounded terms, divisions
    in double rounded 6 dp (engine-identical). NULL and non-positive
    weights are excluded (they are not sample mass).
    """
    df = df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
    w = F.round(F.col(weight_col).cast("double"), 6)
    agg = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(w.cast("decimal(38,6)")).alias("__s"),
        F.sum(F.round(w * w, 12).cast("decimal(38,12)")).alias("__q"),
    )
    ess = (
        F.col("__s").cast("double") * F.col("__s").cast("double")
    ) / F.col("__q").cast("double")
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.round(F.col("__s").cast("double"), 6).alias("sum_w"),
        F.round(ess, 6).alias("ess"),
        F.round(F.col("__n").cast("double") / ess, 6).alias("deff"),
    )


def ucb_arm_ranking(
    df: DataFrame,
    arm_col,
    reward_col,
) -> DataFrame:
    """UCB1 ranking of arms from logged (arm, reward) history (Auer,
    Cesa-Bianchi & Fischer 2002): one row per arm ``(arm, n, mean,
    ucb, rank)`` with

        UCB(a) = mean(a) + √( 2·ln N / n_a )

    — the deterministic adaptive-collection policy next to the
    experiment READOUTS (q264 z-test, q263 CUPED): given the history
    so far, UCB says which variant/prompt/source to sample NEXT,
    trading exploitation (high mean) against exploration (small n).
    Rewards are assumed [0, 1]-scaled (the UCB1 regret bound's
    assumption; callers rescale).

    ONE map-side-combined aggregate to |arms| rows; ``ln N`` is one
    broadcast scalar; per-arm means accumulate as exact DECIMAL of
    6-dp-rounded rewards, the bonus is row-local double math rounded
    6 dp, and the rank is a window over the |arms|-row table only
    (the bounded-scalar class). Arms tie-break by name, so the
    ranking is total and engine-identical.
    """
    from pyspark.sql import Window

    a = (
        F.col(arm_col) if isinstance(arm_col, str) else arm_col
    ).cast("string")
    rw = (
        F.col(reward_col)
        if isinstance(reward_col, str)
        else reward_col
    )
    r6 = F.round(rw.cast("double"), 6).cast("decimal(38,6)")
    per = df.groupBy(a.alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(r6).alias("__s"),
    )
    tot = per.agg(F.sum("n").alias("__N"))
    j = per.crossJoin(F.broadcast(tot))
    mean = F.col("__s").cast("double") / F.col("n").cast("double")
    bonus = F.sqrt(
        F.lit(2.0)
        * F.log(F.col("__N").cast("double"))
        / F.col("n").cast("double")
    )
    scored = j.select(
        "arm",
        F.col("n").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(mean + bonus, 6).alias("ucb"),
    )
    w = Window.orderBy(F.col("ucb").desc(), F.col("arm").asc())
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    )
