"""Retrieval-evaluation metrics (charter extension — the eval half of
the retrieval family: the BM25/TF-IDF/ANN operators rank, these score
the rankings against relevance judgments).

The reference has no evaluation machinery; a curation pipeline tuning
its retrieval slice (query set, BM25 params, ANN recall tier) needs a
ranking-quality metric computed ON the cluster, over every query at
once — not a driver-side loop per query.

Determinism discipline: per-rank gain/discount terms are rounded to
6 dp and summed as exact DECIMALs (the engine's bm25 rule), and the
rank discounts 1/log2(rank+1) enter as PRE-COMPUTED double literals
(Python ``math.log2``) shared verbatim with the SQL oracle — no
engine libm call appears anywhere in the metric, so Spark and the
oracle run the identical IEEE sequence.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin


def log2_discounts(k: int) -> list[float]:
    """``[log2(r+1) for rank r in 1..k]`` — the DCG discount ladder as
    Python-computed doubles, embedded as literals on BOTH engine
    sides (see module docstring)."""
    return [math.log2(r + 1) for r in range(1, k + 1)]


def ndcg_at_k(
    judged: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Per-query nDCG@k over a judged ranking: ``(query, ndcg)``.

    ``judged`` holds one row per (query, candidate document) with the
    system's ``score`` and a graded relevance judgment ``rel`` ≥ 0.
    DCG ranks by (score desc, id asc — deterministic ties), IDCG by
    (rel desc, id asc); gain is 2^rel − 1; ndcg = DCG/IDCG, 0 for a
    query with no relevant candidate. The final ratio is rounded to
    4 dp in exact integer arithmetic (half away from zero — the q117
    tie rule), so the metric hash-matches the SQL oracle at every
    dataset.

    Plan shape: two row_number windows over the SAME query-keyed
    partitioning (one exchange, two sorts), per-rank decimal terms,
    one aggregate. Per-query candidate lists are the window state —
    bounded by the retrieval cut, not the corpus. Scales to any
    number of queries at once; nothing collects to the driver.
    """
    disc = log2_discounts(k)
    w_score = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    w_rel = Window.partitionBy(query_col).orderBy(
        F.col(rel_col).desc(), F.col(id_col).asc()
    )
    gain = F.pow(F.lit(2.0), F.col(rel_col).cast("double")) - F.lit(1.0)
    ladder = F.array(*[F.lit(d) for d in disc])

    def term(rank_col):
        return (
            F.when(
                rank_col <= k,
                F.round(
                    gain / F.element_at(ladder, rank_col.cast("int")), 6
                ).cast("decimal(28,6)"),
            )
            .otherwise(F.lit(0).cast("decimal(28,6)"))
        )

    ranked = judged.select(
        query_col,
        term(F.row_number().over(w_score)).alias("__dt"),
        term(F.row_number().over(w_rel)).alias("__it"),
    )
    agg = ranked.groupBy(query_col).agg(
        (F.sum("__dt") * 1000000).cast("long").alias("__a"),
        (F.sum("__it") * 1000000).cast("long").alias("__b"),
    )
    return agg.select(
        query_col,
        F.when(F.col("__b") == 0, F.lit(0.0))
        .otherwise(
            F.expr("(__a * 20000 + __b) div (__b * 2)") / F.lit(10000.0)
        )
        .alias("ndcg"),
    )


def auc_exact(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """EXACT Mann-Whitney AUC of a score against a binary label, with
    proper average-rank tie handling: one row ``(auc, n_pos, n_neg)``.
    The feature-screening / model-eval staple (probability a random
    positive outranks a random negative).

    All-integer construction — no floating accumulation anywhere:
    group by DISTINCT score (map-side combined) to (n, p) per value,
    EXCLUSIVE global prefix count of n over ascending score via
    ``relational.global_prefix_sum`` (range-bucketed — no
    single-partition window), then

        2·Σ_pos avg_rank  =  Σ_values p·(2·before + n + 1)

    which is an exact BIGINT sum (order- and partition-independent),
    and AUC = (that − P·(P+1)) / (2·P·N) in ONE double division at
    the end. Bit-identical in any engine; ties exercise the
    average-rank path exactly.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    g = df.groupBy(F.col(score_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(label_col).cast("long")).alias("__p"),
    )
    ranked = global_prefix_sum(g, "__s", "__n", out_col="__before")
    # rank-sum terms widen to DECIMAL(38,0): at corpus scale the sum
    # approaches T² which overflows BIGINT long before the data stops
    # fitting the cluster (ANSI mode would error, not wrap).
    dec = "decimal(38,0)"
    term = F.col("__p").cast(dec) * (
        2 * F.col("__before") + F.col("__n") + 1
    ).cast(dec)
    agg = ranked.agg(
        F.sum(term).alias("__2s"),
        F.sum("__p").alias("__P"),
        F.sum("__n").alias("__T"),
    )
    P = F.col("__P")
    N = F.col("__T") - P
    auc = (
        (F.col("__2s") - P.cast(dec) * (P + 1).cast(dec)).cast("double")
        / (2 * P.cast(dec) * N.cast(dec)).cast("double")
    )
    return agg.select(
        F.when((P > 0) & (N > 0), F.round(auc, 6)).alias("auc"),
        P.alias("n_pos"),
        N.alias("n_neg"),
    )


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    id_col: str,
    k0: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:
    ``rrf(d) = Σ_lists 1/(k0 + rank_list(d))`` over the UNION of the
    lists (a doc missing from a list contributes nothing there) —
    the standard hybrid-retrieval combiner (BM25 ⊕ dense embeddings)
    that needs no score calibration because it consumes only RANKS.

    ``rankings``: (name, DataFrame with (id_col, rank)) pairs; output:
    (id, rank_<name>... , rrf) top-``topk`` by (rrf desc, id asc).
    Plan: the lists are already top-m tables (constant rows), so the
    fusion is a chain of full-outer equi-joins over bounded inputs —
    nothing here scales with the corpus; the heavy lifting happened
    in the per-list retrieval stages.
    """
    out = None
    names = []
    for name, r in rankings:
        names.append(name)
        cur = r.select(
            F.col(id_col), F.col("rank").alias(f"rank_{name}")
        )
        out = cur if out is None else out.join(cur, on=id_col, how="full_outer")
    rrf = None
    for name in names:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(f"rank_{name}")), F.lit(0.0)
        )
        rrf = term if rrf is None else rrf + term
    return (
        out.withColumn("rrf", F.round(rrf, 6))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(topk)
    )


def rank_eval_at_k(
    judged: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    score_col: str = "score",
    rel_col: str = "rel",
    k: int = 10,
) -> DataFrame:
    """Per-query set-based retrieval metrics over a judged ranking:
    ``(query, n_rel, hits_at_k, precision_k, recall_k,
    first_rel_rank, rr_at_k)`` — the precision/recall/MRR companion
    to :func:`ndcg_at_k` (same judged-list input contract), covering
    the binary-relevance side of a retrieval eval: ``rel > 0`` is
    relevant, ranking is (score desc, id asc — deterministic ties).
    ``rr_at_k`` is the reciprocal rank of the first relevant result,
    0.0 when none lands in the top k (mean it across queries for
    MRR); ``recall_k`` is NULL for a query with no relevant
    candidate (0/0, kept distinguishable from a genuine 0).

    All ratios are small-integer divisions rounded to 6 dp — the
    identical IEEE operation in Spark and ANSI SQL, no summation
    order anywhere. Plan shape: ONE row_number window over the
    query-keyed partitioning, one aggregate; window state is the
    per-query candidate list, bounded by the retrieval cut.
    """
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    rel = F.col(rel_col) > 0
    ranked = judged.withColumn("__r", F.row_number().over(w))
    agg = ranked.groupBy(query_col).agg(
        F.sum(rel.cast("long")).alias("n_rel"),
        F.sum((rel & (F.col("__r") <= k)).cast("long")).alias("hits_at_k"),
        F.min(F.when(rel, F.col("__r"))).alias("__frr"),
    )
    return agg.select(
        query_col,
        "n_rel",
        "hits_at_k",
        F.round(F.col("hits_at_k") / F.lit(float(k)), 6).alias(
            "precision_k"
        ),
        F.when(
            F.col("n_rel") > 0,
            F.round(
                F.col("hits_at_k") * F.lit(1.0) / F.col("n_rel"), 6
            ),
        ).alias("recall_k"),
        F.col("__frr").cast("long").alias("first_rel_rank"),
        F.when(
            F.col("__frr") <= k,
            F.round(F.lit(1.0) / F.col("__frr"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("rr_at_k"),
    )


def auc_by_group(
    df: DataFrame, group_col: str, score_col: str, label_col: str
) -> DataFrame:
    """Per-group exact Mann-Whitney AUC: ``(group, auc, n_pos,
    n_neg)`` — :func:`auc_exact`'s all-integer average-rank
    construction evaluated within each slice. The fairness/
    segmentation companion to the global AUC: a score can screen
    well overall while being noise inside one domain, and per-slice
    AUC is the audit that shows it (``auc`` is NULL for a slice
    missing either class — undefined, not zero).

    Same arithmetic as :func:`auc_exact` (rank-sum terms widen to
    DECIMAL(38,0), one double division per group at the end); the
    exclusive prefix count runs as a window over DISTINCT scores
    partitioned by group — bounded by per-slice score cardinality,
    never a single-partition exchange.
    """
    g = df.groupBy(
        F.col(group_col), F.col(score_col).alias("__s")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(label_col).cast("long")).alias("__p"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = g.withColumn(
        "__before", F.coalesce(F.sum("__n").over(w), F.lit(0))
    )
    dec = "decimal(38,0)"
    term = F.col("__p").cast(dec) * (
        2 * F.col("__before") + F.col("__n") + 1
    ).cast(dec)
    agg = ranked.groupBy(group_col).agg(
        F.sum(term).alias("__2s"),
        F.sum("__p").alias("__P"),
        F.sum("__n").alias("__T"),
    )
    P = F.col("__P")
    N = F.col("__T") - P
    auc = (
        (F.col("__2s") - P.cast(dec) * (P + 1).cast(dec)).cast("double")
        / (2 * P.cast(dec) * N.cast(dec)).cast("double")
    )
    return agg.select(
        group_col,
        F.when((P > 0) & (N > 0), F.round(auc, 6)).alias("auc"),
        P.alias("n_pos"),
        N.alias("n_neg"),
    )


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa between two categorical columns (two annotators,
    or a classifier's ``pred`` against ``label``): one row
    ``(n, n_agree, kappa)`` — chance-corrected agreement, the metric
    an annotation-quality audit reads instead of raw accuracy (a
    router that always answers the majority class can score high
    accuracy on a skewed label set; its kappa is 0).

    EXACT integer arithmetic end to end: with A = Σ agreements and
    D = Σ_c n_a(c)·n_b(c) (the chance-agreement mass),

        kappa = (n·A − D) / (n² − D)

    — one integer division rounded to 6 dp at the very end, so the
    value is bit-identical across engines and partitionings (no
    floating p_o/p_e intermediates). NULL categories count as their
    own level; kappa is NULL when both columns are the single same
    constant (pe = 1, the undefined case).

    Plan shape: one map-side-combined pair count, two marginal
    reductions FROM it, one broadcast-joined scalar combine — scan
    speed at any scale.
    """
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("\x00null"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("\x00null"))
    cells = df.select(a.alias("__a"), b.alias("__b")).groupBy(
        "__a", "__b"
    ).agg(F.count(F.lit(1)).alias("__o"))
    ma = cells.groupBy("__a").agg(F.sum("__o").alias("__na"))
    mb = cells.groupBy("__b").agg(F.sum("__o").alias("__nb"))
    d_mass = (
        ma.join(mb, ma["__a"] == mb["__b"], "inner")
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__d"))
        .select(F.coalesce("__d", F.lit(0)).alias("__d"))
    )
    tot = cells.agg(
        F.sum("__o").alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__o"))),
            F.lit(0),
        ).alias("__agree"),
    )
    num = F.col("__n") * F.col("__agree") - F.col("__d")
    den = F.col("__n") * F.col("__n") - F.col("__d")
    return tot.crossJoin(F.broadcast(d_mass)).select(
        F.col("__n").cast("long").alias("n"),
        F.col("__agree").cast("long").alias("n_agree"),
        F.when(
            den != 0,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("kappa"),
    )


def krippendorff_alpha(
    df: DataFrame, unit_col: str, value_col: str
) -> DataFrame:
    """Krippendorff's alpha (nominal metric) over a long-form ratings
    frame ``(unit, value)`` — one row per rating, ANY number of
    raters per unit: one row ``(n_units, n, alpha)``. The
    multi-rater, missing-tolerant generalization of
    :func:`cohens_kappa` (kappa needs exactly two fixed raters with
    no gaps; real annotation runs have overlapping pools and holes —
    alpha is what an annotation-quality audit actually compares
    against its 0.8 publishing bar).

    Math (Krippendorff 2004, nominal): units with fewer than 2
    ratings are unpairable and drop; with n_uc the count of value c
    in unit u, m_u the unit's rating count, n = Σ m_u and
    n_c = Σ_u n_uc,

        D_o ∝ S = Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1)
        alpha = 1 − S·(n − 1)/(n² − Σ_c n_c²)

    Determinism for hash parity: each per-cell term divides two SMALL
    exact-in-double integers identically on both engines, is rounded
    to 6 dp and summed as DECIMAL(28,6) (the round-then-DECIMAL-sum
    rule for any cross-row float sum); everything else is integer
    until one final division. ``alpha`` is NULL when every rating is
    one value (n² = Σ n_c², expected disagreement 0 — undefined).
    NULL ratings are MISSING (dropped), not a category — exactly the
    hole-tolerance alpha exists for; a NULL that means "annotator
    answered none-of-the-above" should be recoded by the caller.

    Plan shape: one hash aggregate to cells, one keyed window for
    m_u (partitioned by unit — never single-partition), two scalar
    reductions, one broadcast combine. Scan speed at any corpus.
    """
    from pyspark.sql import Window

    dec = "decimal(28,6)"
    cells = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(unit_col).alias("__u"),
            F.col(value_col).cast("string").alias("__v"),
        )
        .groupBy("__u", "__v")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("__u")
    pc = cells.withColumn("__m", F.sum("__c").over(w)).filter(
        F.col("__m") >= 2
    )
    term = F.round(
        (F.col("__c") * (F.col("__m") - F.col("__c"))).cast("double")
        / (F.col("__m") - 1).cast("double"),
        6,
    ).cast(dec)
    s_units = pc.agg(
        F.sum(term).alias("__s"),
        F.count_distinct(F.col("__u")).alias("__n_units"),
        F.sum("__c").cast("long").alias("__n"),
    )
    vc = (
        pc.groupBy("__v")
        .agg(F.sum("__c").cast("long").alias("__nc"))
        .agg(F.sum(F.col("__nc") * F.col("__nc")).alias("__snc2"))
        .select(F.coalesce("__snc2", F.lit(0)).alias("__snc2"))
    )
    den = F.col("__n") * F.col("__n") - F.col("__snc2")
    alpha = F.when(
        den != 0,
        F.round(
            F.lit(1.0)
            - (F.col("__s") * (F.col("__n") - 1)).cast("double")
            / den.cast("double"),
            6,
        ),
    )
    return s_units.crossJoin(F.broadcast(vc)).select(
        F.col("__n_units").cast("long").alias("n_units"),
        F.col("__n").alias("n"),
        alpha.alias("alpha"),
    )


def conformal_threshold(
    df: DataFrame,
    group_col: str,
    score_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal calibration threshold per group: ``(group, n,
    k, threshold)`` where ``threshold`` is the ``k``-th smallest
    nonconformity score with ``k = ceil((n+1)(1-alpha))`` — the
    finite-sample quantile that makes "accept iff score ≤ threshold"
    cover new points with probability ≥ 1-alpha (Vovk et al. 2005;
    Angelopoulos & Bates 2023 tutorial form). The distribution-free
    guarantee an eval team wants from a calibration split before
    shipping a filter/assertion threshold. Groups too small for the
    level (k > n) return NULL — the honest "no finite threshold
    certifies 1-alpha here".

    Exact distributed order statistic, never a per-row global sort:
    per-(group, distinct score) counts, a group-partitioned
    cumulative window over distinct VALUES (bounded by the group's
    distinct-score count, not its rows), and the threshold is the
    least value whose cumulative count reaches k. ``alpha`` enters
    through ``ceil`` on an exact integer expression — engine-portable
    (both sides compute ceil((n+1)·(1-alpha)) in double; n ≪ 2^52
    keeps the product exact to the same double).
    """
    from pyspark.sql.window import Window as W

    cnt = (
        df.groupBy(
            F.col(group_col).alias("__g"),
            F.col(score_col).cast("double").alias("__v"),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w_cum = (
        W.partitionBy("__g")
        .orderBy(F.col("__v").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    pre = cnt.withColumn("__cum", F.sum("__c").over(w_cum))
    per_g = pre.groupBy("__g").agg(F.sum("__c").alias("__n"))
    k = F.ceil(
        (F.col("__n") + F.lit(1)).cast("double")
        * F.lit(1.0 - float(alpha))
    ).cast("long")
    gk = per_g.select("__g", F.col("__n"), k.alias("__k"))
    hit = (
        pre.join(F.broadcast(gk), on="__g")
        .filter(F.col("__cum") >= F.col("__k"))
        .groupBy("__g")
        .agg(F.min("__v").alias("__t"))
    )
    return (
        gk.join(hit, on="__g", how="left")
        .select(
            F.col("__g").alias(group_col),
            F.col("__n").cast("long").alias("n"),
            F.col("__k").alias("k"),
            F.when(
                F.col("__k") <= F.col("__n"),
                F.round(F.col("__t"), 6),
            ).alias("threshold"),
        )
    )


def roc_points(
    df: DataFrame,
    label_col,
    score_col: str,
) -> DataFrame:
    """Exact ROC curve points from per-DISTINCT-score counts: one row
    ``(threshold, n_pred_pos, tp, fp, tpr, fpr)`` per distinct score,
    for the rule "predict positive iff score ≥ threshold" — the curve
    behind the q164/q188 AUCs (an AUC says HOW separable; the curve
    says WHERE to put the operating point, which is what a filter
    team actually sets). Output is |distinct scores| rows —
    thresholds between observed scores change nothing, so this is
    the complete curve, not a sample.

    Plan: ONE aggregate to (score, count, positives) cells, then the
    DESCENDING cumulatives derived from the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum` (cum-at-least(v) = total − exclusive-ascending
    prefix(v) — never a single-partition window, the q192/q225
    discipline) and a broadcast 1-row total. All-integer until the
    final tpr/fpr divisions, rounded 6 dp.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    lab = (
        F.col(label_col) if isinstance(label_col, str) else label_col
    ).cast("int")
    cells = (
        df.select(
            F.col(score_col).cast("double").alias("__v"),
            lab.alias("__y"),
        )
        .groupBy("__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum("__y").alias("__p"),
        )
    )
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    # both prefixes in ONE bucketed pass (same rows, same order)
    pre = global_prefix_sums(
        cells,
        "__v",
        [("__c", "__bc", "long"), ("__p", "__bp", "long")],
    )
    tot = cells.agg(
        F.sum("__c").alias("__nt"), F.sum("__p").alias("__pt")
    )
    return (
        pre.crossJoin(F.broadcast(tot))
        .select(
            F.col("__v").alias("threshold"),
            (F.col("__nt") - F.col("__bc")).cast("long")
            .alias("n_pred_pos"),
            (F.col("__pt") - F.col("__bp")).cast("long").alias("tp"),
            (
                (F.col("__nt") - F.col("__bc"))
                - (F.col("__pt") - F.col("__bp"))
            ).cast("long").alias("fp"),
            F.round(
                (F.col("__pt") - F.col("__bp")).cast("double")
                / F.col("__pt").cast("double"),
                6,
            ).alias("tpr"),
            F.round(
                (
                    (F.col("__nt") - F.col("__bc"))
                    - (F.col("__pt") - F.col("__bp"))
                ).cast("double")
                / (F.col("__nt") - F.col("__pt")).cast("double"),
                6,
            ).alias("fpr"),
        )
    )


def rbo_tail_weights(p: float, k: int) -> list[float]:
    """``W(m) = Σ_{d=m..k} p^d/d`` for m in 0..k+1 (index = m; 0 and
    k+1 unused/zero) — the RBO tail-weight ladder as Python-computed
    doubles, embedded as literals on BOTH engine sides (the module's
    discount-literal rule)."""
    pw = [0.0] * (k + 2)
    for d in range(k, 0, -1):
        pw[d] = pw[d + 1] + (p ** d) / d
    return pw


def rbo_extrapolated(
    left: DataFrame,
    right: DataFrame,
    group_col: str,
    item_col: str,
    rank_col: str = "rank",
    p: float = 0.9,
    k: int = 10,
) -> DataFrame:
    """Rank-biased overlap between two top-``k`` rankings per group
    (Webber, Moffat & Zobel 2010, the extrapolated form): one row
    ``(group, overlap_at_k, rbo)`` with

        RBO_ext = A_k·p^k + (1−p)/p · Σ_{d=1..k} (X_d/d)·p^d

    where ``X_d`` is the overlap of the two depth-d prefixes and
    ``A_d = X_d/d`` — the top-weighted agreement measure for
    comparing RANKERS (BM25 vs embedding retrieval, two dedup
    priority orders, old-vs-new scorer in a regression gate), where
    Kendall/Spearman mis-serve: they need conjoint lists and weight
    all depths equally, while retrieval cares about the head.
    ``p`` tunes head-weight (0.9 ≈ the top ~10 carry ~86% of mass).

    Distributed form — no per-depth loop: a common item with ranks
    (r₁, r₂) joins the overlap at every depth d ≥ m = max(r₁, r₂),
    so Σ_d (X_d/d)·p^d = Σ_items W(m) with the tail weights
    ``W(m) = Σ_{d=m..k} p^d/d`` PRECOMPUTED as double literals
    (Python arithmetic shared verbatim with the SQL oracle — the
    engine-libm-free discount-literal rule of this module). One
    (group, item) equi-join of the two rankings + one map-side-
    combined aggregate; groups with disjoint rankings keep a row
    with RBO 0 via the UNION of both sides' group sets — a group
    present in only ONE ranker (a ranker covering new groups, or one
    that dropped a group) still appears, scored 0, instead of
    silently vanishing from the comparison (r12 advice).

    Inputs are the already-ranked lists: ``rank_col`` ∈ 1..k per
    group (ranks past ``k`` are ignored).
    """
    pw = rbo_tail_weights(p, k)
    lf = left.select(
        F.col(group_col).alias("__g"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).cast("int").alias("__r1"),
    ).filter(F.col("__r1") <= k)
    rt = right.select(
        F.col(group_col).alias("__g"),
        F.col(item_col).alias("__i"),
        F.col(rank_col).cast("int").alias("__r2"),
    ).filter(F.col("__r2") <= k)
    m = F.greatest(F.col("__r1"), F.col("__r2"))
    w = F.lit(None).cast("double")
    for d in range(1, k + 1):
        w = F.when(m == d, F.lit(pw[d])).otherwise(w)
    common = lf.join(rt, on=["__g", "__i"]).select(
        "__g",
        m.alias("__m"),
        F.round(w, 12).cast("decimal(38,12)").alias("__w"),
    )
    per = common.groupBy("__g").agg(
        F.count(F.lit(1)).alias("__xk"),
        F.sum("__w").alias("__sw"),
    )
    groups = (
        lf.select("__g").unionAll(rt.select("__g")).distinct()
    )
    ak_pk = F.col("__xk").cast("double") / F.lit(float(k)) * F.lit(
        float(p**k)
    )
    tail = F.lit((1.0 - p) / p) * F.col("__sw").cast("double")
    return groups.join(per, on="__g", how="left").select(
        F.col("__g").alias(group_col),
        F.coalesce(F.col("__xk").cast("long"), F.lit(0)).alias(
            "overlap_at_k"
        ),
        F.round(
            F.coalesce(ak_pk + tail, F.lit(0.0)), 6
        ).alias("rbo"),
    )


def isotonic_binned_calibration(
    df: DataFrame,
    score_col,
    outcome_col,
    max_bins: int = 64,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a score
    against a boolean outcome over the score's DISTINCT values: one
    row per bin ``(score, n, pos, raw_rate, iso_rate)`` where
    ``iso_rate`` is the exact isotonic-regression fit (PAVA's
    solution) via the max-min representation

        g(i) = max_{a ≤ i} min_{b ≥ i}  ( Σ_{a..b} pos / Σ_{a..b} n )

    — the classic model-calibration step (Zadrozny & Elkan 2002)
    next to :func:`conformal threshold <...>` and the reliability
    table: where raw bucket rates zigzag from noise, the isotonic
    fit is the best monotone staircase under squared loss, and a
    monotone calibrated score is what a THRESHOLDED router needs
    (otherwise a higher score can mean lower empirical quality).

    Distributed form: outcomes reduce to one row per DISTINCT score
    (one map-side-combined aggregate — data-sized work ends here);
    the max-min evaluates over interval prefix sums of the BIN table
    only, O(bins²) interval means and O(bins³) comparisons via two
    bounded joins — with ``max_bins`` (default 64, asserted) the
    whole lattice is a few hundred thousand tiny rows, broadcast-
    joined, independent of data size. Interval means are exact
    DECIMAL ratios rounded 9 dp, so max/min ties resolve identically
    on both engines.
    """
    s = F.col(score_col) if isinstance(score_col, str) else score_col
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean").cast("int")
    bins = (
        df.groupBy(s.alias("score"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("pos"),
        )
    )
    n_bins = bins.count()
    if n_bins > int(max_bins):
        raise ValueError(
            f"isotonic_binned_calibration: {n_bins} distinct scores "
            f"exceed max_bins={max_bins}; bucket the score first "
            "(the max-min lattice is O(bins³))"
        )
    # rank bins by score: tiny table, the window is |bins|-bounded
    from pyspark.sql import Window

    w = Window.orderBy("score")
    ranked = pin(
        bins.select(
            "score",
            "n",
            "pos",
            F.row_number().over(w).alias("__i"),
            F.sum("n").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("__cn"),
            F.sum("pos").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("__cp"),
        )
    )
    lo = ranked.select(
        F.col("__i").alias("__a"),
        (F.col("__cn") - F.col("n")).alias("__cna"),
        (F.col("__cp") - F.col("pos")).alias("__cpa"),
    )
    hi = ranked.select(
        F.col("__i").alias("__b"),
        F.col("__cn").alias("__cnb"),
        F.col("__cp").alias("__cpb"),
    )
    # interval mean m(a,b) = (cp_b - cp_{a-1}) / (cn_b - cn_{a-1})
    intervals = (
        lo.crossJoin(hi)
        .filter(F.col("__a") <= F.col("__b"))
        .select(
            "__a",
            "__b",
            F.round(
                (F.col("__cpb") - F.col("__cpa")).cast("double")
                / (F.col("__cnb") - F.col("__cna")).cast("double"),
                9,
            ).alias("__m"),
        )
    )
    # inner min over b >= i for each (i, a<=i): join intervals to the
    # bin index list where a <= i <= b
    idx = ranked.select(F.col("__i").alias("__pt"))
    inner = (
        intervals.join(
            F.broadcast(idx),
            (F.col("__a") <= F.col("__pt"))
            & (F.col("__pt") <= F.col("__b")),
        )
        .groupBy("__pt", "__a")
        .agg(F.min("__m").alias("__minm"))
    )
    iso = inner.groupBy("__pt").agg(
        F.max("__minm").alias("__iso")
    )
    return (
        ranked.join(iso, ranked["__i"] == iso["__pt"])
        .select(
            "score",
            F.col("n").cast("long").alias("n"),
            F.col("pos").cast("long").alias("pos"),
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("raw_rate"),
            F.round(F.col("__iso"), 6).alias("iso_rate"),
        )
    )


def cohens_kappa_weighted(
    df: DataFrame,
    col_a: str,
    col_b: str,
    weights: str = "quadratic",
) -> DataFrame:
    """WEIGHTED Cohen's kappa between two ORDINAL integer rating
    columns (two annotators, or an LLM judge against a human rater on
    a 1–5 scale): one row ``(n, kappa_w)`` — the ordinal companion of
    :func:`cohens_kappa`, where near-misses cost less than distant
    disagreements via ``w_ij = (i−j)²`` (``"quadratic"``, the
    standard for graded judgments — equivalent to an ICC) or
    ``|i−j|`` (``"linear"``).

    EXACT integer arithmetic end to end: with SO = Σ w_ij·O_ij and
    the chance mass expanded ALGEBRAICALLY (never a k×k marginal
    join) —

        Σ_ij (i−j)²·na_i·nb_j = N·Σi²na_i − 2(Σi·na_i)(Σj·nb_j)
                                 + N·Σj²nb_j

    (and the |i−j| analogue via a bounded per-level join) —

        κ_w = 1 − N·SO / SE

    is one integer division rounded 6 dp at the very end, engine-
    and partitioning-identical. Rows with a NULL rating on either
    side are EXCLUDED (a missing judgment is not a level; the
    unweighted sibling's NULL-as-level convention would give NULL a
    DISTANCE, which is meaningless on an ordinal scale). NULL kappa
    when SE = 0 (both raters constant).

    ONE map-side-combined aggregate over the fact table for the
    quadratic form; the linear form adds one |levels|-bounded
    marginal join.
    """
    if weights not in ("quadratic", "linear"):
        raise ValueError("weights must be 'quadratic' or 'linear'")
    a = F.col(col_a).cast("long")
    b = F.col(col_b).cast("long")
    rows = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    dec = "decimal(38,0)"
    if weights == "quadratic":
        d = (F.col("__a") - F.col("__b")).cast(dec)
        agg = rows.agg(
            F.count(F.lit(1)).cast(dec).alias("__n"),
            F.sum(d * d).alias("__so"),
            F.sum(F.col("__a").cast(dec)).alias("__sa"),
            F.sum(F.col("__b").cast(dec)).alias("__sb"),
            F.sum(
                F.col("__a").cast(dec) * F.col("__a").cast(dec)
            ).alias("__saa"),
            F.sum(
                F.col("__b").cast(dec) * F.col("__b").cast(dec)
            ).alias("__sbb"),
        )
        se = (
            F.col("__n") * F.col("__saa")
            - F.lit(2).cast(dec) * F.col("__sa") * F.col("__sb")
            + F.col("__n") * F.col("__sbb")
        )
        out = agg.select(
            F.col("__n").cast("long").alias("n"),
            F.when(
                se != 0,
                F.round(
                    F.lit(1.0)
                    - (F.col("__n") * F.col("__so")).cast("double")
                    / se.cast("double"),
                    6,
                ),
            ).alias("kappa_w"),
        )
        return out
    # linear weights: SE = Σ_ij |i−j|·na_i·nb_j via the bounded
    # (levels_a × levels_b) marginal join — rating scales are small
    # by contract, so the join is broadcast-tiny.
    so = rows.agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(F.abs(F.col("__a") - F.col("__b")).cast(dec)).alias(
            "__so"
        ),
    )
    ma = rows.groupBy("__a").agg(F.count(F.lit(1)).alias("__na"))
    mb = rows.groupBy("__b").agg(F.count(F.lit(1)).alias("__nb"))
    sem = (
        ma.crossJoin(F.broadcast(mb))
        .agg(
            F.sum(
                F.abs(F.col("__a") - F.col("__b")).cast(dec)
                * F.col("__na").cast(dec)
                * F.col("__nb").cast(dec)
            ).alias("__se")
        )
    )
    return so.crossJoin(F.broadcast(sem)).select(
        F.col("__n").cast("long").alias("n"),
        F.when(
            F.col("__se") != 0,
            F.round(
                F.lit(1.0)
                - (F.col("__n") * F.col("__so")).cast("double")
                / F.col("__se").cast("double"),
                6,
            ),
        ).alias("kappa_w"),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col,
    outcome_col,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table + expected calibration error (Naeini et al.
    2015; the one-number calibration gate next to q266's isotonic
    FIT): one row per occupied confidence bin ``(bin, n, conf, acc,
    gap)`` plus the family scalars ``(ece, n_total)`` repeated per
    row — equal-width bins over a [0, 1] score,

        ECE = Σ_b (n_b / N) · |acc_b − conf_b|

    the number a model card reports as "calibration". A score of
    exactly 1.0 lands in the top bin (the ``least`` clamp).

    Exactness: scores are 4-dp-rounded into exact DECIMAL sums per
    bin (the repo's money-sum rule), accuracies are integer ratios;
    each bin's ``n·|acc−conf|`` rounds 9 dp into DECIMAL(38,9) and
    the ≤``n_bins``-row family sum divides once at the end. Rows
    with NULL score or outcome are excluded. One map-side-combined
    aggregate; the family scalar broadcasts back onto the bin rows.
    """
    s = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean").cast("int")
    rows = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.least(
            F.lit(int(n_bins) - 1),
            F.floor(s * F.lit(int(n_bins))).cast("int"),
        ).alias("bin"),
        F.round(s, 4).cast("decimal(18,4)").alias("__s"),
        y.alias("__y"),
    )
    per = rows.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__s").alias("__ss"),
        F.sum("__y").alias("__pos"),
    )
    conf = F.col("__ss").cast("double") / F.col("n").cast("double")
    acc = F.col("__pos").cast("double") / F.col("n").cast("double")
    term = F.round(
        F.col("n").cast("double") * F.abs(acc - conf), 9
    ).cast("decimal(38,9)")
    binned = per.select(
        F.col("bin").cast("long").alias("bin"),
        F.col("n").cast("long").alias("n"),
        F.round(conf, 6).alias("conf"),
        F.round(acc, 6).alias("acc"),
        F.round(acc - conf, 6).alias("gap"),
        term.alias("__t"),
    )
    fam = binned.agg(
        F.sum("__t").alias("__num"),
        F.sum("n").alias("__N"),
    ).select(
        F.round(
            F.col("__num").cast("double") / F.col("__N").cast("double"),
            6,
        ).alias("ece"),
        F.col("__N").cast("long").alias("n_total"),
    )
    return binned.drop("__t").crossJoin(F.broadcast(fam))


def mcnemar_test(
    df: DataFrame,
    correct_a,
    correct_b,
) -> DataFrame:
    """McNemar's test with Edwards' continuity correction (McNemar
    1947): one row ``(n, n01, n10, chi2, p_value)`` comparing two
    classifiers / annotation rules / model versions on the SAME
    examples — the paired test a model-comparison readout needs,
    because the marginal accuracies' independent-samples z-test
    ignores that both models saw identical inputs. Only the
    DISCORDANT pairs carry information:

        χ² = (|n01 − n10| − 1)² / (n01 + n10),   df = 1

    with n01 = A wrong ∧ B right, n10 = A right ∧ B wrong; the
    df=1 survival function is exactly ``erfc(√(χ²/2))`` through the
    shared literal-coefficient series
    (:func:`~bigdata_kafka_2_spark.operators.mathfn.erfc_col` — the
    q264 z-test discipline, engine-identical). ``greatest(0, ·)``
    keeps the corrected statistic at 0 when the discordants balance
    exactly. Rows with a NULL on either side are EXCLUDED; NULL
    χ²/p when there are no discordant pairs.

    ONE map-side-combined aggregate over the fact table; everything
    after is row-local arithmetic on the 1-row result.
    """
    from bigdata_kafka_2_spark.operators.mathfn import erfc_col

    a = (
        F.col(correct_a) if isinstance(correct_a, str) else correct_a
    ).cast("boolean")
    b = (
        F.col(correct_b) if isinstance(correct_b, str) else correct_b
    ).cast("boolean")
    rows = df.filter(a.isNotNull() & b.isNotNull()).select(
        a.alias("__a"), b.alias("__b")
    )
    agg = rows.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(~F.col("__a") & F.col("__b"), 1).otherwise(0)
        ).alias("__n01"),
        F.sum(
            F.when(F.col("__a") & ~F.col("__b"), 1).otherwise(0)
        ).alias("__n10"),
    )
    d = (F.col("__n01") + F.col("__n10")).cast("double")
    num = F.greatest(
        F.lit(0.0),
        F.abs(F.col("__n01") - F.col("__n10")).cast("double") - 1.0,
    )
    chi2 = num * num / d
    ok = (F.col("__n01") + F.col("__n10")) > 0
    p = erfc_col(F.sqrt(chi2 / F.lit(2.0)))
    return agg.select(
        F.col("__n").cast("long").alias("n"),
        F.col("__n01").cast("long").alias("n01"),
        F.col("__n10").cast("long").alias("n10"),
        F.round(F.when(ok, chi2), 6).alias("chi2"),
        F.round(F.when(ok, p), 9).alias("p_value"),
    )


def brier_decomposition(
    df: DataFrame,
    score_col,
    outcome_col,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score: one row
    ``(n, brier, reliability, resolution, uncertainty)`` — the
    calibration readout that separates WHY a probabilistic scorer is
    good or bad: ``brier ≈ reliability − resolution + uncertainty``
    (exact when forecasts are binned), where reliability is q277's
    calibration gap squared-and-weighted, resolution rewards
    forecasts that separate outcome rates from the base rate, and
    uncertainty ȳ(1−ȳ) is the irreducible floor.

    Exactness discipline: the raw Brier sum uses per-row (s−y)²
    rounded 9 dp into DECIMAL(38,9); the binned reliability /
    resolution terms are per-bin doubles (integer-ratio accuracies,
    4-dp DECIMAL confidence sums — the q277 machinery) rounded 9 dp
    into ≤``n_bins``-row DECIMAL(38,9) sums; the base rate is an
    exact integer ratio. One map-side-combined aggregate for the
    row-level moments, one for the bins; the two 1-row results
    broadcast-join. Rows with NULL score or outcome are excluded.
    """
    s = (
        F.col(score_col) if isinstance(score_col, str) else score_col
    ).cast("double")
    y = (
        F.col(outcome_col)
        if isinstance(outcome_col, str)
        else outcome_col
    ).cast("boolean").cast("int")
    rows = df.filter(s.isNotNull() & y.isNotNull()).select(
        F.least(
            F.lit(int(n_bins) - 1),
            F.floor(s * F.lit(int(n_bins))).cast("int"),
        ).alias("__bin"),
        s.alias("__s"),
        F.round(s, 4).cast("decimal(18,4)").alias("__sr"),
        y.alias("__y"),
    )
    glob = rows.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").alias("__pos"),
        F.sum(
            F.round(
                (F.col("__s") - F.col("__y"))
                * (F.col("__s") - F.col("__y")),
                9,
            ).cast("decimal(38,9)")
        ).alias("__bsum"),
    )
    per = rows.groupBy("__bin").agg(
        F.count(F.lit(1)).alias("__nb"),
        F.sum("__sr").alias("__ss"),
        F.sum("__y").alias("__posb"),
    )
    j = per.crossJoin(F.broadcast(glob))
    nb = F.col("__nb").cast("double")
    conf = F.col("__ss").cast("double") / nb
    acc = F.col("__posb").cast("double") / nb
    ybar = F.col("__pos").cast("double") / F.col("__n").cast("double")
    rel_t = F.round(nb * (conf - acc) * (conf - acc), 9).cast(
        "decimal(38,9)"
    )
    res_t = F.round(nb * (acc - ybar) * (acc - ybar), 9).cast(
        "decimal(38,9)"
    )
    binned = j.agg(
        F.max("__n").alias("__nv"),
        F.max("__pos").alias("__posv"),
        F.max("__bsum").alias("__bsumv"),
        F.sum(rel_t).alias("__rel"),
        F.sum(res_t).alias("__res"),
    )
    n = F.col("__nv").cast("double")
    yb = F.col("__posv").cast("double") / n
    return binned.select(
        F.col("__nv").cast("long").alias("n"),
        F.round(F.col("__bsumv").cast("double") / n, 6).alias("brier"),
        F.round(F.col("__rel").cast("double") / n, 6).alias(
            "reliability"
        ),
        F.round(F.col("__res").cast("double") / n, 6).alias(
            "resolution"
        ),
        F.round(yb * (F.lit(1.0) - yb), 6).alias("uncertainty"),
    )
