"""Counts-based text classification (charter extension — the
model-in-the-loop curation stage a training-data pipeline runs at
corpus scale: route documents by language/domain, screen quality by a
trained classifier, audit label noise via the confusion matrix).

Multinomial Naive Bayes is the one classical text classifier whose fit
AND inference are pure relational aggregates — no gradient loop, no
driver-side state, deterministic to the last bit — so it scales to
100 TB as a handful of hash aggregates and one join on the token key,
and transcribes to ANSI SQL for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin
from bigdata_kafka_2_spark.operators.text import normalize_text


def naive_bayes_predictions(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes, fit and applied on the same frame
    (resubstitution — the label-noise audit shape; split the frame
    yourself for held-out evaluation): ``(id, label, pred, score)``
    where ``pred`` maximizes

        score(d, c) = ln p(c) + Σ_t tf_t · ln p(t|c)

    with add-one smoothing p(t|c) = (ctc+1)/(T_c+V) over the corpus
    vocabulary. The smoothed term decomposes as

        ln p(c) − dl·ln(T_c+V) + Σ_t tf_t·ln(ctc(c,t)+1)

    and ``ln(0+1) = 0``, so the token sum needs ONLY the observed
    (class, token) count pairs — the scoring join is doc-tokens ×
    existing class-token counts on the token key, never a dense
    vocab×class expansion. Ties break toward the lexicographically
    smallest class.

    Documents whose normalized text is EMPTY (no tokens after
    :func:`~bigdata_kafka_2_spark.operators.text.normalize_text` +
    whitespace split) produce NO output row — they never enter the
    token frame, so a downstream router (q183's label-noise stage)
    passes them through unrouted rather than assigning the prior-only
    argmax. Filter ``length(trim(text)) > 0`` upstream (every
    curation chain here does, via its quality gate) or left-join the
    predictions back if prior-only rows are wanted.

    Determinism (the q117 discipline): each log factor is rounded to
    4 dp, multiplied by integer tf, and summed as exact
    DECIMAL(28,4) — order-independent across partitionings, identical
    in ANSI SQL.

    Plan shape: one token explode + (id, label, tok) aggregate; class-
    token counts reduce FROM that aggregate (same shuffle key); class
    totals and the 1-row (V, N) ride in as broadcasts; per-doc argmax
    is a window partitioned by document id. At 100 TB the class-token
    table is vocab×classes — executor-broadcast scale for real label
    sets, shuffled join otherwise.
    """
    scored = _nb_scores(df, label_col, text_col, id_col)
    w = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col("__c").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            id_col,
            F.col("__y").alias("label"),
            F.col("__c").alias("pred"),
            F.col("__score").cast("double").alias("score"),
        )
    )


def _nb_scores(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The shared fit+score table behind the NB surfaces: one row per
    (document, class) with the exact-DECIMAL log-likelihood score."""
    toks = pin(
        df.select(
            F.col(id_col),
            F.col(label_col).alias("__y"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "__y", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ctc = toks.groupBy(F.col("__y").alias("__c"), "tok").agg(
        F.sum("tf").alias("__ctc")
    )
    classes = (
        df.groupBy(F.col(label_col).alias("__c"))
        .agg(F.count(F.lit(1)).alias("__nc"))
        .join(
            F.broadcast(
                ctc.groupBy("__c").agg(F.sum("__ctc").alias("__Tc"))
            ),
            on="__c",
            how="left",
        )
        .select("__c", "__nc", F.coalesce("__Tc", F.lit(0)).alias("__Tc"))
    )
    consts = toks.agg(
        F.count_distinct("tok").alias("__V"),
    ).crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("__N"))))

    def r4(col):
        return F.round(col, 4).cast("decimal(28,4)")

    # per-class constants: ln prior and ln(T_c + V), both rounded once
    cls = pin(
        classes.crossJoin(F.broadcast(consts))
        .select(
            "__c",
            r4(F.log(F.col("__nc").cast("double") / F.col("__N"))).alias(
                "__lprior"
            ),
            r4(F.log((F.col("__Tc") + F.col("__V")).cast("double"))).alias(
                "__ldenom"
            ),
        )
    )
    # observed-token contributions: Σ tf·round4(ln(ctc+1)) per (doc, c)
    contrib = (
        toks.join(ctc, on="tok")
        .groupBy(id_col, "__c")
        .agg(
            F.sum(
                F.col("tf") * r4(F.log(F.col("__ctc") + F.lit(1.0)))
            ).alias("__s")
        )
    )
    docs = (
        toks.groupBy(id_col, "__y")
        .agg(F.sum("tf").alias("__dl"))
        .crossJoin(F.broadcast(cls))
    )
    return docs.join(contrib, on=[id_col, "__c"], how="left").select(
        id_col,
        F.col("__y"),
        "__c",
        (
            F.col("__lprior")
            - F.col("__dl") * F.col("__ldenom")
            + F.coalesce(F.col("__s"), F.lit(0).cast("decimal(28,4)"))
        ).alias("__score"),
    )


def confusion_matrix(predictions: DataFrame) -> DataFrame:
    """(label, pred, n) over :func:`naive_bayes_predictions` output —
    one hash aggregate; the label-noise / router-quality audit."""
    return predictions.groupBy("label", "pred").agg(
        F.count(F.lit(1)).alias("n")
    )


def nb_posteriors(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document class posteriors from the same fit as
    :func:`naive_bayes_predictions`: ``(id, label, pred, confidence)``
    where ``confidence`` is the softmax of the per-class NB scores at
    the argmax. Log-space max-subtraction keeps ``exp`` in range;
    each exp term is rounded to 6 dp and summed as an exact DECIMAL,
    so the posterior is order-independent and SQL-transcribable.

    The scoring plan is :func:`naive_bayes_predictions` verbatim up
    to the per-(doc, class) score table; one extra window pass turns
    scores into calibrated-comparable confidences.
    """
    scored = _nb_scores(df, label_col, text_col, id_col)
    w = Window.partitionBy(id_col)
    wrk = Window.partitionBy(id_col).orderBy(
        F.col("__score").desc(), F.col("__c").asc()
    )
    with_m = scored.withColumn(
        "__m", F.max("__score").over(w)
    ).withColumn("__rk", F.row_number().over(wrk))
    # exp of (score - max) <= 1: rounded to 6 dp, summed exactly
    e = F.round(
        F.exp((F.col("__score") - F.col("__m")).cast("double")), 6
    ).cast("decimal(28,6)")
    terms = with_m.select(
        id_col, "__y", "__c", "__rk", e.alias("__e")
    )
    agg = terms.groupBy(id_col).agg(
        F.max(F.when(F.col("__rk") == 1, F.col("__y"))).alias("label"),
        F.max(F.when(F.col("__rk") == 1, F.col("__c"))).alias("pred"),
        F.max(F.when(F.col("__rk") == 1, F.col("__e"))).alias("__top"),
        F.sum("__e").alias("__z"),
    )
    return agg.select(
        id_col,
        "label",
        "pred",
        F.round(
            F.col("__top").cast("double") / F.col("__z").cast("double"), 6
        ).alias("confidence"),
    )


def expected_calibration_error(
    predictions: DataFrame, n_buckets: int = 10
) -> DataFrame:
    """Reliability table + ECE over ``(label, pred, confidence)``
    rows: per confidence bucket, ``(bucket, n, conf_sum_ppm,
    n_correct)`` — the decomposition a calibration plot reads
    directly: confidence in exact integer parts-per-million and
    accuracy as an exact hit count, so the weighted |acc − conf| gap
    (ECE's summand) reconstructs as ``|n_correct/n −
    conf_sum_ppm/(n·1e6)|`` without float summation. A classifier whose confidence tracks its
    accuracy has acc ≈ conf in every bucket.

    One hash aggregate over the scored rows; buckets by
    ``floor(conf·B)`` clamped to B−1 (confidence 1.0 lands in the
    top bucket).
    """
    b = F.least(
        F.floor(F.col("confidence") * n_buckets).cast("int"),
        F.lit(n_buckets - 1),
    )
    return (
        predictions.select(
            b.alias("bucket"),
            (F.col("pred") == F.col("label")).cast("long").alias("__hit"),
            F.round(F.col("confidence") * 1000000, 0)
            .cast("long")
            .alias("__cppm"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__cppm").alias("conf_sum_ppm"),
            F.sum("__hit").alias("n_correct"),
        )
    )
