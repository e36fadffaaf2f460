"""Deduplication queries over ``documents`` (charter extension)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.io import read_table
from bigdata_kafka_2_spark.operators import dedup as DD
from bigdata_kafka_2_spark.operators.common import pin
from bigdata_kafka_2_spark.operators.sampling import leakage_safe_split
from bigdata_kafka_2_spark.operators.text import (
    quality_filter_flags,
    repetition_stats,
)
from bigdata_kafka_2_spark.plans import REGISTRY, register

_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# Stages shared by the curation queries (q66, q81, q110, q127, q158,
# q183, q214, q238). Each is a plain function of its input frame, and
# each query is a short chain of calls to them.


def _quality_kept(d: DataFrame) -> DataFrame:
    """Rows of ``d`` that pass q49's quality filter
    (operators/text.quality_filter_flags defaults)."""
    keep_ids = quality_filter_flags(d).filter(F.col("keep")).select("doc_id")
    return d.join(keep_ids, on="doc_id", how="left_semi")


def _v2_kept(d: DataFrame) -> DataFrame:
    """q81's curated set: the training side of the ``doc_id % 13``
    split, quality-filtered, repetition-filtered and (pinned) exact-
    decontaminated against the held-out slice."""
    ev = d.filter(F.col("doc_id") % 13 == 0)
    kept1 = _quality_kept(d.filter(F.col("doc_id") % 13 != 0))
    k2 = (
        repetition_stats(kept1, n=2, max_top_frac=0.05, max_dup_frac=0.05)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    kept2 = kept1.join(k2, on="doc_id", how="left_semi")
    return pin(DD.decontaminate(kept2, ev, k=4, min_shared=1))


def _v3_kept(d: DataFrame) -> DataFrame:
    """q110's curated set: :func:`_v2_kept`, then pinned fuzzy
    decontamination and the pinned repeated-substring filter."""
    ev = d.filter(F.col("doc_id") % 13 == 0)
    kept4 = pin(DD.fuzzy_decontaminate(_v2_kept(d), ev, k=3, threshold=0.3))
    return pin(DD.exact_substring_dedup(kept4, k=4, min_df=2, max_coverage=0.5))


def _portable_bucket(rep):
    """Multiplicative-hash bucket in [0, 1e6) of a cluster
    representative — the oracles transcribe it as
    ``(rep * 2654435761) % 1000000`` (q91's portability pattern)."""
    return F.pmod(rep * F.lit(2654435761), F.lit(1_000_000))


def _split_profile(kept: DataFrame) -> DataFrame:
    """Leakage-safe 80/10/10 split of ``kept`` on the portable bucket,
    profiled per split."""
    labeled = leakage_safe_split(
        kept,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        jaccard_threshold=0.5,
        bucket_fn=_portable_bucket,
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").alias("n_clusters"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "q40_exact_dedup_groups",
    oracle=f"""
    SELECT md5({_NORM}) AS fp,
           count(*) AS n_docs,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
    description="Exact dedup groups: hash-groupBy on normalized-text "
    "md5; keep_id = canonical representative (min doc_id). "
    "One map-side-combinable shuffle — the cheapest exact "
    "dedup at any scale.",
    tags=("dedup",),
)
def q40_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.exact_dedup_groups(d)


@register(
    "q41_ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
      JOIN sizes sa ON id_a = sa.doc_id
      JOIN sizes sb ON id_b = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.2
    """,
    description="Exact 3-gram Jaccard similarity join (explode shingles "
    "→ equi-join on shingle → pair aggregation). Cost bounded "
    "by shingle co-occurrence, not |docs|².",
    tags=("dedup", "join"),
)
def q41_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(d, k=3, threshold=0.2)


#: Shared oracle CTE: exact 3-gram Jaccard pairs at a given threshold
#: (the q41 machinery — candidate-restricted Spark output equals it
#: because banding recall is 1 for true near-dups; see
#: operators/dedup.py minhash_lsh_verified_pairs).
def _exact_pairs_sql(threshold: float, source: str = "documents") -> str:
    return f"""
    toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM {source}
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b,
             round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
      FROM common
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
      WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= {threshold}
    )
    """


@register(
    "q42_minhash_lsh_pairs",
    oracle="WITH " + _exact_pairs_sql(0.5) + "SELECT id_a, id_b, jaccard FROM pairs",
    description="MinHash(24 hashes) + LSH banding(8 bands) candidates "
    "+ exact-Jaccard verify ≥ 0.5 — the 100 TB near-dedup path "
    "(band-bucket equi-join, no cross join; verify is an "
    "array_intersect over row-local shingle sets restricted to "
    "candidates). Hash-checked against the all-pairs exact-"
    "Jaccard SQL oracle: banding recall is 1 on the fixture "
    "(all true pairs sit at J ≥ 0.89, where the 8-band miss "
    "probability is < 1e-4) — candidates ⊇ exact pairs is also "
    "asserted in tests.",
    tags=("dedup",),
)
def q42_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.minhash_lsh_verified_pairs(
        d, num_hashes=24, bands=8, jaccard_threshold=0.5
    )


@register(
    "q44_near_dedup_survivors",
    oracle="WITH RECURSIVE "
    + _exact_pairs_sql(0.5)
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node)
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN reps r ON r.node = d.doc_id
    WHERE r.rep = d.doc_id
    """,
    description="End-to-end near-deduplication: MinHash-LSH candidates "
    "→ exact-Jaccard verify (≥ 0.5) → connected components "
    "(iterative min-label propagation, pinned per round) "
    "→ keep the min-id representative per cluster. "
    "Hash-checked against a recursive-CTE transitive-closure "
    "oracle over the exact pair graph.",
    tags=("dedup", "flagship"),
)
def q44_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.near_dedup(d, est_threshold=0.5, verify=True).select(
        "doc_id", "lang", "n_chars"
    )


def _q43_oracle(sf_dir: str | None = None) -> str:
    """Full DuckDB transcription of the SimHash pipeline under the
    portable md5_15 token hash (60 signature bits): 60 generated
    sign-sum aggregates, signature packing, 15-bit band candidate
    equi-join, exact bit_count(xor) verify. Generated the same way
    the CMS/LSH oracles are — the algorithm itself is transcribed."""
    bit_aggs = ",\n             ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split_regex(
          trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
        FROM documents
      ) WHERE tok <> ''
    ),
    hashed AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok || ':0'), 1, 15) AS BIGINT) AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id,
             {bit_aggs}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
    ),
    banded AS (
      SELECT doc_id, simhash, band_idx,
             (simhash >> (band_idx * 15)) & 32767 AS band_val
      FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band_idx) b
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b,
             a.simhash AS sh_a, bb.simhash AS sh_b
      FROM banded a
      JOIN banded bb
        ON a.band_idx = bb.band_idx AND a.band_val = bb.band_val
       AND a.doc_id < bb.doc_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 8
    """


@register(
    "q43_simhash_near_pairs",
    oracle=_q43_oracle,
    description="SimHash near-dup pairs with Hamming ≤ 8 "
    "(operators/dedup.simhash_near_pairs): per-token hash, ±1 "
    "sign-sum per bit position (one wide codegen aggregate), "
    "signature packing, 15-bit band equi-join candidates, exact "
    "bit_count(xor) verify — no cross join, the MinHash-LSH scale "
    "shape. Runs the md5_15 portable hash family (60 signature "
    "bits) so the ENTIRE pipeline transcribes to the generated SQL "
    "oracle — hash-checked since r8 (rows-only before); the "
    "operator's production default stays xxhash64 (one JVM hash, "
    "no string materialization), same plan shape, "
    "equivalence-tested.",
    tags=("dedup",),
)
def q43_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    d = read_table(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(d, max_hamming=8, hash_fn="md5_15").select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


#: q66's quality-keep CTE — the SAME rules/thresholds as q49's graded
#: quality filter (operators/text.quality_filter_flags defaults),
#: restricted to the keep predicate.
_QUALITY_KEPT_CTE = r"""
    kept AS (
      SELECT doc_id, lang, n_chars, text FROM (
        SELECT doc_id, lang, n_chars, text,
               len(toks) AS n_tokens,
               round(length(norm) * 1.0 / greatest(len(toks), 1), 4) AS cpt,
               round(len(list_distinct(toks)) * 1.0
                     / greatest(len(toks), 1), 4) AS ttr
        FROM (
          SELECT doc_id, lang, n_chars, text,
                 coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          '') AS norm,
                 string_split_regex(
                   coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ''), ' '
                 ) AS toks
          FROM documents
        )
      )
      WHERE n_tokens >= 20 AND n_tokens <= 90
        AND cpt >= 4.5 AND cpt <= 6.0
        AND ttr >= 0.45
    )
    """


@register(
    "q66_curation_pipeline",
    oracle="WITH RECURSIVE "
    + _QUALITY_KEPT_CTE
    + ","
    + _exact_pairs_sql(0.5, source="kept")
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM kept
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    survivors AS (
      SELECT d.doc_id, d.lang, d.n_chars
      FROM kept d JOIN reps r ON r.node = d.doc_id
      WHERE r.rep = d.doc_id
    )
    SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM survivors GROUP BY 1
    """,
    description="END-TO-END corpus curation — the charter's core use "
    "case as ONE composed pipeline: Gopher-style quality filter "
    "(q49's exact rules) → MinHash-LSH near-dedup with exact-Jaccard "
    "verify and connected-components clustering (q44's machinery, on "
    "the kept subset) → deterministic train/val/test split (q91's "
    "modulo scheme) → per-split survivor profile. Every stage is the "
    "scale path: scan-speed row-local filter, banded equi-join "
    "candidates, dup-subgraph-restricted label propagation, shuffle-"
    "free split assignment. Hash-checked against the full SQL "
    "transcription (quality CTE + recursive-CTE transitive closure + "
    "split aggregate).",
    tags=("dedup", "text", "sampling", "flagship"),
)
def q66_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    survivors = DD.near_dedup(_quality_kept(d), est_threshold=0.5, verify=True)
    split = (
        F.when(F.col("doc_id") % 10 < 8, F.lit("train"))
        .when(F.col("doc_id") % 10 == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        survivors.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "q74_contamination_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 3)) AS g(i)
    ),
    tr AS (
      SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 13 <> 0
    ),
    ev AS (
      SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 13 = 0
    )
    SELECT train_id, eval_id, count(*) AS n_shared
    FROM tr JOIN ev USING (shingle)
    GROUP BY 1, 2
    """,
    description="Benchmark decontamination "
    "(operators/dedup.contamination_pairs — the GPT-3/Llama "
    "n-gram-collision recipe): train docs sharing full k-gram "
    "shingles with a held-out eval set (here the doc_id%13==0 slice "
    "stands in for a benchmark suite; k=4 on the short synthetic "
    "docs, k=8..13 in production). Both sides reduce row-locally to "
    "DISTINCT full k-grams inside codegen, then ONE equi-join + pair "
    "aggregate; the eval side is broadcast, so at 100 TB the train "
    "scan never shuffles and cost is bounded by true collisions. "
    "decontaminate() is the removal half (left-anti against the "
    "contaminated-id set, tested with planted fixtures).",
    tags=("dedup", "join", "text"),
)
def q74_contamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 13 != 0)
    ev = d.filter(F.col("doc_id") % 13 == 0)
    return DD.contamination_pairs(train, ev, k=4, min_shared=1)


@register(
    "q79_leakage_safe_split",
    oracle="WITH RECURSIVE "
    + _exact_pairs_sql(0.5)
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    lab AS (
      SELECT d.doc_id, r.rep,
             CASE WHEN (r.rep * 2654435761) % 1000000 < 800000 THEN 'train'
                  WHEN (r.rep * 2654435761) % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents d JOIN reps r ON r.node = d.doc_id
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters
    FROM lab GROUP BY split
    """,
    description="Leakage-safe split profile "
    "(operators/sampling.leakage_safe_split): verified near-dup "
    "pairs (q42 machinery) → connected components (q44 machinery) → "
    "the split decision hashes each document's cluster "
    "REPRESENTATIVE, so near-duplicates can never straddle "
    "train/test — the eval-integrity guard a per-document split "
    "lacks. Singletons hash their own id (identical to hash_split); "
    "label propagation touches only the dup subgraph; the split is "
    "one equi-join + a row-local hash. Hash-checked against the "
    "recursive-CTE closure + portable multiplicative-hash bucket "
    "(q91's gate pattern; production bucket is seeded xxhash64); "
    "the no-straddle guarantee itself is asserted in tests on "
    "planted near-dup pairs.",
    tags=("sampling", "dedup"),
)
def q79_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    labeled = leakage_safe_split(
        d,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        jaccard_threshold=0.5,
        bucket_fn=_portable_bucket,
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").alias("n_clusters"),
    )


def _quality_kept_sql(source: str) -> str:
    """q49's quality-keep CTE parameterized over its source relation
    (the q66 constant `_QUALITY_KEPT_CTE` stays verbatim — it is part
    of a graded oracle string)."""
    return rf"""
    kept1 AS (
      SELECT doc_id, lang, n_chars, text FROM (
        SELECT doc_id, lang, n_chars, text,
               len(toks0) AS n_tokens,
               round(length(norm0) * 1.0 / greatest(len(toks0), 1), 4) AS cpt,
               round(len(list_distinct(toks0)) * 1.0
                     / greatest(len(toks0), 1), 4) AS ttr
        FROM (
          SELECT doc_id, lang, n_chars, text,
                 coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                          '') AS norm0,
                 string_split_regex(
                   coalesce(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                            ''), ' '
                 ) AS toks0
          FROM {source}
        )
      )
      WHERE n_tokens >= 20 AND n_tokens <= 90
        AND cpt >= 4.5 AND cpt <= 6.0
        AND ttr >= 0.45
    )
    """


_Q81_ORACLE = (
    "WITH RECURSIVE train AS (SELECT * FROM documents WHERE doc_id % 13 <> 0),"
    + _quality_kept_sql("train")
    + f""",
    g2 AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM kept1),
           UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE t[i] || ' ' || t[i+1] <> ''
    ),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    repok AS (
      SELECT doc_id FROM gc GROUP BY doc_id
      HAVING round(max(c) * 1.0 / sum(c), 4) <= 0.05
         AND round((sum(c) - count(*)) * 1.0 / sum(c), 4) <= 0.05
    ),
    kept2 AS (SELECT k.* FROM kept1 k JOIN repok USING (doc_id)),
    sh4 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               AS shingle
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 3)) AS g(i)
    ),
    contaminated AS (
      SELECT DISTINCT a.doc_id
      FROM sh4 a
        JOIN kept2 k ON a.doc_id = k.doc_id
        JOIN sh4 b ON a.shingle = b.shingle AND b.doc_id % 13 = 0
    ),
    kept3 AS (
      SELECT * FROM kept2
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),"""
    + _exact_pairs_sql(0.5, source="kept3")
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM kept3
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    lab AS (
      SELECT k.doc_id, k.n_chars, r.rep,
             CASE WHEN (r.rep * 2654435761) % 1000000 < 800000 THEN 'train'
                  WHEN (r.rep * 2654435761) % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM kept3 k JOIN reps r ON r.node = k.doc_id
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters,
           round(avg(n_chars), 4) AS avg_chars
    FROM lab GROUP BY split
    """
)


@register(
    "q81_curation_v2",
    oracle=_Q81_ORACLE,
    description="The FULL r7 curation pipeline as ONE composed plan — "
    "every r7 operator family chained the way a training-data team "
    "runs them: Gopher quality filter (q49 rules) → within-document "
    "repetition filter (q73, thresholds tuned non-vacuous for the "
    "clean fixture) → benchmark decontamination against the held-out "
    "doc_id%13==0 slice (q74 machinery, broadcast eval) → verified "
    "near-dedup pairs + connected components → LEAKAGE-SAFE splits "
    "(q79: the split decision hashes the cluster representative, so "
    "near-dups never straddle train/test) → per-split profile. Every "
    "stage is scan-speed or dup-subgraph-bounded; no new shuffle "
    "class beyond the component pipelines. Hash-checked against the "
    "single SQL transcription (quality CTE + repetition CTE + "
    "collision CTE + recursive-CTE closure + portable-bucket split).",
    tags=("dedup", "sampling", "text", "flagship"),
)
def q81_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _split_profile(_v2_kept(read_table(spark, sf_dir, "documents")))


@register(
    "q85_incremental_dedup_survivors",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    dropped AS (
      SELECT DISTINCT d.doc_id
      FROM sh d
        JOIN sh o ON d.shingle = o.shingle
        JOIN sizes sd ON sd.doc_id = d.doc_id
        JOIN sizes so ON so.doc_id = o.doc_id
      WHERE d.doc_id % 7 = 0
        AND (o.doc_id % 7 <> 0 OR o.doc_id < d.doc_id)
      GROUP BY d.doc_id, o.doc_id, sd.n, so.n
      HAVING round(count(*) * 1.0 / (sd.n + so.n - count(*)), 4) >= 0.5
    )
    SELECT doc_id, lang, n_chars FROM documents
    WHERE doc_id % 7 = 0
      AND doc_id NOT IN (SELECT doc_id FROM dropped)
    """,
    description="Incremental near-dedup "
    "(operators/dedup.incremental_near_dedup): a NEW ingest batch "
    "(the doc_id%7==0 slice stands in for today's crawl) deduped "
    "against the EXISTING corpus plus the batch's own earlier rows — "
    "the daily-ingest shape where only the delta's shingles drive the "
    "similarity join (the corpus side is the posting-list index the "
    "previous ingest already wrote, so per-batch cost ∝ delta, not "
    "corpus). Precedence is deterministic: corpus precedes delta, "
    "smaller delta id precedes larger, so re-ingesting a batch drops "
    "every copy and internal dup chains keep their min-id member. "
    "Hash-checked against a full DuckDB transcription; idempotence "
    "and precedence covered by planted-fixture tests.",
    tags=("dedup", "join"),
)
def q85_incremental_dedup_survivors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    delta = d.filter(F.col("doc_id") % 7 == 0)
    return DD.incremental_near_dedup(corpus, delta, threshold=0.5).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "q106_incremental_dedup_lsh",
    oracle=lambda sf_dir: REGISTRY["q85_incremental_dedup_survivors"].oracle,
    description="Incremental near-dedup with MinHash-LSH banded "
    "candidates (operators/dedup.incremental_near_dedup_lsh) — the "
    "corpus-scale configuration of q85: instead of the raw shingle "
    "co-occurrence join (candidate volume = co-occurrence, bounded "
    "only by the max_doc_freq cap), candidates come from band-bucket "
    "collisions on row-local MinHash signatures and the exact-Jaccard "
    "verify runs per candidate via row-local shingle sets "
    "(array_intersect — NO shingle-keyed shuffle anywhere; at 100 TB "
    "both corpus-side structures are the stored index of the previous "
    "ingest, so per-batch cost is the delta's bands plus actual "
    "collisions). Same precedence/keep semantics and the SAME exact "
    "oracle as q85 — the banded plan hash-matching the all-pairs "
    "transcription is the recall proof at grading scale (the q42 "
    "precedent: a true pair at J=0.8 misses all 12 bands of 2 with "
    "p~5e-6).",
    tags=("dedup", "join"),
)
def q106_incremental_dedup_lsh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    delta = d.filter(F.col("doc_id") % 7 == 0)
    return DD.incremental_near_dedup_lsh(
        corpus, delta, threshold=0.5
    ).select("doc_id", "lang", "n_chars")


@register(
    "q104_repeated_substring_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+7], ' ') AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS gs(i)
      WHERE len(t) >= 8
    ),
    dup AS (
      SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM g)
      GROUP BY shingle HAVING count(*) >= 2
    ),
    hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (shingle)),
    cov AS (
      SELECT doc_id,
             CAST(sum(greatest(0, pos + 8 -
                      greatest(pos, coalesce(prev_end, 0)))) AS BIGINT)
               AS covered_tokens
      FROM (
        SELECT doc_id, pos,
               max(pos + 8) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM hits
      )
      GROUP BY doc_id
    ),
    sizes AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' OR text IS NULL THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM documents
    )
    SELECT s.doc_id, s.n_tokens,
           coalesce(c.covered_tokens, 0) AS covered_tokens,
           round(coalesce(c.covered_tokens, 0) * 1.0
                 / greatest(s.n_tokens, 1), 4) AS coverage,
           round(coalesce(c.covered_tokens, 0) * 1.0
                 / greatest(s.n_tokens, 1), 4) <= 0.5 AS keep
    FROM sizes s LEFT JOIN cov c ON s.doc_id = c.doc_id
    """,
    description="Cross-document repeated-substring coverage "
    "(operators/dedup.repeated_substring_coverage): fraction of each "
    "document's tokens inside an 8-gram that appears in >= 2 docs — "
    "the distributed form of the suffix-array ExactSubstr dedup "
    "signal (Lee et al.: boilerplate/licenses/templates show up as "
    "corpus-repeated spans; exact_substring_dedup drops documents "
    "dominated by them). Plan: positioned grams (row-local explode) "
    "-> gram document frequency (one hash agg) -> join repeated grams "
    "back on the SAME shingle key (exchange reuse) -> per-doc "
    "interval union via one window sweep over (doc, pos). All stages "
    "map-side-combinable or doc-keyed; nothing quadratic. Complements "
    "q73 (WITHIN-doc repetition) and q41/q42 (whole-doc similarity): "
    "this is the span-level cross-doc axis neither measures.",
    tags=("dedup", "text", "window"),
)
def q104_repeated_substring_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    out = DD.repeated_substring_coverage(d, k=8, min_df=2, max_coverage=0.5)
    # trivially-true predicate on the COMPUTED column: without a
    # reference to the coverage side, a bare count() (the bench
    # action) lets Catalyst eliminate the outer join and measure only
    # the sizes scan — the r8 probe recorded identical small/large
    # times for a query whose gram stage grows 10x. No row is dropped
    # (coverage is never NULL), so the oracle is unchanged.
    return out.filter(F.col("coverage").isNotNull())


@register(
    "q107_fuzzy_contamination_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE a.doc_id % 13 <> 0 AND b.doc_id % 13 = 0
      GROUP BY 1, 2
    )
    SELECT train_id, eval_id,
           round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM pairs
      JOIN sizes sa ON train_id = sa.doc_id
      JOIN sizes sb ON eval_id = sb.doc_id
    WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.5
    """,
    description="FUZZY benchmark decontamination "
    "(operators/dedup.fuzzy_contamination_pairs): train docs "
    "NEAR-duplicating an eval doc at exact Jaccard >= 0.5 — catches "
    "the paraphrased/reformatted benchmark copies q74's verbatim "
    "full-k-gram collision misses (the Llama-style two-pass: exact "
    "inclusion, then fuzzy). Banded MinHash candidates with the tiny "
    "eval side broadcast at BOTH stages (bands and row-local shingle "
    "sets), exact array_intersect verify per candidate — the train "
    "table scans once and never shuffles. Hash-checked against the "
    "exact all-pairs transcription (the q42 recall precedent).",
    tags=("dedup", "join"),
)
def q107_fuzzy_contamination_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 13 != 0)
    ev = d.filter(F.col("doc_id") % 13 == 0)
    return DD.fuzzy_contamination_pairs(train, ev, threshold=0.5)


_Q110_ORACLE = (
    "WITH RECURSIVE train AS (SELECT * FROM documents WHERE doc_id % 13 <> 0),"
    + _quality_kept_sql("train")
    + f""",
    g2 AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM kept1),
           UNNEST(generate_series(1, len(t) - 1)) AS g(i)
      WHERE t[i] || ' ' || t[i+1] <> ''
    ),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
    repok AS (
      SELECT doc_id FROM gc GROUP BY doc_id
      HAVING round(max(c) * 1.0 / sum(c), 4) <= 0.05
         AND round((sum(c) - count(*)) * 1.0 / sum(c), 4) <= 0.05
    ),
    kept2 AS (SELECT k.* FROM kept1 k JOIN repok USING (doc_id)),
    sh4 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
               AS shingle
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 3)) AS g(i)
    ),
    contaminated AS (
      SELECT DISTINCT a.doc_id
      FROM sh4 a
        JOIN kept2 k ON a.doc_id = k.doc_id
        JOIN sh4 b ON a.shingle = b.shingle AND b.doc_id % 13 = 0
    ),
    kept3 AS (
      SELECT * FROM kept2
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sh3k AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM kept3),
           UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sh3e AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t
            FROM documents WHERE doc_id % 13 = 0),
           UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    szk AS (SELECT doc_id, count(*) AS n FROM sh3k GROUP BY 1),
    sze AS (SELECT doc_id, count(*) AS n FROM sh3e GROUP BY 1),
    fzc AS (
      SELECT a.doc_id, b.doc_id AS eid, count(*) AS c
      FROM sh3k a JOIN sh3e b USING (shingle) GROUP BY 1, 2
    ),
    fuzzy_bad AS (
      SELECT DISTINCT fzc.doc_id
      FROM fzc JOIN szk ON fzc.doc_id = szk.doc_id
               JOIN sze ON fzc.eid = sze.doc_id
      WHERE round(c * 1.0 / (szk.n + sze.n - c), 4) >= 0.3
    ),
    kept4 AS (
      SELECT * FROM kept3
      WHERE doc_id NOT IN (SELECT doc_id FROM fuzzy_bad)
    ),
    g4p AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+3], ' ') AS shingle
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS t FROM kept4),
           UNNEST(generate_series(1, len(t) - 3)) AS gs(i)
      WHERE len(t) >= 4
    ),
    dupg AS (
      SELECT shingle FROM (SELECT DISTINCT doc_id, shingle FROM g4p)
      GROUP BY shingle HAVING count(*) >= 2
    ),
    covhits AS (SELECT g4p.doc_id, pos FROM g4p JOIN dupg USING (shingle)),
    cov AS (
      SELECT doc_id,
             sum(greatest(0, pos + 4 -
                 greatest(pos, coalesce(prev_end, 0)))) AS covered
      FROM (
        SELECT doc_id, pos,
               max(pos + 4) OVER (
                 PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_end
        FROM covhits
      ) GROUP BY doc_id
    ),
    szt AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' OR text IS NULL THEN 0
                  ELSE len(string_split({_NORM}, ' ')) END AS n_tokens
      FROM kept4
    ),
    kept5 AS (
      SELECT k.* FROM kept4 k
        JOIN szt USING (doc_id)
        LEFT JOIN cov USING (doc_id)
      WHERE round(coalesce(covered, 0) * 1.0
                  / greatest(n_tokens, 1), 4) <= 0.5
    ),"""
    + _exact_pairs_sql(0.5, source="kept5")
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM kept5
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    lab AS (
      SELECT k.doc_id, k.n_chars, r.rep,
             CASE WHEN (r.rep * 2654435761) % 1000000 < 800000 THEN 'train'
                  WHEN (r.rep * 2654435761) % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split
      FROM kept5 k JOIN reps r ON r.node = k.doc_id
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters,
           round(avg(n_chars), 4) AS avg_chars
    FROM lab GROUP BY split
    """
)


@register(
    "q110_curation_v3",
    oracle=_Q110_ORACLE,
    description="The FULL curation pipeline, r8 edition — q81's chain "
    "extended with this round's stages, composed as ONE hash-checked "
    "plan: Gopher quality filter → within-doc repetition filter → "
    "EXACT benchmark decontamination (verbatim 4-gram collisions, "
    "eval broadcast) → FUZZY decontamination (3-gram Jaccard >= 0.3 "
    "vs eval — catches paraphrased benchmark copies; "
    "operators/dedup.fuzzy_decontaminate) → cross-document "
    "repeated-substring filter (4-gram coverage <= 0.5 over the "
    "surviving set — drops boilerplate/template-dominated docs; "
    "operators/dedup.exact_substring_dedup) → verified near-dedup "
    "pairs + connected components → leakage-safe splits → per-split "
    "profile. Every stage scan-speed, broadcast-bounded, or "
    "dup-subgraph-bounded; the curated set is pinned once at "
    "the stage boundary deployment writes anyway (q81's rule). All "
    "stages non-vacuous on the driver data (each drops documents).",
    tags=("dedup", "sampling", "text", "flagship"),
)
def q110_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _split_profile(_v3_kept(read_table(spark, sf_dir, "documents")))


@register(
    "q115_remove_repeated_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN {_NORM} = '' OR text IS NULL
                  THEN CAST([] AS VARCHAR[])
                  ELSE string_split({_NORM}, ' ') END AS t
      FROM documents
    ),
    spans AS (
      SELECT doc_id, i - 1 AS block,
             array_to_string(t[(i - 1) * 8 + 1 : least((i - 1) * 8 + 8,
                                                       len(t))], ' ')
               AS span
      FROM toks,
           UNNEST(generate_series(1, CAST(ceil(len(t) / 8.0) AS INT)))
             AS g(i)
    ),
    winners AS (
      SELECT span,
             min(struct_pack(doc_id := doc_id, block := block)) AS w
      FROM spans GROUP BY span
    ),
    kept AS (
      SELECT s.doc_id,
             string_agg(s.span, ' ' ORDER BY s.block) AS text_clean
      FROM spans s JOIN winners USING (span)
      WHERE s.doc_id = w.doc_id AND s.block = w.block
      GROUP BY s.doc_id
    )
    SELECT t.doc_id,
           coalesce(k.text_clean, '') AS text_clean,
           CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN coalesce(k.text_clean, '') = '' THEN 0
                     ELSE len(string_split(k.text_clean, ' ')) END
                AS BIGINT) AS n_tokens_clean
    FROM toks t LEFT JOIN kept k USING (doc_id)
    """,
    description="Partial-document dedup "
    "(operators/dedup.remove_repeated_spans): remove corpus-repeated "
    "8-token spans but KEEP the rest of the document — the 'remove "
    "the repeated substring, not the document' half of ExactSubstr "
    "dedup and the span analogue of C4's line-level dedup. Every "
    "duplicated span survives only at its first (min doc, min block) "
    "occurrence; documents reassemble from their kept spans in order. "
    "Row-local span build -> one explode -> map-side min_by winner "
    "per span -> winner join on the same span key (exchange reuse) -> "
    "row-local array_sort reassembly. Hash-checked end-to-end incl. "
    "the reassembled text.",
    tags=("dedup", "text"),
)
def q115_remove_repeated_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.remove_repeated_spans(d, k=8)


#: q127 = q110's chain + a DSIR data-selection stage between the
#: repeated-substring filter and pair mining: survivors are scored by
#: DSIR importance toward the lang='en' target (the model fit on the
#: SURVIVING set itself — selection adapts as upstream filters
#: change) and the top 80% by length-normalized log-ratio are kept
#: (threshold = the exact interpolated 20th percentile, one tiny
#: broadcast row — q108's banding pattern, no global sort).
_Q127_DSIR_CTES = """,
    dtf AS (
      SELECT doc_id, tgt, tok, count(*) AS tf FROM (
        SELECT k.doc_id, (k.lang = 'en') AS tgt, u.tok
        FROM (SELECT doc_id, lang,
                     unnest(string_split({norm}, ' ')) AS tok
              FROM kept5) AS u(doc_id, lang, tok)
        JOIN kept5 k USING (doc_id)
        WHERE u.tok <> ''
      ) GROUP BY 1, 2, 3
    ),
    dvocab AS (
      SELECT tok, sum(tf) AS cr,
             sum(CASE WHEN tgt THEN tf ELSE 0 END) AS ct
      FROM dtf GROUP BY tok
    ),
    dtot AS (SELECT sum(cr) AS Tr, sum(ct) AS Tt, count(*) AS V FROM dvocab),
    dagg AS (
      SELECT doc_id,
             CAST(sum(tf) AS BIGINT) AS dl,
             sum(CAST(tf * round(
                 ln((ct + 1.0) / (Tt + V)) - ln((cr + 1.0) / (Tr + V)),
               4) AS DECIMAL(28,4))) AS s
      FROM dtf JOIN dvocab USING (tok), dtot
      GROUP BY doc_id
    ),
    dsir AS (
      SELECT doc_id,
             (CASE WHEN s < 0 THEN -1 ELSE 1 END)
               * ((abs(CAST(s * 10000 AS BIGINT)) * 2 + dl) // (dl * 2))
               / 10000.0 AS avg_logratio
      FROM dagg
    ),
    dthr AS (SELECT quantile_cont(avg_logratio, 0.2) AS thr FROM dsir),
    kept6 AS (
      SELECT k.* FROM kept5 k
        JOIN dsir USING (doc_id), dthr
      WHERE avg_logratio >= thr
    )"""


def _q127_oracle(sf_dir: str | None = None) -> str:
    base = _Q110_ORACLE
    dsir = _Q127_DSIR_CTES.replace("{norm}", _NORM)
    # splice: insert the DSIR CTEs after kept5's definition, then point
    # every downstream stage (pair mining, reach seeding, labeling) at
    # kept6 instead of kept5.
    marker = "\n                  / greatest(n_tokens, 1), 4) <= 0.5\n    ),"
    assert marker in base
    head, tail = base.split(marker, 1)
    tail = tail.replace("kept5", "kept6")
    # _exact_pairs_sql(source=...) begins immediately after the marker
    return head + marker.rstrip(",") + dsir + "," + tail


@register(
    "q127_curation_v4",
    oracle=_q127_oracle,
    description="The FULL curation pipeline, late-r8 edition — q110's "
    "chain plus a DSIR data-selection stage (Xie et al. 2023): "
    "Gopher quality filter → repetition filter → exact + fuzzy "
    "benchmark decontamination → repeated-substring filter → DSIR "
    "importance scoring toward the lang='en' target with the model "
    "fit ON the surviving set (selection adapts as upstream filters "
    "change), keeping the top 80% by length-normalized log-ratio "
    "(threshold = exact interpolated 20th percentile, one broadcast "
    "row — no global sort) → verified near-dedup pairs + connected "
    "components → leakage-safe splits → per-split profile. One "
    "hash-checked plan; every stage scan-speed, broadcast-bounded, "
    "or dup-subgraph-bounded; curated intermediates pinned at "
    "the stage boundaries deployment writes anyway (q81's rule).",
    tags=("dedup", "sampling", "text", "flagship"),
)
def q127_curation_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.sampling import dsir_logweights

    kept5 = _v3_kept(read_table(spark, sf_dir, "documents"))
    scores = dsir_logweights(kept5, F.col("lang") == "en").select(
        "doc_id", "avg_logratio"
    )
    thr = scores.agg(
        F.percentile("avg_logratio", F.lit(0.2)).alias("__thr")
    )
    kept6 = pin(
        kept5.join(scores, on="doc_id")
        .crossJoin(F.broadcast(thr))
        .filter(F.col("avg_logratio") >= F.col("__thr"))
        .drop("avg_logratio", "__thr")
    )
    return _split_profile(kept6)


@register(
    "q134_leakage_safe_folds",
    oracle="WITH RECURSIVE "
    + _exact_pairs_sql(0.5)
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    lab AS (
      SELECT d.doc_id, r.rep,
             CAST(((r.rep * 2654435761) % 1000000) % 5 AS INT) AS fold
      FROM documents d JOIN reps r ON r.node = d.doc_id
    )
    SELECT fold, count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters
    FROM lab GROUP BY fold
    """,
    description="Leakage-safe 5-fold cross-validation profile "
    "(operators/sampling.leakage_safe_folds): the CV counterpart of "
    "q79 — fold = hash of each document's near-dup cluster "
    "REPRESENTATIVE mod k, so rotating any fold out as the "
    "validation set never leaves a near-copy of a validation "
    "document in the training folds. Same machinery and scale shape "
    "as q79 (pair graph and closure bounded by the dup subgraph, "
    "then one equi-join + row-local hash); same recall bound and "
    "oracle-verifies-recall property (the exact all-pairs closure "
    "transcription would hash-mismatch if LSH missed a pair).",
    tags=("sampling", "dedup"),
)
def q134_leakage_safe_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.sampling import leakage_safe_folds

    d = read_table(spark, sf_dir, "documents")
    labeled = leakage_safe_folds(
        d,
        k=5,
        jaccard_threshold=0.5,
        bucket_fn=_portable_bucket,
    )
    return labeled.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_rep").alias("n_clusters"),
    )


@register(
    "q147_prefix_filter_pairs",
    oracle="WITH "
    + _exact_pairs_sql(0.25)
    + "SELECT id_a, id_b, jaccard FROM pairs",
    description="EXACT Jaccard pairs (J ≥ 0.25) via PREFIX FILTERING "
    "(operators/dedup.prefix_filter_jaccard_pairs, PPJoin-style): "
    "shingles are ranked per-doc by global document frequency "
    "(rarest first) and only the first L - ceil(t*L) + 1 join — by "
    "the published prefix-filter theorem no true pair can be missed, "
    "so the output EQUALS the all-pairs exact oracle while the "
    "frequent shingles (the candidate-count killers in a full "
    "inverted index) never generate a candidate. Lossless where "
    "MinHash-LSH is probabilistic and max_doc_freq capping changes "
    "the measure; verify is array_intersect over row-local shingle "
    "sets restricted to candidates. The frequency rank is a window "
    "partitioned BY DOC — no global sort, no single-partition "
    "exchange.",
    tags=("dedup", "join"),
)
def q147_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.prefix_filter_jaccard_pairs(d, k=3, threshold=0.25)


@register(
    "q151_containment_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh a JOIN sh b ON a.shingle = b.shingle
                         AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(c * 1.0 / sa.n, 4) AS containment
    FROM common JOIN sizes sa ON id_a = sa.doc_id
    WHERE round(c * 1.0 / sa.n, 4) >= 0.5
    """,
    description="DIRECTIONAL shingle containment pairs (operators/"
    "dedup.shingle_containment_pairs): |Sa ∩ Sb| / |Sa| >= 0.5 with "
    "id_a the CONTAINED doc — the asymmetric dedup measure that "
    "catches a short document quoted wholesale inside a long one "
    "(containment 1.0, Jaccard near 0: the symmetric near-dup pass "
    "never flags it). Same co-occurrence-bounded inverted-index plan "
    "as the Jaccard join but both orientations survive and each is "
    "normalized by its own side's size.",
    tags=("dedup", "join"),
)
def q151_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.shingle_containment_pairs(d, k=3, threshold=0.5)


@register(
    "q158_curation_v5",
    oracle="WITH RECURSIVE "
    + _QUALITY_KEPT_CTE
    + r""",
    toks5 AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                              'g')), ' ') AS t
      FROM kept
    ),
    sh5 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks5, UNNEST(generate_series(1, greatest(len(t) - 2, 1)))
        AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes5 AS (SELECT doc_id, count(*) AS n FROM sh5 GROUP BY doc_id),
    common5 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh5 a JOIN sh5 b ON a.shingle = b.shingle
                           AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    cont AS (
      SELECT id_a, id_b
      FROM common5 JOIN sizes5 sa ON id_a = sa.doc_id
      WHERE round(c * 1.0 / sa.n, 4) >= 0.6
    ),
    removal AS (
      SELECT DISTINCT p.id_a
      FROM cont p LEFT JOIN cont r
        ON r.id_a = p.id_b AND r.id_b = p.id_a
      WHERE r.id_a IS NULL OR p.id_a > p.id_b
    ),
    kept2 AS (
      SELECT * FROM kept
      WHERE doc_id NOT IN (SELECT id_a FROM removal)
    ),
    pairs5 AS (
      SELECT a.id_a, a.id_b
      FROM (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS c
        FROM sh5 x JOIN sh5 y ON x.shingle = y.shingle
                             AND x.doc_id < y.doc_id
        WHERE x.doc_id IN (SELECT doc_id FROM kept2)
          AND y.doc_id IN (SELECT doc_id FROM kept2)
        GROUP BY 1, 2
      ) a
        JOIN sizes5 sa ON a.id_a = sa.doc_id
        JOIN sizes5 sb ON a.id_b = sb.doc_id
      WHERE round(a.c * 1.0 / (sa.n + sb.n - a.c), 4) >= 0.5
    ),
    edges5 AS (
      SELECT id_a AS s, id_b AS d FROM pairs5
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs5
    ),
    reach5(node, anc) AS (
      SELECT doc_id, doc_id FROM kept2
      UNION
      SELECT e.d AS node, r.anc FROM reach5 r JOIN edges5 e ON e.s = r.node
    ),
    reps5 AS (SELECT node, min(anc) AS rep FROM reach5 GROUP BY node)
    SELECT k.lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(k.n_chars), 4) AS avg_chars
    FROM kept2 k JOIN reps5 r ON r.node = k.doc_id AND r.rep = k.doc_id
    GROUP BY k.lang
    """,
    description="Curation v5 — this round's LOSSLESS dedup chain as "
    "one hash-checked plan: Gopher quality filter (scan-speed, "
    "row-local) → DIRECTIONAL containment removal (drop docs ≥0.6 "
    "contained in a surviving doc; mutual containments keep the "
    "lower id — embedded quotes and boilerplate wrappers that "
    "symmetric Jaccard never flags) → PREFIX-FILTERED exact Jaccard "
    "pairs at 0.5 (the PPJoin theorem: identical output to all-pairs "
    "with a fraction of the candidates — no LSH recall bound "
    "anywhere in this pipeline, so the oracle equality is exact by "
    "construction, not by measured recall) → connected components → "
    "min-id survivors → per-language profile. Every stage "
    "co-occurrence-bounded or dup-subgraph-bounded; shingles build "
    "once and serve both dedup stages.",
    tags=("dedup", "text", "flagship"),
)
def q158_curation_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    kept1 = pin(_quality_kept(d))
    kept2 = pin(DD.containment_removal(kept1, k=3, threshold=0.6))
    pairs = DD.prefix_filter_jaccard_pairs(kept2, k=3, threshold=0.5)
    survivors = DD.cluster_survivors(kept2, pairs)
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "q171_weighted_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok <> '' GROUP BY 1, 2
    ),
    totals AS (SELECT doc_id, sum(tf) AS t FROM tf GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             sum(least(a.tf, b.tf)) AS smin
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(smin * 1.0 / (ta.t + tb.t - smin), 4) AS wjaccard
    FROM shared
      JOIN totals ta ON id_a = ta.doc_id
      JOIN totals tb ON id_b = tb.doc_id
    WHERE round(smin * 1.0 / (ta.t + tb.t - smin), 4) >= 0.8
    """,
    description="WEIGHTED (multiset) Jaccard pairs "
    "(operators/dedup.weighted_jaccard_pairs): Σ min(tf) / Σ max(tf) "
    "over token frequencies ≥ 0.4 — the bag-of-words refinement of "
    "set Jaccard (repeat-heavy spam shares a shingle SET but little "
    "weighted mass; frequency-shifted near-dups score their true "
    "overlap), at the 0.8 near-duplicate band (the driver corpus is "
    "vocabulary-dense: 36%% of ALL pairs share 0.4 of weighted mass, "
    "so low thresholds are quadratic BY DEFINITION, not by plan). "
    "Candidates via the WEIGHTED PREFIX FILTER (SSJoin, weighted "
    "form — lossless: the minimum-order shared token provably sits "
    "in both docs' rarest-first prefixes), so stopwords never "
    "generate candidates; verify is row-local map_zip_with over "
    "per-doc count maps — full counts never cross a token-keyed "
    "shuffle. The oracle computes UNPRUNED all-pairs, hash-proving "
    "the prefix filter lossless.",
    tags=("dedup", "join"),
)
def q171_weighted_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return DD.weighted_jaccard_pairs(d, threshold=0.8)


def _v6_chain_sql() -> str:
    """The v6 pipeline CTE chain (quality -> NB router -> containment
    -> prefix-filtered dedup -> CC reps), up to and including
    ``reps6`` — shared by the v6 profile oracle and v7's
    redacted-release tail."""
    from bigdata_kafka_2_spark.plans.text_queries import (
        _nb_scored_prefix_sql,
    )

    return (
        "WITH RECURSIVE "
        + _QUALITY_KEPT_CTE
        + ","
        + _nb_scored_prefix_sql(source="kept", lead="")
        + r""",
    router AS (
      SELECT doc_id FROM (
        SELECT doc_id, label, cand,
               row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, cand ASC
               ) AS rk
        FROM scored
      ) WHERE rk = 1 AND cand = label
    ),
    kept1 AS (
      SELECT * FROM kept
      WHERE doc_id IN (SELECT doc_id FROM router)
    ),
    toks6 AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ',
                                              'g')), ' ') AS t
      FROM kept1
    ),
    sh6 AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks6, UNNEST(generate_series(1, greatest(len(t) - 2, 1)))
        AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    sizes6 AS (SELECT doc_id, count(*) AS n FROM sh6 GROUP BY doc_id),
    common6 AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      FROM sh6 a JOIN sh6 b ON a.shingle = b.shingle
                           AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    cont6 AS (
      SELECT id_a, id_b
      FROM common6 JOIN sizes6 sa ON id_a = sa.doc_id
      WHERE round(c * 1.0 / sa.n, 4) >= 0.6
    ),
    removal6 AS (
      SELECT DISTINCT p.id_a
      FROM cont6 p LEFT JOIN cont6 r
        ON r.id_a = p.id_b AND r.id_b = p.id_a
      WHERE r.id_a IS NULL OR p.id_a > p.id_b
    ),
    kept2 AS (
      SELECT * FROM kept1
      WHERE doc_id NOT IN (SELECT id_a FROM removal6)
    ),
    pairs6 AS (
      SELECT a.id_a, a.id_b
      FROM (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS c
        FROM sh6 x JOIN sh6 y ON x.shingle = y.shingle
                             AND x.doc_id < y.doc_id
        WHERE x.doc_id IN (SELECT doc_id FROM kept2)
          AND y.doc_id IN (SELECT doc_id FROM kept2)
        GROUP BY 1, 2
      ) a
        JOIN sizes6 sa ON a.id_a = sa.doc_id
        JOIN sizes6 sb ON a.id_b = sb.doc_id
      WHERE round(a.c * 1.0 / (sa.n + sb.n - a.c), 4) >= 0.5
    ),
    edges6 AS (
      SELECT id_a AS s, id_b AS d FROM pairs6
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs6
    ),
    reach6(node, anc) AS (
      SELECT doc_id, doc_id FROM kept2
      UNION
      SELECT e.d AS node, r.anc FROM reach6 r JOIN edges6 e ON e.s = r.node
    ),
    reps6 AS (SELECT node, min(anc) AS rep FROM reach6 GROUP BY node)"""
    )


def _v6_oracle() -> str:
    return (
        _v6_chain_sql()
        + """
    SELECT k.lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(k.n_chars), 4) AS avg_chars
    FROM kept2 k JOIN reps6 r ON r.node = k.doc_id AND r.rep = k.doc_id
    GROUP BY k.lang
    """
    )


_Q183_DESCRIPTION = (
    "Curation v6 — v5's lossless dedup chain with a "
    "MODEL-IN-THE-LOOP label-noise router between quality filtering "
    "and dedup: the multinomial NB classifier (q177) fits on the "
    "quality survivors and drops every document whose content-"
    "predicted language disagrees with its metadata tag — the "
    "metadata-vs-content cross-validation stage a real corpus "
    "ingest runs before language-stratified sampling. Chain: Gopher "
    "quality filter (row-local) -> NB router (hash aggregates + one "
    "token-key join, exact-DECIMAL scores) -> directional "
    "containment removal at 0.6 -> prefix-filtered exact Jaccard "
    "pairs at 0.5 (PPJoin: no recall bound anywhere) -> connected "
    "components -> min-id survivors -> per-language profile. "
    "Shingles build once on the routed set and serve both dedup "
    "stages; every stage is bounded by co-occurrence or the dup "
    "subgraph."
)


def _v6_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The v6 pipeline through survivor selection (quality filter ->
    NB label-noise router -> containment removal -> prefix-filtered
    exact dedup -> CC min-id survivors), returning the surviving
    document rows with all columns — shared by q183 (profiles them)
    and q214 (redacts and releases them)."""
    from bigdata_kafka_2_spark.operators.classify import (
        naive_bayes_predictions,
    )

    d = read_table(spark, sf_dir, "documents")
    kept = pin(_quality_kept(d))
    routed = naive_bayes_predictions(kept, "lang").filter(
        F.col("pred") == F.col("label")
    ).select("doc_id")
    kept1 = pin(kept.join(routed, on="doc_id", how="left_semi"))
    kept2 = pin(DD.containment_removal(kept1, k=3, threshold=0.6))
    pairs = DD.prefix_filter_jaccard_pairs(kept2, k=3, threshold=0.5)
    return DD.cluster_survivors(kept2, pairs)


@register(
    "q183_curation_v6",
    oracle=_v6_oracle(),
    description=_Q183_DESCRIPTION,
    tags=("dedup", "text", "classify", "flagship"),
)
def q183_curation_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    survivors = _v6_survivors(spark, sf_dir)
    return survivors.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "q207_dup_cluster_profile",
    oracle="WITH RECURSIVE "
    + _exact_pairs_sql(0.5)
    + """,
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION ALL
      SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach(node, anc) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.d AS node, r.anc FROM reach r JOIN edges e ON e.s = r.node
    ),
    reps AS (SELECT node, min(anc) AS rep FROM reach GROUP BY node),
    csizes AS (
      SELECT rep, count(*) AS cluster_size FROM reps GROUP BY rep
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM csizes GROUP BY 1
    """,
    description="Corpus duplication report (operators/dedup."
    "dup_cluster_profile over q44's verified pair graph + connected "
    "components): one row per cluster size — how many clusters and "
    "how many documents sit at each duplication level. The summary a "
    "curation run publishes next to survivor counts: mass at size 1 "
    "= unique docs, a tail of large clusters = boilerplate the dedup "
    "is earning its cost on, sum(n_docs) - sum(n_clusters) = rows "
    "removed. Two tiny aggregates over the cluster-label frame on "
    "top of the established exact-pairs + CC machinery.",
    tags=("dedup", "profile", "aggregate"),
)
def q207_dup_cluster_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_verified_pairs(d, jaccard_threshold=0.5)
    clusters = DD.dedup_clusters(pairs, d.select("doc_id"))
    return DD.dup_cluster_profile(clusters)


def _v7_inject_sql() -> str:
    """Deterministic synthetic contact line appended per survivor (the
    corpus ships no natural PII — q193's fixture note): an email, a
    dashed phone, and for every third doc an SSN-shaped id, all
    derived from doc_id so Spark and the oracle inject byte-identical
    text."""
    return (
        "text || ' contact u' || CAST(doc_id AS VARCHAR)"
        " || '@ex.com ' || '555-'"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " || CASE WHEN doc_id % 3 = 0 THEN ' '"
        " || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'"
        " || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'"
        " || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
        " ELSE '' END"
    )


def _v7_redact_sql(col: str = "text") -> str:
    from bigdata_kafka_2_spark.operators.pii import PII_PATTERNS

    expr = col
    for _, pat, placeholder in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{placeholder}', 'g')"
    return expr


def _v7_release(survivors: DataFrame) -> DataFrame:
    """The v7 release stage: the :func:`_v7_inject_sql` contact line
    appended to each survivor's text, then the fused PII scan +
    redaction (operators/pii.pii_release) with ``lang`` threaded
    through."""
    from bigdata_kafka_2_spark.operators.pii import pii_release

    did = F.col("doc_id")
    inj = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        did.cast("string"),
        F.lit("@ex.com "),
        F.lit("555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" "),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    rel = survivors.select("lang", "doc_id", inj.alias("text"))
    return pii_release(rel, "text", "doc_id", keep_cols=("lang",))


def _release_profile(red: DataFrame) -> DataFrame:
    """Per-language release audit: documents, redactions and mean
    post-redaction length."""
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_pii").cast("long").alias("n_pii"),
        F.round(F.avg(F.length("redacted")), 4).alias(
            "avg_redacted_chars"
        ),
    )


def _v7_oracle() -> str:
    from bigdata_kafka_2_spark.operators.pii import PII_PATTERNS

    counts = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return (
        _v6_chain_sql()
        + f""",
    surv7 AS (
      SELECT k.lang, k.doc_id, k.text
      FROM kept2 k JOIN reps6 r ON r.node = k.doc_id AND r.rep = k.doc_id
    ),
    rel7 AS (
      SELECT lang, doc_id, {_v7_inject_sql()} AS text FROM surv7
    ),
    red7 AS (
      SELECT lang, {counts} AS n_pii,
             {_v7_redact_sql()} AS redacted
      FROM rel7
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_pii) AS BIGINT) AS n_pii,
           round(avg(length(redacted)), 4) AS avg_redacted_chars
    FROM red7 GROUP BY lang
    """
    )


@register(
    "q214_curation_v7",
    oracle=_v7_oracle(),
    description="Curation v7 — v6's full chain (quality filter -> NB "
    "label-noise router -> containment removal -> prefix-filtered "
    "exact dedup -> CC survivors) with the PII REDACTION RELEASE "
    "stage on top: every surviving document is scrubbed with "
    "operators/pii.pii_release (scan + redact fused in ONE "
    "projection, q194's plan shape — keep_cols threads the language "
    "column through the same select so no join reappears) and the "
    "release audit reports per language the document count, total "
    "redactions, and mean post-redaction length. The survivor text "
    "carries a deterministic doc_id-derived contact line (email + "
    "dashed phone + SSN-shaped id on every third doc) because the "
    "synthetic corpus ships no natural PII — the REDACTION "
    "machinery under audit is the real one, the injected text makes "
    "its effect hash-visible. Redaction composes row-locally after "
    "survivor selection, so v7 adds ZERO shuffles beyond v6 (one "
    "extra map stage + the final group-by).",
    tags=("dedup", "text", "pii", "flagship"),
)
def q214_curation_v7(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _release_profile(_v7_release(_v6_survivors(spark, sf_dir)))


def _v8_oracle() -> str:
    from bigdata_kafka_2_spark.operators.pii import PII_PATTERNS

    counts = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for _, pat, _ in PII_PATTERNS
    )
    return (
        _v6_chain_sql()
        + f""",
    surv8 AS (
      SELECT k.lang, k.doc_id, k.text
      FROM kept2 k JOIN reps6 r ON r.node = k.doc_id AND r.rep = k.doc_id
    ),
    rel8 AS (
      SELECT lang, doc_id, {_v7_inject_sql()} AS text FROM surv8
    ),
    red8 AS (
      SELECT lang, doc_id, {counts} AS n_pii,
             {_v7_redact_sql()} AS redacted
      FROM rel8
    ),
    keyed8 AS (
      SELECT lang, doc_id, n_pii, redacted,
             -ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':42'), 1, 15)
                       AS BIGINT) + 0.5) / 1152921504606846976.0)
               / CAST(length(redacted) AS DOUBLE) AS ekey
      FROM red8
    ),
    pick8 AS (
      SELECT lang, n_pii, redacted
      FROM keyed8 ORDER BY ekey, doc_id LIMIT 50
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_pii) AS BIGINT) AS n_pii,
           round(avg(length(redacted)), 4) AS avg_redacted_chars
    FROM pick8 GROUP BY lang
    """
    )


@register(
    "q238_curation_v8",
    oracle=_v8_oracle(),
    description="Curation v8 — v7's full release chain (quality "
    "filter -> NB label-noise router -> containment removal -> "
    "prefix-filtered exact dedup -> CC survivors -> fused PII "
    "redaction) finished with the BUDGET SELECTION a release "
    "actually ships under: an Efraimidis-Spirakis weighted sample "
    "of 50 documents with inclusion probability rising in "
    "post-redaction length (q230's A-ES machinery, portable md5_15 "
    "uniform, weight = length(redacted) so the draw needs NO extra "
    "join — entirely row-local on the release frame), profiled per "
    "language. The selection stage adds one TakeOrderedAndProject "
    "to v7's plan — zero new shuffles — and the whole chain stays "
    "hash-checked end to end: the strongest composition the engine "
    "grades (filter -> route -> dedup -> scrub -> sample-to-budget "
    "is the LITERAL shape of a production corpus release).",
    tags=("dedup", "text", "pii", "sampling", "flagship"),
)
def q238_curation_v8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.sampling import weighted_sample

    red = _v7_release(_v6_survivors(spark, sf_dir)).withColumn(
        "__w", F.length("redacted")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":42"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    picked = weighted_sample(red, "__w", 50, "doc_id", u=u)
    return _release_profile(picked)


@register(
    "q269_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, greatest(len(t) - 2, 1))) AS g(i)
      WHERE t[i] || ' ' || t[i+1] || ' ' || t[i+2] <> ''
    ),
    ev AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 13 = 0),
    tr AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 <> 0),
    novel AS (
      SELECT ev.doc_id, count(*) AS novel
      FROM ev LEFT JOIN tr ON tr.shingle = ev.shingle
      WHERE tr.shingle IS NULL
      GROUP BY 1
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1
    )
    SELECT totals.doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(novel, 0) AS BIGINT) AS novel,
           round(CAST(coalesce(novel, 0) AS DOUBLE)
                 / CAST(n_grams AS DOUBLE), 6) AS novelty_rate
    FROM totals LEFT JOIN novel ON novel.doc_id = totals.doc_id
    """,
    description="Per-eval-document 3-gram novelty against the "
    "training split (operators/dedup.ngram_novelty): the fraction of "
    "each held-out document's distinct shingles appearing NOWHERE in "
    "training - the aggregate-overlap complement of pair-level "
    "decontamination (q74 flags which eval docs collide with which "
    "train docs; this measures how much of each eval doc is "
    "genuinely unseen, the 'benchmark freshness' number an eval "
    "auditor reports and the memorization-risk number a generation "
    "eval reports). One left-anti join keyed on the shingle (the "
    "decontamination shape reversed - never doc-by-doc), data-sized "
    "work ends at the map-side-combined distinct shingle tables; "
    "same doc_id%13 split convention as q74/q79.",
    tags=("dedup", "join", "text"),
)
def q269_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 13 == 0)
    tr = d.filter(F.col("doc_id") % 13 != 0)
    return DD.ngram_novelty(tr, ev, k=3)
