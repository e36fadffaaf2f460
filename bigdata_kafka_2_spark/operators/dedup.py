"""Deduplication operators (charter extension — LLM training-data
pipeline surface).

Five strategies, all deterministic and Spark-first:

- :func:`exact_dedup` — hash-groupBy on a normalized fingerprint.
- :func:`shingles` + :func:`ngram_jaccard_pairs` — exact n-gram Jaccard
  similarity join (explode → equi-join on shingle → pair agg).
- :func:`minhash_signatures` + :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: the 100 TB near-dup path (candidate generation via band
  buckets; no pairwise cross join ever materializes).
- :func:`simhash_signatures` + :func:`simhash_near_pairs` — 64-bit
  SimHash with banded candidate generation + Hamming verify.
- ``similarity.cosine_pairs`` (embedding near-dup) lives in
  ``operators/similarity.py``.

Everything uses built-in expressions (``xxhash64``, ``transform``,
``slice``, bit ops) — no Python UDFs, fully codegen'd, and every hash is
seed-stable so results are reproducible across runs and partitionings.

Production ``max_doc_freq`` guidance (``ngram_jaccard_pairs``,
``incremental_near_dedup``, ``weighted_jaccard_pairs``): a shingle
appearing in d documents fans out to d·(d−1)/2 candidate pairs through
the shingle equi-join, so ONE boilerplate shingle (a license header, a
scraped nav bar) in 1M docs is 5·10¹¹ join rows — the cap is what keeps
the candidate volume ≤ Σ_s min(df_s, cap)² instead of Σ df_s². The
default ``None`` exists for oracle/exactness parity at test scale and
is NOT the 100 TB configuration:

===================  ==============  =============================
corpus size          max_doc_freq    rationale
===================  ==============  =============================
≤ 100k docs (tests)  None            exact = capped on clean data
                                     (no shingle is boilerplate at
                                     this scale; measured equal on
                                     the driver corpus)
~1M docs             128             caps any shingle's fan-out at
                                     ~8k pairs; df>128 shingles are
                                     template/boilerplate text that
                                     rarer shingles already cover
≥ 100M docs          256             pair volume stays linear in
                                     corpus size; r8 10× probes
                                     showed uncapped hot shingles
                                     are the one super-linear term
===================  ==============  =============================

A pair is only LOST if every shingle it shares is above the cap —
i.e. two documents whose entire overlap is boilerplate, which is the
pair a dedup pass should not be merging anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import ensure_parallel, pin, unpin
from bigdata_kafka_2_spark.operators.text import fingerprint, normalize_text

# Prime for the universal-hash family h_i(x) = (a_i*x + b_i) mod P over
# xxhash64 pre-hashes (classic MinHash construction). The 31-bit Mersenne
# prime keeps a*h < 2^62 — no int64 overflow under ANSI arithmetic
# (Spark 4 default), no BigDecimal fallback needed.
_MERSENNE_P = (1 << 31) - 1


# --- Exact dedup ---------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group rows by content fingerprint: (fp, n_docs, keep_id).

    ``keep_id`` is the minimum id — the canonical representative. One
    hash-aggregate shuffle on the fingerprint; at 100 TB this is the
    cheapest possible exact dedup (map-side partial aggregation, no
    sort, no pairwise work).
    """
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative row (min id) per distinct content."""
    keep = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


# --- Token shingles ------------------------------------------------------

def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    full_only: bool = False,
) -> DataFrame:
    """Distinct k-token shingles per document: (id, shingle).

    Built with ``split`` + ``sequence`` + ``transform`` + ``slice`` —
    the shingle array is produced inside codegen, then exploded.

    ``full_only=True`` emits only complete k-grams: a document shorter
    than ``k`` tokens yields NO shingles instead of one short shingle
    of all its tokens. This is the engine-portable convention (no
    partial/NULL-padded gram ever forms, so a SQL transcription agrees
    on short docs too); the default keeps the original behavior the
    q41/q42/q44 oracles transcribe.
    """
    # Token array staged as a REAL column before the shingle lambda:
    # an expression subtree referenced inside a higher-order-function
    # lambda is re-evaluated per element, so inlining the
    # normalize+split would re-split the whole document once per
    # shingle index — O(tokens²) per document (measured 6.4× at
    # 500-token docs; grows linearly with length). The staged column
    # is referenced more than once (size + lambda), which keeps
    # CollapseProject from re-inlining it.
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    if full_only:
        idx = F.when(
            F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
        ).otherwise(F.array().cast("array<int>"))
    else:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return (
        staged.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .filter(F.col("shingle") != "")
        .distinct()
    )


# --- Exact n-gram Jaccard similarity join --------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs: (id_a, id_b, jaccard), id_a < id_b.

    Plan shape: explode shingles → equi-join on shingle (this is the
    similarity join — only pairs sharing ≥1 shingle are ever formed) →
    count common → join per-doc sizes → filter threshold. Cost is
    bounded by shingle co-occurrence, not |docs|².

    ``max_doc_freq`` caps the heavy hitters: a shingle shared by d
    documents contributes O(d²) candidate pairs, so ONE stopword-like
    shingle across 1M docs would mean 10¹² pairs. With the cap set,
    shingles whose document frequency exceeds it are dropped BEFORE the
    self-join (the df-filter join lands on the same ``shingle`` key the
    self-join shuffles on, so the exchange is reused). Jaccard is then
    computed over the KEPT shingles only — numerator and denominator
    consistently — i.e. the standard stopword-filtered Jaccard, exact
    when ``max_doc_freq=None`` (the default, and the oracle-checked
    configuration).
    """
    sh = shingles(df, text_col, id_col, k)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, on="shingle")
    sh = pin(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --- Prefix-filtering similarity join (PPJoin-style) ---------------------

def prefix_filter_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.25,
) -> DataFrame:
    """EXACT Jaccard-similar pairs via prefix filtering (PPJoin-style):
    (id_a, id_b, jaccard ≥ threshold), id_a < id_b — identical OUTPUT
    to :func:`ngram_jaccard_pairs`, far fewer candidates.

    The completeness theorem (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin, both published): order every document's shingles by ONE
    global total order (here: global document frequency ascending,
    shingle string as tie-break — rarest first). If J(A,B) ≥ t, the
    first ``L - ⌈t·L⌉ + 1`` shingles of A and of B MUST share at least
    one element. So only prefix shingles are indexed and joined — the
    frequent shingles (exactly the ones that explode candidate counts
    in a full inverted index) land in suffixes and never generate a
    candidate, yet NO true pair can be missed. Unlike MinHash-LSH
    (probabilistic recall) or ``max_doc_freq`` capping (changes the
    measure), this is lossless: candidates ⊇ true pairs by theorem.

    Plan: ONE shingle-explosion pass — df-counts as a window over the
    shingle key, then per-doc frequency rank (window partitioned BY
    DOC — thousands of rows per partition, never a global sort) —
    pinned, then prefix filter → equi-join on prefix
    shingle with a length filter (J ≥ t ⇒ t·max(L_a,L_b) ≤
    min(L_a,L_b)) → exact verify on per-doc shingle sets collected
    from the same pinned table (``array_intersect`` — the full
    sets flow only through the small candidate join, never through a
    shingle-keyed shuffle). ``⌈t·L⌉`` is computed as
    ``ceil(t·L − 1e-9)``: when t·L is mathematically integral the
    float product may land a hair ABOVE it, and an unguarded ceil
    would shorten the prefix below the theorem's bound.
    """
    from pyspark.sql import Window

    # ONE shingle-explosion pass. Document frequency attaches as a
    # window count over the shingle key instead of a groupBy +
    # join-back (one exchange, one consumer of the exploded table
    # instead of two), and the ranked table is pinned: it feeds both
    # sides of the candidate self-join AND the per-doc verify sets.
    sh = shingles(df, text_col, id_col, k)
    w_df = Window.partitionBy("shingle")
    w_rank = Window.partitionBy(id_col).orderBy(
        F.col("__df").asc(), F.col("shingle").asc()
    )
    w_all = Window.partitionBy(id_col)
    ranked = pin(
        sh.withColumn("__df", F.count(F.lit(1)).over(w_df))
        .select(
            F.col(id_col),
            "shingle",
            F.row_number().over(w_rank).alias("__pos"),
            F.count(F.lit(1)).over(w_all).alias("__n"),
        )
    )
    t = float(threshold)
    prefix_len = (
        F.col("__n") - F.ceil(F.lit(t) * F.col("__n") - F.lit(1e-9)) + 1
    )
    prefix = ranked.filter(F.col("__pos") <= prefix_len)
    a = prefix.select(
        F.col(id_col).alias("id_a"), "shingle", F.col("__n").alias("__n_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "shingle", F.col("__n").alias("__n_b")
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__n_a", "__n_b")
            >= F.lit(t) * F.greatest("__n_a", "__n_b") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify sets from the SAME pinned table — the former
    # shingle_sets() subtree re-shingled the corpus once per join
    # side. The pin is partitioned by the doc id (the rank
    # window's exchange), so this aggregate needs no new shuffle;
    # array_intersect is order-insensitive, so the sorted collect
    # equals shingle_sets' row-local array exactly.
    sets = ranked.groupBy(id_col).agg(
        F.array_sort(F.collect_list("shingle")).alias("shingle_set"),
        F.count(F.lit(1)).alias("n_sh"),
    )
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("shingle_set").alias("__sh_a"),
        F.col("n_sh").alias("__n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("shingle_set").alias("__sh_b"),
        F.col("n_sh").alias("__n_b"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    jac = inter / (F.col("__n_a") + F.col("__n_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --- MinHash + LSH -------------------------------------------------------

def _lsh_candidates(
    sig: DataFrame, id_col: str, bands: int, rows: int
) -> DataFrame:
    """Banded LSH candidate pairs (id_a < id_b) from a signature table:
    the band equi-join that makes MinHash the 100 TB path (candidates
    come from hash-bucket collisions, never a cross join).

    Band hashes are built with driver-side loop indices (plain ints) so
    the slice bounds are constants — folds into one codegen'd
    projection. Candidates are deduped on BARE ID PAIRS (cheap) —
    distinct over array columns would hash 2×num_hashes longs per band
    match for nothing.
    """
    band_arr = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * rows + 1, rows))
            for b in range(bands)
        ]
    )
    banded = sig.select(
        id_col, F.posexplode(band_arr).alias("band_idx", "band_hash")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

def _hash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash family.

    A fixed LCG expands the seed so signatures are stable across runs —
    required for reproducible dedup decisions in a pipeline that may be
    re-run per-shard.
    """
    params = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        params.append((a, b))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Per-document MinHash signature: (id, minhash array<long>).

    Three deliberate departures from the textbook explode-strings shape,
    all measured wins at sf0.1:

    - shingles are hashed as TOKEN-ARRAY SLICES (``xxhash64`` over an
      array column) — no shingle strings are ever materialized;
    - no ``distinct`` — ``min`` is idempotent over duplicate shingles,
      so deduplicating them first is pure waste;
    - the signature is computed ROW-LOCALLY as a single fold: one
      ``transform`` expands each pre-hash into its ``num_hashes``
      universal hashes, one ``aggregate`` folds those vectors with an
      element-wise ``least``. ZERO shuffles and zero row expansion —
      the textbook explode+groupBy materializes ~|tokens| rows per
      document through a shuffle and pays codegen compilation for a
      ``num_hashes``-wide aggregate; at 100 TB that shuffle would be
      the dominant cost of the entire dedup pipeline.

    Expression-shape constraint (the winnowing lesson, measured 15×
    here): the pre-hash array is referenced exactly ONCE, as the input
    of the expanding ``transform``. The tempting alternative — one
    ``array_min(transform(hs, ...))`` per universal hash — references
    the alias ``num_hashes`` times, and the optimizer inlines it into
    every consumer, recomputing the whole shingle-hash array 24× per
    row (~77 CPU-s vs ~5 CPU-s for this form at sf0.1).
    """
    # Stage the token array as a real column first (the shingles()
    # rule): slicing an inlined normalize+split inside the lambda
    # would re-split the document once per shingle index — O(tokens²).
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    pre_hash = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.pmod(
            F.xxhash64(F.slice(toks, i + 1, k)), F.lit(_MERSENNE_P)
        ),
    )
    pre = staged.select(F.col(id_col), pre_hash.alias("__hs"))
    params = _hash_params(num_hashes, seed)
    per_elem = F.transform(
        F.col("__hs"),
        lambda x: F.array(
            *[
                F.pmod(F.lit(a) * x + F.lit(b), F.lit(_MERSENNE_P))
                for a, b in params
            ]
        ),
    )
    init = F.array_repeat(F.lit(_MERSENNE_P).cast("long"), num_hashes)
    sig = F.aggregate(
        per_elem,
        init,
        lambda acc, e: F.zip_with(acc, e, lambda u, v: F.least(u, v)),
    )
    return pre.select(id_col, sig.alias("minhash"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    # 24 hashes / 8 bands (r=3): measured same recall and identical
    # pair set as 32/8 on the strong-pair benchmark, ~2x faster (fewer
    # min-aggregates to codegen + compute); estimate granularity 1/24
    # is ample for the 0.5 verify threshold.
    num_hashes: int = 24,
    bands: int = 8,
    seed: int = 42,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding:
    (id_a, id_b, est_jaccard).

    The signature is cut into ``bands`` bands of ``num_hashes/bands``
    rows; documents agreeing on any full band become candidates
    (equi-join on (band_index, band_hash) — never a cross join, which
    is what makes this the 100 TB path). ``est_jaccard`` is the
    fraction of agreeing minhashes; pairs below ``verify_threshold``
    are dropped (set None to keep all candidates).
    """
    rows = num_hashes // bands
    sig = pin(minhash_signatures(df, text_col, id_col, k, num_hashes, seed))
    cand = _lsh_candidates(sig, id_col, bands, rows)
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("mh_a"), F.col("mh_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    pairs = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
    )
    if verify_threshold is not None:
        pairs = pairs.filter(F.col("est_jaccard") >= verify_threshold)
    return pairs


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document distinct shingle SET as an array column:
    (id, shingle_set, n_sh).

    Built entirely row-local (``transform`` + ``array_distinct`` +
    ``filter`` inside codegen) — NO explode, NO shuffle. This is the
    verify-side data structure for candidate-restricted exact Jaccard:
    arrays only flow through the (small) candidate join, never through
    a shingle-keyed shuffle.
    """
    # Staged token array (the shingles() rule — an inlined
    # normalize+split inside the lambda re-splits per shingle index).
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    sh = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(toks) - k, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
            lambda s: s != "",
        )
    )
    return staged.select(
        F.col(id_col),
        sh.alias("shingle_set"),
        F.size(sh).alias("n_sh"),
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 24,
    bands: int = 8,
    seed: int = 42,
    jaccard_threshold: float = 0.2,
) -> DataFrame:
    """LSH candidates + EXACT Jaccard verify: (id_a, id_b, jaccard ≥
    threshold), id_a < id_b — the classic candidate/verify MinHash
    pipeline.

    Candidate generation is the banded equi-join of
    :func:`_lsh_candidates` DIRECTLY on the signatures — no estimate is
    computed (the estimate would re-join the signature table twice onto
    candidates only to be discarded by the exact verify); verification
    joins each candidate pair to the two documents' row-local shingle
    sets (:func:`shingle_sets`) and computes exact Jaccard via
    ``array_intersect`` — O(|candidates|) verify work, all codegen.

    Output is the exact-Jaccard pair set RESTRICTED to LSH candidates:
    equal to the all-pairs exact join whenever banding recall is 1 —
    which holds by a wide margin for true near-duplicates (a pair at
    J=0.89 misses all 8 bands of 3 with probability (1-0.89³)⁸ < 1e-4);
    equality on the driver fixtures is asserted in tests, making this
    the oracle-checkable face of the LSH path.
    """
    # pinned: sig feeds BOTH sides of the band self-join
    sig = pin(minhash_signatures(df, text_col, id_col, k, num_hashes, seed))
    cand = _lsh_candidates(sig, id_col, bands, num_hashes // bands)
    sets = shingle_sets(df, text_col, id_col, k)
    sa = sets.select(
        F.col(id_col).alias("id_a"),
        F.col("shingle_set").alias("__sh_a"),
        F.col("n_sh").alias("__n_a"),
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"),
        F.col("shingle_set").alias("__sh_b"),
        F.col("n_sh").alias("__n_b"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    jac = inter / (F.col("__n_a") + F.col("__n_b") - inter)
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# --- SimHash -------------------------------------------------------------

def dedup_clusters(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over near-duplicate pairs → dedup clusters:
    (id, cluster_rep) where ``cluster_rep`` is the minimum id reachable
    through the pair graph (singletons map to themselves).

    Algorithm: iterative min-label propagation (the scalable
    alternating large-star/small-star family, simplified): each round
    every node adopts the smallest label among itself and its
    neighbors; converges in O(diameter) rounds — near-dup graphs are
    overwhelmingly tiny cliques, so a handful of rounds suffices. Each
    round is one join + one aggregate (all DataFrame ops, AQE-sized
    shuffles); convergence is checked with a count of changed labels.

    ``pairs``: (id_a, id_b) near-dup edges (any extra columns ignored).
    ``ids``: one row per document id (defines singletons).
    """
    if max_iterations < 1:
        raise ValueError(
            f"dedup_clusters: max_iterations must be >= 1, got {max_iterations}"
        )
    edges = pin(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    # Propagate ONLY over edge-touched nodes: a node with no near-dup
    # edge keeps label == itself by the min-reachable invariant, so the
    # (overwhelmingly dominant at scale) singleton mass never enters the
    # iteration's joins — per-round work is O(|dup subgraph|), not
    # O(|corpus|). Singletons re-enter via one left join at the end.
    labels = pin(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    for it in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.select(F.col("node").alias("dst"), F.col("label")),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # The convergence flag rides INSIDE the pinned frame — the
        # changed-count is then a cheap scan of materialized partitions,
        # not a third join.
        new_labels = pin(
            labels.join(
                neighbor_min.select(F.col("src").alias("node"), "nbr_label"),
                on="node",
                how="left",
            )
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
        )
        labels = new_labels.select("node", "label")
        # Convergence is checked every SECOND round (r15): "did the
        # LAST round change any label" is a valid fixpoint test at any
        # cadence (an already-converged round is a no-op on labels), so
        # skipping the odd-round count halves the loop's blocking jobs;
        # the skipped round's pin is materialized by the next count. Worst case one extra no-op round of joins
        # — far cheaper than a count job per round at the scheduler's
        # per-job floor. Labels at exit are identical by the no-op
        # property.
        if it % 2 == 1 or it == max_iterations - 1:
            changed = new_labels.filter(F.col("__changed")).count()
            if changed == 0:
                break
    unpin(edges)
    return ids.select(F.col(id_col).alias("node")).join(
        labels, on="node", how="left"
    ).select(
        F.col("node").alias(id_col),
        F.coalesce(F.col("label"), F.col("node")).alias("cluster_rep"),
    )


def cluster_survivors(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Rows of ``df`` that survive near-dup clustering: connected
    components over ``pairs`` (:func:`dedup_clusters`, singletons
    included via ``df``'s ids), then a semi-join keeping the min-id
    representative of each cluster."""
    clusters = dedup_clusters(pairs, df.select(id_col), id_col)
    keep = (
        clusters.filter(F.col(id_col) == F.col("cluster_rep"))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def near_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    est_threshold: float = 0.5,
    verify: bool = False,
    **minhash_kwargs,
) -> DataFrame:
    """End-to-end near-deduplication: MinHash-LSH pairs → connected
    components → keep ONE representative (min id) per cluster.

    The full 100 TB dedup recipe in one call: candidate generation by
    band equi-join (no cross join), graph clustering by label
    propagation, and a semi-join to keep survivors.

    ``verify=True`` swaps the estimate filter for the exact-Jaccard
    verify of :func:`minhash_lsh_verified_pairs` (threshold =
    ``est_threshold``) — dedup decisions then depend only on true
    Jaccard, not on minhash estimate noise, and the whole pipeline
    becomes oracle-checkable (connected components over exact pairs).
    """
    if verify:
        pairs = minhash_lsh_verified_pairs(
            df, text_col, id_col, jaccard_threshold=est_threshold, **minhash_kwargs
        )
    else:
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, verify_threshold=est_threshold, **minhash_kwargs
        )
    return cluster_survivors(df, pairs, id_col)


def simhash_bit_width(hash_fn: str) -> int:
    """Signature width per hash family: 63 usable bits for xxhash64
    (bit 63 kept clear — signed-long range), 60 for the
    SQL-transcribable ``md5_15`` (15 hex digits)."""
    return 60 if hash_fn == "md5_15" else 63


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash per document: (id, simhash).

    Per token: one 64-bit hash; per bit position: sum of ±1 across
    tokens; the sign vector re-packs into the signature. ~60 small
    integer aggregates in one shuffle — wide but cheap, all codegen.

    ``hash_fn``: ``xxhash64`` (production default — one JVM hash, 63
    signature bits) or ``md5_15`` (the sketch family's portable hash:
    first 15 hex digits of ``md5(tok || ':0')`` parsed base-16 — 60
    signature bits, bit-identical in DuckDB, which makes the WHOLE
    SimHash pipeline SQL-transcribable and q43 hash-checkable).
    """
    n_bits = simhash_bit_width(hash_fn)
    if hash_fn == "md5_15":
        h = F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit(":0"))), 1, 15),
            16,
            10,
        ).cast("long")
    elif hash_fn == "xxhash64":
        h = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    toks = (
        ensure_parallel(df).select(
            F.col(id_col),
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .withColumn("h", h)
    )
    bit_aggs = [
        F.sum(
            F.when(F.getbit("h", F.lit(i)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*bit_aggs)
    sig = sum(
        (
            F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long") * (1 << i)).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(n_bits)
        ),
        start=F.lit(0).cast("long"),
    )
    return per_doc.select(id_col, sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance:
    (id_a, id_b, hamming ≤ max_hamming).

    Candidate generation via band equi-join (~width-bit bands — pairs
    with few flipped bits agree on ≥1 band with high probability),
    then an exact ``bit_count(xor)`` verify. Same no-cross-join scale
    property as MinHash LSH. ``hash_fn`` selects the token-hash
    family (see :func:`simhash_signatures`).
    """
    # band layout: 64//bands for xxhash64 (bit 63 is always clear, so
    # the top band carries 15 live bits — unchanged semantics from the
    # original single-family implementation), 60//bands for md5_15.
    width = (64 if hash_fn == "xxhash64" else simhash_bit_width(hash_fn)) // bands
    sig = simhash_signatures(df, text_col, id_col, hash_fn)
    band_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1).cast("long")
            )
            for i in range(bands)
        ]
    )
    banded = sig.select(
        id_col, "simhash", F.posexplode(band_arr).alias("band_idx", "band_val")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val"
    )
    return (
        a.join(b, on=["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --- Benchmark decontamination (train/eval n-gram overlap) ---------------

def contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_shared: int = 1,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Train docs sharing k-gram shingles with an eval/benchmark set:
    ``(train_id, eval_id, n_shared)`` — the detection half of the
    decontamination step every LLM training pipeline runs so the
    training corpus doesn't contain its own benchmarks (the GPT-3 /
    Llama n-gram-collision recipe; k=8..13 tokens typical).

    Plan shape: both sides reduce to DISTINCT full k-grams
    (:func:`shingles` ``full_only=True`` — row-local, built inside
    codegen), then ONE equi-join on the shingle string and a pair
    aggregate. The eval side is a benchmark suite — tiny by
    construction — so it is broadcast (default): at 100 TB the train
    scan never shuffles; cost is scan + broadcast-hash lookups, and
    the output is bounded by true collisions, never |train|x|eval|.
    Set ``broadcast_eval=False`` only for eval sets too big for
    executor memory (falls back to a shuffle join on the shingle key).
    """
    tr = shingles(train, text_col, id_col, k, full_only=True).select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    ev = shingles(eval_df, text_col, id_col, k, full_only=True).select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, on="shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Training rows that survive decontamination: drop every train
    doc that shares ``>= min_shared`` distinct k-grams with ANY eval
    doc. A left-anti join of the train table against the (small)
    contaminated-id set — the scan-speed removal half of
    :func:`contamination_pairs`.
    """
    bad = (
        contamination_pairs(
            train, eval_df, text_col, id_col, k, min_shared
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(bad), on=id_col, how="left_anti")


# --- Incremental near-dedup (delta batch vs existing corpus) -------------

def incremental_near_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Rows of a NEW batch that survive near-dedup against an existing
    corpus — the daily-ingest shape: re-deduplicating the whole corpus
    per batch is O(corpus) per day, while this is O(delta).

    Precedence rule (deterministic): every corpus document precedes
    every delta document; within the delta, the smaller id precedes.
    A delta doc is dropped iff some preceding doc matches it at
    ``jaccard >= threshold`` over k-token shingles — so re-ingesting
    the same batch twice drops the second copy entirely, and a batch
    containing its own internal dups keeps exactly the min-id member
    of each matching pair chain (the :func:`exact_dedup` keep rule,
    generalized).

    Plan shape: only DELTA shingles drive the similarity join (the
    corpus side enters as the posting-list build it already has — at
    100 TB that is a STORED index, written once by the previous
    ingest, so per-batch cost is proportional to the delta's
    postings, not the corpus); Jaccard is verified exactly from the
    per-doc shingle counts; survivors are a broadcast left-anti of
    the (delta-bounded) dropped-id set.

    CONTRACT: corpus and delta ids must be disjoint (they are by
    construction in an ingest pipeline — the delta is new). An id
    present on both sides would double its row in the size union and
    silently skew its Jaccard denominators.

    ``max_doc_freq`` caps the heavy hitters, same design as
    :func:`ngram_jaccard_pairs`: a hot shingle (a stop-word trigram)
    present in d corpus docs × m delta docs emits d·m candidate rows
    from the similarity join — the skew that kills the daily-ingest
    hot path at corpus scale. With the cap set, shingles whose
    CORPUS-side document frequency exceeds it are dropped from BOTH
    sides before the join and before the size aggregates, so Jaccard
    stays consistent over the kept shingles (standard
    stopword-filtered Jaccard). The hot-shingle set is tiny by
    construction (only shingles with df > cap) and is broadcast into
    anti joins — the delta never shuffles for the filter. At 100 TB
    the corpus-side document frequencies come FROM the stored posting
    index (computed once at index build, not per batch), keeping the
    per-batch cost ∝ delta. Default ``None`` (exact, the
    oracle-checked configuration); production sets a value like 10⁴.
    """
    sd = shingles(delta, text_col, id_col, k)
    sc = shingles(corpus, text_col, id_col, k)
    if max_doc_freq is not None:
        hot = (
            sc.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("shingle")
        )
        sd = sd.join(F.broadcast(hot), on="shingle", how="left_anti")
        sc = sc.join(F.broadcast(hot), on="shingle", how="left_anti")
    # Materialize each shingle set ONCE: the plan references sd FOUR
    # times (candidate drive, precedence union, both size aggregates)
    # and sc twice, and each reference otherwise recomputes the full
    # explode+distinct shuffle — measured as the bulk of the operator's
    # wall time at the 10× probe scale. In deployment the corpus side
    # IS a stored posting index (written by the previous ingest) and
    # the delta postings are materialized before verification, so the
    # pin mirrors the production dataflow.
    sd = pin(sd)
    sc = pin(sc)
    others = (
        sc.select(F.col(id_col).alias("other_id"), "shingle")
        .withColumn("is_corpus", F.lit(True))
        .unionByName(
            sd.select(F.col(id_col).alias("other_id"), "shingle")
            .withColumn("is_corpus", F.lit(False))
        )
    )
    mine = sd.select(F.col(id_col).alias("delta_id"), "shingle")
    common = (
        mine.join(others, on="shingle")
        .filter(
            F.col("is_corpus") | (F.col("other_id") < F.col("delta_id"))
        )
        .groupBy("delta_id", "other_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    size_d = sd.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nd"))
    size_all = (
        sc.groupBy(id_col).agg(F.count(F.lit(1)).alias("__no"))
        .unionByName(
            sd.groupBy(id_col).agg(F.count(F.lit(1)).alias("__no"))
        )
    )
    jac = F.col("n_common") / (
        F.col("__nd") + F.col("__no") - F.col("n_common")
    )
    dropped = (
        common.join(
            size_d.select(F.col(id_col).alias("delta_id"), "__nd"),
            on="delta_id",
        )
        .join(
            size_all.select(F.col(id_col).alias("other_id"), "__no"),
            on="other_id",
        )
        .filter(F.round(jac, 4) >= threshold)
        .select(F.col("delta_id").alias(id_col))
        .distinct()
    )
    return delta.join(F.broadcast(dropped), on=id_col, how="left_anti")


# --- Cross-document repeated-substring coverage (ExactSubstr signal) ------

def positioned_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Every FULL k-token shingle with its 0-based token position:
    ``(id, pos, shingle)`` — NOT distinct (the same gram at two
    positions emits two rows; positions are what substring coverage
    consumes). Docs shorter than ``k`` tokens yield no rows (the
    engine-portable full-gram convention of :func:`shingles`)."""
    # Staged token array (the shingles() rule — an inlined
    # normalize+split inside the lambda re-splits per index).
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return staged.select(
        F.col(id_col), F.posexplode(sh).alias("pos", "shingle")
    )


def repeated_substring_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    max_coverage: float = 0.5,
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document CROSS-document repeated-substring coverage:
    ``(id, n_tokens, covered_tokens, coverage, keep)`` — the fraction
    of a document's tokens lying inside some k-gram that also appears
    in at least ``min_df`` documents. The distributed approximation of
    the suffix-array ExactSubstr dedup signal (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    boilerplate, licenses, and templated spans show up as long runs of
    corpus-repeated k-grams, and documents dominated by them
    (``coverage > max_coverage``) are dropped by
    :func:`exact_substring_dedup`. WITHIN-document repetition is
    deliberately out of scope (that axis is
    ``text.repetition_stats``): gram document-frequency counts
    distinct documents.

    Plan shape, all map-side-combinable: positioned k-grams (row-local
    explode) → gram document frequency (distinct (doc, gram) then one
    hash aggregate on the gram key) → equi-join the repeated grams
    back (same ``shingle`` shuffle key, so the exchange is reused) →
    per-document interval union via ONE window over (doc, pos): a
    position interval [pos, pos+k) contributes its tokens minus the
    overlap with the running maximum end — the classic sort-sweep,
    shuffled on the doc key. Token positions are unique per doc, so
    the window order is total and the result deterministic. At 100 TB
    the heavy object is the gram-keyed exchange; production hashes the
    gram string (xxhash64) before the aggregate/join to cut the
    shuffle bytes ~k× — kept as the plain string here so the operator
    stays SQL-transcribable end-to-end (collision probability makes
    the hashed and plain plans agree, the same trade q40's md5
    fingerprint documents).
    """
    from pyspark.sql import Window

    grams = positioned_shingles(df, text_col, id_col, k)
    if hash_grams:
        # production path: the gram-keyed exchange carries an 8-byte
        # xxhash64 instead of the ~k-token string (~1.25x end-to-end at
        # the 10x probe — the shuffle shrinks ~6x but the row-local
        # gram build dominates; identical output measured, the usual
        # 64-bit-collision trade per q40's md5 rationale). Default
        # False so the registered query stays string-exact for the
        # SQL oracle.
        grams = grams.withColumn("shingle", F.xxhash64("shingle"))
    gram_df = (
        grams.select(id_col, "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("shingle")
    )
    hits = grams.join(gram_df, on="shingle").select(id_col, "pos")
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        hits.withColumn("__prev_end", F.max(F.col("pos") + k).over(w))
        .select(
            F.col(id_col),
            F.greatest(
                F.lit(0),
                F.col("pos") + k
                - F.greatest(F.col("pos"), F.coalesce("__prev_end", F.lit(0))),
            ).alias("__add"),
        )
        .groupBy(id_col)
        .agg(F.sum("__add").alias("covered_tokens"))
    )
    norm = F.coalesce(normalize_text(text_col), F.lit(""))
    sizes = df.select(
        F.col(id_col),
        F.when(norm == "", F.lit(0))
        .otherwise(F.size(F.split(norm, " ")))
        .alias("n_tokens"),
    )
    cov = F.round(
        F.coalesce(F.col("covered_tokens"), F.lit(0))
        / F.greatest(F.col("n_tokens"), F.lit(1)),
        4,
    )
    return (
        sizes.join(covered, on=id_col, how="left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            cov.alias("coverage"),
            (cov <= max_coverage).alias("keep"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_df: int = 2,
    max_coverage: float = 0.5,
) -> DataFrame:
    """Rows surviving the repeated-substring filter: drop documents
    whose :func:`repeated_substring_coverage` exceeds
    ``max_coverage``. The dropped-id set is bounded by the filter rate
    — broadcast left-anti, one full scan."""
    bad = (
        repeated_substring_coverage(
            df, text_col, id_col, k, min_df, max_coverage
        )
        .filter(~F.col("keep"))
        .select(id_col)
    )
    return df.join(F.broadcast(bad), on=id_col, how="left_anti")


def incremental_near_dedup_lsh(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 24,
    bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """:func:`incremental_near_dedup` with MinHash-LSH banded
    CANDIDATE generation — the daily-ingest configuration for corpus
    scale. The exact variant's similarity join is driven by raw
    shingle co-occurrence: every (delta doc, preceding doc) pair
    sharing ANY shingle becomes a candidate, so candidate volume
    tracks co-occurrence (bounded only by ``max_doc_freq``·|delta
    postings| once capped). Here candidates come from band-bucket
    collisions instead (the q42 machinery): per-doc signatures are
    row-local, the banded equi-join emits only colliding pairs, and
    the exact-Jaccard verify runs per CANDIDATE via row-local shingle
    sets (``array_intersect`` — no shingle-keyed shuffle at all). At
    100 TB the corpus signatures and shingle sets are the stored
    index; per-batch cost is the delta's bands plus verify work on
    actual collisions.

    Same deterministic precedence and keep rules as the exact
    variant; recall is probabilistic per the banding curve — with the
    defaults (24 hashes, 12 bands of 2), a pair at exactly the 0.5
    threshold collides in ≥1 band with p ≈ 1-(1-0.25)^12 ≈ 0.97 and a
    true near-dup at J=0.8 with p ≈ 1-(1-0.64)^12 ≈ 1-5e-6. Output ⊆
    the exact variant's drops; equality on the driver datasets is
    hash-checked in the mirror (the q42 precedent).
    """
    sig_d = minhash_signatures(delta, text_col, id_col, k, num_hashes, seed)
    sig_c = minhash_signatures(corpus, text_col, id_col, k, num_hashes, seed)
    rows = num_hashes // bands
    band_arr = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * rows + 1, rows))
            for b in range(bands)
        ]
    )

    def _banded(sig: DataFrame, out_id: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(out_id),
            F.posexplode(band_arr).alias("band_idx", "band_hash"),
        )

    mine = _banded(sig_d, "delta_id")
    others = _banded(sig_c, "other_id").withColumn(
        "is_corpus", F.lit(True)
    ).unionByName(
        _banded(sig_d, "other_id").withColumn("is_corpus", F.lit(False))
    )
    cand = (
        mine.join(others, on=["band_idx", "band_hash"])
        .filter(F.col("is_corpus") | (F.col("other_id") < F.col("delta_id")))
        .select("delta_id", "other_id")
        .distinct()
    )
    sets_d = shingle_sets(delta, text_col, id_col, k).select(
        F.col(id_col).alias("delta_id"),
        F.col("shingle_set").alias("__sh_d"),
        F.col("n_sh").alias("__n_d"),
    )
    sets_all = shingle_sets(corpus, text_col, id_col, k).unionByName(
        shingle_sets(delta, text_col, id_col, k)
    ).select(
        F.col(id_col).alias("other_id"),
        F.col("shingle_set").alias("__sh_o"),
        F.col("n_sh").alias("__n_o"),
    )
    inter = F.size(F.array_intersect(F.col("__sh_d"), F.col("__sh_o")))
    jac = inter / (F.col("__n_d") + F.col("__n_o") - inter)
    dropped = (
        cand.join(sets_d, on="delta_id")
        .join(sets_all, on="other_id")
        .filter(F.round(jac, 4) >= threshold)
        .select(F.col("delta_id").alias(id_col))
        .distinct()
    )
    return delta.join(F.broadcast(dropped), on=id_col, how="left_anti")


# --- Fuzzy (near-duplicate) benchmark decontamination ---------------------

def fuzzy_contamination_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 24,
    bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Train documents NEAR-DUPLICATING an eval/benchmark document:
    ``(train_id, eval_id, jaccard)`` with exact Jaccard ≥ threshold —
    the fuzzy half of decontamination. :func:`contamination_pairs`
    catches verbatim inclusions (full k-gram collisions); this catches
    paraphrased/reformatted benchmark copies that share most but not
    all shingles (the Llama-style fuzzy decontamination pass).

    Plan shape: row-local MinHash signatures on both sides, banded
    candidates from an equi-join where the EVAL side (a benchmark
    suite — tiny by construction) is broadcast, then exact-Jaccard
    verify per candidate via row-local shingle sets
    (``array_intersect``) with the eval sets broadcast too — the
    train table is scanned once and NEVER shuffles. Recall follows
    the banding curve (see :func:`incremental_near_dedup_lsh`);
    equality with the exact all-pairs transcription on the driver
    datasets is hash-checked in the mirror.
    """
    sig_t = minhash_signatures(train, text_col, id_col, k, num_hashes, seed)
    sig_e = minhash_signatures(eval_df, text_col, id_col, k, num_hashes, seed)
    rows = num_hashes // bands
    band_arr = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("minhash"), b * rows + 1, rows))
            for b in range(bands)
        ]
    )

    def _banded(sig: DataFrame, out_id: str) -> DataFrame:
        return sig.select(
            F.col(id_col).alias(out_id),
            F.posexplode(band_arr).alias("band_idx", "band_hash"),
        )

    cand = (
        _banded(sig_t, "train_id")
        .join(F.broadcast(_banded(sig_e, "eval_id")), on=["band_idx", "band_hash"])
        .select("train_id", "eval_id")
        .distinct()
    )
    sets_t = shingle_sets(train, text_col, id_col, k).select(
        F.col(id_col).alias("train_id"),
        F.col("shingle_set").alias("__sh_t"),
        F.col("n_sh").alias("__n_t"),
    )
    sets_e = F.broadcast(
        shingle_sets(eval_df, text_col, id_col, k).select(
            F.col(id_col).alias("eval_id"),
            F.col("shingle_set").alias("__sh_e"),
            F.col("n_sh").alias("__n_e"),
        )
    )
    inter = F.size(F.array_intersect(F.col("__sh_t"), F.col("__sh_e")))
    jac = inter / (F.col("__n_t") + F.col("__n_e") - inter)
    return (
        cand.join(sets_t, on="train_id")
        .join(sets_e, on="eval_id")
        .select(
            "train_id", "eval_id", F.round(jac, 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def fuzzy_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 24,
    bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Training rows surviving FUZZY decontamination: drop every train
    doc near-duplicating (Jaccard ≥ threshold) any eval doc. Broadcast
    left-anti of the (contamination-rate-bounded) dropped-id set —
    one train scan. Run AFTER :func:`decontaminate` (exact k-gram
    inclusion) for the full Llama-style two-pass."""
    bad = (
        fuzzy_contamination_pairs(
            train, eval_df, text_col, id_col, k, threshold,
            num_hashes, bands, seed,
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    return train.join(F.broadcast(bad), on=id_col, how="left_anti")


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """PARTIAL-document dedup: remove corpus-repeated spans, keep the
    rest of the document — the "remove the repeated substring, not
    the document" half of ExactSubstr dedup (Lee et al.) and the span
    analogue of C4's line-level dedup. Documents are cut into
    non-overlapping k-token spans (aligned blocks + the trailing
    partial); every span that occurs more than once corpus-wide
    survives only at its FIRST occurrence (lexicographically smallest
    (doc id, block) — deterministic), all other occurrences are cut,
    and each document is reassembled from its kept spans in order.
    Output: ``(id, text_clean, n_tokens, n_tokens_clean)`` — one row
    per input document (fully-deduplicated docs come back with empty
    ``text_clean``).

    Plan shape: row-local span build (codegen) → one explode →
    map-side-combined count + ``min_by`` winner per span → the winner
    table FILTERED to duplicated spans only (``__n > 1``; unique spans
    are trivially their own winner), so the join-back is a broadcast
    left-join against the rare repeated subset instead of a second
    full span-keyed exchange → per-document reassembly as one
    sort-free aggregate (``array_sort`` over the collected
    (block, span) structs is row-local). Nothing quadratic; the one
    full-data exchange is the winner aggregate, which production
    shrinks with the same ``xxhash64`` trick as
    :func:`repeated_substring_coverage` (kept as strings here for the
    SQL oracle).
    """
    norm = F.coalesce(normalize_text(text_col), F.lit(""))
    toks = F.when(norm == "", F.array().cast("array<string>")).otherwise(
        F.split(norm, " ")
    )
    # Stage the token array as a REAL column before the span lambda:
    # an expression embedded inside a higher-order-function lambda is
    # re-evaluated per element, so inlining ``toks`` would re-normalize
    # and re-split the whole document once per block — O(blocks ×
    # doc_length) per document (measured ~4× the operator's cost at
    # sf0.1 before staging).
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    n_blocks = F.ceil(n / F.lit(k)).cast("int")
    idx = F.when(
        n_blocks > 0, F.sequence(F.lit(0), n_blocks - 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        idx,
        lambda b: F.struct(
            b.alias("block"),
            F.concat_ws(
                " ", F.slice(F.col("__toks"), b * k + 1, k)
            ).alias("span"),
        ),
    )
    base = staged.select(
        F.col(id_col), n.alias("n_tokens"), spans.alias("__spans")
    )
    exploded = base.select(
        F.col(id_col), F.explode("__spans").alias("s")
    ).select(F.col(id_col), F.col("s.block"), F.col("s.span"))
    # Only spans occurring MORE than once need adjudication — a unique
    # span is trivially its own winner. Filtering the winner table to
    # duplicated spans shrinks the join side from the full span
    # vocabulary to the (rare) repeated subset, so the join-back is a
    # broadcast left-join (AQE picks it from the post-agg size) instead
    # of a second full span-keyed exchange; an occurrence survives if
    # its span was never duplicated (join miss) or it IS the winner.
    dup_winners = (
        exploded.groupBy("span")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min_by(
                F.struct(
                    F.col(id_col).alias("wid"),
                    F.col("block").alias("wblock"),
                ),
                F.struct(F.col(id_col), F.col("block")),
            ).alias("w"),
        )
        .filter(F.col("__n") > 1)
        .select("span", "w")
    )
    kept = (
        exploded.join(dup_winners, on="span", how="left")
        .filter(
            F.col("w").isNull()
            | (
                (F.col(id_col) == F.col("w.wid"))
                & (F.col("block") == F.col("w.wblock"))
            )
        )
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("block", "span"))
                    ),
                    lambda s: s.getField("span"),
                ),
            ).alias("text_clean")
        )
    )
    return (
        base.select(F.col(id_col), "n_tokens")
        .join(kept, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.when(
                F.coalesce(F.col("text_clean"), F.lit("")) == "", F.lit(0)
            )
            .otherwise(F.size(F.split(F.col("text_clean"), " ")))
            .cast("long")
            .alias("n_tokens_clean"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """DIRECTIONAL containment pairs: (id_a, id_b, containment) where
    ``containment = |S_a ∩ S_b| / |S_a| >= threshold`` and id_a ≠ id_b
    — "document a's shingles are mostly inside document b".

    The asymmetric complement of Jaccard dedup: a short document
    quoted wholesale inside a long one has containment 1.0 but
    near-zero Jaccard (the union is dominated by the long side), so a
    symmetric near-dup pass never flags it. Training-data curation
    wants exactly this direction — embedded duplicates, boilerplate
    wrappers, quote-expansions — with the CONTAINED doc as id_a (the
    usual removal candidate).

    Same plan family as :func:`ngram_jaccard_pairs` (explode distinct
    shingles → equi-join on shingle → pair agg), but the pair keeps
    BOTH orientations (``<>`` not ``<``) and normalizes by |S_a|
    alone, so each direction is judged independently. Cost is bounded
    by shingle co-occurrence; ``max_doc_freq`` caps hot-shingle blowup
    exactly as in the Jaccard join (default None = the oracle-checked
    exact measure).
    """
    sh = shingles(df, text_col, id_col, k)
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, on="shingle")
    sh = pin(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cont = F.round(F.col("n_common") / F.col("n_a"), 4)
    return (
        common.join(sa, "id_a")
        .select("id_a", "id_b", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def containment_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Rows of ``df`` left after dropping every document that is at
    least ``threshold`` contained in another
    (:func:`shingle_containment_pairs`). When two documents contain
    each other, the lower id stays; a one-way containment drops the
    contained side."""
    cont = shingle_containment_pairs(df, text_col, id_col, k, threshold)
    rev = cont.select(
        F.col("id_a").alias("__ra"), F.col("id_b").alias("__rb")
    )
    removal = (
        cont.join(
            rev,
            (cont["id_a"] == rev["__rb"]) & (cont["id_b"] == rev["__ra"]),
            "left",
        )
        .filter(F.col("__ra").isNull() | (F.col("id_a") > F.col("id_b")))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(removal, on=id_col, how="left_anti")


def _jvm_size_bytes(size: str, default: int = 1 << 30) -> int:
    """Parse a JVM memory size string (``1g``, ``512m``, ``4096k``,
    bare bytes) to bytes; ``default`` on anything unparseable."""
    s = (size or "").strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    try:
        if s and s[-1] in mult:
            return int(float(s[:-1]) * mult[s[-1]])
        return int(s)
    except (TypeError, ValueError):
        return default


def _driver_heap_bytes(spark) -> int:
    """The driver JVM's actual max heap: ``Runtime.getRuntime().
    maxMemory()`` through the Py4J gateway (ground truth regardless
    of how the JVM was launched), falling back to the
    ``spark.driver.memory`` conf when no gateway is reachable
    (Spark Connect, mocks)."""
    try:
        jvm_max = int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            .maxMemory()
        )
        if jvm_max > 0:
            return jvm_max
    except Exception:
        pass
    try:
        conf_mem = spark.conf.get("spark.driver.memory", "1g")
    except Exception:
        conf_mem = "1g"
    return _jvm_size_bytes(conf_mem)


def _broadcast_byte_cap(spark) -> int:
    """Runtime broadcast budget for the forced-broadcast gate: a
    quarter of the smaller of the configured driver and executor
    heaps, never above 1.5 GB. A broadcast relation is built on the
    driver and resident on every executor, and JVM HashedRelation
    overhead runs 2-4x the raw data bytes — heap/4 of measured raw
    bytes keeps the worst-case footprint inside the heap instead of
    asserting a fixed budget the deployment may not have. With
    ``get_spark``'s default heap (a quarter of the host's memory,
    capped at 48g) the 1.5 GB ceiling binds only on hosts with at
    least ~22.4 GiB; a 15.7 GiB host gets a ~4 GB heap and a ~1.0 GB
    budget, so fewer relations take the forced broadcast there.

    The driver heap is read from the LIVE JVM
    (``Runtime.getRuntime().maxMemory()`` through the Py4J gateway)
    so a session launched with ``spark-submit --driver-memory`` or a
    plain big-Xmx JVM is sized by what it actually has, not by what
    ``spark.driver.memory`` happens to record (the conf defaults to
    1g and is blind to the launch flags); the conf is the fallback
    when no gateway is reachable (e.g. Spark Connect).
    """
    def _conf(key: str, default: str | None) -> str | None:
        try:
            return spark.conf.get(key, default)
        except Exception:
            return default

    heaps = [_driver_heap_bytes(spark)]
    master = _conf("spark.master", "") or ""
    if not master.startswith("local"):
        # on a cluster the relation must also fit every executor; in
        # local mode executors live inside the driver JVM and
        # spark.executor.memory is meaningless
        heaps.append(
            _jvm_size_bytes(_conf("spark.executor.memory", "1g"))
        )
    return min(1_500_000_000, min(heaps) // 4)


#: Last weighted_jaccard_pairs gate decision (measured expansion,
#: byte estimate, branch taken) — published so environment-sensitive
#: plan flips are visible in the round record instead of
#: reverse-engineered from scaling ratios (r14 verdict item 3).
_LAST_GATE: dict = {}


def weighted_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
    auto_cap_expansion: int | None = 1_000_000_000,
) -> DataFrame:
    """WEIGHTED (multiset) Jaccard pairs over token frequencies:
    ``J_w(a,b) = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b)`` ≥
    threshold, id_a < id_b — the bag-of-words refinement of set
    Jaccard: a doc that repeats "buy now" 50 times and one that says
    it once share the same shingle SET but little weighted mass, and
    conversely near-dups with shifted word frequencies score closer
    to their true overlap.

    Candidates via the WEIGHTED PREFIX FILTER (Chaudhuri et al.
    SSJoin, weighted form) — lossless by theorem: order tokens by one
    global (df asc, token asc) order; a doc's PREFIX keeps every
    token not in the maximal commonest-first run of cumulative mass
    < t·T. If J_w ≥ t then Σmin ≥ t·max(T_a, T_b), and the
    minimum-order SHARED token must sit inside BOTH prefixes (were it
    outside a's, every shared token would be in a's < t·T_a suffix —
    contradiction; prefixes are downward-closed in the global order,
    which is what makes it the same token for both sides). So the
    join touches only prefix tokens — the stopwords whose df² pair
    blowup makes the naive token-level inverted index unusable
    (measured 10.7 s at sf0.1; every doc shares "the") land in
    suffixes and never generate a candidate, yet no true pair can be
    missed. A (min ≥ t·max) total-mass filter prunes further.

    Verify is ROW-LOCAL: per-doc token-count maps join onto the
    (small) candidate set and ``map_zip_with`` + ``aggregate``
    compute exact Σmin inside codegen — full counts never cross a
    token-keyed shuffle. ``max_doc_freq`` optionally drops
    ultra-common tokens from the MEASURE itself (changes semantics,
    default None = the oracle-checked exact measure).

    AUTO-CAP (the SemDeDup auto-switch discipline): the bounded
    scalar job that sizes the candidate join also measures the exact
    expansion Σ df_p² — when it exceeds ``auto_cap_expansion``
    (the degenerate-vocabulary regime: a corpus whose mass
    concentrates in a handful of tokens makes EVERY weighted prefix
    dense, and no lossless filter can help), the operator re-runs
    itself with the LARGEST ``max_doc_freq`` whose corpus-wide
    Σ df² fits the budget, emitting a ``UserWarning`` that names the
    chosen cap. The measure stays exact whenever the expansion is in
    budget (all driver datasets; any natural corpus — large
    vocabulary, small per-token df); the cap changes semantics only
    where the exact computation would not finish, and the module
    docstring's ``max_doc_freq`` table gives the production
    guidance. Pass ``auto_cap_expansion=None`` to force the exact
    measure regardless of cost, or an explicit ``max_doc_freq`` to
    take manual control (an explicit cap disables the auto path).
    """
    from bigdata_kafka_2_spark.operators.text import term_frequencies
    from pyspark.sql import Window

    tf = term_frequencies(df, text_col, id_col)
    if max_doc_freq is not None:
        keep = (
            tf.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("tok")
        )
        tf = tf.join(keep, on="tok")
    # pinned: tf feeds the df-count, the rank join AND the verify
    # maps; prefix below feeds the expansion probe and both candidate
    # sides.
    tf = pin(tf)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    # commonest-first cumulative mass per doc; a token stays in the
    # PREFIX iff its running total (commonest side) reaches t*T
    w_desc = Window.partitionBy(id_col).orderBy(
        F.col("__df").desc(), F.col("tok").desc()
    )
    w_all = Window.partitionBy(id_col)
    t = float(threshold)
    ranked = (
        tf.join(dfreq, "tok")
        .select(
            F.col(id_col),
            "tok",
            "tf",
            F.sum("tf")
            .over(w_desc.rowsBetween(Window.unboundedPreceding, 0))
            .alias("__cum"),
            F.sum("tf").over(w_all).alias("__T"),
        )
    )
    prefix = pin(
        ranked.filter(F.col("__cum") >= F.lit(t) * F.col("__T") - F.lit(1e-9))
    )
    # The self-join below EXPANDS: each token contributes df_p² rows,
    # and AQE sizes the join's partitioning from its (tiny) shuffle
    # INPUT, concentrating the whole expansion into a fixed task
    # count — measured 2.8× superlinear wall time at 30× on
    # row-linear work (the per-task partial-distinct table outgrows
    # memory and the stage spills). Fix with the same guarded-
    # broadcast discipline as pagerank: a bounded scalar job on the
    # pinned prefix measures the exact expansion Σ df_p² and the
    # exact byte size of the build side; while those bytes fit
    # executor memory, hint
    # the build side broadcast (the hash-probe expansion is ~6×
    # faster than sort-merge here) and round-robin the PROBE side to
    # an expansion-proportional task count (REPARTITION_BY_NUM is
    # AQE-coalesce-exempt), so per-task expansion stays ~4M rows at
    # any corpus size. Past the threshold the plain shuffle join
    # stands — at that scale a natural corpus has a large vocabulary
    # with small per-token df, which is the shape the prefix filter
    # is built for.
    stats = (
        prefix.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.length(F.col(id_col).cast("string"))).alias("__idb"),
        )
        .agg(
            F.sum(F.col("__c") * F.col("__c")).alias("__exp"),
            # exact data bytes of one side of the candidate join
            # (token + id strings) + 32 B/row for the two numeric
            # columns and struct overhead — the broadcast gate reads
            # BYTES, not rows (20M short rows broadcast fine; 2M
            # long-document ids would not)
            F.sum(
                F.col("__c") * (F.length("tok") + F.lit(32))
                + F.col("__idb")
            ).alias("__bytes"),
        )
        .collect()[0]
    )
    exp_rows = int(stats["__exp"] or 0)
    est_bytes = int(stats["__bytes"] or 0)
    if (
        max_doc_freq is None
        and auto_cap_expansion is not None
        and exp_rows > int(auto_cap_expansion)
    ):
        # Degenerate vocabulary: the exact measure's candidate join
        # would materialize exp_rows >> budget rows. Choose the
        # largest df cap whose CORPUS-WIDE Σ df² fits the budget
        # (prefix df ≤ corpus df, so the capped re-run's expansion is
        # ≤ budget by construction) and re-run capped.
        import warnings

        # reduce to one row per DISTINCT df value first (a frame of
        # at most a few thousand rows on any corpus — bounded by the
        # number of distinct document-frequency values, not the
        # vocabulary), so the cumulative window never sees a
        # vocabulary-sized single partition
        per_df = dfreq.groupBy("__df").agg(
            F.count(F.lit(1)).alias("__k")
        )
        w_cum = Window.orderBy(F.col("__df").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cap_row = (
            per_df.select(
                "__df",
                F.sum(
                    F.col("__k") * F.col("__df") * F.col("__df")
                ).over(w_cum).alias("__cum2"),
            )
            .filter(F.col("__cum2") <= F.lit(int(auto_cap_expansion)))
            .agg(F.max("__df").alias("__cap"))
            .collect()[0]
        )
        cap = max(int(cap_row["__cap"] or 1), 1)
        warnings.warn(
            "weighted_jaccard_pairs: exact prefix expansion "
            f"{exp_rows:,} rows exceeds auto_cap_expansion "
            f"{int(auto_cap_expansion):,}; re-running with "
            f"max_doc_freq={cap} (tokens in more than {cap} docs are "
            "dropped from the measure — approximate result; pass "
            "auto_cap_expansion=None to force the exact measure)",
            UserWarning,
            stacklevel=2,
        )
        return weighted_jaccard_pairs(
            df,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            max_doc_freq=cap,
            auto_cap_expansion=None,
        )
    a = prefix.select(
        F.col(id_col).alias("id_a"),
        "tok",
        F.col("__T").alias("__Ta"),
        F.col("__cum").alias("__ca"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"),
        "tok",
        F.col("__T").alias("__Tb"),
        F.col("__cum").alias("__cb"),
    )
    spark = prefix.sparkSession
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # 'auto' on some platforms — fall back to the cluster's
        # default parallelism
        parts = int(spark.sparkContext.defaultParallelism)
    # expansion-proportional task count, derived from the DATA only
    exp_parts = min(exp_rows // 4_000_000 + 1, 4096)
    # broadcast gate on measured BYTES, not a row count: 20M short
    # rows are fine, far fewer rows of long document ids would not
    # be. The byte budget is derived from the ACTUAL configured heap
    # (a quarter of the smaller of driver/executor memory, capped at
    # 1.5 GB): HashedRelation overhead runs 2-4x raw bytes, so a
    # fixed large constant near Spark's 8 GB broadcast limit could
    # OOM a default-sized 1g driver even though the raw bytes "fit".
    # ENGAGEMENT is data-derived too (r15): the trigger used to be
    # ``exp_parts > session shuffle partitions``, which flipped the
    # PLAN with the core count (the r14 driver's 8-core run took the
    # broadcast path that the 32-core run skipped and measured 12x
    # slower — broadcast-build cost without the expansion to amortize
    # it). The constant 32 ≈ a 128M-row expansion (32 x the 4M-row
    # per-task budget): below it the plain AQE shuffle join never
    # concentrates enough expansion to matter; above it the
    # hash-probe expansion measured ~6x faster than sort-merge (r12).
    use_broadcast = (
        est_bytes <= _broadcast_byte_cap(spark) and exp_parts > 32
    )
    _LAST_GATE.update(
        exp_rows=exp_rows,
        est_bytes=est_bytes,
        exp_parts=exp_parts,
        byte_cap=_broadcast_byte_cap(spark),
        broadcast=use_broadcast,
    )
    if use_broadcast:
        a = a.repartition(max(parts, exp_parts))
        b = F.broadcast(b)
    # POSITIONAL filter (PPJoin): at the pair's MINIMUM-order shared
    # token h*, every shared token is h* or commoner, so Σmin ≤
    # min(cum_a(h*), cum_b(h*)) — and J_w ≥ t needs Σmin ≥
    # t/(1+t)·(T_a+T_b). A candidate row failing the bound at its
    # token is droppable: if that token were the pair's h* the pair
    # is impossible, and otherwise the pair's h* row survives on its
    # own. Prunes the mid-frequency matches whose remaining mass
    # can't support the overlap.
    need = F.lit(t / (1.0 + t)) * (F.col("__Ta") + F.col("__Tb"))
    cand = (
        a.join(b, on="tok")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("__Ta", "__Tb")
            >= F.lit(t) * F.greatest("__Ta", "__Tb") - F.lit(1e-9)
        )
        .filter(F.least("__ca", "__cb") >= need - F.lit(1e-9))
        .select("id_a", "id_b")
        .distinct()
    )
    maps = tf.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("tok", "tf"))
        ).alias("__m"),
        F.sum("tf").alias("__T"),
    )
    ma = maps.select(
        F.col(id_col).alias("id_a"),
        F.col("__m").alias("__ma"),
        F.col("__T").alias("__Ta"),
    )
    mb = maps.select(
        F.col(id_col).alias("id_b"),
        F.col("__m").alias("__mb"),
        F.col("__T").alias("__Tb"),
    )
    smin = F.aggregate(
        F.map_values(
            F.map_zip_with(
                F.col("__ma"),
                F.col("__mb"),
                # NOT F.least: least() SKIPS nulls, so a token present
                # in only one doc would contribute its full tf
                lambda k, x, y: F.when(
                    x.isNotNull() & y.isNotNull(), F.least(x, y)
                ),
            )
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + F.coalesce(v, F.lit(0).cast("long")),
    )
    jw = F.col("__smin") / (
        F.col("__Ta") + F.col("__Tb") - F.col("__smin")
    )
    return (
        cand.join(ma, "id_a")
        .join(mb, "id_b")
        .withColumn("__smin", smin)
        .select("id_a", "id_b", F.round(jw, 4).alias("wjaccard"))
        .filter(F.col("wjaccard") >= threshold)
    )


def dup_cluster_profile(
    clusters: DataFrame, rep_col: str = "cluster_rep"
) -> DataFrame:
    """Duplication report over :func:`dedup_clusters` labels: one row
    per cluster size — ``(cluster_size, n_clusters, n_docs)`` — the
    "how duplicated is this corpus" summary a curation run publishes
    next to its survivor counts (mass in size-1 clusters = unique
    docs; a long tail of large clusters = boilerplate/mirror content
    the dedup is earning its cost on; sum(n_docs) − sum(n_clusters)
    = rows removed).

    Two map-side-combined aggregates over the (already tiny relative
    to the corpus) cluster-label frame; nothing else.
    """
    sizes = clusters.groupBy(rep_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


def ngram_novelty(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-eval-document n-gram NOVELTY against a training corpus:
    ``(id, n_grams, novel, novelty_rate)`` where ``novel`` counts the
    eval document's distinct k-gram shingles that appear NOWHERE in
    the training corpus — the aggregate-overlap complement of the
    pair-level decontamination ops (:func:`decontaminate` flags
    which eval docs collide with which train docs; this measures how
    much of each eval doc is genuinely unseen text, the quantity an
    eval-suite auditor reports as "benchmark freshness" and a
    generation-eval reports as memorization risk).

    Plan: both sides reduce to distinct (id, shingle) /
    (shingle) tables (the :func:`shingles` machinery — data-sized
    work ends at the map-side-combined distincts); novelty is ONE
    left-anti join of eval shingles against the train shingle set on
    the ``shingle`` key — the decontamination join shape reversed,
    shuffle-keyed on the shingle (never doc×doc) — plus one count-up
    per eval doc. Both sides shingle with ``full_only=True`` — the
    engine-portable convention (a doc shorter than k tokens emits NO
    shingles, never a partial one), matching the decontamination
    siblings and the SQL transcription's NULL-filtered complete
    k-grams. A shingle-less eval doc is therefore ABSENT from the
    output (totals groups over the shingle table), not a 0/0 row.
    """
    ev = shingles(eval_df, text_col, id_col, k, full_only=True)
    tr = shingles(train, text_col, id_col, k, full_only=True).select(
        "shingle"
    ).distinct()
    novel = ev.join(tr, on="shingle", how="left_anti")
    totals = ev.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novels = novel.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("novel")
    )
    return (
        totals.join(novels, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("novel"), F.lit(0))
            .cast("long")
            .alias("novel"),
            F.round(
                F.coalesce(F.col("novel"), F.lit(0)).cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty_rate"),
        )
    )
