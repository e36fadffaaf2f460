"""Similarity search over embedding columns (charter extension;
Spark-native replacement for the reference's driver-side sklearn KNN,
``api.py:104-122``, SURVEY.md §2.8).

Semantics preserved from the reference: cosine metric, exact top-k,
ascending distance (= descending similarity), deterministic ordering.
The reference collects the whole table to the driver; here the table
side always stays distributed:

- :func:`cosine_topk` — one probe, broadcast to every partition; the
  scan side computes similarity in codegen and TakeOrderedAndProject
  keeps k rows per partition. Linear scan, zero shuffle of the table.
- :func:`cosine_topk_many` — probe set × table via broadcast
  (nest-loop) join + per-probe window top-k. Probe side must be the
  small side; this is the batch-serving shape.
- :func:`ivf_topk` — IVF-style approximate variant: k-means-ish
  centroid assignment via a broadcast centroid table, probe only the
  nearest ``n_probe`` partitions. The 100 TB path: the scan prunes to
  ~n_probe/n_centroids of the data.
- ``random_hyperplane_buckets`` — LSH bucketing for cosine (sign of
  projections onto fixed random hyperplanes) usable both for ANN and
  embedding near-dup joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.functions import cosine_similarity, dot, l2_norm


def _with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """Hoist the L2 norm to a per-row column BEFORE any join: inside the
    pairwise expression a norm would be re-folded per PAIR (|A|×|B|
    times); per-row it's computed |A|+|B| times — 2/3 of the cosine
    work removed (measured ~2× on the many-probe KNN)."""
    return df.withColumn(out, l2_norm(vec_col))


from bigdata_kafka_2_spark.operators.common import ensure_parallel as _ensure_parallel
from bigdata_kafka_2_spark.operators.common import pin


def _pair_sim(vec_a, vec_b, norm_a, norm_b):
    denom = F.col(norm_a) * F.col(norm_b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(vec_a, vec_b) / denom)


def cosine_topk(
    table: DataFrame,
    probe: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``table`` rows against a single-row probe.

    Returns (id, similarity) ordered by (similarity desc, id asc).
    ``probe`` is broadcast — the table never shuffles; Spark plans the
    final ``orderBy().limit(k)`` as TakeOrderedAndProject (per-partition
    k-heaps merged on the driver). Norms are hoisted per-row so each
    pair evaluates one dot product only.
    """
    t = _with_norm(_ensure_parallel(table), vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
            ),
            "probe_vec",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    return (
        t.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            F.col(id_col),
            F.round(sim, 4).alias("similarity"),
        )
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
    )


def cosine_topk_many(
    table: DataFrame,
    probes: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k per probe for a (small) probe set.

    (probe_id, id, similarity, rank) with rank 1..k per probe.
    Probe side broadcast → nest-loop join computes |table|×|probes|
    similarities without shuffling the table; the window shuffles only
    on probe_id (small). For probe sets too large to broadcast, switch
    to :func:`ivf_topk` buckets on both sides.
    """
    from pyspark.sql import Window

    t = _with_norm(_ensure_parallel(table), vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probes.select(
                F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
            ),
            "probe_vec",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    scored = (
        t.crossJoin(p)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            F.col(id_col),
            F.round(sim, 4).alias("similarity"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_pairs(
    table: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (id_a, id_b, similarity ≥
    threshold), id_a < id_b.

    Exact all-pairs via self cross join — correct-but-quadratic, the
    oracle baseline. At scale, pre-bucket with
    :func:`random_hyperplane_buckets` and join on bucket instead.
    """
    t = _with_norm(_ensure_parallel(table), vec_col, "__n")
    a = t.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
        F.col("__n").alias("__na"),
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
        F.col("__n").alias("__nb"),
    )
    sim = _pair_sim("vec_a", "vec_b", "__na", "__nb")
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 4).alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


def random_hyperplane_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
) -> DataFrame:
    """Cosine-LSH bucket id: sign bits of projections onto ``n_planes``
    fixed pseudo-random hyperplanes.

    The hyperplanes derive deterministically from ``seed`` via a
    splitmix-style integer mix evaluated per (plane, dimension) —
    generated driver-side as literals, so tasks share identical planes
    with no broadcast variable needed. Vectors in the same bucket are
    near-colinear with high probability; equi-joining on the bucket
    replaces the quadratic cross join for ANN and near-dup.
    """

    bucket = _sign_bucket(vec_col, n_planes, dim, seed)
    return df.withColumn(out_col, bucket)


def _mix(x: int) -> float:
    """splitmix-style integer mix → pseudo-random float in [-0.5, 0.5)."""
    x = (x ^ (x >> 30)) * 0xBF58476D1CE4E5B9 % (1 << 64)
    x = (x ^ (x >> 27)) * 0x94D049BB133111EB % (1 << 64)
    x = x ^ (x >> 31)
    return (x % 10007) / 10007.0 - 0.5


def _sign_bucket(vec_col: str, n_planes: int, dim: int, seed: int):
    """Sign-bit bucket Column over ``n_planes`` seeded hyperplanes.

    Built as ONE generated Spark-SQL string handed to ``F.expr`` — the
    Column-by-Column form (16 zip_with/aggregate HOFs with Python
    lambdas and per-element literals) cost ~5,000 py4j round-trips ≈ 1 s
    of driver time per q53 run before any executor work; the parser
    builds the identical expression tree JVM-side in one call.
    ``repr(float)`` round-trips exactly, so the plane literals are
    bit-identical to the Python values (and to the DuckDB oracle's).
    The column reference is backtick-quoted so names with spaces/dots
    parse the same as the old ``F.col(vec_col)`` form did. (All other
    fragments are internal numeric literals — no user input reaches
    the generated SQL.)
    """
    vec_ref = f"`{vec_col}`"
    terms = []
    for p in range(n_planes):
        plane = [_mix(seed * 1_000_003 + p * 64 + d) for d in range(dim)]
        arr = "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in plane) + ")"
        proj = (
            f"aggregate(zip_with({vec_ref}, {arr}, "
            f"(x, w) -> CAST(x AS DOUBLE) * w), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS INT)")


def auto_planes_per_band(n: int, target_occupancy: int = 16) -> int:
    """Plane count per band sized so expected bucket occupancy stays
    ≈ ``target_occupancy``: r = log2(n / occupancy), clamped to
    [4, 24]. THE scale invariant of the LSH band join — any pinned r
    makes candidates O(n²/2^r); growing r with n keeps them O(n·occ).
    One function so the Spark operator and the generated DuckDB oracle
    derive the SAME r from the same n."""
    import math

    return max(4, min(24, math.ceil(math.log2(max(n / target_occupancy, 2.0)))))


def hyperplane_lsh_pairs(
    table: DataFrame,
    threshold: float,
    bands: int = 4,
    planes_per_band: int | None = None,
    dim: int = 64,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_occupancy: int = 16,
    max_bucket_size: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via MULTI-BAND cosine LSH (OR of ANDs):
    (id_a, id_b, similarity ≥ threshold), id_a < id_b.

    Each band is an independent ``planes_per_band``-plane sign bucket;
    a pair becomes a candidate if it collides in ANY band (equi-join on
    (band_idx, bucket) — never a cross join), then exact cosine
    verifies. Versus the single-band AND-only construction this is the
    textbook recall lever: per-band collision probability p^r, overall
    recall 1-(1-p^r)^B — e.g. at cosine 0.95 (a true near-dup,
    p≈0.90), 4 bands of 4 give recall ≈ 0.97 vs 0.43 for one 16-plane
    band.

    **Plane count must grow with data or the band join is quadratic.**
    A band with r planes has only 2^r buckets, so random-pair
    candidates ≈ bands·n²/2^(r+1): fixed r means O(n²) work no matter
    how the join is expressed (measured: the pinned 4×4 graded config
    ran 26× slower on 10× data in scale_probe.py). With
    ``planes_per_band=None`` (the default) r is sized from the table
    via :func:`auto_planes_per_band` so expected bucket occupancy
    stays ≈ ``target_occupancy``, making candidate volume O(n·occ).
    CAVEAT: that auto path runs ``table.count()`` eagerly at CALL
    time — cheap for a bare parquet scan (metadata only) but for a
    filtered/derived DataFrame it executes the whole upstream plan an
    extra time; pass ``n_rows`` (e.g. from parquet footer metadata, or
    a count the pipeline already has) to skip the job. Note also that
    auto sizing makes the emitted PAIR SET n-dependent: results change
    when n crosses a plane-count boundary, so pinned-r instances
    remain the choice for run-to-run-identical outputs on growing
    data.

    ``max_bucket_size`` is the skew guard, same design as
    ``dedup.ngram_jaccard_pairs(max_doc_freq=...)``: (band, bucket)
    groups larger than the cap are dropped BEFORE the self-join (the
    count-filter join lands on the same key the self-join shuffles on,
    so the exchange is reused). A bucket that overflows a
    well-sized grid is a dense region where sign bits carry no signal —
    capping bounds worst-case work at a documented recall concession.

    Candidate-set dedup happens on bare id pairs BEFORE the embeddings
    re-join (same shape as the MinHash banding in operators/dedup.py).
    """
    if planes_per_band is None:
        n = table.count() if n_rows is None else n_rows
        planes_per_band = auto_planes_per_band(n, target_occupancy)
    t = _ensure_parallel(table)
    band_arr = F.array(
        *[
            _sign_bucket(vec_col, planes_per_band, dim, seed * 1_000_003 + b * 97)
            for b in range(bands)
        ]
    )
    banded = t.select(F.col(id_col), F.posexplode(band_arr).alias("band_idx", "bucket"))
    if max_bucket_size is not None:
        keep = (
            banded.groupBy("band_idx", "bucket")
            .agg(F.count(F.lit(1)).alias("__occ"))
            .filter(F.col("__occ") <= max_bucket_size)
            .select("band_idx", "bucket")
        )
        banded = banded.join(keep, on=["band_idx", "bucket"])
    a = banded.select(F.col(id_col).alias("id_a"), "band_idx", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band_idx", "bucket")
    cand = (
        a.join(b, on=["band_idx", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    withn = _with_norm(t, vec_col, "__n")
    ea = withn.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na")
    )
    eb = withn.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb")
    )
    sim = _pair_sim("__va", "__vb", "__na", "__nb")
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", F.round(sim, 4).alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


def ivf_probe_cells(
    probe: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The ``n_probe`` centroid cells nearest EACH probe —
    (probe_id, probe_vec, centroid_id). Broadcast centroid set; the
    rank is PER PROBE (row_number over a probe_id window), so with a
    multi-row probe set every probe keeps its own n_probe cells — a
    global ORDER BY/LIMIT would let one probe's cells evict another's
    and silently prune away its true candidates (r7 advice). With a
    single probe the per-probe rank is identical to the global limit,
    so the single-probe SQL oracles are unchanged. The window input is
    |probe|·|centroids| rows with the probe side tiny — the shuffle it
    introduces is negligible. Shared by :func:`ivf_topk`,
    :func:`ivf_pq_rerank_topk` and :func:`ann_index_search`."""
    from pyspark.sql import Window

    c = F.broadcast(centroids)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("c_sim").desc(), F.col("centroid_id").asc()
    )
    return (
        probe.crossJoin(c)
        .select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            "centroid_id",
            cosine_similarity(vec_col, "centroid").alias("c_sim"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_probe)
        .select("probe_id", "probe_vec", "centroid_id")
    )


def ivf_topk(
    table: DataFrame,
    probe: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: restrict the scan to the ``n_probe``
    centroid cells nearest the probe, then exact top-k inside them.

    ``centroids``: (centroid_id, centroid array<double>) — small,
    broadcast everywhere. ``table`` is expected pre-assigned with a
    ``centroid_id`` column (see :func:`assign_centroids`); on a
    partitioned-by-centroid layout the non-probed cells are pruned at
    the scan.
    """
    probe_cells = ivf_probe_cells(probe, centroids, n_probe, vec_col, id_col)
    sim = cosine_similarity(vec_col, "probe_vec")
    return (
        table.join(F.broadcast(probe_cells), on="centroid_id")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(F.col(id_col), F.round(sim, 4).alias("similarity"))
        .orderBy(F.col("similarity").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_topk_many(
    table: DataFrame,
    probes: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch IVF approximate top-k: EACH probe scans only its own
    ``n_probe`` nearest cells (``ivf_probe_cells`` ranks per probe —
    the r8 fix; a global cell limit would let one probe's cells evict
    another's and silently prune its true candidates), then an exact
    per-probe window top-k inside them. Output
    ``(probe_id, vec_id, similarity, rank)``.

    The batch-serving shape of :func:`ivf_topk`: the (tiny) per-probe
    cell table broadcasts into the pruned scan — on a
    partitioned-by-centroid layout each probe touches
    ~n_probe/n_cells of the files — and the ranking window shuffles
    only the pruned candidate rows on the probe key. Norms are
    hoisted per table row and per cells row (the assign_centroids
    rule).
    """
    from pyspark.sql import Window

    cells = F.broadcast(
        _with_norm(
            ivf_probe_cells(probes, centroids, n_probe, vec_col, id_col),
            "probe_vec",
            "__pn",
        )
    )
    t = _with_norm(table, vec_col, "__tn")
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        t.join(cells, on="centroid_id")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id", F.col(id_col), F.round(sim, 4).alias("similarity")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def assign_centroids(
    table: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast argmax;
    ties → smallest centroid_id).

    Plan shape: broadcast nest-loop explode (n·k rows, never leaving
    the map side) folded straight into a ``max_by`` hash aggregate
    grouped on the ORIGINAL row — so the shuffle carries one partial
    row per vector, not the n·k scored rows. (The previous window
    top-1 formulation shuffled and sorted all n·k rows; with
    auto-sized centroid sets, k grows with n and that shuffle was the
    dominant cost — measured 2× slower at the 10× probe scale.)

    Norms are HOISTED to one per row and one per centroid BEFORE the
    nest-loop (r8): inlining ``cosine_similarity`` in the argmax
    re-evaluated both L2 norms per (row, centroid) — 2/3 of the
    assignment's arithmetic wasted, ~2.5× measured on the 10× probe
    replica (the same fix ``_with_norm`` applied to the pair
    operators in r5). Identical values and tie-break, so the SQL
    oracles are unchanged.

    At 100 TB, write the result partitioned by ``centroid_id`` so IVF
    probes prune at the scan.
    """
    assignment = _assign_ids(table, centroids, vec_col, id_col)
    return table.join(assignment, on=id_col)


def _assign_ids(
    table: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Slim nearest-centroid assignment: ``(id, centroid_id)`` only —
    the argmax core of :func:`assign_centroids` without the payload
    re-join, so multi-stage assignments (coarse-fine) can chain argmax
    rounds and pay the table-payload join exactly ONCE at the end.

    argmax as max_by over (similarity, -centroid_id): lexicographic
    max = highest similarity, then smallest id — identical tie-break
    to the ORDER BY c_sim DESC, centroid_id ASC the oracles state.
    The aggregate input is SLIMMED to (id, centroid_id, ordering
    struct) BEFORE the argmax (r8): max_by's struct buffer forces
    SortAggregate, and the previous first()-carry formulation sorted
    all n·k scored rows WITH the embedding attached — ~1 KB/row of
    sort+spill volume for 24 bytes of information. ~3× measured on
    the 10× probe replica; values and tie-break identical, oracles
    unchanged.
    """
    c = F.broadcast(
        centroids.withColumn("__cn", l2_norm("centroid"))
    )
    scored = table.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__rn", l2_norm(vec_col)
    ).crossJoin(c)
    denom = F.col("__rn") * F.col("__cn")
    sim = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot(vec_col, "centroid") / denom
    )
    slim = scored.select(
        F.col(id_col),
        F.col("centroid_id"),
        sim.alias("__s"),
    )
    best_slim = F.max_by(
        "centroid_id",
        F.struct(
            F.col("__s").alias("s"),
            (-F.col("centroid_id")).alias("neg_id"),
        ),
    )
    return slim.groupBy(id_col).agg(best_slim.alias("centroid_id"))


def assign_centroids_coarse_fine(
    table: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_coarse: int | None = None,
    n_centroids: int | None = None,
) -> DataFrame:
    """Two-tier (coarse-then-fine) nearest-centroid assignment — the
    deployment path when the centroid set itself is large (auto-sized
    k grows with n, and :func:`assign_centroids`' flat broadcast
    explode does n·k distance evaluations per scan).

    Tier 1 groups the CENTROIDS under ``n_coarse`` (default ≈ √k)
    coarse representatives (the smallest centroid ids — both
    assignments reuse :func:`assign_centroids`, so the per-tier
    argmax/tie-break semantics are identical); tier 2 sends each
    vector to its nearest coarse rep, then argmaxes only over that
    rep's fine group. Per-row work drops from k to ≈ 2·√k distance
    evaluations (the FAISS IMI / hierarchical-k-means shape, with
    log-depth trees as the next rung).

    APPROXIMATE by construction: the true nearest centroid can hide
    in a non-nearest coarse group (assignment agreement vs flat is
    measured in tests; near-identical vectors still co-assign, which
    is the property semantic dedup needs). With ``n_coarse >= k`` the
    grouping is the identity and the result EQUALS the flat
    assignment (asserted in tests). ``n_centroids`` passes the known
    centroid count to avoid an eager ``centroids.count()``.
    """
    import math

    k = centroids.count() if n_centroids is None else n_centroids
    if n_coarse is None:
        n_coarse = max(1, math.isqrt(k))
    coarse = (
        centroids.orderBy("centroid_id")
        .limit(n_coarse)
        .select(
            F.col("centroid_id").alias("__coarse_id"),
            F.col("centroid").alias("__coarse_vec"),
        )
    )
    coarse_as_cents = coarse.select(
        F.col("__coarse_id").alias("centroid_id"),
        F.col("__coarse_vec").alias("centroid"),
    )
    # tier 1: each fine centroid joins its nearest coarse rep's group
    groups = assign_centroids(
        centroids.select(
            F.col("centroid_id").alias("__cid"),
            F.col("centroid").alias("__cvec"),
        ),
        coarse_as_cents,
        vec_col="__cvec",
        id_col="__cid",
    ).withColumnRenamed("centroid_id", "__coarse_id")
    # tier 2a: each vector picks its coarse cell — SLIM assignment
    # (id, coarse_id), no payload re-join (r8: the previous
    # full-assign call shuffled the embedding payload an extra round;
    # both tiers now chain slim argmaxes and the table pays exactly
    # ONE id-keyed join at the end, same join count as the flat path).
    to_coarse = table.select(F.col(id_col), F.col(vec_col)).join(
        _assign_ids(
            table, coarse_as_cents, vec_col, id_col
        ).withColumnRenamed("centroid_id", "__coarse_id"),
        on=id_col,
    )
    # tier 2b: argmax over the fine group only (groups is k rows —
    # broadcast — so the explode is per-row ≈ k/n_coarse candidates).
    # Norms hoisted per row / per fine centroid, as in the flat assign.
    scored = to_coarse.withColumn("__rn2", l2_norm(vec_col)).join(
        F.broadcast(groups.withColumn("__gn", l2_norm("__cvec"))),
        on="__coarse_id",
    )
    denom2 = F.col("__rn2") * F.col("__gn")
    sim2 = F.when(denom2 == 0.0, F.lit(0.0)).otherwise(
        dot(vec_col, "__cvec") / denom2
    )
    # Slim-agg shape (same rationale as the flat assign): the max_by
    # SortAggregate sorts (id, cid, struct) rows, never the payload;
    # the assignment re-joins the table by id afterwards.
    slim = scored.select(F.col(id_col), F.col("__cid"), sim2.alias("__s"))
    best = F.max_by(
        "__cid",
        F.struct(
            F.col("__s").alias("s"),
            (-F.col("__cid")).alias("neg_id"),
        ),
    )
    assignment = slim.groupBy(id_col).agg(best.alias("centroid_id"))
    return table.join(assignment, on=id_col)


# --- Semantic dedup (SemDeDup-style, within-cluster) ---------------------

def auto_centroid_count(n: int, target_cluster_size: int = 64) -> int:
    """Centroid count that keeps EXPECTED cluster size constant as the
    table grows: ``ceil(n / target_cluster_size)``.

    Any PINNED centroid count makes within-cluster pair generation
    O(n²/k) — the same asymptotic trap the 10× scale probe caught for
    pinned hyperplane-LSH grids (q53, r6). With k ∝ n the pair stage
    stays O(n·target); the cost that grows instead is the assignment
    crossJoin (n·k rows — the flat brute-force assign SemDeDup itself
    uses on GPUs). Flat assign is fine up to ~10⁶-vector clusters
    per executor; past that, deployment swaps in a hierarchical
    (coarse-then-fine) assignment with log-depth per-row cost — same
    operator contract, centroid tree instead of a flat table.
    """
    return max(1, -(-n // target_cluster_size))


#: Centroid count above which :func:`semantic_dedup_pairs` switches
#: its assignment stage from the flat broadcast argmax to the
#: coarse-then-fine two-tier assignment. With the auto-sized k ∝ n,
#: the flat assign scores n·k pairs — O(n²/64) as the table grows, the
#: worst ratio on the r7 10× scale probe (7.54×). Below the switch the
#: flat assign is genuinely cheaper (two tiers pay two joins); above
#: it the per-row cost drops from k to ≈ 2√k distance evaluations.
SEMANTIC_COARSE_FINE_K = 128


def semantic_dedup_pairs(
    table: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int | None = None,
    coarse_fine_k: int | None = SEMANTIC_COARSE_FINE_K,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs:
    ``(id_a, id_b, similarity)``, ``id_a < id_b``, cosine ≥ threshold,
    compared only WITHIN each vector's nearest-centroid cluster.

    The SemDeDup recipe (cluster embeddings, then deduplicate inside
    clusters only): clustering turns the quadratic all-pairs problem
    into Σ|cluster|² — at 100 TB you size the centroid set so clusters
    stay bounded (k ∝ n / target_cluster_size, exactly how the paper
    runs k-means), and each cluster's pair generation is an
    independent equi-join task on the ``centroid_id`` shuffle key.
    Candidates never cross clusters, so recall vs the exact all-pairs
    baseline is < 1 by construction; it is measured on planted
    duplicates in tests (near-identical vectors land in the same
    cluster because their centroid argmax agrees).

    ``centroids``: (centroid_id, centroid array<double>) — small,
    broadcast by :func:`assign_centroids`; at scale use
    :func:`fit_pq_codebooks`-style sampled KMeans or any fitted
    centroid table.

    Assignment-stage selection (the at-scale default since r8): when
    the centroid count exceeds ``coarse_fine_k`` the assignment runs
    :func:`assign_centroids_coarse_fine` (≈ 2√k distance evals per
    row) instead of the flat broadcast argmax (k evals per row). With
    the auto-sized k ∝ n the flat stage is O(n²/64) — the r7 scale
    probe's worst ratio — while below the switch flat is cheaper (one
    join, not three). The switch is PART OF the operator's
    deterministic semantics: the SQL oracle branches on the same
    centroid count, so graded plan ≡ production plan at every scale.
    ``n_centroids`` passes a known centroid count (e.g. from the same
    parquet-footer arithmetic that auto-sized the set); when None a
    ``centroids.count()`` runs eagerly at plan-build time — fine for
    materialized centroid tables, a CAVEAT for derived ones.
    ``coarse_fine_k=None`` forces the flat assignment.
    """
    if coarse_fine_k is not None:
        k = centroids.count() if n_centroids is None else n_centroids
    if coarse_fine_k is not None and k > coarse_fine_k:
        assigned = assign_centroids_coarse_fine(
            table, centroids, vec_col, id_col, n_centroids=k
        )
    else:
        assigned = assign_centroids(table, centroids, vec_col, id_col)
    # Materialize the assignment ONCE before the self-join: both pair
    # sides reference it, and without the pin Spark recomputes
    # the whole argmax aggregate per side — measured as ~80% of q75's
    # wall time at the 10× probe scale (the pair stage itself is
    # linear in Σ|cluster|²). SemDeDup deployments write the cluster
    # assignment to storage at exactly this boundary anyway (it IS the
    # IVF layout q57/ann_index_write partition by), so the
    # materialization is the production behavior, not a test artifact
    # — same stage-boundary rule as q66/q81's curated-set pin.
    assigned = pin(assigned)
    t = _with_norm(assigned, vec_col, "__n")
    a = t.select(
        "centroid_id",
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        F.col("__n").alias("__na"),
    )
    b = t.select(
        "centroid_id",
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        F.col("__n").alias("__nb"),
    )
    sim = _pair_sim("vec_a", "vec_b", "__na", "__nb")
    return (
        a.join(b, on="centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 4).alias("similarity"))
        .filter(F.col("similarity") >= threshold)
    )


def semantic_dedup(
    table: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int | None = None,
) -> DataFrame:
    """Rows surviving semantic dedup: drop every vector that has a
    smaller-id near-duplicate in its cluster (the deterministic
    keep-one rule — the min id of each duplicate set survives; a
    chain a~b~c with a<b<c keeps only ``a`` even if a≁c, matching
    the greedy SemDeDup sweep). The dropped-id set is a DISTINCT
    projection of :func:`semantic_dedup_pairs` — tiny relative to the
    table — broadcast into a left-anti join, so the full table is
    scanned exactly once.
    """
    bad = (
        semantic_dedup_pairs(
            table, centroids, threshold, vec_col, id_col,
            n_centroids=n_centroids,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return table.join(F.broadcast(bad), on=id_col, how="left_anti")


# --- Scalar quantization (vector compression) ----------------------------

def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization: adds ``q_min``/``q_scale``
    (the per-vector affine params) and ``q_codes`` (array<int> in
    [0, 255]) — the 4× compression step a 100 TB embedding store runs
    before indexing (codes + two floats per vector instead of 4 bytes
    per dimension).

    All row-local array math (no shuffle): min/max via
    ``array_min``/``array_max``, codes via ``zip_with`` against an
    ``array_repeat`` of the scalar params — the params are HOF
    *inputs*, evaluated once per row, never inside a lambda *body*
    (where a row-level expression re-evaluates PER ELEMENT — the
    alias-inlining trap documented on ``minhash_signatures``;
    here it would make quantization quadratic in the dimension). A
    constant vector (max == min) quantizes to all-zero codes with
    scale 0 — dequantization reproduces it exactly.

    Reconstruction error is bounded by q_scale/2 = (max-min)/510 per
    element (property-tested in tests, with :func:`dequantize_int8`).
    """
    lo = F.array_min(F.col(vec_col)).cast("double")
    hi = F.array_max(F.col(vec_col)).cast("double")
    scale = (hi - lo) / F.lit(255.0)
    n = F.size(F.col(vec_col))
    codes = F.zip_with(
        F.zip_with(
            F.col(vec_col),
            F.array_repeat(lo, n),
            lambda x, lo_: x.cast("double") - lo_,
        ),
        F.array_repeat(scale, n),
        lambda d, s: F.when(s == 0, F.lit(0)).otherwise(
            F.round(d / s, 0).cast("int")
        ),
    )
    return df.select(
        "*",
        lo.alias("q_min"),
        scale.alias("q_scale"),
        codes.alias("q_codes"),
    )


def dequantize_int8(
    df: DataFrame,
    codes_col: str = "q_codes",
    out_col: str = "embedding_deq",
) -> DataFrame:
    """Inverse of :func:`quantize_int8`: x' = q_min + code * q_scale
    (array<double>). |x' - x| <= q_scale/2 element-wise."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col),
            lambda c: F.col("q_min") + c.cast("double") * F.col("q_scale"),
        ),
    )


# --- Product quantization (PQ) ------------------------------------------

def normalize_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "nemb",
    dim: int = 64,
) -> DataFrame:
    """Append an L2-normalized copy of ``vec_col`` (array<double>).

    This is the cosine-metric adapter for PQ: on unit vectors squared
    L2 is 2−2·cos, so ADC distance over normalized encodings ranks by
    cosine — the FAISS recipe for cosine indexes (normalize, then L2).
    Raw ADC over UN-normalized vectors ranks by L2, which diverges
    arbitrarily from cosine when norms vary (measured: true cosine
    top-5 landed at ADC ranks 70-300 of 500 on the driver table).

    Generated as one parsed-SQL projection whose norm is a
    left-associative ``x₀²+x₁²+…`` chain staged as its own column —
    the SAME chain the DuckDB oracle transcribes, so normalized
    components are bit-identical across engines (the q47/q48 parity
    argument). A zero vector normalizes to NaNs identically on both
    engines (IEEE x/0); callers with possible zero vectors should
    filter them first.
    """
    xx = _pq_xx_sql(f"`{vec_col}`", 0, dim, one_based=False)
    staged = df.selectExpr("*", f"sqrt({xx}) AS __vnorm")
    elems = ", ".join(
        f"(CAST(`{vec_col}`[{i}] AS DOUBLE) / __vnorm)" for i in range(dim)
    )
    return staged.selectExpr(
        *df.columns, f"array({elems}) AS `{out_col}`"
    )

def pq_codebooks(
    n_sub: int = 8,
    n_cent: int = 16,
    sub_dim: int = 8,
    seed: int = 7,
    spread: float = 0.5,
) -> list[list[list[float]]]:
    """Deterministic seeded PQ codebooks: ``n_sub`` subspaces ×
    ``n_cent`` centroids × ``sub_dim`` components, drawn from the same
    :func:`_mix` family as the LSH hyperplanes and scaled by ``spread``
    (the driver embeddings are ≈N(0, 0.125), so ``0.5·_mix`` spans
    [-0.25, 0.25] — covering ±2σ). Fixed codebooks make the whole
    encode/search pipeline a literal-constant expression on both
    engines — the q53/q57 oracle pattern; a production pipeline would
    fit them with per-subspace KMeans (ml/pipelines) and pin the fitted
    constants the same way.
    """
    return [
        [
            [
                # 4-dp rounding: the centroid is an arbitrary constant,
                # and short literals halve the size of the generated SQL
                # on BOTH engines (the ~17-digit repr of a raw double
                # dominated parse/analysis time)
                round(spread * _mix(seed * 7_368_787 + m * 65_599 + k * 977 + d), 4)
                for d in range(sub_dim)
            ]
            for k in range(n_cent)
        ]
        for m in range(n_sub)
    ]


def fit_pq_codebooks(
    table: DataFrame,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """The PRODUCTION codebook path: per-subspace KMeans over the
    (optionally sampled) vector table — ``n_sub`` seeded
    ``pyspark.ml.clustering.KMeans`` fits of ``n_cent`` clusters each,
    returning codebooks in :func:`pq_encode`'s shape, rounded to 4 dp
    like the seeded family so generated expressions stay short.

    This is how FAISS trains PQ: centroids adapt to the data
    distribution, so cells are tight where vectors are dense and
    reconstruction error drops vs the seeded uniform codebooks
    (asserted in tests). At 100 TB you fit on a sample
    (``sample_fraction``) — codebook quality converges long before the
    full table — then pin the fitted constants exactly like the seeded
    ones. The seeded :func:`pq_codebooks` default remains the graded
    path because the oracle must inline the codebooks as literals
    known before the data is read.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub_dim = dim // n_sub
    t = table.select(vec_col)
    if sample_fraction is not None:
        t = t.sample(fraction=sample_fraction, seed=seed)
    books: list[list[list[float]]] = []
    for m in range(n_sub):
        sub = t.select(
            array_to_vector(
                F.slice(F.col(vec_col), m * sub_dim + 1, sub_dim).cast(
                    "array<double>"
                )
            ).alias("features")
        )
        km = KMeans(k=n_cent, seed=seed + m, maxIter=20)
        model = km.fit(sub)
        centers = [
            [round(float(c), 4) for c in center] for center in model.clusterCenters()
        ]
        # KMeans can return < k centers when the (sampled) subspace has
        # fewer distinct points than k; pq_encode's n_cent-wide code
        # contract would then silently break. Pad with seeded centroids
        # so every codebook is exactly n_cent entries.
        if len(centers) < n_cent:
            seeded = pq_codebooks(n_sub, n_cent, sub_dim, seed)[m]
            centers.extend(seeded[len(centers) : n_cent])
        assert len(centers) == n_cent, (
            f"subspace {m}: {len(centers)} centroids, expected {n_cent}"
        )
        books.append(centers)
    return books


def _pq_partial_sql(vec_sql: str, base: int, centroid: list[float], one_based: bool) -> str:
    """The SHIFTED squared distance ⟨x, −2c⟩ + ‖c‖² between a subspace
    slice of ``vec_sql`` and a literal centroid — the true squared L2
    minus the centroid-independent ‖x‖² term. Argmin over centroids is
    unchanged (the shift is constant per subspace) and the true
    distance is recovered by adding :func:`_pq_xx_sql` ONCE per
    subspace instead of inside all ``n_cent`` expressions — together
    with folding −2c and ‖c‖² into literals this shrinks the generated
    SQL ~4× vs the naive (x−c)² chains, and codegen-compile size was
    the dominant cost of the whole encode at test scale.

    All chains are LEFT-ASSOCIATIVE ``+`` and both engines' oracles
    are generated from THIS function, so summation order — and
    therefore every last bit of the partials and the argmin — is
    identical across engines.
    """
    terms = []
    for d, c in enumerate(centroid):
        idx = base + d + (1 if one_based else 0)
        terms.append(f"(CAST({vec_sql}[{idx}] AS DOUBLE) * ({-2.0 * c!r}))")
    cc = 0.0
    for c in centroid:
        cc += c * c
    return "(" + " + ".join(terms) + f" + ({cc!r}))"


def _pq_xx_sql(vec_sql: str, base: int, sub_dim: int, one_based: bool) -> str:
    """Σ_d x_d² over a subspace slice (left-associative chain)."""
    terms = []
    for d in range(sub_dim):
        idx = base + d + (1 if one_based else 0)
        x = f"CAST({vec_sql}[{idx}] AS DOUBLE)"
        terms.append(f"({x} * {x})")
    return "(" + " + ".join(terms) + ")"


def _pq_lut_values(
    vec: list[float], books: list[list[list[float]]], n_sub: int, sub_dim: int
) -> list[list[float]]:
    """Python mirror of the generated ``xx + partial`` chains
    (:func:`_pq_xx_sql` + :func:`_pq_partial_sql`): the per-probe ADC
    lookup tables, computed driver-side. Term order and association
    replicate the generated SQL exactly — CPython and the JVM/DuckDB
    all execute strict IEEE-754 double ops, so each entry is
    bit-identical to what the engines' own evaluation of the same
    chains produces (the oracle-parity argument, moved host-side)."""
    luts = []
    for m in range(n_sub):
        base = m * sub_dim
        xx = vec[base] * vec[base]
        for d in range(1, sub_dim):
            x = vec[base + d]
            xx = xx + x * x
        entries = []
        for centroid in books[m]:
            partial = vec[base] * (-2.0 * centroid[0])
            for d in range(1, sub_dim):
                partial = partial + vec[base + d] * (-2.0 * centroid[d])
            cc = 0.0
            for c in centroid:
                cc += c * c
            entries.append(xx + (partial + cc))
        luts.append(entries)
    return luts


def pq_encode(
    table: DataFrame,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
    with_error: bool = True,
) -> DataFrame:
    """Product-quantization encode: (id, code_1..code_n_sub, pq_err).

    ``with_error=False`` omits ``pq_err`` and the per-subspace ‖x_m‖²
    chains it needs — the codes themselves use only the SHIFTED
    distances, whose argmin is ‖x‖-independent. ADC search paths use
    this: it cuts the generated projection by the 16 xx chains (the
    dominant driver-side parse/codegen cost after the distance lists)
    while producing identical codes.

    ``books`` overrides the seeded :func:`pq_codebooks` — pass
    :func:`fit_pq_codebooks`' KMeans-fitted centroids for the
    production path (tighter cells, lower pq_err; the seeded default
    exists so the q47/q48 oracles can inline the codebooks as
    literals).

    The vector splits into ``n_sub`` contiguous subvectors; each maps
    to the 1-based index of its nearest codebook centroid (squared L2,
    first-wins on ties via ``array_position`` of ``array_min``).
    ``pq_err`` is the total squared reconstruction error Σ_m min_k
    d(x_m, c_mk), rounded to 4.

    This is the memory half of the FAISS-style IVF+PQ architecture the
    engine's ANN path targets at 100 TB: 4-bit codes per subspace (16
    centroids) compress a 64-dim float vector 64× (256 B → 4 B), the
    codes table scans instead of the raw vectors, and
    :func:`pq_adc_topk` searches it without ever decoding. Encoding is
    row-local codegen'd arithmetic over literal centroids — zero
    shuffle, embarrassingly parallel, built as ONE parsed SQL
    projection (the q53 lesson: Column-by-Column construction of
    n_sub×n_cent distance expressions would cost thousands of py4j
    round-trips).

    Cited parity: the reference has no vector compression at all — its
    model-3 path collects raw vectors to the driver (``api.py:110-119``);
    this operator plus q57's IVF replaces that with the architecture
    that survives a table that no longer fits anywhere.
    """
    sub_dim = dim // n_sub
    if books is None:
        books = pq_codebooks(n_sub, n_cent, sub_dim, seed)
    # Two projections: the first materializes the per-subspace partial
    # arrays and ‖x_m‖² terms as columns, the second takes argmin/min.
    # Each array alias is referenced multiple times downstream, and
    # Catalyst's CollapseProject keeps non-cheap multiply-referenced
    # aliases in their own projection instead of inlining (re-deriving)
    # them — so the 16-expression arrays are built once per row.
    # one_based=False: Spark SQL bracket indexing is 0-based (DuckDB's,
    # used by the oracle generator, is 1-based).
    lists = [f"`{id_col}`"]
    for m in range(n_sub):
        dists = ", ".join(
            _pq_partial_sql(f"`{vec_col}`", m * sub_dim, books[m][k], one_based=False)
            for k in range(n_cent)
        )
        lists.append(f"array({dists}) AS __l{m + 1}")
        if with_error:
            lists.append(
                _pq_xx_sql(f"`{vec_col}`", m * sub_dim, sub_dim, one_based=False)
                + f" AS __xx{m + 1}"
            )
    staged = table.selectExpr(*lists)
    cols = [f"`{id_col}`"]
    err_terms = []
    for m in range(n_sub):
        cols.append(
            f"CAST(array_position(__l{m + 1}, array_min(__l{m + 1})) AS INT)"
            f" AS code_{m + 1}"
        )
        if with_error:
            err_terms.append(f"(__xx{m + 1} + array_min(__l{m + 1}))")
    if with_error:
        cols.append("round(" + " + ".join(err_terms) + ", 4) AS pq_err")
    return staged.selectExpr(*cols)


def pq_index_write(
    table: DataFrame,
    path: str,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> None:
    """Build the PQ code index and persist it as parquet — the
    deployment shape of the encode half: at 100 TB the index is written
    ONCE (4 B/vector + id) and every query scans the stored codes, never
    the raw vectors. Pair with ``spark.read.parquet(path)`` →
    :func:`pq_adc_search`."""
    pq_encode(table, n_sub, n_cent, dim, seed, vec_col, id_col, books=books).write.mode(
        "overwrite"
    ).parquet(path)


def pq_adc_search(
    codes: DataFrame,
    probe: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a STORED PQ code index
    (:func:`pq_encode` output, typically read back from
    :func:`pq_index_write`'s parquet): for each probe row, the ``k``
    vectors minimizing Σ_m d(probe_m, centroid[code_m]) —
    (probe_id, vec_id, est_dist, rank).

    The classic PQ search shape — and FAISS's own split: the QUERY
    lookup table (distances from each probe subvector to all
    ``n_cent`` centroids) is computed DRIVER-side per probe
    (:func:`_pq_lut_values` — n_sub×n_cent doubles per probe, bounded
    by the probe-set contract, never proportional to the table;
    exactly where FAISS computes query LUTs, CPU-side) and shipped as
    a broadcast frame of array columns. Each candidate's estimated
    distance is then ``n_sub`` ``element_at`` lookups by its stored
    code plus a left-associative sum — 2·n_sub FLOPs per scanned row,
    a tiny expression that stays inside whole-stage codegen. The r6
    form instead inlined the whole n_sub×n_cent LUT expression over a
    runtime probe column: it never constant-folded (≈80× more
    arithmetic per row), exceeded janino's 64 KB method limit
    (silently interpreted), and re-attempted the doomed compile every
    action. The Python chains replicate the generated SQL's term
    order exactly, so LUT entries are bit-identical to the inline
    form and the generated DuckDB oracles are unchanged (hash-checked
    in the mirror). The scan touches only the id + code columns
    (column-pruned at the parquet reader; plan-asserted in tests) and
    the raw vectors are NEVER read. Top-k via rank-window per probe
    (TakeOrdered shape, no global sort).
    """
    from pyspark.sql import types as T

    sub_dim = dim // n_sub
    if books is None:
        books = pq_codebooks(n_sub, n_cent, sub_dim, seed)
    p = probe.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("__pv")
    )
    # bounded driver-side step: probe sets are small by contract (the
    # broadcast-probe shape shared with cosine_topk_many)
    lut_rows = [
        tuple([r["probe_id"]] + _pq_lut_values(list(r["__pv"]), books, n_sub, sub_dim))
        for r in p.collect()
    ]
    lut_schema = T.StructType(
        [T.StructField("probe_id", p.schema["probe_id"].dataType)]
        + [
            T.StructField(f"__lut{m + 1}", T.ArrayType(T.DoubleType()))
            for m in range(n_sub)
        ]
    )
    plut = codes.sparkSession.createDataFrame(lut_rows, lut_schema)
    est = F.expr(
        "round("
        + " + ".join(f"element_at(__lut{m + 1}, code_{m + 1})" for m in range(n_sub))
        + ", 4)"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("est_dist").asc(), F.col(id_col).asc()
    )
    return (
        codes.crossJoin(F.broadcast(plut))
        .select("probe_id", id_col, est.alias("est_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_adc_topk(
    table: DataFrame,
    probe: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Encode-then-search convenience: :func:`pq_encode` materialized
    in-session, then :func:`pq_adc_search`.

    The pin stands in for :func:`pq_index_write`'s parquet
    round-trip in single-session pipelines (graded q48/q68): it severs
    the lineage so Catalyst doesn't inline the 8 argmin expression
    trees (~10^4 nodes each) into every code_m reference of the LUT
    lookups — without the cut the analyzer/optimizer walk goes from
    milliseconds to seconds of driver time. The index-as-a-file
    deployment path is tested separately via write/read/search.
    """
    codes = pin(
        pq_encode(
            table, n_sub, n_cent, dim, seed, vec_col, id_col, books=books,
            with_error=False,
        )
    )
    return pq_adc_search(
        codes, probe, k, n_sub, n_cent, dim, seed, vec_col, id_col, books=books
    )


def pq_adc_rerank_topk(
    table: DataFrame,
    probe: DataFrame,
    k: int = 5,
    m: int = 250,
    n_sub: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
    normalize: bool = True,
) -> DataFrame:
    """ADC search with an exact rerank tier — the FAISS-style accuracy
    recovery the compressed path needs: ADC top-``m`` candidates
    (codes-only scan, raw vectors untouched), then exact cosine
    re-score of ONLY those ``m`` rows per probe, keep top-``k`` —
    (probe_id, vec_id, similarity, rank), the q50 output shape.

    ``normalize=True`` (default) L2-normalizes vectors before encoding
    (:func:`normalize_vectors`): ADC over unit vectors ranks by cosine
    (‖a−b‖² = 2−2·cos), which the exact-cosine rerank then corrects —
    without it the candidate tier ranks by raw L2 and misses cosine
    neighbors wholesale on norm-varying data. ``books=None`` picks the
    pinned production codebooks (``pq_books.PQ_COSINE_BOOKS``,
    KMeans-fitted on the normalized driver distribution then frozen as
    literals — fit once, pin, serve); the seeded uniform
    :func:`pq_codebooks` are a near-random quantizer for normalized
    real data (measured: true top-5 at ADC ranks 70-300 of 500, vs
    ≤121 worst-tail with the fitted books).

    Cost shape at 100 TB: the full scan stays code-width ADC; the
    rerank reads ``m`` raw vectors per probe via a broadcast join of
    the candidate ids against the vector table — never a second full
    scan. ``m`` is a CONSTANT (not a fraction of n): the accuracy
    contract is "true neighbors reach the top-m", governed by
    quantization error, not table size — m=250 is 50% of the sf0.001
    table but 2.5e-6 of a 10^8-row corpus. Recall@5 = 1.0 vs the exact
    :func:`cosine_topk` on the driver table (asserted in tests; raw
    ADC@5 is ~0.5 even with fitted books). The probe row itself is
    excluded, matching :func:`cosine_topk`'s semantics (the
    reference's exact-KNN path, ``api.py:119``).
    """
    if normalize:
        if books is None:
            from bigdata_kafka_2_spark.operators.pq_books import PQ_COSINE_BOOKS

            books = PQ_COSINE_BOOKS
        cand_t = normalize_vectors(table, vec_col, "__cand_vec", dim).select(
            id_col, "__cand_vec"
        )
        cand_p = normalize_vectors(probe, vec_col, "__cand_vec", dim).select(
            id_col, "__cand_vec"
        )
        cand_vec = "__cand_vec"
    else:
        cand_t, cand_p, cand_vec = table, probe, vec_col
    cand = pq_adc_topk(
        cand_t, cand_p, m, n_sub, n_cent, dim, seed, cand_vec, id_col, books=books
    ).select("probe_id", id_col)
    t = _with_norm(_ensure_parallel(table), vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
            ),
            "probe_vec",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        t.join(F.broadcast(cand), on=id_col)
        .join(p, on="probe_id")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", id_col, F.round(sim, 4).alias("similarity"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_pq_rerank_topk(
    table: DataFrame,
    probe: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    m: int = 100,
    n_probe: int = 3,
    n_sub: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The full FAISS-style ANN architecture in one plan: IVF cell
    pruning × PQ-compressed scan × exact rerank —
    (probe_id, vec_id, similarity, rank).

    Three tiers, each cutting what the next must touch:

    1. **IVF prune** (:func:`ivf_probe_cells`): only the ``n_probe``
       cells nearest the probe are scanned — on a
       partitioned-by-centroid layout this prunes at the FILE level,
       so ~n_probe/n_cells of the corpus is read at all.
    2. **ADC over codes** (:func:`pq_adc_rerank_topk`'s candidate
       tier): within the probed cells the scan reads the PQ code
       columns, not raw vectors — normalized encodings and the pinned
       cosine codebooks, top-``m`` candidates.
    3. **Exact rerank**: cosine over just the ``m`` candidate rows.

    At 100 TB with 4096 cells / n_probe=3: read ≈ 0.07% of files, of
    those only code columns, and exactly m raw vectors — versus
    :func:`cosine_topk`'s full-corpus vector scan. Recall compounds
    the IVF cell-miss rate with ADC's top-m miss rate (floors asserted
    in tests; equality to the un-pruned rerank when the true
    neighbors' cells are probed).

    ``table`` is expected pre-assigned with ``centroid_id``
    (:func:`assign_centroids` — at scale a stored layout, not a
    per-query job).
    """
    cells = ivf_probe_cells(probe, centroids, n_probe, vec_col, id_col)
    # distinct: with a multi-row probe set two probes can share a cell,
    # and a duplicate key would duplicate every pruned row
    pruned = table.join(
        F.broadcast(cells.select("centroid_id").distinct()), on="centroid_id"
    ).drop("centroid_id")
    return pq_adc_rerank_topk(
        pruned, probe, k, m, n_sub, n_cent, dim, seed, vec_col, id_col,
        books=books, normalize=True,
    )


# --- Stored ANN index (IVF-partitioned + PQ codes + raw vectors) ---------

def ann_index_write(
    table: DataFrame,
    centroids: DataFrame,
    path: str,
    n_sub: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> None:
    """Build and persist the COMPLETE serving index in one layout:
    centroid assignment as the parquet PARTITION key (IVF probes prune
    at the file level), PQ codes over L2-normalized vectors (the
    code-width ADC candidate tier), and the raw vector (the exact
    rerank tier) — everything :func:`ann_index_search` needs, written
    once. The deployment shape of :func:`ivf_pq_rerank_topk`: at
    100 TB the assignment/encode cost is paid at INGEST (this
    function), and every query touches ~n_probe/n_cells of the files,
    of those only the id+code columns, and exactly m raw vectors.

    ``books=None`` pins the production cosine codebooks
    (``pq_books.PQ_COSINE_BOOKS``) — fit once, pin, serve.
    """
    if books is None:
        from bigdata_kafka_2_spark.operators.pq_books import PQ_COSINE_BOOKS

        books = PQ_COSINE_BOOKS
    assigned = assign_centroids(table, centroids, vec_col, id_col)
    normd = normalize_vectors(assigned, vec_col, "__nv", dim)
    codes = pq_encode(
        normd, n_sub, n_cent, dim, seed, "__nv", id_col,
        books=books, with_error=False,
    )
    out = assigned.join(codes, on=id_col)
    out.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    # a fresh build invalidates tombstones from any prior index at
    # this path (ids are a new namespace — stale tombstones would
    # silently hide live vectors)
    import shutil

    shutil.rmtree(path.rstrip("/") + "__tombstones", ignore_errors=True)


def ann_index_append(
    new_vectors: DataFrame,
    centroids: DataFrame,
    path: str,
    n_sub: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> None:
    """Incrementally extend a stored :func:`ann_index_write` layout
    with a batch of NEW vectors — the daily-ingest half of index
    maintenance: assign the delta to the SAME frozen centroid table,
    encode with the SAME pinned codebooks, and append into the
    centroid-partitioned layout. The result is bit-identical to
    rebuilding the index over the union (asserted in tests): with
    centroids and codebooks frozen, assignment and codes are pure
    per-row functions, so append ≡ rebuild — the IVF property that
    makes a 100 TB index maintainable (cost ∝ delta, never the
    corpus; the alternative, re-clustering per ingest, would also
    invalidate every stored code).

    Caller contract: ids in the delta must be new (the layout is
    append-only — CDC-style replacement goes through
    :func:`~bigdata_kafka_2_spark.operators.cdc` materialization
    instead). Appends create one small file per touched partition per
    batch; pair with ``io.compact_parquet`` on the usual maintenance
    cadence.
    """
    if books is None:
        from bigdata_kafka_2_spark.operators.pq_books import PQ_COSINE_BOOKS

        books = PQ_COSINE_BOOKS
    assigned = assign_centroids(new_vectors, centroids, vec_col, id_col)
    normd = normalize_vectors(assigned, vec_col, "__nv", dim)
    codes = pq_encode(
        normd, n_sub, n_cent, dim, seed, "__nv", id_col,
        books=books, with_error=False,
    )
    out = assigned.join(codes, on=id_col)
    out.write.mode("append").partitionBy("centroid_id").parquet(path)


def ann_index_search(
    index: DataFrame,
    probe: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    m: int = 100,
    n_probe: int = 3,
    n_sub: int = 16,
    n_cent: int = 16,
    dim: int = 64,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Three-tier search over a STORED index
    (``spark.read.parquet`` of :func:`ann_index_write`'s layout):
    file-level IVF pruning on the partition column → ADC over the
    STORED codes (no per-query encode — the difference from
    :func:`ivf_pq_rerank_topk`, which encodes its candidate tier in
    the query plan) → exact cosine rerank reading only the ``m``
    candidate rows' raw vectors. Output
    ``(probe_id, vec_id, similarity, rank)`` — identical to the
    in-session composition (asserted in tests).
    """
    from pyspark.sql import Window

    if books is None:
        from bigdata_kafka_2_spark.operators.pq_books import PQ_COSINE_BOOKS

        books = PQ_COSINE_BOOKS
    cells = ivf_probe_cells(probe, centroids, n_probe, vec_col, id_col)
    pruned = index.join(
        F.broadcast(cells.select("centroid_id").distinct()), on="centroid_id"
    )
    pnorm = normalize_vectors(probe, vec_col, "__pv", dim).select(
        F.col(id_col), "__pv"
    )
    cand = pq_adc_search(
        pruned, pnorm, m, n_sub, n_cent, dim, seed,
        vec_col="__pv", id_col=id_col, books=books,
    ).select("probe_id", id_col)
    t = _with_norm(index.select(id_col, vec_col), vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"),
                F.col(vec_col).alias("probe_vec"),
            ),
            "probe_vec",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        t.join(F.broadcast(cand), on=id_col)
        .join(p, on="probe_id")
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", id_col, F.round(sim, 4).alias("similarity"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ann_index_delete(
    ids: DataFrame,
    path: str,
    id_col: str = "vec_id",
) -> None:
    """Tombstone-delete from a stored :func:`ann_index_write` layout:
    append the ids to a SIBLING ``<path>__tombstones`` parquet dir
    (sibling, not subdirectory — the index's own readers must never
    scan it). O(|delete batch|), no index rewrite: the corpus-scale
    delete path is logical, with physical reclamation deferred to
    :func:`ann_index_compact` on the maintenance cadence — the same
    split every LSM/lakehouse delete uses, because rewriting a
    centroid partition per delete batch would make deletes cost
    O(partition), not O(batch). Re-deleting an id is idempotent
    (tombstones are a set under the anti-join).
    """
    ids.select(id_col).distinct().write.mode("append").parquet(
        path.rstrip("/") + "__tombstones"
    )


def ann_index_tombstones(
    spark, path: str, id_col: str = "vec_id"
) -> DataFrame | None:
    """The live tombstone set for a stored index (None if empty)."""
    import os

    tpath = path.rstrip("/") + "__tombstones"
    if not os.path.isdir(tpath):
        return None
    return spark.read.parquet(tpath).select(id_col).distinct()


def ann_index_live(
    spark, path: str, id_col: str = "vec_id"
) -> DataFrame:
    """The index frame with tombstoned rows filtered out — what every
    search should read. The filter is a BROADCAST anti-join (the
    tombstone set is bounded by the compaction cadence), applied
    BEFORE the candidate tier so deleted vectors can neither rank nor
    displace live candidates."""
    index = spark.read.parquet(path)
    tomb = ann_index_tombstones(spark, path, id_col)
    if tomb is None:
        return index
    return index.join(F.broadcast(tomb), on=id_col, how="left_anti")


def ann_index_compact(spark, path: str, id_col: str = "vec_id") -> dict:
    """Materialize tombstones: rewrite ONLY the centroid partitions
    that contain deleted rows (dynamic partition overwrite — the
    untouched partitions' files are not read or rewritten), then drop
    the tombstone dir. After compaction the stored layout is
    bit-equal in content to the live view (asserted in tests), and
    cost is O(touched partitions), never the index.
    """
    import os
    import shutil

    tpath = path.rstrip("/") + "__tombstones"
    tomb = ann_index_tombstones(spark, path, id_col)
    if tomb is None:
        return {"touched_partitions": 0, "deleted_rows": 0}
    index = spark.read.parquet(path)
    doomed = index.join(F.broadcast(tomb), on=id_col, how="left_semi")
    touched = [
        r["centroid_id"]
        for r in doomed.select("centroid_id").distinct().collect()
    ]
    n_deleted = doomed.count()
    if touched:
        survivors = index.filter(
            F.col("centroid_id").isin(touched)
        ).join(F.broadcast(tomb), on=id_col, how="left_anti")
        # pinned: the survivor frame READS the partitions the
        # overwrite is about to replace; the collect below
        # materializes it first.
        survivors = pin(survivors)
        kept = {
            r["centroid_id"]
            for r in survivors.select("centroid_id").distinct().collect()
        }
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if kept:
                survivors.write.mode("overwrite").partitionBy(
                    "centroid_id"
                ).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        # dynamic overwrite only touches partitions PRESENT in the
        # written frame — a partition whose every row was deleted has
        # no survivor rows and must be dropped explicitly.
        for c in set(touched) - kept:
            shutil.rmtree(
                os.path.join(path, f"centroid_id={c}"), ignore_errors=True
            )
    shutil.rmtree(tpath, ignore_errors=True)
    return {"touched_partitions": len(touched), "deleted_rows": n_deleted}


def truncated_rerank_topk(
    table: DataFrame,
    probe: DataFrame,
    k: int = 5,
    m: int = 50,
    d_prefix: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style two-tier search: rank candidates by cosine
    over only the FIRST ``d_prefix`` dimensions (a d_prefix/dim-width
    scan — with MRL-trained embeddings the leading dims carry most of
    the signal, so this is the modern alternative to PQ for the
    candidate tier), then exact full-dimension rerank of the top-``m``
    — (probe_id, vec_id, similarity, rank), the q50/q68 output shape.

    Cost shape at 100 TB: the scan reads (and dot-products)
    d_prefix/dim of each vector — with a column layout that stores the
    prefix separately, d_prefix/dim of the BYTES — and the exact tier
    reads m full vectors per probe, m a constant. Same accuracy
    contract as :func:`pq_adc_rerank_topk`: recall is governed by
    whether true neighbors reach the top-m of the truncated ranking
    (asserted vs exact on the driver table in tests; both tiers are
    plain column expressions, so the whole pipeline is
    SQL-expressible and hash-checked).
    """
    from pyspark.sql import Window

    tt = _with_norm(
        _ensure_parallel(table).withColumn(
            "__tv", F.slice(F.col(vec_col), 1, d_prefix)
        ),
        "__tv",
        "__ttn",
    )
    tp = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"),
                F.slice(F.col(vec_col), 1, d_prefix).alias("__pv"),
            ),
            "__pv",
            "__tpn",
        )
    )
    tsim = _pair_sim("__tv", "__pv", "__ttn", "__tpn")
    wc = Window.partitionBy("probe_id").orderBy(
        F.col("__ts").desc(), F.col(id_col).asc()
    )
    cand = (
        tt.crossJoin(tp)
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", F.col(id_col), F.round(tsim, 4).alias("__ts"))
        .withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= m)
        .select("probe_id", id_col)
    )
    t = _with_norm(table.select(id_col, vec_col), vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"),
                F.col(vec_col).alias("probe_vec"),
            ),
            "probe_vec",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "probe_vec", "__tn", "__pn")
    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        t.join(F.broadcast(cand), on=id_col)
        .join(p, on="probe_id")
        .select("probe_id", id_col, F.round(sim, 4).alias("similarity"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def negative_samples(
    table: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    exclude_top: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    semi_hard: bool = False,
) -> DataFrame:
    """Deterministic negatives for contrastive training:
    ``(anchor_id, neg_id, rank)`` — per anchor, ``k`` candidates
    EXCLUDING the anchor itself and its ``exclude_top`` nearest
    neighbors (the standard guard against false negatives).

    ``semi_hard=False`` (default) draws UNIFORM negatives in a
    multiplicative-hash order — a pure integer expression, so the
    draw is reproducible across runs/partitionings AND transcribable
    by the SQL oracle. ``semi_hard=True`` orders by similarity
    DESCENDING instead: the negatives become the most similar
    candidates OUTSIDE the excluded neighbor band — the semi-hard
    mining recipe that gives contrastive losses informative
    gradients. Same plan shape either way: the anchor set broadcasts
    against the table (nest-loop — the table never shuffles), the
    exclusion is a broadcast anti join of the tiny
    (anchors × exclude_top) neighbor list, and the per-anchor top-k
    is a window on the anchor key.
    """
    from pyspark.sql import Window

    nbr = cosine_topk_many(
        table, anchors, k=exclude_top, vec_col=vec_col, id_col=id_col
    ).select(
        F.col("probe_id").alias("anchor_id"),
        F.col(id_col).alias("__nbr"),
    )
    if semi_hard:
        t = _with_norm(_ensure_parallel(table), vec_col, "__tn")
        p = F.broadcast(
            _with_norm(
                anchors.select(
                    F.col(id_col).alias("anchor_id"),
                    F.col(vec_col).alias("__av"),
                ),
                "__av",
                "__an",
            )
        )
        sim = _pair_sim(vec_col, "__av", "__tn", "__an")
        cand = (
            t.crossJoin(p)
            .filter(F.col(id_col) != F.col("anchor_id"))
            .select(
                "anchor_id", id_col, F.round(sim, 4).alias("__ord")
            )
        )
        order = [F.col("__ord").desc(), F.col(id_col).asc()]
    else:
        a = F.broadcast(anchors.select(F.col(id_col).alias("anchor_id")))
        # Multiplicative hash computed as a TRUE mod for all id ranges:
        # each factor is reduced mod M before multiplying, so no product
        # exceeds (M-1)·654435887 < 2^63 and the 64-bit evaluation equals
        # the exact-integer value (the naive a*2654435761 + b*40503 form
        # silently wrapped for ids above ~2^33, diverging from the
        # arbitrary-precision SQL oracle — r7 advice). 654435887 =
        # 2654435761 mod M, so the draw is unchanged where the old form
        # didn't overflow.
        M = F.lit(999999937)
        h = F.pmod(
            F.pmod(F.pmod(F.col("anchor_id"), M) * F.lit(654435887), M)
            + F.pmod(F.pmod(F.col(id_col), M) * F.lit(40503), M),
            M,
        )
        cand = (
            _ensure_parallel(table)
            .select(id_col)
            .crossJoin(a)
            .filter(F.col(id_col) != F.col("anchor_id"))
        )
        order = [h.asc(), F.col(id_col).asc()]
    cand = cand.join(
        F.broadcast(nbr.withColumnRenamed("__nbr", id_col)),
        on=["anchor_id", id_col],
        how="left_anti",
    )
    w = Window.partitionBy("anchor_id").orderBy(*order)
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("anchor_id", F.col(id_col).alias("neg_id"), "rank")
    )


def lsh_multiprobe_topk(
    table: DataFrame,
    probe: DataFrame,
    k: int = 5,
    bands: int = 8,
    planes_per_band: int | None = None,
    seed: int = 42,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_rows: int | None = None,
    multiprobe: bool = True,
) -> DataFrame:
    """LSH-bucketed ANN serving with MULTI-PROBE: top-k cosine
    neighbors per probe, candidates drawn from each band's exact
    sign-bucket PLUS every one-bit-flip neighbor bucket (Lv et al.
    2007) — the recall lever that does not touch the stored layout:
    a near neighbor differing in one marginal sign bit is found by
    probing the flipped bucket instead of adding bands (more bands =
    bigger index; more probes = same index, slightly wider read).

    Scale shape: the table is banded ONCE (the q53 generated-SQL sign
    buckets); the probe side expands to bands × (r+1) bucket keys —
    tiny — and is BROADCAST into the equi-join, so the table never
    shuffles for candidate generation; candidates are bounded by
    bands × (r+1) × occupancy per probe, and only those rows reach
    the exact rerank. With auto-sized r (occupancy invariant), the
    per-probe read stays constant as n grows. Output
    ``(probe_id, vec_id, similarity, rank)``.
    """
    if planes_per_band is None:
        n = table.count() if n_rows is None else n_rows
        planes_per_band = auto_planes_per_band(n)
    t = _ensure_parallel(table)
    band_arr = F.array(
        *[
            _sign_bucket(vec_col, planes_per_band, dim, seed * 1_000_003 + b * 97)
            for b in range(bands)
        ]
    )
    banded = t.select(
        F.col(id_col), F.posexplode(band_arr).alias("band_idx", "bucket")
    )
    pbuck = probe.select(
        F.col(id_col).alias("probe_id"),
        F.posexplode(band_arr).alias("band_idx", "bucket"),
    )
    if multiprobe:
        variants = F.array(
            F.col("bucket"),
            *[F.expr(f"bucket ^ {1 << j}") for j in range(planes_per_band)],
        )
        pbuck = pbuck.select(
            "probe_id", "band_idx", F.explode(variants).alias("bucket")
        )
    cand = (
        banded.join(F.broadcast(pbuck), on=["band_idx", "bucket"])
        .filter(F.col(id_col) != F.col("probe_id"))
        .select("probe_id", id_col)
        .distinct()
    )
    withn = _with_norm(t, vec_col, "__tn")
    p = F.broadcast(
        _with_norm(
            probe.select(
                F.col(id_col).alias("probe_id"),
                F.col(vec_col).alias("__pv"),
            ),
            "__pv",
            "__pn",
        )
    )
    sim = _pair_sim(vec_col, "__pv", "__tn", "__pn")
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("similarity").desc(), F.col(id_col).asc()
    )
    return (
        withn.join(F.broadcast(cand), on=id_col)
        .join(p, on="probe_id")
        .select("probe_id", id_col, F.round(sim, 4).alias("similarity"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def simplified_silhouette(
    table: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster — the
    CLUSTER-QUALITY audit for the SemDeDup/IVF machinery: one row per
    centroid ``(centroid_id, n, mean_silhouette)`` where each
    vector's score is

        s(i) = (d₂ − d₁) / max(d₁, d₂)

    with ``d₁`` the cosine DISTANCE (1 − similarity) to the ASSIGNED
    (nearest) centroid and ``d₂`` the distance to the best OTHER
    centroid (Hruschka et al.'s simplified form of Rousseeuw 1987 —
    the O(n·k) variant; the classic pairwise silhouette is O(n²),
    exactly the cost clustering exists to avoid). A cluster whose
    mean sits near 0 is doing nothing for the Σ|cluster|² pair bound
    (its members are equidistant to a neighbor cluster); near 1
    means tight, well-separated — the number to watch when
    ``auto_centroid_count`` trades cluster size against pair volume.

    Plan: ONE broadcast nest-loop explode over the k centroids with
    hoisted norms (the :func:`assign_centroids` shape), per-vector
    best/runner-up by a window over the n·k scored rows PARTITIONED
    BY VECTOR (never a global sort; per-partition state = k rows),
    row silhouettes rounded 6 dp and averaged per cluster as exact
    DECIMAL sums. Similarities round 4 dp first (the module's
    convention), so assignment AND tie-breaks (similarity desc,
    centroid_id asc) are engine-identical.

    Requires k ≥ 2 centroids — the silhouette is undefined with no
    "other" cluster, and letting the NULL ``d₂`` propagate would give
    MIXED semantics (NULL for most vectors, 0.0 for exact-match ones,
    since ``greatest`` skips NULLs); the degenerate case raises
    instead. The guard is a bounded ``limit(2).count()`` on the
    (broadcast-sized) centroid table.
    """
    from pyspark.sql import Window

    if centroids.select(centroid_id_col).limit(2).count() < 2:
        raise ValueError(
            "simplified_silhouette requires >= 2 centroids: with a "
            "single cluster there is no 'other' centroid and s(i) "
            "is undefined"
        )

    t = _with_norm(_ensure_parallel(table), vec_col, "__tn")
    c = F.broadcast(
        _with_norm(
            centroids.select(
                F.col(centroid_id_col).alias("__cid"),
                F.col(centroid_vec_col).alias("__cv"),
            ),
            "__cv",
            "__cn",
        )
    )
    scored = t.crossJoin(c).select(
        F.col(id_col).alias("__vid"),
        F.col("__cid"),
        F.round(_pair_sim(vec_col, "__cv", "__tn", "__cn"), 4).alias(
            "__sim"
        ),
    )
    w = Window.partitionBy("__vid").orderBy(
        F.col("__sim").desc(), F.col("__cid").asc()
    )
    top2 = scored.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= 2
    )
    per_vec = top2.groupBy("__vid").agg(
        F.max(F.when(F.col("__r") == 1, F.col("__cid"))).alias(
            "__own"
        ),
        F.max(F.when(F.col("__r") == 1, F.col("__sim"))).alias(
            "__s1"
        ),
        F.max(F.when(F.col("__r") == 2, F.col("__sim"))).alias(
            "__s2"
        ),
    )
    d1 = F.lit(1.0) - F.col("__s1")
    d2 = F.lit(1.0) - F.col("__s2")
    sil = F.when(
        F.greatest(d1, d2) > 0,
        F.round((d2 - d1) / F.greatest(d1, d2), 6),
    ).otherwise(F.lit(0.0))
    rows = per_vec.select(
        "__own", sil.cast("decimal(28,6)").alias("__sil")
    )
    return rows.groupBy(F.col("__own").alias(centroid_id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.sum("__sil").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_silhouette"),
    )
