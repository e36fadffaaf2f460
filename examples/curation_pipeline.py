"""End-to-end training-data curation pipeline — the LLM-charter
counterpart of ``examples/food_pipeline.py``, runnable as one script:

    python examples/curation_pipeline.py [--sf-dir /root/testdata/sf0.001]

The stages are the standard corpus-curation recipe, each one an
operator family from the engine (all distributed, no driver-side data
loops; collected outputs are bounded summaries):

1. DEDUP-EXACT — fingerprint groupBy keeps one doc per normalized
                 text (operators/dedup.exact_dedup machinery).
2. DEDUP-NEAR  — MinHash-LSH candidates → exact-Jaccard verify →
                 connected components → min-id survivors
                 (operators/dedup.near_dedup, verify=True).
3. QUALITY     — quality-stat gates: keep docs with enough tokens
                 and a sane alpha ratio (operators/text.with_text_stats
                 — one projection, no shuffle); then the r7 gates:
                 repetition filter (repetition_stats), PII scrub
                 (pii_flags routing only flagged rows into
                 redact_pii), benchmark decontamination vs a held-out
                 slice (dedup.decontaminate), and the unigram-LM
                 perplexity-proxy score (unigram_logprob_scores);
                 then the r8 gates: FUZZY decontamination
                 (dedup.fuzzy_decontaminate — paraphrased benchmark
                 copies), the cross-document repeated-substring
                 filter (dedup.exact_substring_dedup — ExactSubstr
                 boilerplate signal), and CCNet-style perplexity
                 buckets (sampling.score_buckets).
4. TOKENS      — corpus token accounting on the survivors (whitespace
                 + BPE-ish regex counts, operators/text).
5. SPLIT       — append-stable hash splits train/val/test
                 (operators/sampling.hash_split; membership depends
                 only on (key, seed), stable under appends/re-runs);
                 then the 256-token sequence-packing manifest
                 (text.pack_sequences) and the constraint promotion
                 gate (profile.check_constraints).
6. EMBED       — the survivors' embeddings (vec_id == doc_id on the
                 driver tables) are int8-quantized
                 (operators/similarity.quantize_int8) and assigned to
                 IVF centroids (assign_centroids) — the compressed,
                 index-ready store.
7. ANN-SERVE   — write the STORED serving index once
                 (ann_index_write: partition-pruned IVF cells + PQ
                 codes + raw vectors) and answer a three-tier query
                 from the parquet (ann_index_search) — the retrieval
                 deployment over the curated corpus.

Prints one JSON summary line per stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from bigdata_kafka_2_spark import get_spark  # noqa: E402
from bigdata_kafka_2_spark.io import read_table  # noqa: E402
from bigdata_kafka_2_spark.operators import dedup as DD  # noqa: E402
from bigdata_kafka_2_spark.operators.common import pin  # noqa: E402
from bigdata_kafka_2_spark.operators import sampling as SMP  # noqa: E402
from bigdata_kafka_2_spark.operators import similarity as SIM  # noqa: E402
from bigdata_kafka_2_spark.operators import text as TX  # noqa: E402


def run(spark, sf_dir: str) -> list[dict]:
    out = []
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n0 = docs.count()

    # 1. exact dedup: keep the min-id representative per fingerprint
    fp = docs.select("doc_id", TX.fingerprint("text").alias("fp"))
    keep_exact = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    docs1 = docs.join(keep_exact.select("doc_id"), "doc_id", "left_semi")
    n1 = docs1.count()
    out.append({"stage": "dedup_exact", "in": n0, "out": n1})

    # 2. near dedup end-to-end (LSH -> verify -> CC -> survivors)
    survivors = DD.near_dedup(docs1, verify=True, est_threshold=0.5)
    docs2 = docs1.join(survivors, "doc_id", "left_semi")
    n2 = docs2.count()
    out.append({"stage": "dedup_near", "in": n1, "out": n2})

    # 2b. containment removal (r8 cont.): embedded quotes/boilerplate
    #     wrappers that symmetric Jaccard never flags — drop docs
    #     ≥0.7 contained in a surviving doc (mutual containments keep
    #     the lower id); operators/dedup.containment_removal
    docs2 = DD.containment_removal(docs2, k=3, threshold=0.7)
    n2b = docs2.count()
    out.append({"stage": "containment_removal", "in": n2, "out": n2b})

    # 3. quality gates: enough tokens, sane alpha ratio
    q = TX.with_text_stats(docs2)
    docs3 = q.filter(
        (F.col("stat_tokens") >= 5) & (F.col("stat_alpha_ratio") >= 0.5)
    ).select("doc_id", "text")
    n3 = docs3.count()
    out.append({"stage": "quality_filter", "in": n2b, "out": n3})

    # 3b. repetition gate (r7): drop boilerplate/spam-shaped docs whose
    #     token 2-grams concentrate (operators/text.repetition_stats)
    rep_keep = (
        TX.repetition_stats(docs3, n=2, max_top_frac=0.2, max_dup_frac=0.3)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    docs3 = docs3.join(rep_keep, "doc_id", "left_semi")
    n3b = docs3.count()
    out.append({"stage": "repetition_filter", "in": n3, "out": n3b})

    # 3c. PII scrub (r7): count hits, redact ONLY flagged rows (the
    #     expensive rewrite touches a few %; operators/text.pii_flags)
    flags = TX.pii_flags(docs3)
    n_pii = flags.filter(F.col("has_pii")).count()
    flagged = docs3.join(
        flags.filter(F.col("has_pii")).select("doc_id"), "doc_id", "left_semi"
    )
    clean = docs3.join(flagged.select("doc_id"), "doc_id", "left_anti")
    docs3 = clean.unionByName(
        TX.redact_pii(flagged).select(
            "doc_id", F.col("text_redacted").alias("text")
        )
    )
    out.append({"stage": "pii_scrub", "flagged": int(n_pii), "out": n3b})

    # 3d. benchmark decontamination (r7): drop docs sharing 4-grams
    #     with a held-out eval slice (operators/dedup.decontaminate —
    #     eval side broadcast, train scan never shuffles)
    ev = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 13 == 0
    ).select("doc_id", "text")
    docs3 = DD.decontaminate(
        docs3.filter(F.col("doc_id") % 13 != 0), ev, k=4
    )
    # stage boundary #1: the lineage up to here includes the CC loop
    # and every quality gate — pin it before the r8 stages
    # re-reference it (fuzzy candidates + sets + anti = 3 references)
    docs3 = pin(docs3)
    n3d = docs3.count()
    out.append({"stage": "decontaminate", "in": n3b, "out": n3d})

    # 3d2. FUZZY decontamination (r8): near-duplicates of eval docs
    #      (paraphrased benchmark copies the verbatim pass misses) —
    #      banded MinHash candidates, eval broadcast at both stages
    #      (operators/dedup.fuzzy_decontaminate)
    docs3 = DD.fuzzy_decontaminate(docs3, ev, k=3, threshold=0.3)
    n3d2 = docs3.count()
    out.append({"stage": "fuzzy_decontaminate", "in": n3d, "out": n3d2})

    # 3d3. repeated-substring filter (r8): drop docs dominated by
    #      corpus-repeated spans — the ExactSubstr boilerplate signal
    #      (operators/dedup.exact_substring_dedup)
    docs3 = DD.exact_substring_dedup(
        docs3, k=4, min_df=2, max_coverage=0.5
    )
    # stage boundary #2: every downstream stage (tokens, split, pack,
    # gate, embed) re-reads the curated set across several jobs —
    # pin it once more (the q81 lesson; a deployment writes the
    # curated table here anyway)
    docs3 = pin(docs3)
    n3d3 = docs3.count()
    out.append({"stage": "substring_filter", "in": n3d2, "out": n3d3})

    # 3e. LM quality score (r7): mean unigram log-prob under the
    #     corpus's own LM — the perplexity-proxy ranking signal
    scores = TX.unigram_logprob_scores(docs3)
    lp = scores.agg(
        F.round(F.avg("logprob"), 4).alias("avg"),
        F.round(F.min("logprob"), 4).alias("min"),
    ).first()
    out.append(
        {"stage": "lm_score", "avg_logprob": float(lp.avg), "min_logprob": float(lp.min)}
    )

    # 3f. perplexity buckets (r8): CCNet's head/middle/tail banding at
    #     the corpus's own score terciles (operators/sampling.
    #     score_buckets) — a deployment keeps head+middle
    buckets = {
        r.bucket: r.n
        for r in SMP.score_buckets(scores, "logprob")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out.append({"stage": "perplexity_buckets", **buckets})

    # 3g. token-budget selection (late r8): the greedy knapsack cut a
    #     deployment makes when the training budget is in TOKENS —
    #     reported here against a 10k-token budget
    #     (operators/sampling.budget_fill over the LM scores)
    sel = (
        SMP.budget_fill(scores, "logprob", "dl", 10_000)
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("dl").alias("kept_tokens"),
        )
        .first()
    )
    out.append(
        {
            "stage": "budget_select",
            "kept_docs": int(sel.kept_docs),
            "kept_tokens": int(sel.kept_tokens),
        }
    )

    # 4. corpus token accounting on survivors
    from bigdata_kafka_2_spark.plans.text_queries import _BPE_PATTERN

    toks = docs3.select(
        TX.token_count("text").alias("ws"),
        F.regexp_count("text", F.lit(_BPE_PATTERN)).alias("bpe"),
    ).agg(
        F.sum("ws").alias("ws_tokens"), F.sum("bpe").alias("bpe_tokens")
    ).first()
    out.append(
        {
            "stage": "token_accounting",
            "ws_tokens": int(toks.ws_tokens),
            "bpe_tokens": int(toks.bpe_tokens),
        }
    )

    # 5. append-stable splits
    split = SMP.hash_split(
        docs3, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    profile = {
        r.split: r.n
        for r in split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out.append({"stage": "split", **profile})

    # 5b. sequence-packing manifest (r7): lay the curated corpus into
    #     256-token context windows (operators/text.pack_sequences —
    #     range-bucketed prefix sum, no single-partition window)
    pack = TX.pack_sequences(docs3, ctx=256).agg(
        F.max("end_bin").alias("bins"), F.sum("n_tokens").alias("toks")
    ).first()
    out.append(
        {
            "stage": "pack_manifest",
            "context_windows": int(pack.bins) + 1,
            "packed_tokens": int(pack.toks),
        }
    )

    # 5c. promotion gate (r7): constraint checks must pass before the
    #     curated set ships (operators/profile.check_constraints)
    from bigdata_kafka_2_spark.operators.profile import check_constraints

    gate = {
        r.rule: int(r.n_violations)
        for r in check_constraints(
            docs3,
            {
                "id_not_null": F.col("doc_id").isNotNull(),
                "text_not_empty": F.length(F.trim("text")) > 0,
            },
        ).collect()
    }
    out.append({"stage": "promotion_gate", **gate})

    # 6. compressed, index-ready embedding store for the survivors
    emb = read_table(spark, sf_dir, "embeddings")
    kept = emb.join(
        docs3.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )
    centroids = (
        kept.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    assigned = SIM.assign_centroids(SIM.quantize_int8(kept), centroids)
    cells = {
        int(r.centroid_id): r.n
        for r in assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out.append(
        {
            "stage": "embed_store",
            "vectors": sum(cells.values()),
            "ivf_cells": len(cells),
        }
    )

    # 7. ANN serving over a STORED index (r7 deployment shape): write
    #    the complete serving layout once — centroid assignment as
    #    partition key (file-level IVF pruning), PQ codes (code-width
    #    candidate scan), raw vectors (exact rerank) — then run the
    #    three-tier search against the parquet, no per-query encode
    #    (operators/similarity.ann_index_write / ann_index_search).
    import tempfile

    idx_path = os.path.join(
        tempfile.gettempdir(), "curation_example_ann_index"
    )
    SIM.ann_index_write(kept, centroids, idx_path)
    index = spark.read.parquet(idx_path)
    probe = kept.orderBy("vec_id").limit(1)
    hits = SIM.ann_index_search(
        index, probe, centroids, k=5, m=50, n_probe=3
    ).collect()
    out.append(
        {
            "stage": "ann_serve",
            "probe": int(hits[0].probe_id) if hits else None,
            "neighbors": [int(r.vec_id) for r in hits],
            "top_sim": float(hits[0].similarity) if hits else None,
        }
    )
    # 8. index maintenance (late r8): a post-hoc removal (takedown /
    #    re-curation) tombstones vectors in O(batch) — searches read
    #    the live view immediately — then compaction materializes the
    #    deletes, rewriting ONLY the touched centroid partitions
    #    (operators/similarity.ann_index_delete / ann_index_live /
    #    ann_index_compact).
    doomed = kept.orderBy(F.desc("vec_id")).limit(2).select("vec_id")
    SIM.ann_index_delete(doomed, idx_path)
    live_hits = SIM.ann_index_search(
        SIM.ann_index_live(spark, idx_path),
        probe,
        centroids,
        k=5,
        m=50,
        n_probe=3,
    ).count()
    stats = SIM.ann_index_compact(spark, idx_path)
    out.append(
        {"stage": "index_maintenance", "live_hits": int(live_hits), **stats}
    )
    # 9. reproducible training order (r8 cont.): every curated doc's
    #    position in a seed-keyed permutation — epoch e orders by seed
    #    e, byte-identical across reruns/engines/partitionings
    #    (operators/sampling.shuffle_rank; a writer repartitionByRange
    #    on the rank gets skew-free shuffled shards)
    from bigdata_kafka_2_spark.operators.sampling import shuffle_rank

    ranked = shuffle_rank(docs3, "doc_id", seed=1)
    first = ranked.orderBy("shuffle_rank").limit(3).collect()
    out.append(
        {
            "stage": "shuffle_order",
            "epoch_seed": 1,
            "first_docs": [int(r.doc_id) for r in first],
            "n_ranked": int(ranked.count()),
        }
    )
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    args = ap.parse_args(argv)
    spark = get_spark("curation-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    for line in run(spark, args.sf_dir):
        print(json.dumps(line))


if __name__ == "__main__":
    main()
