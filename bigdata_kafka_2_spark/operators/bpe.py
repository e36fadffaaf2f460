"""Byte-pair-encoding vocabulary induction (charter extension — the
tokenizer-training half of an LLM data pipeline; complements
``text.pmi_top_pairs``' single-shot merge-candidate statistic with the
full iterative learner).

The classic Sennrich et al. recipe, distributed the way the reference
implementation itself is structured: ALL rounds run on the WORD
FREQUENCY table (distinct words × counts — vocabulary-sized, orders of
magnitude smaller than the corpus), never on the corpus. The corpus is
touched exactly once, by the initial tokenize+count; each merge round
is then one pair-count aggregate over the vocab plus a driver-side
argmax of ONE row (the same bounded-driver-decision pattern as
connected components' convergence check).

Iterative ⇒ not SQL-expressible as one query, so the registry entry is
a rows-only check; correctness is instead pinned by an EXACT parity
test against a pure-Python reference BPE learner (identical merge
sequence including tie-breaks) in tests/test_extensions.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import pin
from bigdata_kafka_2_spark.operators.text import normalize_text

#: End-of-word marker, appended as a separate final symbol so merges
#: can learn word-final units ("ing</w>") distinctly from word-internal
#: ones — the Sennrich convention.
EOW = "</w>"


def word_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, n) over the normalized corpus — the vocabulary-sized
    table every BPE round runs on. One explode + one
    map-side-combinable count; the only corpus-sized job in the
    learner."""
    toks = F.split(normalize_text(text_col), " ")
    return (
        df.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(wf: DataFrame) -> DataFrame:
    """Split each word into single-character symbols + EOW."""
    chars = F.split(F.col("word"), "")
    return wf.select(
        "word",
        "n",
        F.concat(chars, F.array(F.lit(EOW))).alias("symbols"),
    )


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over the vocab table."""
    idx = F.when(
        F.size("symbols") >= 2,
        F.sequence(F.lit(0), F.size("symbols") - 2),
    ).otherwise(F.array().cast("array<int>"))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at("symbols", i + 1).alias("left"),
            F.element_at("symbols", i + 2).alias("right"),
        ),
    )
    return (
        sym.select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.left", "p.right")
        .agg(F.sum("n").alias("pair_count"))
    )


def _merge_expr(left: str, right: str):
    """Fold a symbols array, replacing non-overlapping left-to-right
    occurrences of (left, right) with the concatenation — exactly the
    reference implementation's regex ``left right -> leftright``
    semantics: a symbol just produced by THIS round's merge does not
    immediately serve as the ``left`` of another (so "a a a" with
    merge (a,a) becomes ["aa", "a"]). Pure HOF aggregate with a
    (array, just_merged) struct accumulator — row-local, codegen-free
    but vocab-sized only."""
    merged = left + right

    def step(acc, s):
        arr = acc.getField("arr")
        jm = acc.getField("jm")
        can = (
            (F.size(arr) > 0)
            & ~jm
            & (F.element_at(arr, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            can,
            F.struct(
                F.concat(
                    F.slice(arr, 1, F.size(arr) - 1),
                    F.array(F.lit(merged)),
                ).alias("arr"),
                F.lit(True).alias("jm"),
            ),
        ).otherwise(
            F.struct(
                F.concat(arr, F.array(s)).alias("arr"),
                F.lit(False).alias("jm"),
            )
        )

    zero = F.struct(
        F.array().cast("array<string>").alias("arr"),
        F.lit(False).alias("jm"),
    )
    return F.aggregate(
        F.col("symbols"), zero, step, lambda acc: acc.getField("arr")
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges over the corpus: returns
    ``[(left, right, pair_count), ...]`` in merge order. Each round's
    winner is the highest-count adjacent pair (ties → lexicographically
    smallest (left, right) — deterministic, matched by the reference
    learner in tests); learning stops early when no pair reaches
    ``min_pair_count``.

    Driver transfer is ONE row per round (the argmax pair — the CC
    convergence-check pattern); the vocab table is pinned per round so round k+1's plan does not replay k merge folds over
    the corpus-tokenize lineage. At 100 TB the corpus cost is the one
    initial word count; every round is vocabulary-sized.
    """
    sym = _initial_symbols(word_frequencies(df, text_col, id_col))
    sym = pin(sym)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        # single-row argmax: min_by over the (−count, left, right)
        # ordering struct ≡ orderBy(count desc, left, right).limit(1)
        # — one map-side-combined aggregate job instead of a
        # TakeOrdered sort (and its scale-up retry) per round
        top = (
            _pair_counts(sym)
            .agg(
                F.min_by(
                    F.struct("left", "right", "pair_count"),
                    F.struct(
                        (-F.col("pair_count")).alias("__nc"),
                        F.col("left"),
                        F.col("right"),
                    ),
                ).alias("__m")
            )
            .collect()
        )
        row = top[0]["__m"] if top else None
        if row is None or row["pair_count"] < min_pair_count:
            break
        left, right, cnt = row["left"], row["right"], int(row["pair_count"])
        merges.append((left, right, cnt))
        sym = pin(sym.withColumn("symbols", _merge_expr(left, right)))
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a learned merge list:
    ``(id, bpe_tokens array<string>, n_bpe_tokens)``.

    The merge folds are applied to the (small) DISTINCT-WORD table and
    the corpus picks its tokenization up through a broadcast join on
    the word — the standard deployment shape (per-word tokenizations
    are a lookup, never recomputed per occurrence). Word order within
    each document is preserved via posexplode + a per-doc sort
    aggregate.
    """
    toks = F.split(normalize_text(text_col), " ")
    doc_words = (
        df.select(F.col(id_col), F.posexplode(toks).alias("pos", "word"))
        .filter(F.col("word") != "")
    )
    vocab = doc_words.select("word").distinct()
    sym = _initial_symbols(vocab.withColumn("n", F.lit(1)))
    for m in merges:
        sym = sym.withColumn("symbols", _merge_expr(m[0], m[1]))
    lookup = F.broadcast(sym.select("word", "symbols"))
    return (
        doc_words.join(lookup, on="word")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "symbols"))
                    ),
                    lambda s: s.getField("symbols"),
                )
            ).alias("bpe_tokens")
        )
        .withColumn("n_bpe_tokens", F.size("bpe_tokens").cast("long"))
    )
