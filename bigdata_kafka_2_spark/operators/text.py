"""Text-analysis operators for LLM training-data pipelines (charter
extension; generalizes the reference's only text ops — lowercase
normalization and substring match, ``README.md:92,116-120``).

All hot-path logic is built-in expressions (codegen'd, shuffle-free,
scale linearly with the scan). No Python in the per-row path.
"""

from __future__ import annotations

import math
import pandas as pd  # module-level: pandas_udf type hints (stringified
# by `from __future__ import annotations`) resolve against these globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.operators.common import ensure_parallel, pin

#: Tiny per-language stopword marker sets for the n-gram language-ID
#: heuristic. Deterministic and dependency-free; a real pipeline would
#: swap in fastText/CLD3 behind the same operator signature.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "zh": ("的", "是", "了", "在"),
}


def normalize_text(col: Column | str) -> Column:
    """Canonical normalization: lowercase, collapse whitespace runs,
    THEN trim. Generalizes the README pipeline's lowercase step
    (``README.md:92``).

    Order matters for idempotence (property-tested): ``trim`` removes
    only ASCII spaces, so trimming FIRST leaves non-space whitespace
    (\\r, \\t) to collapse into a leading/trailing space that a second
    pass would then remove — collapse-then-trim is a fixpoint.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def token_count(col: Column | str) -> Column:
    """Whitespace token count — ``size(split(trim(text), '\\s+'))``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def word_occurrences(col: Column | str, word: str) -> Column:
    """Whole-word occurrence count (regexp word boundaries)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(rf"\b{word}\b"))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.

    The exact-dedup key; md5 is identical in Spark and DuckDB so the
    operator is oracle-checkable end-to-end.
    """
    return F.md5(normalize_text(col))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring statistics per document: length, token count,
    chars/token, alpha ratio, whitespace ratio.

    One projection over the scan — no shuffle, no UDF.
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    n_spaces = n_chars - F.length(F.regexp_replace(c, r"\s", ""))
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", ""))
    return df.select(
        "*",
        n_chars.alias("stat_chars"),
        n_tokens.alias("stat_tokens"),
        F.round(n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias(
            "stat_chars_per_token"
        ),
        F.round(n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "stat_alpha_ratio"
        ),
        F.round(n_spaces.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "stat_space_ratio"
        ),
    )


def char_entropy_udf():
    """Arrow-batched scalar Pandas UDF: Shannon entropy (bits) of the
    character distribution of each text — a cheap gibberish/quality
    signal (low: repetitive; high: diverse).

    THE designated escape-hatch shape (SURVEY §2.10): vectorized batch
    in/out over Arrow, no row-at-a-time Python. Body is self-contained
    (local imports only) so cloudpickle ships it by value. Newlines are
    excluded to match the RE2 ``.`` semantics of the SQL oracle.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def entropy(texts: pd.Series) -> pd.Series:
        import math
        from collections import Counter

        def one(t):
            if t is None:
                return 0.0
            chars = [c for c in t if c != "\n"]
            if not chars:
                return 0.0
            n = len(chars)
            return -sum(
                (k / n) * math.log2(k / n) for k in Counter(chars).values()
            )

        return pd.Series([one(t) for t in texts])

    return entropy


def language_id(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "lang_pred",
    emit_scores: bool = False,
) -> DataFrame:
    """Heuristic language ID: count whole-word marker hits per language,
    pick the argmax (ties → lexicographically first language, 'und'
    when nothing matches).

    Pure expression composition — builds a score column per language and
    folds them with ``greatest``; stays in codegen and needs no
    shuffle. Swap-in point for a model-based classifier (same
    signature, Pandas UDF) when external libs are available.

    ``emit_scores`` adds one ``score_<lang>`` column per language — the
    per-language marker-hit counts that feed the argmax (long, to match
    DuckDB ``len(regexp_extract_all(...))``); the whole heuristic is
    then SQL-expressible and oracle-checkable (see
    plans/text_queries._language_id_oracle).
    """
    c = F.col(text_col)
    # coalesce: NULL text means zero marker hits (not NULL scores), so
    # the argmax lands on the best==0 'und' branch and the emitted
    # score columns are well-defined — mirrored in the DuckDB oracle
    scores = {
        lang: F.coalesce(
            sum(
                (
                    F.regexp_count(c, F.lit(rf"(?:^|\s){w}(?:\s|$)"))
                    for w in words
                ),
                start=F.lit(0),
            ),
            F.lit(0),
        )
        for lang, words in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Iterate in reverse-sorted order so earlier languages win ties after
    # the final fold.
    for lang in sorted(scores, reverse=True):
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    pred = F.when(best == 0, F.lit("und")).otherwise(pred)
    out = df.withColumn(out_col, pred)
    if emit_scores:
        for lang in sorted(scores):
            out = out.withColumn(
                f"score_{lang}", scores[lang].cast("long")
            )
    return out


#: Portable shingle-hash family: md5_15 PER TOKEN (reduced mod a
#: 31-bit prime), combined positionally by a polynomial rolling fold.
#: Token-level hashing is what keeps the Spark side fast — the md5
#: lambda touches only its own element, so nothing outer is recomputed
#: per element (the expression-shape constraint below); the fold is
#: built from shifted suffix slices, the same HOF-input-only shape as
#: the window minima. The naive alternative (md5 of the JOINED slice
#: inside the transform lambda) re-evaluates the normalize+split of
#: the whole document per element — measured 40× slower at sf0.01.
_POLY_MOD = (1 << 31) - 1
_POLY_B = 1_000_003


def token_hash_sql(tok_sql: str) -> str:
    """DuckDB expression equal to the Spark md5_15 token hash (same
    md5-prefix scheme as ``sketch.bucket_sql``; parity asserted in
    tests/test_extensions.py)."""
    return (
        f"(CAST('0x' || substr(md5({tok_sql}), 1, 15) AS BIGINT)"
        f" % {_POLY_MOD})"
    )


def shingle_hash_sql(th_sql: str, pos_sql: str, k: int) -> str:
    """DuckDB expression equal to the Spark polynomial shingle hash at
    0-based position ``pos_sql`` of the (1-based) reduced-token-hash
    list ``th_sql``: h = fold(a, b -> (a*B + coalesce(b, 0)) % M) over
    the k hashes starting there — EVERY element, including the first,
    coalesces out-of-range to 0. On the Spark side kept positions always
    have an in-range first element (the fold's acc exists), so the
    coalesce is a no-op there; here it keeps the expression NULL-free
    even for an empty/NULL token list, where Spark drops the document
    entirely and an un-coalesced first element would yield NULL."""
    expr = f"coalesce({th_sql}[{pos_sql} + 1], 0)"
    for j in range(1, k):
        expr = (
            f"((({expr}) * {_POLY_B}"
            f" + coalesce({th_sql}[{pos_sql} + {j + 1}], 0)) % {_POLY_MOD})"
        )
    return expr


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (the rolling-hash scheme of
    Schleimer/Wilkerson/Aiken's MOSS): hash every k-token shingle, then
    keep the MINIMUM hash of each sliding window of ``window``
    consecutive shingles — (id, fingerprints array<long>, n_fp).

    Guarantee: two documents sharing any run of ``window + k - 1``
    tokens share at least one fingerprint, while only ~2/(window+1) of
    all shingle hashes are kept — the sparse, match-guaranteed
    signature for substring-level duplicate detection (vs MinHash,
    which signatures WHOLE-document similarity).

    Entirely row-local (no explode, no shuffle — the same zero-shuffle
    shape as the MinHash signatures); downstream candidate generation
    joins on exploded fingerprints, whose count per document is
    ~2·|tokens|/(window+1), not |tokens|.

    Expression-shape constraint (measured 10×): the shingle-hash array
    may be referenced only as a HOF *input* (suffix slices fed to
    ``zip_with``), never inside a lambda *body* — the optimizer inlines
    projection aliases into lambdas, and an alias inlined into a
    per-element body is recomputed PER ELEMENT (quadratic). Window
    minima therefore come from a ``least``-of-shifted-suffixes
    ``zip_with`` chain (``zip_with`` pads the shorter side with nulls
    and ``least`` skips nulls, so the tail is sliced off to keep full
    windows only — equivalence with the textbook per-position form is
    test-asserted).

    ``hash_fn`` selects the shingle-hash family: ``xxhash64`` (the
    production default — one JVM hash over the slice, no string
    materialization) or ``md5_15`` (per-token md5-prefix hashes
    combined by a polynomial rolling fold — the ANSI-portable family
    that lets the WHOLE winnowing pipeline transcribe to DuckDB SQL,
    exactly as ``sketch.bucket_sql`` does for CMS; see
    ``token_hash_sql``/``shingle_hash_sql``).
    """
    if window not in (2, 4):
        raise ValueError("window must be 2 or 4 (zip_with min-chain)")
    big = 1 << 30
    toks = F.split(normalize_text(text_col), " ")
    if hash_fn == "xxhash64":
        # Stage the token array first (the shingles() rule): slicing
        # an inlined normalize+split inside the lambda re-splits the
        # document once per shingle index — O(tokens²) per document.
        staged = ensure_parallel(df).select(
            F.col(id_col), toks.alias("__toks")
        )
        tc = F.col("__toks")
        shingle_hashes = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(tc) - k, F.lit(0))),
            lambda i: F.xxhash64(F.slice(tc, i + 1, k)),
        )
        pre = staged.select(F.col(id_col), shingle_hashes.alias("__hs"))
    elif hash_fn == "md5_15":
        # one md5 per TOKEN (lambda body touches only its element),
        # then the polynomial fold over k shifted suffixes — all
        # outer-array references are HOF inputs, never lambda bodies
        token_hashes = F.transform(
            toks,
            lambda t: F.pmod(
                F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
                F.lit(_POLY_MOD),
            ),
        )
        pre0 = ensure_parallel(df).select(
            F.col(id_col), token_hashes.alias("__th")
        )
        th = F.col("__th")
        acc = F.slice(th, 1, big)
        for j in range(1, k):
            acc = F.zip_with(
                acc,
                F.slice(th, j + 1, big),
                lambda a, b: F.pmod(
                    a * _POLY_B + F.coalesce(b, F.lit(0)), F.lit(_POLY_MOD)
                ),
            )
        hs = F.slice(acc, 1, F.greatest(F.size(th) - k + 1, F.lit(1)))
        pre = pre0.select(F.col(id_col), hs.alias("__hs"))
    else:
        raise ValueError("hash_fn must be 'xxhash64' or 'md5_15'")
    hs = F.col("__hs")
    suf = [F.slice(hs, i + 1, big) for i in range(window)]
    zipped = F.zip_with(suf[0], suf[1], lambda a, b: F.least(a, b))
    if window == 4:
        zipped = F.zip_with(
            zipped,
            F.zip_with(suf[2], suf[3], lambda a, b: F.least(a, b)),
            lambda a, b: F.least(a, b),
        )
    fp = F.array_distinct(
        F.slice(zipped, 1, F.greatest(F.size(hs) - window + 1, F.lit(1)))
    )
    return pre.select(
        id_col, fp.alias("fingerprints"), F.size(fp).alias("n_fp")
    )


def quality_filter_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_cpt: float = 4.5,
    max_cpt: float = 6.0,
    min_ttr: float = 0.45,
) -> DataFrame:
    """Gopher-style document-level quality rules: (id, n_tokens, cpt,
    ttr, pass_tokens, pass_cpt, pass_ttr, keep).

    The composed doc-level filter every LLM-corpus pipeline runs before
    training (Rae et al.'s Gopher rules, C4's heuristics): token-count
    bounds, mean-token-length (chars/token) bounds, and a
    type-token-ratio floor (the doc-level repetition signal — highly
    duplicated token streams score low). All row-local codegen'd
    expressions over ONE normalize+split — no shuffle, no UDF; at
    100 TB this runs at scan speed and is the cheapest 30-50% corpus
    cut available.

    Rule flags are computed from the ROUNDED (4-dp) statistics so the
    decision boundary is reproducible across engines and runs —
    a keep/drop decision must not depend on the last bits of a double.

    NULL text coalesces to '' BEFORE tokenizing: with Spark's default
    ``spark.sql.legacy.sizeOfNull=true``, ``size(split(NULL))`` is -1
    (n_tokens=-1, keep=false) while DuckDB's split of NULL yields NULL
    flags — coalescing makes both engines treat a NULL document as an
    empty one (n_tokens=1 from the [''] token, keep=false by the
    min_tokens rule), so the decision is engine-independent.
    """
    norm = F.coalesce(normalize_text(text_col), F.lit(""))
    toks = F.split(norm, " ")
    n_tokens = F.size(toks)
    chars = F.length(norm)
    cpt = F.round(chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 4)
    ttr = F.round(
        F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(n_tokens, F.lit(1)),
        4,
    )
    pass_tokens = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    pass_cpt = (cpt >= min_cpt) & (cpt <= max_cpt)
    pass_ttr = ttr >= min_ttr
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        cpt.alias("cpt"),
        ttr.alias("ttr"),
        pass_tokens.alias("pass_tokens"),
        pass_cpt.alias("pass_cpt"),
        pass_ttr.alias("pass_ttr"),
        (pass_tokens & pass_cpt & pass_ttr).alias("keep"),
    )


#: PII patterns shared by the detector, the redactor, and the
#: generated DuckDB oracle. Kept to the regex subset that Java
#: (Spark) and RE2 (DuckDB) evaluate identically: character classes,
#: bounded repetition, alternation — no backreferences, no lookaround.
#: (name, pattern, replacement-tag) in redaction-priority order —
#: SPECIFIC BEFORE GENERAL: email first (a numeric local-part must be
#: consumed as part of the address), then SSN-shaped ids and IPv4
#: (both match the loose phone pattern's digit-run shape), phone
#: last. Detection counts are computed per-pattern on the ORIGINAL
#: text, so a digit run may legitimately count under more than one
#: class; redaction resolves overlaps by this order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv6: full 8-group form plus ::-compressed forms anchored by hex
    # groups on BOTH sides (h::h, a:b::c:d, ...). Leading-/trailing-::
    # forms (::1, fe80::) are NOT matched: \b needs a word char beside
    # it and the portable subset has no lookaround to anchor a bare
    # colon — an accepted recall bound, rare in prose. Requires ≥7
    # colons or a double colon, so times (12:30:45) and MACs
    # (6 single-colon groups) don't hit.
    (
        "ipv6",
        r"\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b"
        r"|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b",
        "<IP6>",
    ),
    ("ssn_like", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # card-shaped: 13-19 digits with optional single space/dash
    # separators; digit-anchored \b means no partial match inside a
    # longer digit run. Shape-level (redaction) class; the DETECTION
    # count that matters is the Luhn-validated `n_cc_luhn` column
    # pii_flags adds on top (see _luhn_valid_count).
    ("cc_like", r"\b[0-9](?:[ -]?[0-9]){12,18}\b", "<CC>"),
    ("phone", r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
)


def _luhn_valid_count(text_col: str) -> "F.Column":
    """Count of card-shaped matches that PASS the Luhn checksum —
    row-local HOFs only (regexp_extract_all → filter → aggregate over
    the reversed digit positions), so the validation runs inside the
    scan with no UDF and is SQL-transcribable (the oracle mirrors the
    same lambda algebra in DuckDB's list functions). Luhn: from the
    right, double every second digit (subtract 9 when > 9); valid iff
    the sum ≡ 0 (mod 10)."""
    cc_pat = dict((n, p) for n, p, _ in PII_PATTERNS)["cc_like"]
    pat_lit = cc_pat.replace("\\", "\\\\").replace("'", "\\'")
    d = "regexp_replace(x, '[^0-9]', '')"
    digit = f"ascii(substring(reverse({d}), i, 1)) - 48"
    return F.expr(
        f"size(filter(regexp_extract_all(`{text_col}`, '{pat_lit}', 0), "
        f"x -> aggregate(sequence(1, length({d})), 0, (acc, i) -> acc + ("
        f"CASE WHEN (i - 1) % 2 = 0 THEN {digit} "
        f"WHEN ({digit}) * 2 > 9 THEN ({digit}) * 2 - 9 "
        f"ELSE ({digit}) * 2 END)) % 10 = 0))"
    )


def luhn_count_sql(text_col: str = "text") -> str:
    """DuckDB transcription of :func:`_luhn_valid_count` (kept beside
    the operator so the two lambda algebras can never drift apart
    silently)."""
    cc_pat = dict((n, p) for n, p, _ in PII_PATTERNS)["cc_like"]
    pat_lit = cc_pat.replace("'", "''")
    d = "regexp_replace(x, '[^0-9]', '', 'g')"
    digit = f"ascii(substring(reverse({d}), i, 1)) - 48"
    return (
        f"len(list_filter(regexp_extract_all({text_col}, '{pat_lit}'), "
        f"x -> list_sum(list_transform(range(1, length({d}) + 1), i -> ("
        f"CASE WHEN (i - 1) % 2 = 0 THEN {digit} "
        f"WHEN ({digit}) * 2 > 9 THEN ({digit}) * 2 - 9 "
        f"ELSE ({digit}) * 2 END))) % 10 = 0))"
    )


def pii_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII hit counts: (id, n_email, n_ipv6, n_ssn_like,
    n_ipv4, n_cc_like, n_phone, n_cc_luhn, has_pii) — the detection
    half of the scrub step every training-data pipeline runs before
    release (emails, IPv4/IPv6 addresses, phone numbers, SSN-shaped
    ids, card-shaped digit runs; regex-level recall, the production
    pattern before an NER pass). ``n_cc_luhn`` refines ``n_cc_like``
    with the Luhn checksum (row-local HOF aggregate over the reversed
    digit positions — no UDF), separating real card numbers from
    arbitrary digit runs; ``has_pii`` composes the shape counts
    (cc participates via its Luhn-validated count, not the raw shape
    count, so invoice/tracking numbers alone don't flag a document).

    Row-local ``regexp_count`` over the scan — no shuffle, no UDF;
    at 100 TB this annotates at scan speed and the counts column
    enables both filtering (drop has_pii) and redaction routing
    (:func:`redact_pii` only the flagged rows — at typical PII rates
    the expensive rewrite touches a few % of documents). Patterns are
    the engine-portable subset (`PII_PATTERNS`), so the operator is
    oracle-checkable end-to-end.
    """
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    out = df.select(
        F.col(id_col),
        *counts,
        _luhn_valid_count(text_col).alias("n_cc_luhn"),
    )
    has = None
    for name, _, _ in PII_PATTERNS:
        # cc participates via the Luhn-validated count (see docstring)
        flag_col = "n_cc_luhn" if name == "cc_like" else f"n_{name}"
        term = F.col(flag_col) > 0
        has = term if has is None else (has | term)
    return out.withColumn("has_pii", has)


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace every PII match with its type tag (``<EMAIL>`` etc.) —
    the redaction half. A chain of row-local ``regexp_replace`` in
    `PII_PATTERNS` order (email before phone, so numeric local-parts
    are consumed whole). Same portability contract as
    :func:`pii_flags`.
    """
    c = F.col(text_col)
    for _, pat, tag in PII_PATTERNS:
        c = F.regexp_replace(c, pat, tag)
    return df.withColumn(out_col, c)


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_top_frac: float = 0.2,
    max_dup_frac: float = 0.3,
) -> DataFrame:
    """Gopher-style n-gram repetition signals per document:
    ``(id, n_grams, top_ngram_frac, dup_ngram_frac, keep)``.

    - ``top_ngram_frac`` — share of the document's token n-grams taken
      by its single most frequent n-gram (Gopher's "fraction in the
      most common n-gram" signal; boilerplate and SEO spam score high);
    - ``dup_ngram_frac`` — share of n-gram occurrences that are
      repeats, ``(total - distinct) / total`` (Gopher's duplicate
      n-gram family);
    - ``keep`` — both fractions at or under their thresholds,
      decided on the 4-dp-rounded statistics (same cross-engine
      reproducibility rule as :func:`quality_filter_flags`).

    Plan shape: ONE explode of row-local full n-grams (built inside
    codegen from a single normalize+split; documents shorter than
    ``n`` tokens yield no grams and are excluded — the engines agree
    because no partial/NULL-padded gram is ever formed), then two
    map-side-combinable hash aggregates — (id, gram) counts, then per
    id — both keyed by doc, so at 100 TB this is a shuffle of one
    row per distinct (doc, gram), the narrowest repetition profile
    available. Complements :func:`quality_filter_flags` (token/char
    shape) and the dedup family (cross-document repeats): this is
    WITHIN-document repetition, the one axis those don't measure.
    """
    # Staged token array (the shingles() rule — an inlined
    # normalize+split inside the lambda re-splits per gram index).
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(
            F.coalesce(normalize_text(text_col), F.lit("")), " "
        ).alias("__toks"),
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    counts = (
        staged.select(F.col(id_col), F.explode(grams).alias("gram"))
        .filter(F.col("gram") != "")
        .groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = F.round(F.max("c") / F.sum("c"), 4)
    dup = F.round((F.sum("c") - F.count(F.lit(1))) / F.sum("c"), 4)
    return counts.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_grams"),
        top.alias("top_ngram_frac"),
        dup.alias("dup_ngram_frac"),
        (
            (top <= F.lit(round(max_top_frac, 4)))
            & (dup <= F.lit(round(max_dup_frac, 4)))
        ).alias("keep"),
    )


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document term counts over normalized whitespace tokens:
    (id, tok, tf). One explode + one map-side-combinable hash aggregate
    on (id, tok) — the narrowest possible shuffle for a posting list;
    at 100 TB this is the standard inverted-index build step.
    """
    return (
        ensure_parallel(df)
        .select(
            F.col(id_col),
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TF-IDF per (document, term): (id, tok, tf, doc_freq, tfidf).

    Smooth idf (the sklearn formulation): ln((1+N)/(1+df)) + 1 — never
    zero or negative, defined even for terms in every document.

    Plan shape: the term-frequency aggregate feeds BOTH the per-term
    document-frequency aggregate (second map-side-combined shuffle, on
    tok) and the scoring join, which lands on the same ``tok`` key —
    vocabulary tables are orders of magnitude smaller than posting
    lists, so AQE broadcasts the df side when it fits. N is a scalar
    aggregate broadcast via a 1-row cross join (no driver round-trip
    in the plan).
    """
    tf = term_frequencies(df, text_col, id_col)
    docfreq = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    n_docs = df.select(
        F.count(F.lit(1)).alias("__n_docs")
    )
    idf = F.log((F.lit(1.0) + F.col("__n_docs")) / (F.lit(1.0) + F.col("doc_freq"))) + F.lit(1.0)
    return (
        tf.join(docfreq, on="tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "tok",
            "tf",
            "doc_freq",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )


def bm25_term_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-(query-term, document) BM25 contributions:
    ``(tok, id, tf, bm25_term)`` with ``bm25_term`` the term's scoring
    summand, rounded to an exact DECIMAL(18,4). :func:`bm25_scores`
    sums these per document; retrieval EVALUATION (nDCG over
    single-term curation queries, q121) consumes them directly — each
    term's contribution IS that query's document score.

    Same plan discipline as :func:`bm25_scores` (which see): the
    query-term filter hits the posting list before any join, doc
    frequency / N / avgdl are broadcasts.
    """
    terms = [t.lower() for t in query_terms]
    tf = term_frequencies(df, text_col, id_col)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("__dl"))
    qtf = tf.filter(F.col("tok").isin(terms))
    docfreq = qtf.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    stats = df.select(F.count(F.lit(1)).alias("__n_docs")).crossJoin(
        F.broadcast(dl.agg(F.avg("__dl").alias("__avgdl")))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs") - F.col("doc_freq") + F.lit(0.5))
        / (F.col("doc_freq") + F.lit(0.5))
    )
    contrib = idf * (
        F.col("tf")
        * (F.lit(k1) + 1.0)
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / F.col("__avgdl"))
        )
    )
    return (
        qtf.join(F.broadcast(docfreq), on="tok")
        .join(dl, on=id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            id_col,
            "tf",
            F.round(contrib, 4).cast("decimal(18,4)").alias("bm25_term"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 document scores for a bag of query terms:
    (id, bm25), descending relevance. Documents matching no query term
    are omitted (score would be 0).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5));
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).

    The query-term filter is applied to the posting list BEFORE the
    doc-frequency join (pushed equi-IN on ``tok``), so per-query work
    is proportional to the query terms' postings, not the corpus
    vocabulary — the shape a retrieval pipeline needs when scoring a
    100 TB corpus against a few hundred curation queries. Document
    length and the corpus average come from one extra aggregate over
    the token explode; avgdl/N are 1-row broadcasts.

    Per-term contributions are rounded to 4 dp and summed as exact
    DECIMALs: double-sum order is partition-dependent in Spark and
    engine-dependent vs the oracle, so a total landing on a rounding
    boundary could flip the last digit; decimal addition is exact and
    associative, making the aggregate order-independent on both sides.
    """
    return (
        bm25_term_scores(df, query_terms, text_col, id_col, k1, b)
        .groupBy(id_col)
        .agg(F.sum("bm25_term").cast("double").alias("bm25"))
    )


def unigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean token log-probability under the corpus's OWN
    add-one-smoothed unigram language model:
    ``(id, dl, logprob)`` with ``logprob = Σ_t tf·ln((c_t+1)/(T+V)) / dl``
    — the SQL-expressible stand-in for KenLM perplexity scoring (the
    CCNet/Llama quality signal): documents dominated by corpus-rare
    tokens score low (more negative), boilerplate of corpus-common
    tokens scores high; rank and threshold like any perplexity.

    Plan shape: the posting list (one explode + (id, tok) aggregate)
    feeds BOTH the vocabulary aggregate (map-side combined on ``tok``)
    and the scoring join, which lands on the same ``tok`` key — AQE
    broadcasts the vocabulary side when it fits (a 100 TB corpus's
    unigram vocab is millions of rows, executor-memory scale); T and V
    are a 1-row broadcast. Per-token contributions are rounded to 4 dp
    and summed as exact DECIMALs (the bm25_scores rule) so the
    aggregate is order-independent across partitionings and engines.
    """
    tf = term_frequencies(df, text_col, id_col)
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("ctf"))
    totals = vocab.agg(
        F.sum("ctf").alias("__T"), F.count(F.lit(1)).alias("__V")
    )
    logp = F.log(
        (F.col("ctf") + F.lit(1.0)) / (F.col("__T") + F.col("__V"))
    )
    contrib = (F.col("tf") * F.round(logp, 4)).cast("decimal(28,4)")
    return (
        tf.join(vocab, on="tok")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("dl"),
            F.sum(contrib).alias("__s"),
        )
        .withColumn("__a", (F.col("__s") * 10000).cast("long"))
        .select(
            id_col,
            "dl",
            # round(__s/dl, 4) on doubles hits EXACT .5 ties (the q117
            # bug class: a 4-dp DECIMAL sum divided by an integer
            # length lands on the boundary whenever dl divides the
            # tick sum oddly) where Spark HALF_UP and DuckDB double
            # rounding disagree. Exact integer half-away-from-zero
            # rounding instead: a = __s·10⁴ (exact), q =
            # sign(a)·((|a|·2 + dl) div (2·dl)).
            (
                F.when(F.col("__a") < 0, -F.lit(1)).otherwise(F.lit(1))
                * F.expr("(abs(__a) * 2 + dl) div (dl * 2)")
                / F.lit(10000.0)
            ).alias("logprob"),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Substring-level duplicate candidates: pairs sharing >=
    ``min_shared`` winnowing fingerprints — (id_a, id_b, n_shared),
    id_a < id_b.

    The join is an equi-join on the exploded fingerprint (the
    co-occurrence-bounded similarity-join shape of
    ngram_jaccard_pairs), but over the winnowed ~2/(window+1)-density
    signature instead of every shingle — the cheap screen for copied
    passages that whole-document Jaccard dilutes away.

    The signature table is pinned before the
    explode: the optimizer inlines the fingerprint expression chain
    into the generator and both join sides — the zip_with/hash tree
    replicates 60× in the optimized plan (measured 23× slower per
    row) — and at scale the signature table is the artifact a dedup
    pipeline materializes once and reuses anyway (the q105 stage-
    boundary precedent).
    """
    fps = pin(winnow_fingerprints(df, text_col, id_col, k, window, hash_fn))
    ex = fps.select(F.col(id_col), F.explode("fingerprints").alias("fp"))
    a = ex.select(F.col(id_col).alias("id_a"), "fp")
    b = ex.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int | None = None,
) -> DataFrame:
    """Split each document into token windows:
    ``(id, chunk_idx, chunk_text, n_tokens)`` — the chunking step of a
    context-window pipeline (RAG passage extraction, long-doc
    training prep). Windows start at multiples of ``stride`` while the
    start is inside the document and take up to ``chunk_tokens``
    tokens; ``stride < chunk_tokens`` gives overlapping windows,
    default is disjoint.

    Entirely row-local: the window array is built inside codegen from
    ONE normalize+split (``sequence`` + ``transform`` + ``slice``),
    then posexploded — no shuffle, scan-speed at 100 TB, output size
    a fixed multiple of the input. Empty/NULL documents yield no
    chunks on either engine.
    """
    if stride is None:
        stride = chunk_tokens
    # Staged token array (the shingles() rule — an inlined
    # normalize+split inside the lambda re-splits per window index).
    staged = ensure_parallel(df).select(
        F.col(id_col),
        F.split(
            F.coalesce(normalize_text(text_col), F.lit("")), " "
        ).alias("__toks"),
    )
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.floor((n + F.lit(stride - 1)) / F.lit(float(stride)))
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda j: F.concat_ws(
            " ", F.slice(toks, j * stride + 1, chunk_tokens)
        ),
    )
    out = (
        staged.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
        )
        .filter(F.col("chunk_text") != "")
    )
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), " ")).cast("long").alias(
            "n_tokens"
        ),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ctx: int = 256,
) -> DataFrame:
    """Concat-and-split sequence packing manifest: documents laid out
    in a deterministic stream (ordered by id), the stream chopped
    every ``ctx`` tokens — the standard pre-training packing that
    wastes zero pad tokens. Output per document:
    ``(id, n_tokens, cum_before, start_bin, end_bin, bin_offset)``
    where ``start_bin``/``end_bin`` are the first/last context windows
    the document lands in and ``bin_offset`` its position inside the
    first.

    The global running total uses
    :func:`relational.global_prefix_sum` — range-bucketed exclusive
    prefix sum, NO single-partition window, so the layout of a 100 TB
    corpus is one ranking shuffle of bounded-width rows plus a ≤64-row
    driver cumsum. Deterministic: the manifest is a pure function of
    (ids, token counts), reproducible across partitionings — exactly
    what a resumable tokenization job needs.
    """
    from bigdata_kafka_2_spark.operators.relational import global_prefix_sum

    t = df.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    )
    c = global_prefix_sum(t, id_col, "n_tokens", out_col="cum_before")
    return c.select(
        id_col,
        "n_tokens",
        "cum_before",
        F.floor(F.col("cum_before") / F.lit(float(ctx)))
        .cast("long")
        .alias("start_bin"),
        F.floor(
            (F.col("cum_before") + F.col("n_tokens") - 1) / F.lit(float(ctx))
        )
        .cast("long")
        .alias("end_bin"),
        F.pmod(F.col("cum_before"), F.lit(ctx)).cast("long").alias(
            "bin_offset"
        ),
    )


# --- Corpus co-occurrence statistics (PMI) --------------------------------

def pmi_top_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top adjacent-bigram collocations by pointwise mutual
    information: ``(w1, w2, n_pair, pmi)`` — the corpus statistic
    behind collocation mining, tokenizer-merge candidates (a BPE merge
    step picks exactly the highest-association adjacent pair), and
    phrase induction (word2vec's phrase pass thresholds the same
    score). ``pmi = ln( p(w1,w2) / (p(w1)·p(w2)) )`` with probabilities
    from corpus-wide counts; pairs below ``min_count`` are dropped
    first (rare-pair PMI is noise — the standard guard).

    Plan shape: one row-local explode per side (adjacent pairs from
    the normalized token array; unigrams from the same array), two
    map-side-combinable hash aggregates keyed by word/pair, the two
    corpus totals as a 1-row aggregate broadcast into the scoring
    join, then a global top-n (TakeOrdered — no full sort). The
    word-keyed joins shuffle vocabulary-sized tables, orders of
    magnitude smaller than the corpus; nothing quadratic anywhere.
    Deterministic total order: (pmi desc, w1 asc, w2 asc).
    """
    # Staged token array (the shingles() rule — an inlined
    # normalize+split inside the lambda re-splits per bigram index).
    src = ensure_parallel(df).select(
        F.split(normalize_text(text_col), " ").alias("__toks")
    )
    toks = F.col("__toks")
    idx = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)
    ).otherwise(F.array().cast("array<int>"))
    pair_arr = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(toks, i + 1).alias("w1"),
            F.element_at(toks, i + 2).alias("w2"),
        ),
    )
    bigrams = src.select(F.explode(pair_arr).alias("p")).select(
        "p.w1", "p.w2"
    )
    unigrams = src.select(F.explode(toks).alias("w")).filter(
        F.col("w") != ""
    )
    # The corpus is exploded exactly TWICE (once per side); the totals
    # derive from the already-aggregated vocabulary-sized tables, and
    # each aggregate is materialized once — the naive formulation
    # re-exploded the corpus five times (uc + bc + both totals + the
    # rescan per self-reference), measured ~3× slower at the 10×
    # probe scale.
    uc = pin(
        unigrams.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    bc0 = pin(
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    bc = bc0.filter(F.col("n_pair") >= min_count)
    totals = F.broadcast(
        uc.agg(F.sum("n_w").alias("__n")).crossJoin(
            bc0.agg(F.sum("n_pair").alias("__m"))
        )
    )
    a = uc.select(F.col("w").alias("w1"), F.col("n_w").alias("__na"))
    b = uc.select(F.col("w").alias("w2"), F.col("n_w").alias("__nb"))
    pmi = F.round(
        F.log(
            (F.col("n_pair") / F.col("__m"))
            / ((F.col("__na") / F.col("__n")) * (F.col("__nb") / F.col("__n")))
        ),
        4,
    )
    return (
        bc.join(a, on="w1")
        .join(b, on="w2")
        .crossJoin(totals)
        .select("w1", "w2", "n_pair", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_n)
    )


def bigram_logprob_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document mean BIGRAM log-probability under the corpus's own
    add-one-smoothed bigram language model:
    ``(id, n_bigrams, logprob)`` with
    ``logprob = Σ_(w1,w2) tf·ln((c(w1,w2)+1)/(c(w1·)+H)) / n_bigrams``
    where ``c(w1·)`` is the history count (bigrams starting with w1)
    and ``H`` the number of distinct histories — the sequence-aware
    upgrade of :func:`unigram_logprob_scores`' KenLM stand-in:
    word-salad text with plausible unigrams but implausible
    transitions scores low. Documents with fewer than two tokens are
    omitted (no bigram to score).

    Plan shape: bigrams are built ROW-LOCALLY (an indexed ``transform``
    over the token array — no window, no self-join), one (id, w1, w2)
    aggregate feeds both the corpus bigram counts (map-side combined
    on the pair key) and the scoring join on the same key; history
    counts reduce from the pair counts; H is a 1-row broadcast.
    Per-bigram contributions are rounded to 4 dp and summed as exact
    DECIMALs, and the length-normalized average rounds
    half-away-from-zero in exact integer arithmetic (the q117 tie
    rule), so the score is order-independent and engine-portable.
    """
    toks_arr = F.filter(
        F.split(normalize_text(text_col), " "), lambda x: x != ""
    )
    base = df.select(F.col(id_col), toks_arr.alias("__l")).filter(
        F.size("__l") >= 2
    )
    bi = base.select(
        F.col(id_col),
        F.expr(
            "explode(transform(slice(__l, 1, size(__l) - 1),"
            " (x, i) -> struct(x AS w1, element_at(__l, i + 2) AS w2)))"
        ).alias("__b"),
    ).select(id_col, F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2"))
    tf = bi.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    c2 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    hist = c1.agg(F.count(F.lit(1)).alias("__H"))
    logp = F.log(
        (F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("__H"))
    )
    contrib = (F.col("tf") * F.round(logp, 4)).cast("decimal(28,4)")
    return (
        tf.join(c2, on=["w1", "w2"])
        .join(c1, on="w1")
        .crossJoin(F.broadcast(hist))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            F.sum(contrib).alias("__s"),
        )
        .withColumn("__a", (F.col("__s") * 10000).cast("long"))
        .select(
            id_col,
            "n_bigrams",
            (
                F.when(F.col("__a") < 0, -F.lit(1)).otherwise(F.lit(1))
                * F.expr("(abs(__a) * 2 + n_bigrams) div (n_bigrams * 2)")
                / F.lit(10000.0)
            ).alias("logprob"),
        )
    )


def token_frequency_spectrum(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Zipf frequency-of-frequencies: how many distinct token TYPES
    occur exactly c times in the corpus — (occurrences, n_types).

    The one-scan corpus shape a curation team reads before choosing
    vocabulary cutoffs and hapax-pruning thresholds (the n_types row
    at occurrences=1 IS the hapax count, typically ~half the
    vocabulary by Zipf's law). Two chained hash aggregates, both with
    map-side partial combine: corpus tokens reduce to the vocabulary
    (|V| rows), the vocabulary reduces to the spectrum (distinct
    frequency VALUES — tiny by the long Zipf tail). Nothing here is
    super-linear and no row carries text past the first aggregate.
    """
    toks = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("occurrences"))
    return vocab.groupBy("occurrences").agg(
        F.count(F.lit(1)).alias("n_types")
    )


def vocab_growth(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve: at each of ``n_checkpoints``
    corpus positions (deciles of the ``id_col`` order by default),
    the cumulative token count and the cumulative number of DISTINCT
    token types seen so far — (checkpoint, n_docs, cum_tokens,
    vocab_size).

    Scale shape: "distinct so far" is NOT computed as a running
    distinct (unbounded state); each type is attributed to the ONE
    document where it first appears (min(id) per token — a hash
    aggregate), so per-document new-type counts sum to the running
    vocabulary. Both cumulative sums use
    :func:`~bigdata_kafka_2_spark.operators.relational.global_prefix_sum`
    (range-bucketed, no single-partition window; driver state = one
    bucket-offset row per bucket). Checkpoint thresholds are the
    exact interpolated percentiles of ``id_col`` (one broadcast row);
    the per-checkpoint reduction groups each row under every
    checkpoint at or past it — ``n_checkpoints``× row inflation on
    (id, two longs) rows only, never on text.
    """
    from bigdata_kafka_2_spark.operators.relational import global_prefix_sum

    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__nt"))
    new_types = (
        toks.groupBy("tok")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__new"))
    )
    base = (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .join(new_types, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("__nt", F.lit(0)).alias("__nt"),
            F.coalesce("__new", F.lit(0)).alias("__new"),
        )
    )
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sums,
    )

    # both prefixes in ONE bucketed pass (same rows, same order)
    cum = global_prefix_sums(
        base,
        id_col,
        [("__nt", "__ct_before", "long"), ("__new", "__cv_before", "long")],
    ).select(
        id_col,
        (F.col("__ct_before") + F.col("__nt")).alias("__cum_tokens"),
        (F.col("__cv_before") + F.col("__new")).alias("__vocab"),
    )
    fracs = [i / n_checkpoints for i in range(1, n_checkpoints + 1)]
    thr = df.agg(
        F.percentile(
            F.col(id_col), F.array(*[F.lit(f) for f in fracs])
        ).alias("__thr")
    ).select(
        F.posexplode("__thr").alias("__i", "__t")
    ).select((F.col("__i") + 1).alias("checkpoint"), "__t")
    return (
        cum.join(F.broadcast(thr), F.col(id_col) <= F.col("__t"))
        .groupBy("checkpoint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("__cum_tokens").alias("cum_tokens"),
            F.max("__vocab").alias("vocab_size"),
        )
    )


def compression_ratio_udf(level: int = 6):
    """Arrow-batched scalar Pandas UDF: zlib-compressed size over raw
    UTF-8 size per text — the compressibility quality signal modern
    curation stacks pair with entropy (boilerplate/templated/looping
    text compresses far below natural prose; machine-generated spam
    sits at the extremes in BOTH directions, so pipelines band it
    like perplexity). Deterministic for a fixed zlib level, but not
    SQL-expressible — registered rows-only, with planted fixtures and
    ordering properties in tests.

    Same escape-hatch shape as :func:`char_entropy_udf`: vectorized
    Arrow batches, self-contained body, no row-at-a-time Python.
    """
    from pyspark.sql.functions import pandas_udf

    lvl = int(level)

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        import zlib

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return None
            return round(len(zlib.compress(raw, lvl)) / len(raw), 4)

        return pd.Series([one(t) for t in texts], dtype="float64")

    return ratio


def compressibility_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document compressibility: ``(id, raw_bytes, ratio)`` —
    band/threshold downstream like any quality score (a Gopher-style
    composed filter takes ``ratio`` between ~0.3 and ~0.9 for prose).
    Row-local (one UDF projection, no shuffle)."""
    return df.select(
        F.col(id_col),
        F.octet_length(text_col).cast("long").alias("raw_bytes"),
        compression_ratio_udf()(F.col(text_col)).alias("ratio"),
    ).filter(F.col("ratio").isNotNull())


def boolean_search(
    df: DataFrame,
    must: list[str] | None = None,
    should: list[str] | None = None,
    must_not: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boolean retrieval over the inverted index: documents containing
    ALL ``must`` terms, at least one ``should`` term (when the clause
    is non-empty), and NO ``must_not`` term — (id, n_must, n_should).
    The AND/OR/NOT layer a retrieval stack puts under its scorer
    (BM25 ranks what this selects).

    Plan: the posting list (:func:`term_frequencies`) is filtered to
    the QUERY TERMS FIRST — an ``isin`` over a literal list pushed to
    the scan side, so the aggregate that follows is proportional to
    the query terms' postings, not the corpus. Clause logic is then
    ONE per-doc aggregate: conditional distinct-term counts per
    clause and a row-local HAVING — no self-joins per term (the
    classic k-way posting intersection becomes one count == k check),
    no second scan for NOT (its postings are counted in the same
    pass and required zero). Term matching is on the engine's
    normalized whitespace tokens (lowercased), exact-term — not
    substring.
    """
    must = list(must or [])
    should = list(should or [])
    must_not = list(must_not or [])
    terms = sorted(set(must) | set(should) | set(must_not))
    tf = term_frequencies(df, text_col, id_col).filter(
        F.col("tok").isin(terms)
    )
    n_must = F.count_distinct(
        F.when(F.col("tok").isin(must), F.col("tok"))
    ) if must else F.lit(0).cast("long")
    n_should = F.count_distinct(
        F.when(F.col("tok").isin(should), F.col("tok"))
    ) if should else F.lit(0).cast("long")
    n_not = F.count_distinct(
        F.when(F.col("tok").isin(must_not), F.col("tok"))
    ) if must_not else F.lit(0).cast("long")
    agg = tf.groupBy(id_col).agg(
        n_must.alias("n_must"),
        n_should.alias("n_should"),
        n_not.alias("__n_not"),
    )
    cond = F.col("__n_not") == 0
    if must:
        cond = cond & (F.col("n_must") == len(must))
    if should:
        cond = cond & (F.col("n_should") >= 1)
    return agg.filter(cond).select(id_col, "n_must", "n_should")


def more_like_this(
    df: DataFrame,
    probe_id: int,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sparse "more like this": the k documents most TF-IDF-cosine-
    similar to ``probe_id`` — (id, cosine), descending, probe
    excluded. The classic lexical document-to-document retrieval
    (Lucene's MLT), the sparse complement to the dense embedding
    ANN stack.

    Plan: the probe's weight vector is a handful of (term, weight)
    rows — broadcast onto the posting list, so the dot products are
    ONE tok-keyed join bounded by the probe terms' postings (the
    query-filter-pushdown rule from BM25: work ∝ probe postings,
    never corpus × corpus). Per-doc norms come from one map-side
    aggregate over the same TF-IDF table. All weight sums are
    exact 4-dp DECIMAL products (order-independent — the money-sum
    discipline), with one double sqrt/division at the end; top-k is
    ordered (cosine DESC, id ASC) for deterministic ties.
    """
    w = tfidf_scores(df, text_col, id_col)
    dec = "decimal(18,4)"
    wd = pin(
        w.select(
            F.col(id_col),
            "tok",
            F.col("tfidf").cast(dec).alias("__w"),
        )
    )
    probe = F.broadcast(
        wd.filter(F.col(id_col) == probe_id).select(
            "tok", F.col("__w").alias("__wp")
        )
    )
    norms = wd.groupBy(id_col).agg(
        F.sqrt(
            F.sum(F.col("__w") * F.col("__w")).cast("double")
        ).alias("__norm")
    )
    dots = (
        wd.filter(F.col(id_col) != probe_id)
        .join(probe, on="tok")
        .groupBy(id_col)
        .agg(F.sum(F.col("__w") * F.col("__wp")).alias("__dot"))
    )
    probe_norm = norms.filter(F.col(id_col) == probe_id).select(
        F.col("__norm").alias("__pnorm")
    )
    cos = F.col("__dot").cast("double") / (
        F.col("__norm") * F.col("__pnorm")
    )
    return (
        dots.join(norms, on=id_col)
        .crossJoin(F.broadcast(probe_norm))
        .withColumn("__cos", cos)
        .orderBy(F.col("__cos").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, F.round("__cos", 4).alias("cosine"))
    )


def zipf_fit(
    df: DataFrame, text_col: str = "text", min_freq: int = 1
) -> DataFrame:
    """Zipf's-law fit over the corpus token spectrum: ONE row
    ``(n_tokens, slope, intercept)`` — the least-squares line through
    (ln rank, ln freq) of every token with ``freq ≥ min_freq``. A
    natural corpus fits slope ≈ −1; a flat slope flags synthetic or
    template text, a cliff flags boilerplate — the one-number
    distribution health check next to :func:`token_spectrum`'s raw
    curve.

    Determinism: per-token terms x=ln(rank), y=ln(freq), xy, x² are
    computed in doubles (identical IEEE inputs both engines), rounded
    to 6 dp, and summed as exact DECIMALs — order-independent; the
    closed-form slope/intercept divisions are single double
    expressions written identically in the oracle. Rank assignment is
    the range-bucketed :func:`~bigdata_kafka_2_spark.operators.
    relational.global_row_number` — no single-partition window; the
    frequency table this runs on is vocabulary-sized, not
    corpus-sized.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_row_number,
    )

    freq = (
        df.select(
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= min_freq)
        .withColumn("__negf", -F.col("freq"))
    )
    ranked = global_row_number(freq, ["__negf", "tok"], rn_col="rank")
    x = F.round(F.log(F.col("rank").cast("double")), 6)
    y = F.round(F.log(F.col("freq").cast("double")), 6)

    def dec(c):
        return c.cast("decimal(28,6)")

    sums = ranked.select(
        dec(x).alias("__x"),
        dec(y).alias("__y"),
        dec(F.round(x * y, 6)).alias("__xy"),
        dec(F.round(x * x, 6)).alias("__xx"),
    ).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum("__xy").cast("double").alias("__sxy"),
        F.sum("__xx").cast("double").alias("__sxx"),
    )
    n = F.col("n_tokens").cast("double")
    det = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / det
    intercept = (
        F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")
    ) / det
    return sums.select(
        "n_tokens",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    )


def token_kl_drift(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Distributional drift per group: ``(group, t_tokens, kl)`` where
    ``kl = KL(P_group ‖ P_corpus)`` over unigram token distributions —
    how far each source/domain/snapshot slice's language drifts from
    the corpus-wide mix. The mixture-design companion to q145's
    MinHash overlap: Jaccard says how much VOCABULARY two slices
    share, KL says how differently they WEIGHT it (a slice can reuse
    the full corpus vocabulary yet skew hard enough to need its own
    mixture weight). No smoothing is needed on this direction of the
    divergence: every group token is a corpus token, so the reference
    probability is never zero.

    Determinism (the q117 discipline): with integer counts c (group-
    token), T (group), C (token), N (corpus),

        T·KL = Σ_tok c · ln((c·N)/(C·T))

    — each log factor on all-double operands written identically in
    the oracle, rounded to 4 dp, weighted by integer c, summed as
    exact DECIMALs; the final /T rounds half-away-from-zero in
    integer arithmetic. Plan: one (group, tok) hash aggregate; token
    totals reduce from it on the same key; group totals and the
    1-row N ride in as window-free rollups of the same cells.
    """
    cells = pin(
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("__g", "tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    gtot = cells.groupBy("__g").agg(F.sum("__c").alias("__T"))
    vtot = cells.groupBy("tok").agg(F.sum("__c").alias("__cv"))
    ntot = cells.agg(F.sum("__c").alias("__N"))
    lr = F.log(
        (F.col("__c").cast("double") * F.col("__N").cast("double"))
        / (F.col("__cv").cast("double") * F.col("__T").cast("double"))
    )
    s = (
        cells.join(vtot, on="tok")
        .join(gtot, on="__g")
        .crossJoin(F.broadcast(ntot))
        .groupBy("__g")
        .agg(
            F.max("__T").alias("__T"),
            F.sum(
                F.col("__c") * F.round(lr, 4).cast("decimal(28,4)")
            ).alias("__s"),
        )
        .withColumn("__a", (F.col("__s") * 10000).cast("long"))
    )
    return s.select(
        F.col("__g").alias(group_col),
        F.col("__T").cast("long").alias("t_tokens"),
        (
            F.when(F.col("__a") < 0, -F.lit(1)).otherwise(F.lit(1))
            * F.expr("(abs(__a) * 2 + __T) div (__T * 2)")
            / F.lit(10000.0)
        ).alias("kl"),
    )


def trigram_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram posting list over normalized text:
    distinct ``(gram, id)`` — the classic substring-search index
    (pg_trgm's shape): any document CONTAINING a pattern necessarily
    holds every trigram of the pattern, so posting-list intersection
    is a lossless candidate filter for ``%pattern%`` queries. One
    row-local gram explode + distinct; build once, partition by
    ``gram`` so a search touches only its pattern's lists.
    """
    base = df.select(
        F.col(id_col), normalize_text(text_col).alias("__n")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("__n") - 2, F.lit(0))),
        lambda i: F.col("__n").substr(i, F.lit(3)),
    )
    return (
        base.select(F.col(id_col), F.explode(grams).alias("gram"))
        .filter(F.length("gram") == 3)
        .distinct()
    )


def trigram_search(
    df: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
) -> DataFrame:
    """Index-accelerated substring search: ids of documents whose
    NORMALIZED text contains ``pattern`` (itself lowercased/space-
    normalized). Lossless two-phase plan: intersect the pattern's
    trigram posting lists (a doc qualifies only when it holds ALL
    n distinct pattern trigrams — one filtered aggregate over the
    index, never a corpus scan), then verify ``contains`` on the
    candidate subset only. Patterns shorter than 3 normalized chars
    fall back to the scan (no trigram to index on).

    At 100 TB the gain is the index pushdown: the scan cost of a
    LIKE query is the whole corpus; this plan reads only the
    pattern's posting lists (``PushedFilters: In(gram, ...)`` when
    the postings table is stored partitioned/bucketed by gram) plus
    the candidate documents. Pass a precomputed ``postings`` frame
    (from :func:`trigram_postings`, typically a stored table) to
    search without rebuilding the index.
    """
    import re as _re

    norm_pat = _re.sub(r"\s+", " ", pattern.lower()).strip()
    norm = normalize_text(text_col)
    if len(norm_pat) < 3:
        return (
            df.filter(F.contains(norm, F.lit(norm_pat)))
            .select(F.col(id_col))
        )
    pats = sorted({norm_pat[i : i + 3] for i in range(len(norm_pat) - 2)})
    idx = postings if postings is not None else trigram_postings(
        df, text_col, id_col
    )
    cands = (
        idx.filter(F.col("gram").isin(pats))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
        .filter(F.col("__hits") == len(pats))
        .select(id_col)
    )
    return (
        df.join(cands, on=id_col, how="left_semi")
        .filter(F.contains(norm, F.lit(norm_pat)))
        .select(F.col(id_col))
    )


def heaps_fit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps'-law fit over the vocabulary-growth curve: ONE row
    ``(n_points, beta, intercept)`` — the least-squares line through
    (ln cum_tokens, ln vocab_size) of :func:`vocab_growth`'s
    checkpoints, so ``vocab ≈ e^intercept · tokens^beta``. Natural
    corpora fit β ≈ 0.4–0.6; β near 0 flags a closed vocabulary
    (template/synthetic text), β near 1 flags unbounded noise (ids,
    hashes) — the growth-side companion to :func:`zipf_fit`'s
    frequency slope. Same determinism discipline: per-point log
    terms on identical double inputs rounded to 6 dp, DECIMAL sums,
    closed-form slope/intercept as single double expressions.
    """
    pts = vocab_growth(df, id_col, text_col, n_checkpoints).filter(
        (F.col("cum_tokens") > 0) & (F.col("vocab_size") > 0)
    )
    x = F.round(F.log(F.col("cum_tokens").cast("double")), 6)
    y = F.round(F.log(F.col("vocab_size").cast("double")), 6)

    def dec(c):
        return c.cast("decimal(28,6)")

    sums = pts.select(
        dec(x).alias("__x"),
        dec(y).alias("__y"),
        dec(F.round(x * y, 6)).alias("__xy"),
        dec(F.round(x * x, 6)).alias("__xx"),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum("__xy").cast("double").alias("__sxy"),
        F.sum("__xx").cast("double").alias("__sxx"),
    )
    n = F.col("n_points").cast("double")
    det = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    beta = (n * F.col("__sxy") - F.col("__sx") * F.col("__sy")) / det
    intercept = (
        F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")
    ) / det
    return sums.select(
        "n_points",
        F.round(beta, 6).alias("beta"),
        F.round(intercept, 6).alias("intercept"),
    )


def lexicon_tag(
    df: DataFrame,
    lexicon: dict[str, tuple[str, ...]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document lexicon category hit counts: ``(id, n_<category>
    ...)`` — one count per category, with multiplicity, over the
    normalized whitespace tokens. The blocklist/content-policy tag
    pass of a curation pipeline (abuse terms, brand terms, medical
    vocabulary, ...): downstream stages filter on ``n_<cat> == 0`` or
    route on which category fired.

    The lexicon is compile-time data, so matching is ROW-LOCAL — each
    category becomes ``size(filter(tokens, t -> array_contains(lit,
    t)))`` inside whole-stage codegen: no explode, no shuffle, no
    join; scan speed at any corpus size. For lexicons too large to
    inline as a literal array (>> 10⁴ terms), build the explode +
    broadcast-join variant instead (``term_frequencies`` ⋈
    broadcast(lexicon)) — same semantics, one narrow shuffle.

    Category names must be valid column suffixes; terms are matched
    against NORMALIZED tokens (lowercase), so list them lowercase.
    """
    toks = F.split(normalize_text(text_col), " ")
    cols = []
    for cat in sorted(lexicon):
        arr = F.array(*[F.lit(t) for t in sorted(set(lexicon[cat]))])
        cols.append(
            F.size(
                F.filter(toks, lambda t: F.array_contains(arr, t))
            ).alias(f"n_{cat}")
        )
    return df.select(F.col(id_col), *cols)


def keyword_contexts(
    df: DataFrame,
    term: str,
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keyword-in-context (KWIC/concordance) extraction: one row
    ``(id, pos, context)`` per occurrence of ``term`` among the
    normalized whitespace tokens, with ``context`` the surrounding
    ±``window`` tokens re-joined — what a policy reviewer actually
    reads when a lexicon tag (:func:`lexicon_tag`) or trigram search
    fires: the hits IN CONTEXT, not bare doc ids. ``pos`` is the
    1-based token position (a stable citation into the document).

    Plan shape: one split + posexplode bounded to matching positions,
    context via row-local ``slice`` on the already-materialized token
    array — output volume = occurrence count, no shuffle at all.
    """
    toks = F.split(normalize_text(text_col), " ")
    hits = (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(
            id_col, "__t", F.posexplode("__t").alias("__p0", "__tok")
        )
        .filter(F.col("__tok") == term)
    )
    i = F.col("__p0") + 1
    n = F.size("__t")
    start = F.greatest(F.lit(1), i - F.lit(int(window)))
    length = F.least(n, i + F.lit(int(window))) - start + F.lit(1)
    return hits.select(
        id_col,
        i.cast("long").alias("pos"),
        F.array_join(F.slice("__t", start, length), " ").alias(
            "context"
        ),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    proxy: ``(id, n_words, n_sentences, n_syllables, flesch)`` where

        flesch = 206.835 − 1.015·(words/sentences)
                         − 84.6·(syllables/words)

    — the classic readability screen a quality-filtering pass adds
    next to the Gopher rules (exam-grade text and SEO keyword soup
    sit at opposite ends of the scale even when length/TTR rules
    pass). Syllables are approximated by vowel GROUPS
    (``[aeiouy]+`` runs — the standard dictionary-free proxy);
    sentences by terminal-punctuation runs, floored at 1 so
    punctuation-free text (this corpus) degenerates to a pure
    words-per-sentence penalty rather than a division by zero.

    Row-local regexp counting inside whole-stage codegen — no
    shuffle, scan speed at any corpus size. ``flesch`` is NULL for
    zero-word documents.
    """
    norm = normalize_text(text_col)
    words = F.size(F.filter(F.split(norm, " "), lambda t: t != ""))
    sentences = F.greatest(
        F.lit(1), F.regexp_count(F.col(text_col), F.lit(r"[.!?]+"))
    )
    syllables = F.regexp_count(F.lower(F.col(text_col)), F.lit("[aeiouy]+"))
    w = F.col("n_words")
    score = F.when(
        w > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (w.cast("double") / F.col("n_sentences"))
            - F.lit(84.6) * (F.col("n_syllables").cast("double") / w),
            4,
        ),
    )
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
    ).withColumn("flesch", score)


#: RAKE phrase-boundary stopword list — intentionally tiny and FIXED
#: (the operator's contract is "phrases break at these words"); a
#: production run swaps in a per-language list.
RAKE_STOPWORDS: tuple[str, ...] = ("a", "the", "and", "of", "to", "in")


def rake_keyphrases(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 25,
    stopwords: tuple[str, ...] = RAKE_STOPWORDS,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    ``degree/frequency`` over the phrase corpus (degree = Σ length of
    phrases containing it, counting multiplicity — co-occurrence
    within a phrase, including self); a phrase scores the sum of its
    words' scores. Returns the ``top_k`` distinct phrases by
    ``(score DESC, phrase)`` with ``(phrase, n_words, n_occurrences,
    score)`` — the unsupervised keyword/topic surfacing step of a
    corpus audit, the single-document-free complement to
    :func:`tfidf_scores` (which needs a query) and
    :func:`pmi_top_pairs` (pairs only, no phrase ranking).

    Plan shape: phrase assembly is one posexplode + a per-document
    gaps-and-islands window (``pos − rank-among-content-tokens`` —
    keyed by document, so the window never needs a global sort);
    word stats are one map-side-combined aggregate over the exploded
    phrase words; the phrase score re-joins word scores on the word
    key and aggregates per phrase. Word scores ``degree/freq`` are
    rationals — each is rounded to 9 dp and summed as exact DECIMAL,
    so phrase scores are order-independent and engine-identical; the
    top-k is a ``TakeOrderedAndProject``. Shuffles are keyed by word
    and phrase (both heavy-hitter-bounded: a word's posting count,
    never document count × vocab).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col).alias("__d"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                lambda t: t != F.lit(""),
            )
        ).alias("__p", "__w"),
    )
    is_stop = F.col("__w").isin(*stopwords)
    content = toks.filter(~is_stop)
    w = Window.partitionBy("__d").orderBy("__p")
    islands = content.withColumn(
        "__isl", F.col("__p") - F.row_number().over(w)
    )
    phrases = (
        islands.groupBy("__d", "__isl")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__p", "__w"))
            ).alias("__pw"),
        )
        .select(F.transform("__pw", lambda s: s["__w"]).alias("__words"))
        .select(
            F.concat_ws(" ", "__words").alias("phrase"),
            "__words",
            F.size("__words").alias("__len"),
        )
    )
    words = phrases.select(
        F.explode("__words").alias("word"), "__len"
    )
    stats = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("__freq"),
        F.sum("__len").alias("__degree"),
    )
    wscore = F.round(
        F.col("__degree").cast("double") / F.col("__freq").cast("double"), 9
    ).cast("decimal(18,9)")
    scored_words = stats.select("word", wscore.alias("__ws"))
    # one row per DISTINCT phrase — its word multiset is determined by
    # the phrase string itself, so score each phrase once, not once
    # per occurrence
    occ = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("__len").cast("int").alias("n_words"),
    )
    phrase_words = occ.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("word")
    )
    phrase_scores = (
        phrase_words.join(scored_words, on="word")
        .groupBy("phrase")
        .agg(F.sum("__ws").alias("__score"))
    )
    return (
        phrase_scores.join(occ, on="phrase")
        .orderBy(F.col("__score").desc(), F.col("phrase"))
        .limit(top_k)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.round(F.col("__score").cast("double"), 6).alias("score"),
        )
    )


def chao1_vocab(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Chao1 vocabulary-richness estimate over whitespace tokens: one
    row ``(n_tokens, vocab_observed, f1, f2, chao1)`` with the
    bias-corrected estimator

        chao1 = S_obs + f1·(f1 − 1) / (2·(f2 + 1))

    (Chao 1984; f1/f2 = types seen exactly once/twice) — the
    species-richness answer to "how much vocabulary does this corpus
    ACTUALLY have beyond what we sampled", the capture-recapture
    complement to q189's Heaps-law fit (Heaps extrapolates the growth
    CURVE; Chao1 bounds the asymptote from the rare-type counts).

    Two map-side-combined aggregates: token explode → per-token
    counts (the one data-sized shuffle, shared with every vocab
    query), then one scan of the |vocab|-row count table for S_obs /
    f1 / f2. All-integer until the final estimate, rounded 2 dp.
    """
    toks = df.select(
        F.explode(
            F.split(F.trim(F.col(text_col)), r"\s+")
        ).alias("__t")
    ).filter(F.col("__t") != "")
    per = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__c"))
    return per.agg(
        F.sum("__c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_observed"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    ).select(
        "n_tokens",
        "vocab_observed",
        "f1",
        "f2",
        F.round(
            F.col("vocab_observed").cast("double")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1).cast("double")
            / (F.lit(2.0) * (F.col("f2") + 1).cast("double")),
            2,
        ).alias("chao1"),
    )


def js_divergence_tokens(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen–Shannon divergence between two corpora's unigram token
    distributions (Lin 1991): one row ``(n_a, n_b, vocab, js_bits)``
    in [0, 1] bits — the DISTRIBUTION-level drift/contrast number a
    corpus-mixing decision reads (how different is this source's
    vocabulary really?) next to the per-document novelty (q269) and
    per-segment gates (q274): symmetric, finite even on disjoint
    vocabularies, which plain KL is not.

        JS = ½·Σ_t p_t·log2(p_t/m_t) + ½·Σ_t q_t·log2(q_t/m_t),
        m = (p + q)/2

    over the vocabulary UNION (absent tokens contribute their full
    mass through the present side). Token probabilities are exact
    integer-count ratios; each token's two summands round 9 dp into
    exact DECIMAL(38,9) (the drift-family discipline — the one libm
    call, log2, computes on identical IEEE doubles both engines
    since its argument is a ratio of integer-derived doubles), and
    the final ½-sum rounds 6 dp.

    Plan: each corpus reduces to one map-side-combined token-count
    table (data-sized work ends there); one full-outer join on the
    token key (never doc×doc) and a scalar aggregate.
    """
    def counts(df: DataFrame, alias: str) -> DataFrame:
        toks = df.select(
            F.explode(
                F.split(normalize_text(text_col), " ")
            ).alias("tok")
        ).filter(F.col("tok") != "")
        return toks.groupBy("tok").agg(
            F.count(F.lit(1)).alias(alias)
        )

    ca = counts(corpus_a, "__ca")
    cb = counts(corpus_b, "__cb")
    j = ca.join(cb, on="tok", how="full_outer").select(
        "tok",
        F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
        F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
    )
    tot = j.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    g = j.crossJoin(F.broadcast(tot))
    p = F.col("__ca").cast("double") / F.col("__na").cast("double")
    q = F.col("__cb").cast("double") / F.col("__nb").cast("double")
    m = (p + q) / F.lit(2.0)
    lg2 = F.lit(math.log(2.0))
    term_p = F.when(
        F.col("__ca") > 0, p * F.log(p / m) / lg2
    ).otherwise(F.lit(0.0))
    term_q = F.when(
        F.col("__cb") > 0, q * F.log(q / m) / lg2
    ).otherwise(F.lit(0.0))
    agg = g.agg(
        F.max("__na").alias("__nav"),
        F.max("__nb").alias("__nbv"),
        F.count(F.lit(1)).alias("__vocab"),
        F.sum(F.round(term_p, 9).cast("decimal(38,9)")).alias("__sp"),
        F.sum(F.round(term_q, 9).cast("decimal(38,9)")).alias("__sq"),
    )
    js = (
        F.col("__sp").cast("double") + F.col("__sq").cast("double")
    ) / 2.0
    return agg.select(
        F.col("__nav").cast("long").alias("n_a"),
        F.col("__nbv").cast("long").alias("n_b"),
        F.col("__vocab").cast("long").alias("vocab"),
        F.round(js, 6).alias("js_bits"),
    )


def vocabulary_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary growth curve (Heaps 1978): one row per
    corpus-prefix checkpoint ``(decile, docs, tokens, vocab,
    type_token_ratio)`` — cumulative distinct tokens after each
    tenth of the corpus in ``id_col`` order. The curve a corpus-
    collection effort reads to decide whether MORE of this source
    still buys new vocabulary (V ~ K·nᵝ flattening β → stop) —
    the corpus-level complement of the per-document TTR in the
    quality profile.

    EXACT construction, no data-sized window: each document's rank
    in id order comes from the range-bucketed
    :func:`~bigdata_kafka_2_spark.operators.relational.
    global_prefix_sum` over the (tiny) per-doc table; checkpoint
    thresholds are ⌈k·n/10⌉ integers; a token's FIRST-occurrence
    rank is one min-aggregate over the posting table; per-checkpoint
    vocabulary and token mass are then ≤10-row cumulative sums over
    the bounded checkpoint table. Everything is integer until the
    final 6-dp ratio.
    """
    from bigdata_kafka_2_spark.operators.relational import (
        global_prefix_sum,
    )

    docs = df.select(F.col(id_col).alias("__d")).distinct()
    ranked = global_prefix_sum(
        docs.withColumn("__one", F.lit(1)), "__d", "__one", "__b"
    ).select(
        "__d", (F.col("__b") + 1).alias("__rank")
    )
    n_docs = docs.count()
    ck = int(checkpoints)
    # decile of a doc rank r: smallest k with r <= ceil(k*n/ck)
    thresholds = [
        -(-k * n_docs // ck) for k in range(1, ck + 1)
    ]  # ceil
    dec_expr = F.lit(ck)
    for k in range(ck, 0, -1):
        dec_expr = F.when(
            F.col("__rank") <= F.lit(thresholds[k - 1]), F.lit(k)
        ).otherwise(dec_expr)
    posting = (
        df.select(
            F.col(id_col).alias("__d"),
            F.explode(
                F.split(normalize_text(text_col), " ")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    pr = posting.join(ranked, on="__d").withColumn(
        "__dec", dec_expr
    )
    # per-decile token mass + per-token first decile
    mass = pr.groupBy("__dec").agg(F.count(F.lit(1)).alias("__toks"))
    first = pr.groupBy("tok").agg(F.min("__dec").alias("__fd"))
    fresh = first.groupBy(F.col("__fd").alias("__dec")).agg(
        F.count(F.lit(1)).alias("__new")
    )
    dcount = ranked.withColumn("__dec", dec_expr).groupBy(
        "__dec"
    ).agg(F.count(F.lit(1)).alias("__docs"))
    from pyspark.sql import Window

    # ≤`checkpoints` rows: the cumulative window is bounded by the
    # checkpoint count, not data (the bounded-scalar class)
    w = Window.orderBy("__dec").rowsBetween(
        Window.unboundedPreceding, 0
    )
    merged = (
        dcount.join(mass, on="__dec", how="full_outer")
        .join(fresh, on="__dec", how="full_outer")
        .select(
            F.col("__dec"),
            F.coalesce("__docs", F.lit(0)).alias("__docs"),
            F.coalesce("__toks", F.lit(0)).alias("__toks"),
            F.coalesce("__new", F.lit(0)).alias("__new"),
        )
    )
    return merged.select(
        F.col("__dec").cast("long").alias("decile"),
        F.sum("__docs").over(w).cast("long").alias("docs"),
        F.sum("__toks").over(w).cast("long").alias("tokens"),
        F.sum("__new").over(w).cast("long").alias("vocab"),
    ).withColumn(
        "type_token_ratio",
        F.round(
            F.col("vocab").cast("double")
            / F.col("tokens").cast("double"),
            6,
        ),
    )


def token_entropy(
    counts: DataFrame,
    count_col: str,
) -> DataFrame:
    """Shannon entropy (bits) + Simpson concentration of a token-
    count table (Shannon 1948; Simpson 1949): one row ``(n_tokens,
    vocab, entropy_bits, simpson)`` — the unigram-distribution
    diversity pair a corpus profile reports (entropy: effective
    vocabulary breadth, 2^H is the perplexity of the unigram LM;
    Simpson: the probability two random tokens COINCIDE, the
    repetition-concentration number). Simpson uses the UNBIASED
    finite-sample form Σc(c−1)/(N(N−1)), which is a pure integer
    ratio — exact end to end; entropy terms −p·log2(p) round 9 dp
    into DECIMAL(38,9) with the single libm log on integer-ratio
    doubles (engine-identical), one division at the end.

    Plan: the count table reduces through one map-side-combined
    aggregate (one bounded 1-row totals broadcast for p).
    """
    import math as _math

    c = F.col(count_col).cast("long")
    base = counts.filter(c.isNotNull() & (c > 0)).select(
        c.alias("__c")
    )
    tot = base.agg(
        F.sum("__c").alias("__nt"),
        F.count(F.lit(1)).alias("__v"),
    )
    j = base.crossJoin(F.broadcast(tot))
    p = F.col("__c").cast("double") / F.col("__nt").cast("double")
    lg2 = F.lit(_math.log(2.0))
    dec9 = "decimal(38,9)"
    dec0 = "decimal(38,0)"
    agg = j.agg(
        F.max("__nt").alias("__ntv"),
        F.max("__v").alias("__vv"),
        F.sum(F.round(-p * F.log(p) / lg2, 9).cast(dec9)).alias(
            "__h"
        ),
        F.sum(
            F.col("__c").cast(dec0)
            * (F.col("__c") - 1).cast(dec0)
        ).alias("__coinc"),
    )
    nt = F.col("__ntv").cast("double")
    simpson = F.col("__coinc").cast("double") / (nt * (nt - 1.0))
    return agg.select(
        F.col("__ntv").cast("long").alias("n_tokens"),
        F.col("__vv").cast("long").alias("vocab"),
        F.round(F.col("__h").cast("double"), 6).alias("entropy_bits"),
        F.round(
            F.when(F.col("__ntv") >= 2, simpson), 6
        ).alias("simpson"),
    )


def source_jaccard_matrix(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources (the multi-corpus
    contrast matrix): one row per unordered source pair with a
    nonempty intersection ``(source_a, source_b, inter, size_a,
    size_b, jaccard)`` where the sets are each source's DISTINCT
    normalized tokens — the mixing-planning view (which sources are
    near-duplicates of each other vs genuinely additive?) that the
    corpus-level JS divergence (q281) collapses into one number.
    Pairs whose vocabularies are fully disjoint have no row (an
    absent pair reads as jaccard 0).

    Plan: one distinct (source, token) projection ends the data-
    sized work; the pair join is TOKEN-keyed (each token joins only
    the ≤|sources| sources containing it — |sources|² bounded per
    token, never doc×doc); per-source set sizes are a bounded table
    broadcast onto the |sources|²-bounded pair table. Exact integer
    set arithmetic, one 6-dp division.
    """
    toks = (
        df.select(
            F.col(group_col).cast("string").alias("__g"),
            F.explode(
                F.split(normalize_text(text_col), " ")
            ).alias("__t"),
        )
        .filter(F.col("__t") != "")
        .distinct()
    )
    left = toks.select(
        F.col("__g").alias("source_a"), F.col("__t").alias("__t")
    )
    right = toks.select(
        F.col("__g").alias("source_b"), F.col("__t").alias("__t2")
    )
    inter = (
        left.join(
            right,
            (F.col("__t") == F.col("__t2"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = toks.groupBy("__g").agg(F.count(F.lit(1)).alias("__sz"))
    out = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("__g").alias("source_a"),
                    F.col("__sz").alias("size_a"),
                )
            ),
            on="source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("__g").alias("source_b"),
                    F.col("__sz").alias("size_b"),
                )
            ),
            on="source_b",
        )
    )
    union = (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    ).cast("double")
    return out.select(
        "source_a",
        "source_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        F.round(F.col("inter").cast("double") / union, 6).alias(
            "jaccard"
        ),
    )


def vocab_capture_recapture(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1,
) -> DataFrame:
    """Chapman capture–recapture estimate of the TRUE vocabulary size
    (Chapman 1951; the two-sample mark-recapture estimator) from two
    deterministic corpus halves: one row ``(v1, v2, m, n_hat, se,
    ci_lo, ci_hi)`` — the cross-validation sibling of Chao1
    (:func:`chao1_vocab`, which reads the frequency-of-frequency
    tail of ONE sample): split the corpus by document-id parity,
    treat each half's distinct-type set as a capture, and the
    overlap m as the recaptured marks:

        N̂ = (v1+1)(v2+1)/(m+1) − 1,
        Var = (v1+1)(v2+1)(v1−m)(v2−m) / ((m+1)²(m+2))

    (the bias-corrected Chapman form, defined even at m = 0). Two
    estimators agreeing is evidence the corpus's type accumulation
    is well-behaved; Chapman ≫ Chao1 flags strongly CLUSTERED
    vocabulary (types concentrated in one half — e.g. source- or
    time-skewed token distributions that violate both estimators'
    exchangeability assumption differently).

    EXACT integer set arithmetic end to end: one distinct
    (half, token) projection ends the data-sized work; per-half
    sizes and the overlap are counts over the vocabulary-sized
    table; the estimator is row-local double arithmetic on a 1-row
    frame (4-dp N̂/se, 95% normal CI with the shared z literal).

    ``k`` sets the type unit: 1 = unigrams, 2 = adjacent bigrams
    (the q105 guarded-sequence construction) — use k ≥ 2 when the
    unigram vocabulary saturates both halves (m = v1 = v2 makes the
    estimator exact-but-vacuous).
    """
    if k not in (1, 2):
        raise ValueError("k must be 1 (unigrams) or 2 (bigrams)")
    half = (F.col(id_col) % 2 == 0).alias("__h")
    if k == 1:
        tok_src = df.select(
            half,
            F.explode(
                F.split(normalize_text(text_col), " ")
            ).alias("__t"),
        )
    else:
        src = df.select(
            half,
            F.split(normalize_text(text_col), " ").alias("__toks"),
        )
        toks_arr = F.col("__toks")
        idx = F.when(
            F.size(toks_arr) >= 2,
            F.sequence(F.lit(0), F.size(toks_arr) - 2),
        ).otherwise(F.array().cast("array<int>"))
        pair_arr = F.transform(
            idx,
            lambda i: F.concat(
                F.element_at(toks_arr, i + 1),
                F.lit(" "),
                F.element_at(toks_arr, i + 2),
            ),
        )
        tok_src = src.select(
            "__h", F.explode(pair_arr).alias("__t")
        )
    toks = tok_src.filter(F.col("__t") != "").distinct()
    per_tok = toks.groupBy("__t").agg(
        F.max(F.when(F.col("__h"), 1).otherwise(0)).alias("__in1"),
        F.max(F.when(~F.col("__h"), 1).otherwise(0)).alias("__in2"),
    )
    agg = per_tok.agg(
        F.sum("__in1").alias("__v1"),
        F.sum("__in2").alias("__v2"),
        F.sum(
            F.when(
                (F.col("__in1") == 1) & (F.col("__in2") == 1), 1
            ).otherwise(0)
        ).alias("__m"),
    )
    v1 = F.col("__v1").cast("double")
    v2 = F.col("__v2").cast("double")
    m = F.col("__m").cast("double")
    n_hat = (v1 + 1.0) * (v2 + 1.0) / (m + 1.0) - 1.0
    var = (
        (v1 + 1.0)
        * (v2 + 1.0)
        * (v1 - m)
        * (v2 - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    se = F.sqrt(var)
    z = F.lit(1.959963984540054)
    return agg.select(
        F.col("__v1").cast("long").alias("v1"),
        F.col("__v2").cast("long").alias("v2"),
        F.col("__m").cast("long").alias("m"),
        F.round(n_hat, 4).alias("n_hat"),
        F.round(se, 4).alias("se"),
        F.round(n_hat - z * se, 4).alias("ci_lo"),
        F.round(n_hat + z * se, 4).alias("ci_hi"),
    )
