"""shingle_containment_pairs: the asymmetric case Jaccard misses,
directionality, and brute-force parity on the fixture."""

from __future__ import annotations

from bigdata_kafka_2_spark.operators import dedup as DD
from tests.conftest import SF_DIR


def test_containment_catches_embedded_quote(spark):
    """A short doc quoted wholesale inside a much longer one:
    containment(short→long) = 1.0 while Jaccard is below any useful
    threshold — the symmetric pass can't flag it."""
    quote = "the five boxing wizards jump quickly over the lazy dog"
    filler = " ".join(f"filler{i} words{i} extra{i}" for i in range(40))
    d = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        ["doc_id", "text"],
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in DD.shingle_containment_pairs(d, k=3, threshold=0.5).collect()
    }
    assert cont.get((1, 2)) == 1.0          # short fully inside long
    assert (2, 1) not in cont               # long not inside short
    jac = DD.ngram_jaccard_pairs(d, k=3, threshold=0.2).count()
    assert jac == 0                          # Jaccard misses the pair


def test_containment_bruteforce_parity(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in DD.shingle_containment_pairs(d, k=3, threshold=0.5).collect()
    }
    sets = {
        r["doc_id"]: set(r["shingle_set"])
        for r in DD.shingle_sets(d, "text", "doc_id", 3).collect()
    }
    brute = {}
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            c = round(len(sa & sb) / len(sa), 4)
            if c >= 0.5:
                brute[(a, b)] = c
    assert got == brute
    assert brute, "fixture should contain containment pairs"


def test_containment_removal_planted(spark):
    """A short quote inside a longer doc is dropped; of two docs that
    contain each other the lower id stays; an unrelated doc stays."""
    quote = "the five boxing wizards jump quickly over the lazy dog"
    filler = " ".join(f"filler{i} words{i} extra{i}" for i in range(40))
    twin = "pack my box with five dozen liquor jugs right now please"
    d = spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote + " " + filler),
            (3, twin),
            (4, twin),
            (5, "an unrelated sentence about spark clusters and shuffles"),
        ],
        ["doc_id", "text"],
    )
    kept = DD.containment_removal(d, k=3, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3, 5]
    assert kept.columns == d.columns


def test_containment_removal_bruteforce_parity(spark):
    """On the fixture, the kept ids equal the rule applied to the
    brute-force containment pairs: drop a if a is contained in b and
    either b is not contained in a or a > b."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sets = {
        r["doc_id"]: set(r["shingle_set"])
        for r in DD.shingle_sets(d, "text", "doc_id", 3).collect()
    }

    def contained(a, b):
        sa = sets.get(a)
        return bool(sa) and round(len(sa & sets[b]) / len(sa), 4) >= 0.5

    ids = [r["doc_id"] for r in d.select("doc_id").collect()]
    dropped = {
        a
        for a in sets
        for b in sets
        if a != b and contained(a, b) and (not contained(b, a) or a > b)
    }
    got = sorted(
        r["doc_id"]
        for r in DD.containment_removal(d, k=3, threshold=0.5)
        .select("doc_id")
        .collect()
    )
    assert got == sorted(i for i in ids if i not in dropped)
    assert dropped, "fixture should contain contained docs"


def test_weighted_vs_set_jaccard_distinguishes_repeats(spark):
    """Repeat-heavy doc vs its single-copy source: the shared token
    SET is identical (set-Jaccard on 1-grams would be 1.0) but the
    weighted measure collapses toward 1/k for a k-fold repeat."""
    base = "alpha beta gamma delta epsilon"
    d = spark.createDataFrame(
        [(1, base), (2, " ".join([base] * 10))], ["doc_id", "text"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in DD.weighted_jaccard_pairs(d, threshold=0.0).collect()
    }
    assert out[(1, 2)] == round(5 / 50, 4)  # sum min=5, sum max=50
    # brute parity on the fixture at the registered threshold
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["wjaccard"]
        for r in DD.weighted_jaccard_pairs(docs, threshold=0.4).collect()
    }
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from bigdata_kafka_2_spark.operators.text import normalize_text

    def r4(x):
        # Spark round() is HALF_UP; Python round() is banker's
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                               rounding=ROUND_HALF_UP))

    rows = docs.select(
        "doc_id", normalize_text("text").alias("t")
    ).collect()
    tfs = {
        r["doc_id"]: Counter(w for w in r["t"].split(" ") if w)
        for r in rows
    }
    brute = {}
    ids = sorted(tfs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            ca, cb = tfs[a], tfs[b]
            smin = sum(min(ca[t], cb[t]) for t in ca.keys() & cb.keys())
            if not smin:
                continue
            j = r4(smin / (sum(ca.values()) + sum(cb.values()) - smin))
            if j >= 0.4:
                brute[(a, b)] = j
    assert got == brute


def test_weighted_jaccard_auto_cap(spark):
    """Degenerate-vocabulary guard: when the measured prefix
    expansion blows the work budget, the operator warns and re-runs
    with the largest max_doc_freq whose corpus Σ df² fits — its
    output is EXACTLY the explicit-cap run's, and the default budget
    leaves a normal corpus on the exact path."""
    import warnings

    import pytest

    # 6 docs all sharing 'common' (df=6 -> df²=36) + a unique token
    # each (six df=1 tokens); budget 10 fits only the df=1 run
    rows = [(i, f"common uniq{i} uniq{i}") for i in range(6)]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    with pytest.warns(UserWarning, match=r"max_doc_freq=1"):
        capped = DD.weighted_jaccard_pairs(
            d, threshold=0.1, auto_cap_expansion=10
        ).collect()
    explicit = DD.weighted_jaccard_pairs(
        d, threshold=0.1, max_doc_freq=1
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, explicit))
    # with 'common' capped away each doc keeps only its unique token:
    # no pair shares mass
    assert capped == []
    # in-budget corpus: the default auto budget never triggers and
    # the exact measure stands
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        exact = {
            (r["id_a"], r["id_b"]): r["wjaccard"]
            for r in DD.weighted_jaccard_pairs(
                d, threshold=0.1
            ).collect()
        }
    assert not [
        w for w in caught if "auto_cap_expansion" in str(w.message)
    ]
    # exact measure: shared 'common' (min 1) over union mass 5
    assert exact == {
        (a, b): round(1 / 5, 4)
        for a in range(6)
        for b in range(a + 1, 6)
    }
