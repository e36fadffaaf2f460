"""Self-check harness mirroring the driver's CORRECTNESS gate: every
registered query with an oracle must match DuckDB on row count, column
names, and order-insensitive canonical values; oracle-less queries must
at least run and produce a stable schema."""

from __future__ import annotations

import pytest

from bigdata_kafka_2_spark.plans import load_extended, resolve_oracle
from tests.conftest import SF_DIR
from tests.oracle_utils import canon_frame

REGISTRY = load_extended()
WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if q.oracle is None)


def _oracle(name: str) -> str:
    # callable oracles resolve against the SAME sf the mirror runs at
    return resolve_oracle(REGISTRY[name], SF_DIR)


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_no_widening_types(duck, name):
    """DuckDB silently widens some aggregates (list_sum / sum over
    BIGINT -> HUGEINT), which arrive in pandas as float64 while Spark
    returns int64 — the driver's hasher then stringifies them
    differently even when values are identical (the r2 q59 failure).
    Assert no oracle output column is HUGEINT/UHUGEINT."""
    rel = duck.sql(_oracle(name))
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in ("HUGEINT", "UHUGEINT")
    ]
    assert not bad, f"{name}: DuckDB-widened oracle columns {bad}; add CAST"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name):
    q = REGISTRY[name]
    spark_pdf = q.spark_fn(spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(_oracle(name)).df()

    # Driver-hash strictness: per-column dtype KIND (int vs float vs
    # object) must agree, not just canonical values — int64 vs float64
    # hash-mismatches in the driver even when every value is equal.
    for col in spark_pdf.columns:
        if col in duck_pdf.columns:
            sk, dk = spark_pdf[col].dtype.kind, duck_pdf[col].dtype.kind
            if {sk, dk} <= {"i", "u", "f"}:
                assert (sk in "iu") == (dk in "iu"), (
                    f"{name}.{col}: Spark dtype kind {sk!r} vs oracle "
                    f"{dk!r} — driver hash would mismatch"
                )

    s_cols, s_rows = canon_frame(spark_pdf)
    d_cols, d_rows = canon_frame(duck_pdf)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:5]}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    q = REGISTRY[name]
    df = q.spark_fn(spark, SF_DIR)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_q01_matches_oracle_to_the_cent_on_seeded_tables(spark, tmp_path):
    """On perfbench's seed-32 sf0.01 tables a double-precision sum put
    q01's (O, N) ``sum_disc_price`` one cent away from DuckDB's
    (268525686.91 vs .90): summation order leaks into the last cent.
    Over exact DECIMAL(15,2) measures both engines agree."""
    import importlib.util
    import os

    import duckdb

    path = os.path.join(
        os.path.dirname(os.path.dirname(__file__)), "perfbench", "datagen.py"
    )
    spec = importlib.util.spec_from_file_location("perfbench_datagen", path)
    datagen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(datagen)
    datagen.star_schema(str(tmp_path), 0.01, 32)

    q = REGISTRY["q01_pricing_summary"]
    spark_pdf = q.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet')"
    )
    duck_pdf = con.execute(resolve_oracle(q, str(tmp_path))).df()
    con.close()
    assert canon_frame(spark_pdf) == canon_frame(duck_pdf)
