"""``batch`` workload: registry queries over seeded star-schema tables.

Two query sets run in one seed-shuffled order, each query once per
pass, every result hashed and compared with its DuckDB oracle:

- HEAVY — the clustering-coefficient graph query (triangle counts,
  degree aggregate, pinned intermediates): executor time, shuffle and
  pinning dominate. ``wall_s`` is its wall.
- LIGHT — oracle-graded queries whose data work is sub-second, so job
  launch, Catalyst and driver round-trips dominate. ``p50_ms`` is the
  median over their per-query median walls.

After every query the benchmark records what is still persisted and
releases it, so no query reads another's cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time

from concurrent.futures import ThreadPoolExecutor

import datagen
from common import CheckUnavailable, metric, pins_snapshot, quantile, release_pins
from spans import read_event_log, stats_for

HEAVY = ("q172_clustering_coefficients",)
LIGHT = (
    "q71_multimodal_features",
    "q173_k_anonymity",
    "q194_pii_redacted_release",
    "q211_dataset_digest",
)
#: Each light query runs this many times per pass; its latency is the
#: median of those runs.
LIGHT_REPEATS = 2
#: ``--seconds`` buys ``round(seconds / PASS_SECONDS)`` measured passes
#: (at least one): a fixed amount of work, so the pass count never
#: depends on the host's speed.
PASS_SECONDS = 4.0
SF = 0.01
SMOKE_SF = 0.001
SMOKE_QUERIES = ("q172_clustering_coefficients", "q71_multimodal_features")


def canon_hash(pdf) -> str:
    """Order-insensitive result hash: sorted columns, canonical value
    strings, sorted rows (the oracle test's ``canon_frame``)."""
    from tests.oracle_utils import canon_frame

    cols, rows = canon_frame(pdf)
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()


def golden_hashes(registry, names, data_dir: str) -> dict[str, str]:
    """Each query's DuckDB oracle on the generated tables, hashed."""
    try:
        import duckdb

        from bigdata_kafka_2_spark.plans import resolve_oracle
        from bigdata_kafka_2_spark.schema import STAR_TABLES

        con = duckdb.connect()
        for t in STAR_TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            sql = resolve_oracle(registry[name], data_dir)
            if sql is None:
                raise CheckUnavailable(f"{name} has no oracle")
            out[name] = canon_hash(con.execute(sql).df())
        con.close()
        return out
    except CheckUnavailable:
        raise
    except Exception as exc:
        raise CheckUnavailable(f"oracle failed: {exc!r}") from exc


def open_tables(spark, data_dir: str) -> None:
    """Set-up work of one round: open every table (schema from the
    parquet footer; no Spark job)."""
    from bigdata_kafka_2_spark.io import read_table
    from bigdata_kafka_2_spark.schema import STAR_TABLES

    for t in STAR_TABLES:
        read_table(spark, data_dir, t)


def catalyst_ms(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run(args, work: str, engine, tracer):
    from bigdata_kafka_2_spark.plans import load_extended

    registry = load_extended()
    names = list(SMOKE_QUERIES if args.smoke else HEAVY + LIGHT)
    data_dir = os.path.join(work, "data")

    def inputs():
        datagen.star_schema(data_dir, SMOKE_SF if args.smoke else SF, args.seed)
        return golden_hashes(registry, names, data_dir)

    golden = engine.start(lambda spark: open_tables(spark, data_dir), inputs)
    rng = random.Random(args.seed)
    rng.shuffle(names)
    light = [n for n in names if n in LIGHT] or names
    heavy = [n for n in names if n in HEAVY] or names
    pass_order = names + rng.sample(light, len(light)) * (LIGHT_REPEATS - 1)
    spark = engine.spark
    mismatched: list[str] = []

    def execute(name: str) -> dict:
        with tracer.span(name, "plans") as qspan:
            with tracer.span("plans.build", "plans") as b:
                df = registry[name].spark_fn(spark, data_dir)
            with tracer.span("plans.execute", "plans") as e:
                pdf = df.toPandas()
        rec = {"wall": qspan.dur, "build": b.dur, "execute": e.dur, "span": qspan}
        with tracer.span("bench.check", "bench"):
            if engine.trace:
                rec["catalyst"] = catalyst_ms(df)
            if canon_hash(pdf) != golden[name]:
                mismatched.append(name)
            rec["pins"] = pins_snapshot(spark)
            release_pins(spark)
        return rec

    def first_run(name: str) -> float:
        with tracer.span(name, "plans") as sp:
            pdf = registry[name].spark_fn(spark, data_dir).toPandas()
        if canon_hash(pdf) != golden[name]:
            mismatched.append(name)
        return sp.dur

    # first run of every query: JIT, code generation and plan caches warm
    # up here. The heavy query and the light ones run side by side, so
    # their cold starts overlap; pins are released once both are done.
    with tracer.span("bench.warm_up", "bench") as warm:
        with ThreadPoolExecutor(2) as pool:
            jobs = [pool.submit(lambda group=group: {n: first_run(n) for n in group})
                    for group in (heavy, [n for n in names if n not in heavy])]
            first = {n: dur for job in jobs for n, dur in job.result().items()}
        release_pins(spark)
    runs: dict[str, list[dict]] = {n: [] for n in names}
    passes = max(1, round(args.seconds / PASS_SECONDS))
    engine.canary()
    t_start = time.perf_counter()
    for _ in range(passes):
        for name in pass_order:
            runs[name].append(execute(name))
    t_end = time.perf_counter()

    engine.canary()
    host = engine.host()
    median_s = {n: quantile([r["wall"] for r in runs[n]], 0.5) for n in names}
    light_ms = [1000 * median_s[n] for n in light]
    detail = {
        "workload": "batch",
        "host": host,
        "seed": args.seed,
        "passes": passes,
        "setup_rounds_s": engine.setup_rounds,
        "jvm_launch_s": engine.launch_s,
        "first_run_s": {n: round(dur, 4) for n, dur in first.items()},
        "warm_up_s": warm.dur,
        "window_s": t_end - t_start,
        "query_wall_s": {n: [round(r["wall"], 4) for r in runs[n]] for n in names},
        "peak_rss_mb": engine.peak_rss_mb(),
        "mismatched": mismatched,
    }
    if not engine.trace:
        metrics = {
            "setup_s": metric(quantile(engine.setup_rounds, 0.5), "s"),
            "wall_s": metric(sum(median_s[n] for n in heavy), "s"),
            "p50_ms": metric(quantile(light_ms, 0.5), "ms"),
        }
    else:
        engine.stop()
        metrics = layer_metrics(engine, tracer, runs, heavy, light, t_start, t_end,
                                warm.dur)
    final = {
        "correct": not mismatched,
        "attempted": len(names) + len(pass_order) * passes,
        "failed": len(mismatched),
        "metrics": metrics,
    }
    return detail, final


def layer_metrics(engine, tracer, runs, heavy, light, t_start, t_end,
                  warm_up_s) -> dict:
    """Per-layer roll-up of the traced run, summed over every query run.
    A query's scheduler floor is its wall minus Catalyst time minus the
    wall its stages cover."""
    import common

    groups = read_event_log(os.path.join(engine.work, "events"))
    recs = [r for rs in runs.values() for r in rs]
    cat = {
        k: sum(r["catalyst"][k] for r in recs)
        for k in ("analysis", "optimization", "planning")
    }
    floor = 0.0
    for r in recs:
        st = stats_for(groups, tracer, [r["span"]])
        floor += r["wall"] - sum(r["catalyst"].values()) / 1000.0 - st.stage_union_s
    heavy_recs = [r for n in heavy for r in runs[n]]
    light_recs = [r for n in light for r in runs[n]]
    m = common.layer_base(engine, tracer, groups, t_start, t_end, warm_up_s)
    m.update(
        {
            "plans.build_s": sum(r["build"] for r in heavy_recs),
            "plans.execute_s": sum(r["execute"] for r in heavy_recs),
            "plans.light_wall_s": sum(r["wall"] for r in light_recs),
            "catalyst.analysis_ms": cat["analysis"],
            "catalyst.optimization_ms": cat["optimization"],
            "catalyst.planning_ms": cat["planning"],
            "spark.scheduler_floor_s": floor,
            "pins.leftover_rdds": sum(r["pins"][0] for r in recs),
            "pins.leftover_bytes": sum(r["pins"][1] for r in recs),
        }
    )
    return m
