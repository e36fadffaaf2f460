"""``pipeline`` workload: the reference's producer → consumer → trainer →
model-server flow, through the engine's public path.

- Producer (``producer.py``, its own process): a seeded food-record
  backlog, then an open-loop trickle at a fixed rate, ~1 % malformed.
- Consumer: ``streaming.ingest.run_ingest(parse_json_stream(filelog),
  fmt="csv")`` drains the backlog, then loops until the trickle is in.
- Trainer: the KNN serving model (model 3) along ``etl.train_all_models``'
  path: ``etl.ingest_batches``, fit, save (see ``SERVING_MODEL``).
- Server: ``http_api.EngineHTTPServer`` over ``serving.ModelServer``
  (the KNN serving table cached) and a seeded allergen table, driven
  by ``loadgen.py`` (its own process) at a fixed open-loop rate.

Checks: the sink holds every produced record exactly once; every
response has the right shape, food_details and find_allergen return
the known answers, and each KNN predict equals a direct
``ModelServer.predict`` on the same payload. Rows the trainer does not
see (``etl.ingest_batches`` reads the headerless CSV parts with
``header=true``, one row lost per part file) are counted as failed.
"""

from __future__ import annotations

import csv
import glob
import json
import math
import os
import subprocess
import sys
import time

from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import CPUS, HERE, CheckUnavailable, metric, pins_snapshot, quantile
from loadgen import OPS
from spans import ProgressLog, read_event_log, stats_for

#: Records per backlog burst, and the bursts per run: each burst is
#: drained, then the model is fitted on everything ingested so far;
#: ``wall_s`` is the median (with two bursts, the mean) over the bursts
#: of drain + fit.
BACKLOG = 1_000
BACKLOG_ROUNDS = 2
TRICKLE_RATE = 200.0
TRICKLE_S = 1.0
#: A trickle that takes more drains than this never commits: the run
#: stops instead of looping until the time limit.
MAX_TRICKLE_DRAINS = 20
ALLERGEN_ROWS = 2_000
#: Open-loop request rate (req/s): low enough on a 4-core host that
#: latency is mostly service time, not queueing. ``--seconds`` sets how
#: many requests are sent: whole blocks of the six-operation mix
#: covering at least that long.
SERVE_RATE = 2.0
SMOKE = dict(backlog=200, trickle_rate=50.0, trickle_s=2.0)

#: The one model the workload trains: the KNN serving model (model 3,
#: assemble + z-score), the model behind the cached serving table. The
#: reference trainer's other four (two KMeans, two GBT) are left out:
#: ``etl.train_all_models`` took 35-54 s per run on a 4-core host, too
#: long for the benchmark's time budget.
SERVING_MODEL = "model_3_reco"
SERVING_MODEL_ID = 3


def train_serving_model(spark, batches_dir: str, models_dir: str):
    """``etl.train_all_models``' path for model 3: CSV scan and
    conformance (``etl.ingest_batches``), fit, save. Returns the
    conformed frame and the fitted model."""
    from bigdata_kafka_2_spark import etl
    from bigdata_kafka_2_spark.ml import pipelines as P

    df = etl.ingest_batches(spark, batches_dir)
    model = P.train_scaled_features(df, etl.CLUSTER_FEATURES)
    P.save_model(model, os.path.join(models_dir, SERVING_MODEL))
    return df, model


def committed_offset(ckpt: str) -> int:
    """Records committed so far: the source offset of the newest batch
    in the streaming checkpoint (``offsets/<batch>``, last line)."""
    files = glob.glob(os.path.join(ckpt, "offsets", "[0-9]*"))
    if not files:
        return 0
    newest = max(files, key=lambda f: int(os.path.basename(f)))
    with open(newest) as fh:
        last = fh.read().strip().splitlines()[-1]
    try:
        return sum(int(v) for v in json.loads(last).values())
    except (ValueError, AttributeError) as exc:
        raise CheckUnavailable(f"unreadable checkpoint offset {last!r}") from exc


def read_sink(out_dir: str) -> tuple[list[int], int, int]:
    """(record sequence numbers found, non-empty part files, bytes)."""
    seqs: list[int] = []
    files = nbytes = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        nbytes += os.path.getsize(path)
        with open(path, newline="") as fh:
            rows = list(csv.reader(fh))
        files += bool(rows)
        for row in rows:
            desc = row[-1]
            if desc.startswith("food-"):
                seqs.append(int(desc[5:12]))
            else:
                seqs.append(-1)
    return seqs, files, nbytes


def serving_inputs(work: str, seed: int) -> dict:
    """Allergen table on disk plus the loadgen's known answers."""
    rows = datagen.allergen_rows(seed, ALLERGEN_ROWS)
    path = os.path.join(work, "allergen.parquet")
    pq.write_table(
        pa.table(
            {
                "fdc_id": pa.array([r[0] for r in rows], pa.int64()),
                "description": pa.array([r[1] for r in rows], pa.string()),
                "ingredients": pa.array([r[2] for r in rows], pa.string()),
            }
        ),
        path,
    )
    rng = np.random.default_rng(seed + 1)
    detail = rows[int(rng.integers(0, len(rows)))]
    term = datagen.ALLERGENS[int(rng.integers(0, len(datagen.ALLERGENS)))]
    from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS

    payload = datagen.food_record(rng, 0, FOOD_NUMERIC_COLUMNS, False)
    del payload["description"]
    return {
        "path": path,
        "detail_id": detail[0],
        "detail_description": detail[1],
        "allergen": term,
        "allergen_count": sum(term in r[2] for r in rows),
        "record_count": len(rows),
        "payload": payload,
    }


def run(args, work: str, engine, tracer):
    size = SMOKE if args.smoke else dict(
        backlog=BACKLOG, trickle_rate=TRICKLE_RATE, trickle_s=TRICKLE_S
    )
    size["serve_count"] = len(OPS) * max(1, math.ceil(SERVE_RATE * args.seconds / len(OPS)))
    topic, out, ckpt, models = (
        os.path.join(work, d) for d in ("topic", "sink", "ckpt", "models")
    )
    producer = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "producer.py"),
            "--topic", topic, "--seed", str(args.seed),
            "--backlog", str(size["backlog"]),
            "--rate", str(size["trickle_rate"]),
            "--seconds", str(size["trickle_s"]),
        ],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        return _run(args, work, engine, tracer, size, producer, topic, out, ckpt,
                    models)
    finally:
        producer.stdin.close()
        try:
            producer.wait(timeout=10)
        except subprocess.TimeoutExpired:
            producer.kill()
            producer.wait()


def _run(args, work, engine, tracer, size, producer, topic, out, ckpt, models):
    from bigdata_kafka_2_spark import etl, http_api, serving
    from bigdata_kafka_2_spark.ml import knn
    from bigdata_kafka_2_spark.ml import pipelines as P
    from bigdata_kafka_2_spark.schema import FOOD_SCHEMA
    from bigdata_kafka_2_spark.sources.filelog import register_filelog
    from bigdata_kafka_2_spark.streaming.ingest import parse_json_stream, run_ingest

    def prepare(spark):
        register_filelog(spark)
        spark.range(1).selectExpr("to_json(named_struct('a', id)) AS v").collect()

    serve_spec = engine.start(prepare, lambda: serving_inputs(work, args.seed))
    spark = engine.spark
    with tracer.span("bench.warm_up", "bench") as warm:
        warm_up(spark, os.path.join(work, "warm"), args.seed)
    progress = ProgressLog()
    if engine.trace:
        progress.attach(spark)
        tracer.wrap(P, "train_scaled_features", "ml.fit", "ml")
        tracer.wrap(P, "save_model", "ml.save", "io")

    def tell(command: str) -> dict:
        producer.stdin.write(command + "\n")
        producer.stdin.flush()
        return json.loads(producer.stdout.readline())

    def drain(name: str) -> dict:
        raw = spark.readStream.format("filelog").option("path", topic).load()
        with tracer.span(name, "streaming") as sp:
            run_ingest(parse_json_stream(raw, FOOD_SCHEMA), out, ckpt, fmt="csv")
        return {"start": sp.start, "end": sp.end, "committed": committed_offset(ckpt)}

    json.loads(producer.stdout.readline())  # the producer is ready
    engine.canary()
    t_start = time.perf_counter()
    # the trickle: open-loop arrivals, drained as they come
    n_trickle = int(size["trickle_rate"] * size["trickle_s"])
    producer.stdin.write("go\n")
    producer.stdin.flush()
    drains: list[dict] = []
    while not drains or drains[-1]["committed"] < n_trickle:
        if len(drains) == MAX_TRICKLE_DRAINS:
            raise CheckUnavailable("the trickle was never fully committed")
        drains.append(drain("ingest.drain"))
    summary = json.loads(producer.stdout.readline())
    # per trickle record: due time at the producer → return of the
    # drain whose commit first covered it (time.monotonic == perf_counter
    # clock on Linux)
    lags = []
    rate, t0 = summary["rate"], summary["trickle_t0"]
    di = 0
    for j in range(n_trickle):
        while drains[di]["committed"] <= j:
            di += 1
        lags.append(drains[di]["end"] - (t0 + j / rate))

    # backlog bursts: each drained, then a fit on everything ingested
    rounds: list[dict] = []
    for _ in range(BACKLOG_ROUNDS):
        reply = tell("backlog")
        produced = reply["produced"]
        d = drain("ingest.backlog_drain")
        with tracer.span("etl.train", "etl") as train_span:
            df, model = train_serving_model(spark, out, models)
        rounds.append({"drain_s": d["end"] - d["start"], "train_s": train_span.dur,
                       "span": train_span})

    with tracer.span("bench.check", "bench"):
        seqs, part_files, sink_bytes = read_sink(out)
        exactly_once = sorted(seqs) == list(range(produced))

    with tracer.span("serving.load", "serving") as load_span:
        table = knn.knn_serving_table(model, df)
        server = serving.ModelServer(
            spark, models, {SERVING_MODEL_ID: etl.CLUSTER_FEATURES}, table
        )
        # the KNN table holds every row the trainer read
        trained_rows = server.serving_table.count()
        allergen = spark.read.parquet(serve_spec["path"])
    lost_rows = len(seqs) - trained_rows
    spec = dict(serve_spec, count=size["serve_count"],
                rate=SERVE_RATE, threads=CPUS, model_id=SERVING_MODEL_ID)
    calls = direct_calls(server, allergen, spec, serving)
    with tracer.span("bench.check", "bench"):
        # every endpoint once, directly: the predict reference answers,
        # and the load phase then meets warm code paths
        with ThreadPoolExecutor(CPUS) as pool:
            direct = dict(zip(calls, pool.map(lambda call: call(), calls.values())))
    direct_ms: dict[str, float] = {}
    http_ms: dict[str, float] = {}
    with http_api.EngineHTTPServer(server, {"model1": allergen}) as srv:
        spec["url"] = srv.url
        with tracer.span("http.load", "http"):
            replies = loadgen(spec)
        with tracer.span("bench.check", "bench"):
            pins = pins_snapshot(spark)
        t_end = time.perf_counter()
        if engine.trace:
            direct_ms, http_ms = time_each_endpoint(tracer, calls, spec)
    engine.canary()

    bad_replies = [r for r in replies if not r["ok"]]
    bad_predicts = [
        r for r in replies
        if r["op"] == "predict"
        and r["body"].get("recommendations") != direct["predict"]["recommendations"]
    ]
    correct = (
        exactly_once and SERVING_MODEL_ID in server.models and not bad_replies
        and not bad_predicts and len(replies) == spec["count"]
    )
    attempted = produced + len(replies)
    failed = (
        lost_rows + abs(produced - len(set(seqs))) + len(bad_replies)
        + len(bad_predicts)
    )
    lat = [r["latency_ms"] for r in replies]
    round_s = [r["drain_s"] + r["train_s"] for r in rounds]
    detail = {
        "workload": "pipeline",
        "host": engine.host(),
        "seed": args.seed,
        "setup_rounds_s": engine.setup_rounds,
        "jvm_launch_s": engine.launch_s,
        "warm_up_s": warm.dur,
        "window_s": t_end - t_start,
        "peak_rss_mb": engine.peak_rss_mb(),
        "produced": produced,
        "malformed": reply["malformed"],
        "sink_rows": len(seqs),
        "trained_rows": trained_rows,
        "lost_rows": lost_rows,
        "part_files": part_files,
        "trickle_drains": len(drains),
        "backlog_rounds_s": [(round(r["drain_s"], 4), round(r["train_s"], 4))
                             for r in rounds],
        "ingest_lag_p50_s": quantile(lags, 0.5),
        "bad_replies": bad_replies[:5],
        "bad_predicts": [r["op"] for r in bad_predicts][:5],
        "exactly_once": exactly_once,
        "latency_ms": [(r["op"], round(r["latency_ms"]))
                       for r in sorted(replies, key=lambda r: r["i"])],
        "latency_ms_by_op": {
            op: quantile([r["latency_ms"] for r in replies if r["op"] == op], 0.5)
            for op in OPS
        },
    }
    if not engine.trace:
        metrics = {
            "setup_s": metric(quantile(engine.setup_rounds, 0.5), "s"),
            "wall_s": metric(quantile(round_s, 0.5), "s"),
            "p50_ms": metric(quantile(lat, 0.5), "ms"),
        }
    else:
        engine.stop()
        metrics = layer_metrics(
            engine, tracer, t_start, t_end, warm.dur, progress, drains, rounds,
            size, summary, lags, part_files, sink_bytes, topic, load_span,
            replies, direct_ms, http_ms, pins,
        )
    final = {"correct": correct, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    return detail, final


def warm_up(spark, base: str, seed: int) -> None:
    """One-off warm-up before the measured phases, so they meet started
    Python workers, generated code and loaded MLlib classes: a 60-record
    drain through filelog → JSON → CSV, and a fit of the serving model
    on the same records written as CSV. The two share no data and run
    side by side, so their cold starts overlap."""
    from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS, FOOD_SCHEMA
    from bigdata_kafka_2_spark.sources.filelog import append_records
    from bigdata_kafka_2_spark.streaming.ingest import parse_json_stream, run_ingest

    rng = np.random.default_rng(seed + 2)
    records = [
        datagen.food_record(rng, i, FOOD_NUMERIC_COLUMNS, False) for i in range(60)
    ]
    topic = os.path.join(base, "topic")
    append_records(topic, records)
    csv_dir = os.path.join(base, "csv")
    os.makedirs(csv_dir)
    with open(os.path.join(csv_dir, "part-0.csv"), "w", newline="") as fh:
        out = csv.writer(fh)
        out.writerow(FOOD_SCHEMA.fieldNames())
        out.writerows([r[c] for c in FOOD_SCHEMA.fieldNames()] for r in records)

    def drain():
        raw = spark.readStream.format("filelog").option("path", topic).load()
        run_ingest(parse_json_stream(raw, FOOD_SCHEMA), os.path.join(base, "sink"),
                   os.path.join(base, "ckpt"), fmt="csv")

    with ThreadPoolExecutor(2) as pool:
        jobs = [pool.submit(drain),
                pool.submit(train_serving_model, spark, csv_dir,
                            os.path.join(base, "models"))]
        for job in jobs:
            job.result()


def loadgen(spec: dict) -> list[dict]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py")],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        stdout, _ = proc.communicate(json.dumps(spec) + "\n", timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [json.loads(x) for x in stdout.splitlines() if x.strip()]
    return [x for x in lines if "op" in x]


def direct_calls(server, allergen, spec: dict, serving) -> dict:
    """Each load-generator operation as a direct call on the serving
    layer, doing the Spark work its HTTP handler does."""
    calls = {
        "details": lambda: serving.food_details(
            allergen, spec["detail_id"]
        ).limit(1).collect(),
        "allergen": lambda: (
            serving.find_allergen(allergen, spec["allergen"]).count(),
            serving.find_allergen(allergen, spec["allergen"]).limit(100).collect(),
        ),
        "stats": lambda: serving.stats(allergen),
    }
    calls["predict"] = lambda: server.predict(SERVING_MODEL_ID, spec["payload"])
    return calls


def time_each_endpoint(tracer, calls: dict, spec: dict):
    """Traced run only: the p50 of each endpoint called directly and,
    one request at a time, over HTTP."""
    import loadgen as lg

    direct_ms, http_ms = {}, {}
    for op, call in calls.items():
        ts, hs = [], []
        for _ in range(3):
            with tracer.span("serving.direct", "serving", op=op) as sp:
                call()
            ts.append(sp.dur * 1000)
            with tracer.span("http.request", "http", op=op) as sp:
                lg.request(spec["url"], op, spec)
            hs.append(sp.dur * 1000)
        direct_ms[op] = quantile(ts, 0.5)
        http_ms[op] = quantile(hs, 0.5)
    return direct_ms, http_ms


def layer_metrics(engine, tracer, t_start, t_end, warm_up_s, progress, drains,
                  rounds, size, summary, lags, part_files, sink_bytes, topic,
                  load_span, replies, direct_ms, http_ms, pins):
    import common

    groups = read_event_log(os.path.join(engine.work, "events"))
    m = common.layer_base(engine, tracer, groups, t_start, t_end, warm_up_s)
    # trickle records written but not yet committed when each drain began
    backlog_at_start = []
    committed = 0
    for d in drains:
        due = max(0, int((d["start"] - summary["trickle_t0"]) * summary["rate"]) + 1)
        backlog_at_start.append(max(0, min(due, len(lags)) - committed))
        committed = d["committed"]
    trig = [p.get("triggerExecution", 0) for p in progress.progress]
    add = [p.get("addBatch", 0) for p in progress.progress]
    commit = [p.get("commitOffsets", 0) for p in progress.progress]
    drain_spans = tracer.by_name("ingest.drain") + tracer.by_name("ingest.backlog_drain")
    trig_total_s = sum(trig) / 1000.0
    train_jobs = [stats_for(groups, tracer, [r["span"]]).jobs for r in rounds]
    direct_spans = tracer.by_name("serving.direct")
    direct_stats = stats_for(groups, tracer, direct_spans)
    topic_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(topic, "*")))
    m.update(
        {
            "ingest.rows_per_s": size["backlog"] / quantile([r["drain_s"] for r in rounds], 0.5),
            "ingest.lag_p50_s": quantile(lags, 0.5),
            "ingest.lag_p99_s": quantile(lags, 0.99),
            "filelog.backlog_rows": quantile(backlog_at_start, 0.5),
            "streaming.drain_s": quantile([d["end"] - d["start"] for d in drains], 0.5),
            "streaming.trigger_ms": quantile(trig, 0.5) if trig else 0,
            "streaming.add_batch_ms": quantile(add, 0.5) if add else 0,
            "streaming.commit_ms": quantile(commit, 0.5) if commit else 0,
            "streaming.start_overhead_s": (
                (sum(s.dur for s in drain_spans) - trig_total_s) / len(drain_spans)
            ),
            "sink.files_written": part_files,
            "sink.bytes_per_input_byte": sink_bytes / topic_bytes if topic_bytes else 0,
            "train_s": quantile([r["train_s"] for r in rounds], 0.5),
            "ml.fit_s": quantile([s.dur for s in tracer.by_name("ml.fit")], 0.5),
            "ml.save_s": quantile([s.dur for s in tracer.by_name("ml.save")], 0.5),
            "ml.train_jobs": quantile(train_jobs, 0.5),
            "serving.load_s": load_span.dur,
            "serving.jobs_per_request": direct_stats.jobs / max(1, len(direct_spans)),
            "loadgen.late_ms": quantile([r["late_ms"] for r in replies], 0.5),
            "pins.leftover_rdds": pins[0],
            "pins.leftover_bytes": pins[1],
        }
    )
    for op, v in direct_ms.items():
        m[f"serving.{op}_ms"] = v
    if direct_ms:
        m["http.overhead_ms"] = sum(http_ms[o] - direct_ms[o] for o in direct_ms) / len(direct_ms)
    return m
