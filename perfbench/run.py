"""spark-graft benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload batch|pipeline --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
``metrics`` holds the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer ones. The line before it carries the host
record and the run's details. Inputs are generated from ``--seed``
under ``perfbench/.work/`` and removed at exit. ``--smoke`` shrinks
every input so the benchmark's own tests run in seconds.

Exit codes: 0 with a result line (even if a check failed: ``correct``
says so); 2 when the engine or a correctness reference cannot be
loaded, without a result line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from common import (  # noqa: E402
    ROOT, CheckUnavailable, Engine, metric, per_layer_metrics, prepare_env,
)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("batch", "pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bigdata_kafka_2_spark", "__init__.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    from spans import Tracer

    if args.workload == "batch":
        import batch as workload
    else:
        import pipeline as workload

    tracer = Tracer()
    engine = Engine(work, bool(args.trace), tracer)
    try:
        result = workload.run(args, work, engine, tracer)
    except CheckUnavailable as exc:
        print(f"correctness check unavailable: {exc}", file=sys.stderr)
        return 2
    finally:
        engine.stop()
        shutil.rmtree(work, ignore_errors=True)
    detail, final = result
    if args.trace:
        final["metrics"] = {
            name: metric(final["metrics"].get(name, 0.0), unit)
            for name, unit in per_layer_metrics()
        }
    print(json.dumps(detail, default=str))
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
