#!/usr/bin/env python3
"""Benchmark of proxima_platform_spark: serve, batch and replicate workloads.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` into
``perfbench/.inputs`` (once per seed and size, outside the timed set-up).
Each run uses a fresh ``perfbench/.work`` directory, a fresh Spark session
and a fixed op sequence, checks every answer against a reference model and
prints, as its last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run and
leaves its spans and op records in ``perfbench/.work`` (see WORKLOADS.md).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import fresh_dir, p50, peak_rss_mb, spark_session, stop_spark, tail  # noqa: E402


def workload(name: str):
    if name == "serve":
        from serve import Serve
        return Serve
    if name == "batch":
        from batch import Batch
        return Batch
    from replicate import Replicate
    return Replicate


def end_to_end(rec, wall_s: float, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics and a detail record (per-kind latencies)."""
    ops = rec.timed()
    kinds = sorted({o.kind for o in ops})
    per_kind = {k: [o.ms for o in ops if o.kind == k] for k in kinds}
    # each kind's median, weighted by its share of the op mix
    op_p50 = sum(len(v) / len(ops) * p50(v) for v in per_kind.values())
    metrics = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "ok_share": (sum(o.ok for o in ops) / len(ops), "share"),
        "ops_per_s": (len(ops) / wall_s, "1/s"),
        "elements_per_s": (sum(o.elements for o in ops) / wall_s, "1/s"),
        "op_p50_ms": (op_p50, "ms"),
    }
    detail = {k: {"n": len(v), "p50_ms": p50(v), "tail": tail(v)} for k, v in per_kind.items()}
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "batch", "replicate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if importlib.util.find_spec("proxima_platform_spark") is None:
        print("perfbench: proxima_platform_spark not found next to perfbench/", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = fresh_dir(os.path.join(HERE, ".work"))
    os.environ["TMPDIR"] = fresh_dir(os.path.join(work, "py-tmp"))
    cache = os.path.join(HERE, ".inputs")
    os.makedirs(cache, exist_ok=True)

    # inputs and the reference model: outside the timed set-up
    wl = workload(args.workload)(args.seed, args.seconds, cache, work)

    t0 = time.perf_counter()
    import proxima_platform_spark.server  # noqa: F401
    import proxima_platform_spark.streaming.replication  # noqa: F401
    from spans import Recorder

    spark = spark_session(work)
    session_s = time.perf_counter() - t0
    try:
        rec = Recorder(spark, traced=bool(args.trace))
        if args.trace:
            rec.install()
        reps = []
        for rep in range(wl.reps):
            t = time.perf_counter()
            wl.setup(spark, rec, rep)
            reps.append(time.perf_counter() - t)
        wl.verify()
        rec.sync_jobs()
        t = time.perf_counter()
        wl.run(rec)
        wall_s = time.perf_counter() - t
        rss = peak_rss_mb(spark)
        counts = wl.layer_counts()
    finally:
        stop_spark(spark)

    ops = rec.timed()
    failed = sum(not o.ok for o in ops)
    setup_s = session_s + p50(reps)
    metrics, detail = end_to_end(rec, wall_s, setup_s, rss)
    if args.trace:
        from layers import PER_LAYER, layer_metrics

        values = layer_metrics(rec, counts)
        units = {name: unit for name, unit, _ in PER_LAYER}
        metrics = {name: (values[name], units[name]) for name, _, _ in PER_LAYER}
        rec.dump(work)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "session_s": session_s,
        "setup_reps_s": reps, "wall_s": wall_s, "ops": detail,
        "failures": wl.failures[:20],
    }))
    print(json.dumps({
        "correct": failed == 0 and not wl.failures,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
