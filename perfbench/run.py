"""Benchmark of the geopull_spark engine on one ``local[4]`` session.

    python3 perfbench/run.py --workload world_build --seed 1 --seconds 10 --trace 0

Runs one workload as a closed loop with one client for ``--seconds`` and
prints, as the last line of stdout, one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the per-layer
ones, read from the Spark event log of the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import harness
from harness import ROOT, WORK, median, percentile

MIN_OPS = 3        # ops per run whatever --seconds says
MAX_SECONDS = 100  # stop starting ops after this, so the run ends in time


def _metric_specs() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {key: {m["name"]: m["unit"] for m in spec[key]}
            for key in ("end_to_end", "per_layer")}


def _loop(wl, tracer, seconds: float) -> dict:
    """Closed loop: each op starts when the previous one and its check end."""
    lat = {True: [], False: []}
    attempted = failed = items = 0
    t0 = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t0
        n_ops = len(lat[True]) + len(lat[False])
        if ((elapsed >= seconds and n_ops >= MIN_OPS) or elapsed >= MAX_SECONDS
                or attempted == wl.max_ops):
            break
        tracer.set_active(attempted % 2 == 0)
        attempted += 1
        try:
            dt, (n, check) = tracer.op(wl.op)
            bad = check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            continue
        if bad:
            print(f"perfbench: {wl.name} op {attempted}: {bad} wrong outputs", file=sys.stderr)
            failed += 1
            continue
        lat[tracer.active].append(dt)
        items += n
    print(f"perfbench: {wl.name} op seconds (traced, untraced): "
          f"{[round(x, 3) for x in lat[True]]} {[round(x, 3) for x in lat[False]]}",
          file=sys.stderr)
    return {"lat": lat, "attempted": attempted, "failed": failed, "items": items}


def main(argv=None) -> int:
    import workloads
    from tracing import (Tracer, coverage, event_log_file, group_stats, phase_metrics,
                         phase_rows, read_event_log)

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    traced = args.trace == 1
    specs = _metric_specs()

    log_dir = harness.fresh_dir(os.path.join(WORK, "eventlog")) if traced else None
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = harness.start_session(log_dir)
        try:
            tracer = Tracer(spark, traced)
            wl = workloads.WORKLOADS[args.workload](spark, tracer, args.seed)
            wl.setup()
            setup_s = time.perf_counter() - t0
            res = _loop(wl, tracer, args.seconds)
            res["failed"] += wl.finish()
            if traced:
                tracer.set_active(True)
                wl.traced_extras()
        finally:
            harness.stop_session(spark)

    attempted, failed = res["attempted"], min(res["failed"], res["attempted"])
    traced_lat, plain_lat = res["lat"][True], res["lat"][False]
    if not plain_lat or (traced and not traced_lat):
        metrics = {}  # no op succeeded: every metric reads 0 and correct is false
    elif not traced:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": median(plain_lat),
            "op_p75_s": percentile(plain_lat, 75),
            "items_per_s": res["items"] / sum(plain_lat),
            "peak_rss_mb": rss.peak_mb,
        }
    else:
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-spans.json"))
        groups = group_stats(read_event_log(event_log_file(log_dir)))
        rows = phase_rows(tracer.spans, groups)
        with open(os.path.join(trace_dir, f"{args.workload}-phases.json"), "w") as f:
            json.dump(rows, f, indent=1)
        metrics = {
            **phase_metrics(rows),
            **wl.layer_metrics(rows),
            "trace.overhead_pct": 100 * (median(traced_lat) / median(plain_lat) - 1),
            "trace.coverage_pct": 100 * coverage(tracer.spans, rows),
        }
    names = specs["per_layer" if traced else "end_to_end"]
    out = {
        "correct": failed == 0 and bool(metrics),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in names.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "geopull_spark", "__init__.py")):
        print(f"perfbench: no geopull_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    harness.fit_host_env()
    sys.path.insert(0, ROOT)
    sys.exit(main())
