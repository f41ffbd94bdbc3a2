"""Benchmark entry point.

    python3 perfbench/run.py --workload {query_local,update_mixed} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the repository root.  One client process drives the library's
public API at ``local[<cores this process may use>]``: it starts Spark,
writes the seeded corpus, builds the index(es), sets the workload up three
times, warms it, measures a closed loop for ``--seconds`` (at least one
operation), runs the output checks and prints

* a ``{"report": ...}`` line with the named per-workload figures and the
  sample count behind every percentile, then
* as the last line, ``{"correct", "attempted", "failed", "metrics"}``: the
  end-to-end metrics with ``--trace 0``, the per-layer metrics with
  ``--trace 1``.

``--trace 1`` measures the loop twice, untraced then traced (wrappers, job
groups, Spark event log), and reports the per-layer metrics and the
tracing overhead.  ``--smoke`` shrinks every input for the benchmark's own
test.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_REPS = 3
E2E_UNITS = {"setup_s": "s", "op_p50_ref_ms": "ms", "driver_rss_mb": "MB"}
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest percentile with at least ten
    samples beyond it."""
    import numpy as np

    n = len(samples)
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p, float(np.percentile(samples, p))
    return None, None


def summary(name: str, samples: list[float], scale: float, unit: str) -> dict:
    """``<name>_p50_<unit>`` and the tail percentile of ``samples``, with the
    sample count and how many samples lie beyond the tail."""
    out = {f"{name}_p50_{unit}": statistics.median(samples) * scale, f"{name}_n": len(samples)}
    p, v = tail(samples)
    if p is not None:
        out[f"{name}_p{p:g}_{unit}".replace(".", "_")] = v * scale
        out[f"{name}_beyond_tail"] = sum(1 for x in samples if x * scale > v * scale)
    return out


def report(env, wl, res: dict) -> dict:
    """Per-workload figures (latency percentiles, commit and visibility
    times, build rate, index size), with sample counts."""
    from perfbench.fixture import dir_bytes

    out = {"cores": env.cores, "setup": {k: round(v, 4) for k, v in env.timings.items()}}
    out.update(summary("op", res["op_s"], 1000.0, "ms"))
    out["cpu_factor"] = res["cpu_factor"]
    out["ops_per_s"] = len(res["op_s"]) / res["window_s"]
    for key, name, scale, unit in (("query_s", "query", 1000.0, "ms"), ("dist_s", "dist_call", 1000.0, "ms"),
                                   ("add_s", "add_commit", 1.0, "s"), ("delete_s", "delete_commit", 1.0, "s"),
                                   ("visibility_s", "visibility", 1.0, "s")):
        if res.get(key):
            out.update(summary(name, res[key], scale, unit))
    if "query_s" in res:
        out["queries_per_s"] = len(res["query_s"]) / sum(res["query_s"])
    if "repeat_share" in res:
        out["repeat_share"] = res["repeat_share"]
    out["build_docs_per_s"] = env.size.n_docs / env.timings["build_s"]
    out["index_bytes_per_source_byte"] = dir_bytes(wl.built_dir) / wl.corpus.source_bytes
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("query_local", "update_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own test")
    return ap.parse_args(argv)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)   # clean up on a driver timeout too
    # the library import fails fast outside a full checkout
    import goobi_viewer_indexer_spark
    from perfbench import fixture, trace
    from perfbench.workloads import NULL_TRACER, WORKLOADS, Failures

    lib_root = os.path.dirname(os.path.abspath(goobi_viewer_indexer_spark.__file__))
    size = fixture.SMOKE if args.smoke else fixture.FULL
    env = fixture.Env(ROOT, args.seed, size, event_log=bool(args.trace))
    fails = Failures()
    tracer = None
    layers: dict = {}
    try:
        env.count_cores()
        spark = env.start_session()
        wl = WORKLOADS[args.workload](env)
        if args.trace:
            tracer = trace.Tracer(spark, lib_root)
            tracer.phase = "setup"
            trace.install(tracer)
        t = tracer or NULL_TRACER
        with t.op("corpus"):
            df = env.write_corpus()
        wl.prepare(df, t)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup_rep()
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm(fails)
        t_window = time.perf_counter()
        env.timings["warm_s"] = t_window - t0
        setup_s = (t_window - T_START) - sum(reps) + statistics.median(reps)
        if tracer is not None:
            tracer.restore()
            untraced = wl.run(args.seconds, fails)
            tracer.phase = "window"
            trace.install(tracer)
            res = wl.run(args.seconds, fails, tracer)
            tracer.phase = "tail"
            extra = wl.traced_tail(fails, tracer) if hasattr(wl, "traced_tail") else {}
            tracer.restore()
        else:
            res = wl.run(args.seconds, fails)
        if not res["op_s"]:
            raise RuntimeError("no operation completed")
        t0 = time.perf_counter()
        wl.check(fails)
        env.timings["check_s"] = time.perf_counter() - t0
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        env.stop()
        rep = {"workload": args.workload, "seed": args.seed, "setup_reps_s": [round(r, 4) for r in reps]}
        rep.update(report(env, wl, res))
        if tracer is not None:
            layers = trace.layer_metrics(tracer, env, wl, res, untraced, extra, lib_root)
    finally:
        if tracer is not None:
            tracer.restore()
        env.close()
    rep["failed_ratio"] = fails.failed / max(1, fails.attempted)
    print(json.dumps({"report": rep}))

    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_ref_ms": statistics.median(res["op_s"]) * res["cpu_factor"] * 1000.0,
            "driver_rss_mb": rss_mb,
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    print(json.dumps({"correct": fails.failed == 0, "attempted": max(1, fails.attempted),
                      "failed": fails.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
