"""The repository's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload fred_monthly --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run starts Spark on
``local[<cpus>]``, sets the workload up from the seed, warms it up, then
runs ops one after another (a closed loop with one client) until
``--seconds`` have passed, checking each op's result. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` traces every other op of
each kind and reports the per-layer metrics, the self time of every span
and the tracing overhead. Every metric is printed as a ``#`` line
with its unit and sample count; the last line of standard output is one
JSON object. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import statistics
import sys
import time
import traceback

PKG = "fred_economic_data_pipeline_local_spark"


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from the
    BENCHMARK.json beside this directory."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"
    )
    with open(path) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _emit(name, value, unit, note):
    print(f"# {name} = {value:.6g} {unit} ({note})", flush=True)


class Outcome:
    """What one measured phase produced."""

    def __init__(self):
        self.times: list[float] = []  # successful ops' durations
        self.traced: list[bool] = []
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self.op_roots = []  # (root span, op spans, files) of traced ops


def measure(wl, tracer, seconds: float, trace: bool, corrupt_ops=(), min_ops=1) -> Outcome:
    """Run ops until ``seconds`` have passed and at least ``min_ops`` ops
    ran. With ``trace``, every other op is traced and the run ends after
    an even number of ops, so the op runs both ways. The k-th op in ``corrupt_ops`` has its result
    corrupted (``wl.corrupt(res, k)``) before the check, which must then
    fail."""
    from .trace import dir_snapshot, written

    spark = wl.spark
    out = Outcome()
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < t_end or (trace and i % 2):
        spark.catalog.clearCache()
        traced = trace and i % 2 == 1
        tracer.enabled = traced
        tracer.op_id = i
        dirs = wl.traced_dirs() if traced else {}
        before = dir_snapshot(*dirs.values()) if traced else None
        if traced:
            wl.install_wrappers()
        n_spans = len(tracer.spans)
        t0 = time.perf_counter()
        dt = None
        try:
            try:
                with tracer.span("op", counted=True) as root:
                    res = wl.run_op(i)
                dt = time.perf_counter() - t0
            finally:
                tracer.restore()
                tracer.enabled = False
            if i in corrupt_ops:
                res = wl.corrupt(res, sorted(corrupt_ops).index(i))
            errs = wl.check(res)
        except Exception as e:  # an op that raises is a failed op
            traceback.print_exc()
            errs = [f"{type(e).__name__}: {e}"]
        out.attempted += 1
        if errs:
            out.failed += 1
            out.errors.append(f"op {i}: {errs[0]}"[:500])
        elif dt is not None:
            out.times.append(dt)
            out.traced.append(traced)
            if traced:
                root.result = res
                after = dir_snapshot(*dirs.values())
                files = {k: written(before, after, d) for k, d in dirs.items()}
                out.op_roots.append((root, tracer.spans[n_spans:], files))
        i += 1
    return out


def end_to_end(out: Outcome, setup_s: float, peak_rss: int) -> dict[str, tuple[float, str]]:
    from .harness import percentile

    xs = sorted(out.times) or [0.0]  # every op failed: report zeros
    n = len(out.times)
    return {
        "setup_s": (setup_s, "session start + set-up + warm-up, n=1"),
        "ops_per_min": (60 * n / sum(xs) if n else 0.0, f"n={n} ops"),
        "op_p50_s": (percentile(xs, 50), f"n={n} ops"),
        "peak_rss_mb": (peak_rss / 2**20, "PSS of JVM + Python workers, sampled every 1 s"),
    }


def op_tail(out: Outcome) -> tuple[float, str]:
    """The highest percentile of op time with at least ten samples beyond
    it. Printed only: a run measures too few ops for any percentile above
    the median, so it is not one of BENCHMARK.json's metrics."""
    from .harness import percentile, tail_percentile

    n = len(out.times)
    q = tail_percentile(n)
    return percentile(sorted(out.times) or [0.0], q), f"p{q}, n={n} ops"


def per_layer(wl, tracer, out: Outcome, session_s: float, names) -> dict[str, tuple[float, str]]:
    tracer.resolve_spark_counts()
    samples: dict[str, list[float]] = {}
    for root, spans, files in out.op_roots:
        for k, v in wl.layer_metrics(root, spans, files).items():
            samples.setdefault(k, []).append(v)
    # a layer the workload does not call reports 0
    res = {k: (0.0, "not on this workload") for k in names}
    for k, vs in samples.items():
        agg = statistics.median if k.endswith("_s") else statistics.fmean
        res[k] = (agg(vs), f"{'median' if agg is statistics.median else 'mean'} of n={len(vs)} traced ops")
    res["session.start_s"] = (session_s, "n=1")
    if hasattr(wl, "stored_bytes"):
        res["stored_bytes_per_input_byte"] = (wl.stored_bytes() / wl.input_bytes, "end of run")
    res["trace.overhead_s"] = _overhead(out)
    return res


def _overhead(out: Outcome) -> tuple[float, str]:
    """Median traced minus median untraced op time."""
    by: dict[bool, list[float]] = {True: [], False: []}
    for t, traced in zip(out.times, out.traced):
        by[traced].append(t)
    if not (by[True] and by[False]):
        return 0.0, "no op ran both traced and untraced"
    return (statistics.median(by[True]) - statistics.median(by[False]),
            f"{len(by[True])} traced, {len(by[False])} untraced ops")


def self_times(out: Outcome) -> list[tuple[str, float, int]]:
    """Mean self time per traced op of every span name."""
    tot: dict[str, float] = {}
    for _, spans, _ in out.op_roots:
        for s in spans:
            tot[s.name] = tot.get(s.name, 0.0) + s.self_s
    n = max(1, len(out.op_roots))
    return sorted(((k, v / n, n) for k, v in tot.items()), key=lambda x: -x[1])


def run(args, checkout: str, scale=None, corrupt_ops=(), min_ops=1) -> dict:
    """One benchmark run inside a fresh workspace; returns the result
    object."""
    from .harness import RssSampler, Workspace, start_spark, stop_spark
    from .trace import Tracer
    from .workloads import WORKLOADS, Scale

    e2e_units, layer_units = metric_units()
    units = e2e_units | layer_units
    ws = Workspace(checkout, args.workload)
    ws.export_env()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_spark(cpus)
            session_s = time.perf_counter() - t0
            try:
                tracer = Tracer(spark, enabled=False)
                wl = WORKLOADS[args.workload](spark, args.seed, tracer, scale or Scale())
                t = time.perf_counter()
                wl.setup(ws.fresh("setup"))
                setup_only_s = time.perf_counter() - t
                t = time.perf_counter()
                wl.warmup()
                warm_s = time.perf_counter() - t
                setup_s = session_s + setup_only_s + warm_s
                print(f"# setup: session {session_s:.3f}s, set-up {setup_only_s:.3f}s, "
                      f"warm-up {warm_s:.3f}s", flush=True)
                out = measure(wl, tracer, args.seconds, bool(args.trace), corrupt_ops, min_ops)
                if args.trace:
                    metrics = per_layer(wl, tracer, out, session_s, layer_units)
                    tracer.dump(os.path.join(
                        checkout, ".perfbench_out",
                        f"trace-{args.workload}-seed{args.seed}.jsonl"))
            finally:
                stop_spark(spark)
    finally:
        ws.remove()
    print("# op times (s): " + " ".join(
        f"{t:.3f}{'*' if tr else ''}" for t, tr in zip(out.times, out.traced)), flush=True)
    for e in out.errors[:10]:
        print(f"# FAILED {e}", flush=True)
    if not args.trace:
        metrics = end_to_end(out, setup_s, rss.peak)
    want = layer_units if args.trace else e2e_units
    if set(metrics) != set(want):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(want))} disagree with BENCHMARK.json")
    for name, (v, note) in metrics.items():
        unit = units[name]
        _emit(name, v, unit, note)
    _emit("failed_share", out.failed / out.attempted, "ratio",
          f"{out.failed} of {out.attempted} ops")
    if not args.trace:
        tail, note = op_tail(out)
        _emit("op_tail_s", tail, "s", note)
    if args.trace:
        traced = [t for t, tr in zip(out.times, out.traced) if tr]
        wall = statistics.fmean(traced) if traced else 0.0
        rows = self_times(out)
        for name, s, n in rows:
            print(f"# self {name} = {s:.6f} s/op", flush=True)
        print(f"# self total = {sum(s for _, s, _ in rows):.6f} s/op; "
              f"traced op wall = {wall:.6f} s/op (n={len(out.op_roots)})", flush=True)
    return {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, (v, _) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    sys.path.insert(0, checkout)
    if importlib.util.find_spec(PKG) is None:
        print(f"perfbench: package {PKG} not found under {checkout}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    from .harness import live_spark_jvms
    from .workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    busy = live_spark_jvms()
    if busy:
        print(f"perfbench: refusing to start, Spark JVM(s) {busy} still running",
              file=sys.stderr)
        return 3
    print(json.dumps(run(args, checkout)), flush=True)
    return 0


if __name__ == "__main__":
    # run as a script: make the package importable as ``perfbench``
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench.run import main as _main

    sys.exit(_main())
