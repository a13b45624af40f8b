"""mfdedup_spark benchmark: one closed-loop client, one workload per run.

    python3 perfbench/run.py --workload image_dedup --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts Spark at local[nproc] through the program's own
session builder, runs the workload's fixed number of full-size warm-up
ops, then times ops for ``--seconds`` seconds and checks every op's
output after its timer stops. Metric names and units come from
BENCHMARK.json. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(the untraced ops still run first, so ``trace.overhead_s`` compares the
two in one process). See perfbench/README.md for what each number means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: metric name -> unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

TRACED_OPS = 2


class Runner:
    """Runs ops of one workload and keeps the tallies."""

    def __init__(self, wl, spark, counters):
        self.wl, self.spark, self.counters = wl, spark, counters
        self.attempted = self.failed = 0
        self.op_counters: list[dict] = []

    def _guard(self, fn):
        """Run ``fn``; an exception or a failed check is a failed op."""
        try:
            return fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None, False

    def run_op(self) -> tuple[float, int] | None:
        """One untraced op, then (outside its timer) drain, counters,
        check and reset. Returns (seconds, items), or None if it failed."""
        self.attempted += 1
        mark = self.counters.mark()
        t0 = time.perf_counter()
        items, ok = self._guard(self.wl.op)
        dt = time.perf_counter() - t0
        counts = {"drain_s": harness.drain(self.spark), **self.counters.since(mark)}
        if ok:
            _, ok = self._guard(self.wl.check)
        harness.reset(self.spark)
        if not ok:
            self.failed += 1
            return None
        self.op_counters.append(counts)
        return dt, items

    def run_extra(self, fn) -> dict:
        """A checked pass that is not an op of the workload (the closing
        per-layer pass of a traced run); a failure counts as a failed op."""
        self.attempted += 1
        out, ok = self._guard(fn)
        harness.reset(self.spark)
        if not ok:
            self.failed += 1
        return out or {}

    def run_traced(self) -> dict | None:
        self.attempted += 1
        out, ok = self._guard(lambda: self.wl.traced_op(self.counters))
        if ok:
            _, ok = self._guard(self.wl.check_traced)
        harness.drain(self.spark)
        harness.reset(self.spark)
        if not ok:
            self.failed += 1
            return None
        return out


def warm_up(runner: Runner) -> list[float]:
    """``wl.warmups`` full-size ops. JIT compilation and Python worker
    start make the first ops of a fresh JVM slower, so timing them would
    mix two regimes into one median. The count is fixed rather than
    decided per run so that every run times the same op indices and
    ``setup_s`` covers the same work."""
    times = []
    for _ in range(runner.wl.warmups):
        r = runner.run_op()
        if r is None:
            break
        times.append(r[0])
    return times


def measure(runner: Runner, seconds: float) -> list[tuple[float, int]]:
    """Closed loop: the next op starts when the previous one is checked,
    until ``seconds`` have passed. At least one op is attempted."""
    ops: list[tuple[float, int]] = []
    t0 = time.perf_counter()
    while True:
        r = runner.run_op()
        if r is not None:
            ops.append(r)
        if time.perf_counter() - t0 >= seconds:
            return ops


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    cores = harness.cpu_count()
    wl = WORKLOADS[workload](work, seed, cores)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = harness.start_session(cores)
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        counters = harness.SparkCounters(spark)
        t0 = time.perf_counter()
        wl.build(spark, counters if trace else None)
        build_s = time.perf_counter() - t0
        # the peak memory of the build (the restore store's ingests) is
        # not the workload's: restart every high-water mark from here
        harness.reset_peak_rss(os.getpid())
        runner = Runner(wl, spark, counters)
        warm = warm_up(runner)
        setup_s = session_s + sum(warm)
        runner.op_counters.clear()

        cpu0 = harness.cpu_ticks()
        ops = measure(runner, seconds)
        busy, steal = harness.host_fracs(cpu0, harness.cpu_ticks())
        times = [dt for dt, _ in ops]
        p50 = harness.median(times)
        items_per_s = sum(n for _, n in ops) / sum(times) if times else 0.0
        layers: dict = {}
        if trace:
            layers = traced_layers(runner, wl, p50)
            layers.update({
                "session.start_s": session_s,
                "host.busy_frac": busy,
                "host.steal_frac": steal,
            })
        peak = harness.tree_peak_rss_mb(os.getpid())
        print(
            f"{workload}: seed={seed} local[{cores}] generate {generate_s:.1f}s "
            f"session {session_s:.1f}s build {build_s:.1f}s warm-up ops "
            f"{[round(t, 3) for t in warm]} timed ops n={len(times)} "
            f"{[round(t, 3) for t in times]} p50={p50:.4f}s "
            f"jobs/op {[c['jobs'] for c in runner.op_counters]} "
            f"host busy={busy:.3f} steal={steal:.3f}",
            flush=True,
        )
    finally:
        spark.stop()
        _stop_jvm(gateway)

    if trace:
        unknown = set(layers) - set(PER_LAYER)
        if unknown:
            raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {k: {"value": layers.get(k, 0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        values = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "items_per_s": items_per_s,
            "peak_rss_mb": peak,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": runner.failed == 0 and bool(times),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


def traced_layers(runner: Runner, wl, untraced_p50: float) -> dict:
    """Per-layer numbers: medians over the untraced ops' status-store
    counters, then over ``TRACED_OPS`` traced ops, then the core table."""
    out: dict = {}
    if wl.op_counter_layer and runner.op_counters:
        for key, name in (
            ("jobs", "jobs"),
            ("executor_ms", "executor_ms"),
            ("shuffle_write", "shuffle_bytes"),
            ("drain_s", "drain_s"),
        ):
            out[f"{wl.op_counter_layer}.{name}"] = harness.median(
                [c[key] for c in runner.op_counters]
            )
    traced = []
    for _ in range(TRACED_OPS):
        r = runner.run_traced()
        if r is not None:
            traced.append(r)
    for key in {k for r in traced for k in r}:
        out[key] = harness.median([r[key] for r in traced if key in r])
    if traced:
        out["trace.overhead_s"] = out.pop("_op_s") - untraced_p50
    out.update(runner.run_extra(lambda: wl.finish_trace(runner.counters)))
    if wl.sample is not None:
        from perfbench.core_table import primitive_ms

        out.update(primitive_ms(wl.sample))
    return out


def _stop_jvm(gateway) -> None:
    """The gateway JVM exits when its stdin closes; wait for it so the
    run leaves no process behind."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(
        ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    harness.configure_env(ROOT, work)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still in it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
