"""One benchmark process: set up the engine, run a workload's passes
closed-loop, check every executed entry's output, and write a result
file. Started by ``run.py``, which times this process's set-up from
its launch and owns the inputs and the expected outputs.

Passes: one cold pass (the first in this fresh process, what a daily
batch pays), ``WARMUP_PASSES`` untimed warm-up passes, then measured
passes until ``--seconds`` have elapsed. The traced run alternates
traced and untraced measured passes, so the cost of tracing is
measured in the same process.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import statistics
import sys
import time
import traceback

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: untimed passes between the cold pass and the measured ones, while
#: the JVM is still compiling the entries' hot paths
WARMUP_PASSES = 1


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """Runs entries and records, per execution, its wall time and
    whether its output matched the expectation."""

    def __init__(self, spark, entries, expected, data_dir, tracer=None):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.entries = entries
        self.expected = expected
        self.data_dir = data_dir
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []

    def _mismatch(self, name: str, columns, rows) -> str | None:
        if columns is None:  # the cleaning DAG reports its invariants
            return check.cleaning_mismatch(self.expected[name], rows)
        return check.mismatch(self.expected[name], check.spark_canonical(columns, rows))

    def run_pass(self, traced: bool) -> dict:
        """Run every entry once, in order. Returns the pass record:
        per-entry wall times and, when traced, per-entry ledgers."""
        walls, ledgers = {}, []
        if traced:
            self.tracer.install()
        try:
            for entry in self.entries:
                group = self.tracer.begin_entry(entry.name) if traced else None
                t0 = time.time()
                p0 = time.perf_counter()
                error = None
                try:
                    built = entry.build(self.spark, self.data_dir)
                    p1 = time.perf_counter()
                    columns, rows, frames = entry.sink(built)
                except Exception as ex:  # an entry failure is counted, not fatal
                    error = "".join(traceback.format_exception_only(type(ex), ex)).strip()
                p2 = time.perf_counter()
                t1 = time.time()
                calls = self.tracer.calls if traced else 0
                # outside the timer, in every pass: let the listener bus
                # deliver this entry's job events, so each entry starts
                # with an idle bus and the ledger finds them in the store
                self.jsc.listenerBus().waitUntilEmpty()
                self.attempted += 1
                if error is None:
                    error = self._mismatch(entry.name, columns, rows)
                if error is not None:
                    self.failures.append(f"{entry.name}: {error.splitlines()[0][:300]}")
                    print(f"FAILED {entry.name}: {error[:2000]}", file=sys.stderr, flush=True)
                    if traced:
                        self.tracer.clear_group()
                    continue
                walls[entry.name] = p2 - p0
                if traced:
                    ledgers.append(
                        dict(
                            self.tracer.end_entry(group, t0, t1, p1 - p0, calls, frames),
                            name=entry.name,
                        )
                    )
        finally:
            if traced:
                self.tracer.uninstall()
        return {"traced": traced, "walls": walls, "pass_s": sum(walls.values()), "ledgers": ledgers}


def _log_pass(label: str, rec: dict) -> None:
    walls = " ".join(f"{n}={w:.3f}" for n, w in rec["walls"].items())
    print(f"{label}: {rec['pass_s']:.3f} s [{walls}]", file=sys.stderr, flush=True)


def _median(values):
    return statistics.median(values) if values else 0.0


def _pass_s(passes: list[dict]) -> float:
    """Steady pass time: each entry's median wall over ``passes``,
    summed over the entries. A slow moment of the host then moves one
    sample of an entry instead of the whole pass."""
    names = {n for r in passes for n in r["walls"]}
    return sum(_median([r["walls"][n] for r in passes if n in r["walls"]]) for n in names)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    t_import = time.perf_counter()
    sys.path.insert(0, ROOT)
    from bohemia_kenya_data_pipeline_spark.queries import QUERIES
    from bohemia_kenya_data_pipeline_spark.session import get_spark

    t_start = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    ready_epoch = time.time()
    t_ready = time.perf_counter()

    import workloads

    with open(os.path.join(args.work, "expected.pkl"), "rb") as fh:
        inputs = pickle.load(fh)
    data_dir = inputs["data_dir"]
    names = list(workloads.WORKLOADS[args.workload])
    random.Random(args.seed).shuffle(names)
    entries = workloads.entries(names, inputs["odk_paths"], QUERIES)
    tracer = None
    if args.trace:
        from ledger import Tracer

        tracer = Tracer(spark)
    runner = Runner(spark, entries, inputs["expected"], data_dir, tracer)

    print(f"order: {names}", file=sys.stderr, flush=True)
    cold = runner.run_pass(traced=bool(args.trace))
    _log_pass("cold", cold)
    # the daily batch's footprint: set-up plus one cold pass
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
    for i in range(WARMUP_PASSES):
        _log_pass(f"warm-up {i + 1}", runner.run_pass(traced=False))
    steady = []
    t_steady = time.perf_counter()
    while True:
        traced = bool(args.trace) and len(steady) % 2 == 0
        rec = runner.run_pass(traced=traced)
        steady.append(rec)
        _log_pass(f"pass {len(steady)}{' traced' if traced else ''}", rec)
        enough = time.perf_counter() - t_steady >= args.seconds
        if enough and (not args.trace or len(steady) >= 2):
            break

    result = {
        "ready_epoch": ready_epoch,
        "import_s": t_start - t_import,
        "start_s": t_ready - t_start,
        "order": names,
        "cold_pass_s": cold["pass_s"],
        "pass_times": [r["pass_s"] for r in steady],
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "failures": runner.failures,
        "peak_rss_mb": peak_rss_mb,
    }
    untraced = [r for r in steady if not r["traced"]]
    result["pass_s"] = _pass_s(untraced)
    if args.trace:
        from ledger import pass_layers

        traced = [r for r in steady if r["traced"]]
        problems = [
            f"{e['name']}: {p}" for r in [cold, *traced] for e in r["ledgers"] for p in e["problems"]
        ]
        per_pass = [pass_layers(r["ledgers"]) for r in traced]
        layers = {k: _median([p[k] for p in per_pass]) for k in per_pass[0]}
        cold_layers = pass_layers(cold["ledgers"])
        layers.update(
            {
                "driver.peak_rss_mb": peak_rss_mb,
                "session.import_s": result["import_s"],
                "session.start_s": result["start_s"],
                "cold.build_s": cold_layers["queries.build_s"],
                "cold.job_busy_s": cold_layers["exec.job_busy_s"],
                "cold.gap_s": cold_layers["driver.gap_s"],
                # 0 when every untraced execution failed (the run is
                # then reported incorrect anyway)
                "trace.overhead_frac": (
                    _pass_s(traced) / result["pass_s"] - 1.0 if result["pass_s"] else 0.0
                ),
            }
        )
        result["per_layer"] = layers
        result["ledger_problems"] = problems
        for i, r in enumerate([cold, *traced]):
            for e in r["ledgers"]:
                counts = " ".join(f"{k}={e[k]:g}" for k in ("jobs", "stages", "tasks", "py4j_calls"))
                print(
                    f"ledger {'cold' if i == 0 else f'traced pass {i}'} {e['name']}: {counts} "
                    f"wall={e['wall_s']:.3f} busy={e['job_busy_s']:.3f} gap={e['gap_s']:.3f}",
                    file=sys.stderr,
                )
        for p in problems:
            print(f"LEDGER PROBLEM {p}", file=sys.stderr, flush=True)
    with open(os.path.join(args.work, "result.json"), "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
