#!/usr/bin/env python3
"""Benchmark command: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload trial_etl --seed 1 --seconds 8 --trace 0

Run from the repository root. The run

1. generates the input tables and the cleaning DAG's form and
   resolution files from ``--seed`` (``perfbench/datagen.py``);
2. computes every entry's expected output in DuckDB: the registered
   oracle SQL, or the cleaning DAG's invariants;
3. starts ``perfbench/worker.py`` as a fresh process and times its
   set-up (interpreter start, package imports, session start and a
   first trivial job) from the launch;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``), as listed in ``BENCHMARK.json``.

Everything the run writes (inputs, Spark scratch space, temporary
index directories) lives under ``.perfbench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170.0

END_TO_END_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s"}


def expectations(data_dir: str, odk_paths, names, tables) -> dict:
    """Each entry's expected output, computed in DuckDB from the
    ``tables`` in ``data_dir``."""
    import duckdb

    import check
    from workloads import CLEANING_DAG

    from bohemia_kenya_data_pipeline_spark.queries import ORACLES

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        return {
            name: check.cleaning_expectation(con, *odk_paths)
            if name == CLEANING_DAG
            else check.oracle_canonical(con, ORACLES[name])
            for name in names
        }
    finally:
        con.close()


def write_inputs(data_dir: str, workload: str, seed: int, sf: float):
    """Write the tables ``workload`` reads and, when it runs the
    cleaning DAG, its form and resolution files. Returns the form's
    ``(raw_path, resolution_path)`` or ``None``."""
    import datagen
    from workloads import CLEANING_DAG, READS, WORKLOADS

    datagen.write_tables(data_dir, seed, sf, READS[workload])
    if CLEANING_DAG not in WORKLOADS[workload]:
        return None
    events = datagen.build_tables(seed, sf, ["events"])["events"]
    return datagen.write_odk_inputs(data_dir, events, seed)


def prepare(work: str, workload: str, seed: int) -> dict:
    """Inputs and expected outputs for one run."""
    from workloads import READS, SF, WORKLOADS

    data_dir = os.path.join(work, "data")
    os.makedirs(data_dir)
    odk_paths = write_inputs(data_dir, workload, seed, SF)
    expected = expectations(data_dir, odk_paths, WORKLOADS[workload], READS[workload])
    return {"data_dir": data_dir, "odk_paths": odk_paths, "expected": expected}


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group (the JVM
    the worker started) and wait until none is left."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main(argv=None) -> int:
    t_begin = time.monotonic()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "bohemia_kenya_data_pipeline_spark")):
        print("the engine package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops the worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    try:
        inputs = prepare(work, args.workload, args.seed)
        with open(os.path.join(work, "expected.pkl"), "wb") as fh:
            pickle.dump(inputs, fh)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=tmp,
            # keep the JVM's temporary files in the checkout too
            JAVA_TOOL_OPTIONS=(
                env.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ).strip(),
        )
        cmd = [
            sys.executable,
            os.path.join(HERE, "worker.py"),
            "--work", work,
            "--workload", args.workload,
            "--seed", str(args.seed),
            "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        remaining = TIME_LIMIT_S - (time.monotonic() - t_begin)
        launched = time.time()
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True
        )
        try:
            code = proc.wait(timeout=remaining)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {TIME_LIMIT_S:.0f} s", file=sys.stderr)
            code = None
        finally:
            _stop_group(proc.pid)
            proc.wait()
        if code != 0:
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(os.path.join(work, "result.json")) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass  # another run's directory is still there

    for failure in res["failures"]:
        print(f"FAILED {failure}", file=sys.stderr)
    print(
        f"run {time.monotonic() - t_begin:.1f} s; cold {res['cold_pass_s']:.3f} s; passes "
        + " ".join(f"{p:.3f}" for p in res["pass_times"]),
        file=sys.stderr,
    )
    if args.trace:
        from ledger import per_layer_units

        metrics = {
            k: {"value": res["per_layer"][k], "unit": unit}
            for k, unit in per_layer_units().items()
        }
        correct = res["failed"] == 0 and not res["ledger_problems"]
    else:
        values = dict(res, setup_s=res["ready_epoch"] - launched)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
        correct = res["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
