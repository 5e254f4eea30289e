#!/usr/bin/env python
"""Per-entry ledger of bench entries (guide §1: measure first).

Runs each named entry exactly like bench.py (the engine session as
``get_spark`` builds it, UI off; noop sink; $SPARK_GRAFT_SF_DIR;
local[$SPARK_GRAFT_CPUS]), once warm and once steady, and prints the
steady run's ledger from ``perfbench.ledger.Tracer``: Spark jobs,
stages and tasks, job-busy time and the driver gap between jobs, py4j
calls, Catalyst phase times, and the spans of the traced
``jobs``/``operators`` functions (``perfbench.ledger.SPANS``).

Catalyst phases are read from the built DataFrame's own
QueryExecution, planned after the timed run: the noop write plans the
same tree under a QueryExecution of its own, which Python cannot reach.

Usage: python profile_entry.py <entry> [<entry> ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _noop  # noqa: E402
from bohemia_kenya_data_pipeline_spark.queries import QUERIES  # noqa: E402
from bohemia_kenya_data_pipeline_spark.session import get_spark  # noqa: E402
from perfbench.ledger import Tracer  # noqa: E402


def _print_ledger(name: str, warm: float, rec: dict) -> None:
    print(
        f"\n=== {name}: warm {warm:.3f}s steady {rec['wall_s']:.3f}s "
        f"(build {rec['build_s']:.3f}s) ==="
    )
    print(
        f"  jobs={rec['jobs']} stages={int(rec['stages'])} "
        f"tasks={int(rec['tasks'])} job_busy_s={rec['job_busy_s']:.3f} "
        f"gap_s={rec['gap_s']:.3f} py4j_calls={rec['py4j_calls']}"
    )
    print(
        f"  catalyst analysis={rec['analysis_ms']:.0f}ms "
        f"optimization={rec['optimization_ms']:.0f}ms "
        f"planning={rec['planning_ms']:.0f}ms"
    )
    print(
        f"  exec run_s={rec['run_s']:.3f} cpu_s={rec['cpu_s']:.3f} "
        f"gc_s={rec['gc_s']:.3f} shuffle_read_mb={rec['shuffle_read_mb']:.1f} "
        f"shuffle_write_mb={rec['shuffle_write_mb']:.1f} "
        f"spill_mb={rec['spill_mb']:.1f} input_mb={rec['input_mb']:.1f} "
        f"output_mb={rec['output_mb']:.1f}"
    )
    for span, (calls, wall, jobs) in sorted(rec["spans"].items()):
        print(f"  span {span}: calls={calls} wall_s={wall:.3f} jobs={jobs}")
    for problem in rec["problems"]:
        print(f"  PROBLEM {problem}")


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bkdp-profile")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracer = Tracer(spark)

    for name in sys.argv[1:]:
        fn = QUERIES[name]
        # warm run (JIT) — not traced
        p0 = time.perf_counter()
        _noop(fn(spark, sf_dir))
        warm = time.perf_counter() - p0
        bus.waitUntilEmpty()
        tracer.install()
        try:
            group = tracer.begin_entry(name)
            t0, p0 = time.time(), time.perf_counter()
            df = fn(spark, sf_dir)
            p1 = time.perf_counter()
            _noop(df)
            t1 = time.time()
            calls = tracer.calls
            bus.waitUntilEmpty()
            df._jdf.queryExecution().executedPlan()
            rec = tracer.end_entry(group, t0, t1, p1 - p0, calls, [df])
        finally:
            tracer.uninstall()
        _print_ledger(name, warm, rec)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
