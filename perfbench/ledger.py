"""Tracing for the traced run: spans and counts recorded from the
benchmark's own files around the calls into each layer.

Nothing here is active in an untraced run. :class:`Tracer` installs
its hooks on :meth:`Tracer.install` and restores every patched
attribute on :meth:`Tracer.uninstall`:

- ``py4j``: the py4j client's send path is wrapped to count
  Python->JVM calls;
- ``jobs.*`` / ``operators.*``: the public functions named in
  :data:`SPANS` are wrapped where entries reach them, through a module
  attribute (``jobs.clean_form``, ``dedup.minhash_index_write``).
  A function the package imports by name is not reached this way;
- ``exec`` / ``catalog``: each entry runs under its own job group, and
  :meth:`Tracer.end_entry` reads that group's jobs and stages from the
  driver's status store once the listener bus is empty (the runner
  drains it after every entry, traced or not);
- ``catalyst``: phase times come from the timed DataFrame's
  ``queryExecution().tracker()``.
"""

from __future__ import annotations

import functools
import importlib
import time

#: span name -> (module, attribute). The span is named
#: ``<last module segment>.<function>``; ``jobs.<fn>`` is the package
#: attribute the query registry and the cleaning DAG call. These are
#: the public ``jobs``/``operators`` functions the workloads reach
#: through a module attribute, less the small lazy builders (the full
#: list is in ``perfbench/README.md``), so that the per-layer metrics
#: stay within 128. A function the package imports by name is called
#: directly and cannot be wrapped this way.
_PKG = "bohemia_kenya_data_pipeline_spark"
SPANS: dict[str, tuple[str, str]] = {
    f"{mod.rsplit('.', 1)[-1]}.{fn}": (f"{_PKG}.{mod}", fn)
    for mod, fns in {
        "jobs": (
            "clean_form",
            "sanitize_form",
            "run_anomaly_detection",
            "maintain_cdc_lakehouse",
        ),
        "operators.clean": ("google_sheets_fix", "expand_resolution", "apply_sets"),
        "operators.quality": ("drop_empty_columns", "consolidate"),
        "operators.stats": ("evaluate_rdts",),
        "operators.windows": ("asof_snapshots", "latest_per_key"),
        "operators.spatial": ("assign_clusters",),
        "operators.text": ("dedup_lines",),
        "operators.sampling": ("take_token_budget",),
        "operators.similarity": ("cosine_topk_arrow", "pq_encode", "pq_adc_topk"),
        "operators.scd": ("compact_cdc_log",),
        "operators.ivm": ("apply_delta",),
        "operators.dedup": (
            "minhash_index_write",
            "minhash_index_delete",
            "minhash_index_query",
            "minhash_signatures",
        ),
        "operators.maintenance": ("zorder_init", "zorder_extend", "maintain_table_layout"),
        "operators.skipping": (
            "build_file_manifest",
            "maintain_file_manifest",
            "read_with_skipping",
        ),
        "jobs.retrieval": ("build_ivfpq_index", "extend_ivfpq_index", "query_ivfpq_index"),
    }.items()
    for fn in fns
}

SPAN_FIELDS = ("calls", "wall_s", "jobs")

#: per-layer metrics other than the spans: name -> unit
LAYER_METRICS: dict[str, str] = {
    "session.import_s": "s",
    "session.start_s": "s",
    "queries.build_s": "s",
    "py4j.calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_busy_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.offcpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "catalog.input_mb": "MB",
    "catalog.output_mb": "MB",
    "driver.gap_s": "s",
    "driver.peak_rss_mb": "MB",
    "cold.build_s": "s",
    "cold.job_busy_s": "s",
    "cold.gap_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_METRICS)
    for span in SPANS:
        for field in SPAN_FIELDS:
            units[f"span.{span}.{field}"] = "s" if field == "wall_s" else "count"
    return units


#: tolerance for comparing JVM job times (whole milliseconds) with the
#: Python clock around an entry
_CLOCK_TOL_S = 0.02
_MB = 1024.0 * 1024.0


def _union_s(intervals) -> float:
    busy, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy


class Tracer:
    """Per-entry ledger for one Spark session. ``install``/``uninstall``
    toggle every hook, so one process can alternate traced and
    untraced passes."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls = 0
        self.spans: list[tuple[str, float, float]] = []
        self._saved: list[tuple[object, str, object]] = []
        self._seq = 0

    # -- hooks ---------------------------------------------------------
    def install(self) -> None:
        if self._saved:
            return
        from py4j.java_gateway import GatewayClient

        send = GatewayClient.send_command
        tracer = self

        @functools.wraps(send)
        def counted(client, *args, **kwargs):
            tracer.calls += 1
            return send(client, *args, **kwargs)

        self._patch(GatewayClient, "send_command", counted)
        for span, (mod_name, attr) in SPANS.items():
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._patch(mod, attr, self._span_wrapper(span, fn))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    @property
    def installed(self) -> bool:
        return bool(self._saved)

    def _patch(self, owner, attr, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _span_wrapper(self, span: str, fn):
        spans = self.spans

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.append((span, t0, time.time()))

        return wrapped

    # -- per entry -----------------------------------------------------
    def begin_entry(self, name: str) -> str:
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(group, name)
        self.calls = 0
        self.spans.clear()
        return group

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def end_entry(
        self, group: str, t0: float, t1: float, build_s: float, calls: int, frames
    ) -> dict:
        """Ledger of one entry that ran from epoch ``t0`` to ``t1`` and
        made ``calls`` py4j calls. Called after the entry's timer stopped
        and after the listener bus was drained: job end events reach the
        status store through the bus, and right after the action returns
        they may not be there yet."""
        spans = list(self.spans)
        self.clear_group()
        store = self.sc._jsc.sc().statusStore()
        jobs, stage_ids = [], set()
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(job_id)
            sub, done = jd.submissionTime(), jd.completionTime()
            jobs.append(
                (
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    done.get().getTime() / 1000.0 if done.isDefined() else None,
                )
            )
            ids = jd.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        rec = dict.fromkeys(
            (
                "stages tasks run_s cpu_s gc_s shuffle_read_mb shuffle_write_mb "
                "spill_mb input_mb output_mb"
            ).split(),
            0.0,
        )
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numCompleteTasks()
            rec["run_s"] += sd.executorRunTime() / 1000.0
            rec["cpu_s"] += sd.executorCpuTime() / 1e9
            rec["gc_s"] += sd.jvmGcTime() / 1000.0
            rec["shuffle_read_mb"] += sd.shuffleReadBytes() / _MB
            rec["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
            rec["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            rec["input_mb"] += sd.inputBytes() / _MB
            rec["output_mb"] += sd.outputBytes() / _MB
        wall = t1 - t0
        problems = []
        intervals = []
        for sub, done in jobs:
            if sub is None or done is None:
                problems.append("job without submission or completion time")
            elif sub < t0 - _CLOCK_TOL_S or done > t1 + _CLOCK_TOL_S:
                problems.append(
                    f"job [{sub - t0:+.3f}, {done - t0:+.3f}] s outside entry [0, {wall:.3f}] s"
                )
            else:
                intervals.append((max(sub, t0), min(done, t1)))
        busy = _union_s(intervals)
        gap = wall - busy
        if gap < -_CLOCK_TOL_S:
            problems.append(f"job-busy {busy:.3f} s exceeds wall {wall:.3f} s")
        phases = dict.fromkeys(("analysis", "optimization", "planning"), 0.0)
        for df in frames:
            it = df._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in phases:
                    phases[kv._1()] += float(kv._2().durationMs())
        span_rec = {}
        for span, a, b in spans:
            calls_, wall_, jobs_ = span_rec.get(span, (0, 0.0, 0))
            n_jobs = sum(1 for s, _ in jobs if s is not None and a <= s <= b + _CLOCK_TOL_S)
            span_rec[span] = (calls_ + 1, wall_ + (b - a), jobs_ + n_jobs)
        rec.update(
            wall_s=wall,
            build_s=build_s,
            jobs=len(jobs),
            job_busy_s=busy,
            gap_s=gap,
            py4j_calls=calls,
            analysis_ms=phases["analysis"],
            optimization_ms=phases["optimization"],
            planning_ms=phases["planning"],
            spans=span_rec,
            problems=problems,
        )
        return rec


def pass_layers(entries: list[dict]) -> dict[str, float]:
    """Sum one traced pass's entry ledgers into per-layer metrics."""
    tot = lambda key: sum(e[key] for e in entries)  # noqa: E731
    out = {
        "queries.build_s": tot("build_s"),
        "py4j.calls": tot("py4j_calls"),
        "catalyst.analysis_ms": tot("analysis_ms"),
        "catalyst.optimization_ms": tot("optimization_ms"),
        "catalyst.planning_ms": tot("planning_ms"),
        "exec.jobs": tot("jobs"),
        "exec.stages": tot("stages"),
        "exec.tasks": tot("tasks"),
        "exec.job_busy_s": tot("job_busy_s"),
        "exec.run_s": tot("run_s"),
        "exec.cpu_s": tot("cpu_s"),
        "exec.offcpu_s": tot("run_s") - tot("cpu_s"),
        "exec.gc_s": tot("gc_s"),
        "exec.shuffle_read_mb": tot("shuffle_read_mb"),
        "exec.shuffle_write_mb": tot("shuffle_write_mb"),
        "exec.spill_mb": tot("spill_mb"),
        "catalog.input_mb": tot("input_mb"),
        "catalog.output_mb": tot("output_mb"),
        "driver.gap_s": tot("gap_s"),
    }
    for span in SPANS:
        recs = [e["spans"][span] for e in entries if span in e["spans"]]
        for i, field in enumerate(SPAN_FIELDS):
            out[f"span.{span}.{field}"] = sum(r[i] for r in recs)
    return out
