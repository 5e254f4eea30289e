"""Static source invariants — the grep checks the round-6/7 verdicts
ran by hand, codified so they can't regress silently.

1. No row-at-a-time Python UDFs anywhere in the package: Python-side
   compute is Arrow-batched (pandas_udf / mapInPandas) only, where no
   built-in exists. `F.udf(` in the hot path is the 10-100x slow
   class (SCALING.md "Python stays off the hot path").
2. No removable-empty-string `F.filter` lambdas: `F.filter(xs,
   lambda t: t != "")` is interpreted PER ELEMENT and drops out of
   whole-stage codegen, while `F.array_remove(xs, "")` is native and
   value-identical — the r6 tokenizer / r7 bpe+url fixes. Higher-order
   filters with GENUINE predicates (rlike, endswith, positional,
   runtime-array comparisons) are allowed; only the equality-to-""
   pattern has a native replacement.
3. No schema-inferring parquet reads in the lifecycle modules: a
   ``.read[.option(...)].parquet(`` chain without ``.schema(`` runs a
   footer-inference Spark job per call. The lifecycle ticks read
   parquet the engine itself wrote, so they go through
   ``session.parquet_scan`` (schema from a local footer); only the
   reads of EXTERNAL input listed below may infer.
4. No implementation-selector parameters on public operator/job
   functions: the engine picks its own kernels from what it observes
   (e.g. the IVF C×D rule), so a ``plan=``/``kernel=``/``assign=``
   style knob may not creep back. The allow-list names the two kept
   on purpose, each with its reason.
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / (
    "bohemia_kenya_data_pipeline_spark"
)


def _sources() -> list[tuple[str, str]]:
    return [
        (str(p.relative_to(PKG.parent)), p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    ]


def test_no_row_at_a_time_udf():
    hits = [
        f"{name}:{i}"
        for name, src in _sources()
        for i, line in enumerate(src.splitlines(), 1)
        if re.search(r"\bF\.udf\(|\@udf\b|functions\.udf\(", line)
    ]
    assert hits == [], f"row-at-a-time UDFs found: {hits}"


def test_no_removable_empty_string_filter_lambda():
    # the banned shape: F.filter(..., lambda X: X != "") or the
    # equivalent == ""/negation — replace with F.array_remove(..., "")
    pat = re.compile(
        r"F\.filter\([^)]*lambda\s+\w+\s*:\s*\w+\s*(?:!=|==)\s*(?:\"\"|'')"
    )
    hits = [
        f"{name}:{i}"
        for name, src in _sources()
        for i, line in enumerate(src.splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == [], (
        f"removable empty-string filter lambdas (use array_remove): {hits}"
    )


def test_extra_conf_typo_fails_loud(monkeypatch):
    # a pair without '=' must raise, not silently apply a no-op key —
    # otherwise an adversarial-config sweep green-lights the defaults
    import pytest

    from bohemia_kenya_data_pipeline_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.sql.adaptive.enabled:false")
    with pytest.raises(ValueError, match="not 'key=value'"):
        get_spark(app_name="conf-typo-test")
    monkeypatch.setenv(
        "SPARK_GRAFT_EXTRA_CONF", "=false;spark.sql.adaptive.enabled=false"
    )
    with pytest.raises(ValueError, match="not 'key=value'"):
        get_spark(app_name="conf-typo-test")


#: modules whose ticks read engine-written parquet on every batch
LIFECYCLE_MODULES = (
    "operators/maintenance.py",
    "operators/skipping.py",
    "operators/dedup.py",
    "jobs/retrieval.py",
)

#: (module, function) of the reads of external input, which may infer
INFERRING_READ_ALLOWED = {
    ("operators/maintenance.py", "dataset_file_stats"),
    ("operators/maintenance.py", "compact"),
}


def _inferring_parquet_reads(src: str) -> set[tuple[str, int]]:
    """(innermost enclosing function, line) of every ``<x>.read``
    [``.option(...)``/``.options(...)``] ``.parquet(...)`` call chain,
    i.e. a parquet read that sets no schema."""
    hits: dict[int, tuple[int, str]] = {}
    for fn in ast.walk(ast.parse(src)):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                continue
            obj = node.func.value
            while (
                isinstance(obj, ast.Call)
                and isinstance(obj.func, ast.Attribute)
                and obj.func.attr in ("option", "options")
            ):
                obj = obj.func.value
            if isinstance(obj, ast.Attribute) and obj.attr == "read":
                # nested functions: keep the innermost (latest start)
                if node.lineno not in hits or hits[node.lineno][0] < fn.lineno:
                    hits[node.lineno] = (fn.lineno, fn.name)
    return {(name, line) for line, (_, name) in hits.items()}


def test_inferring_read_detector_can_fail():
    src = (
        "def f(spark, p, fs):\n"
        "    a = spark.read.parquet(p)\n"
        "    b = spark.read.option('basePath', p).parquet(\n"
        "        *fs)\n"
        "    c = spark.read.schema('a INT').option('basePath', p).parquet(*fs)\n"
        "    spark.range(1).write.mode('overwrite').parquet(p)\n"
    )
    assert _inferring_parquet_reads(src) == {("f", 2), ("f", 3)}


def test_lifecycle_modules_read_engine_parquet_without_inference():
    found = {
        (mod, name)
        for mod in LIFECYCLE_MODULES
        for name, _ in _inferring_parquet_reads((PKG / mod).read_text())
    }
    assert found - INFERRING_READ_ALLOWED == set(), (
        "schema-inferring parquet read in a lifecycle module: use "
        "session.parquet_scan for engine-written data"
    )
    # the allow-list names live external-input reads, not stale ones
    assert INFERRING_READ_ALLOWED <= found


#: parameter names that choose between implementations of one contract
SELECTOR_PARAMS = frozenset(
    {
        "plan",
        "strategy",
        "cap_strategy",
        "kernel",
        "assign",
        "train",
        "pin_leftovers",
        "cache_inputs",
        "probe_partitions",
        "persist_each",
    }
)

#: (module, function, parameter) -> why this selector stays public
SELECTOR_ALLOWED = {
    ("operators/dedup.py", "minhash_signatures", "plan"): (
        "production uses both values: _minhash_band_rows needs 'agg' so "
        "its exchange is reused across the band self-join"
    ),
    ("operators/graph.py", "pagerank", "persist_each"): (
        "lineage truncation for deep iteration counts (SCALING.md); "
        "deriving it from n_iter is a separate design question"
    ),
}


def _selector_params(src: str) -> set[tuple[str, str]]:
    """(function, parameter) for every module-level public function
    taking a parameter named in SELECTOR_PARAMS."""
    hits = set()
    for fn in ast.parse(src).body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fn.name.startswith("_"):
            continue
        a = fn.args
        for arg in a.posonlyargs + a.args + a.kwonlyargs:
            if arg.arg in SELECTOR_PARAMS:
                hits.add((fn.name, arg.arg))
    return hits


def test_selector_param_detector_can_fail():
    src = (
        "def f(df, plan='x'):\n"
        "    return df\n"
        "def g(df, *, kernel='auto'):\n"
        "    return df\n"
        "def _private(df, plan='x'):\n"
        "    return df\n"
        "def h(df, n=1):\n"
        "    def plan(kernel):\n"
        "        return kernel\n"
        "    return df\n"
    )
    assert _selector_params(src) == {("f", "plan"), ("g", "kernel")}


def test_no_implementation_selector_params():
    found = {
        (str(p.relative_to(PKG).as_posix()), fn, arg)
        for p in sorted(PKG.glob("operators/*.py")) + sorted(PKG.glob("jobs/*.py"))
        for fn, arg in _selector_params(p.read_text())
    }
    assert found - set(SELECTOR_ALLOWED) == set(), (
        "implementation-selector parameter on a public function: let the "
        "engine pick the kernel, or justify it in SELECTOR_ALLOWED"
    )
    # the allow-list names live parameters, not stale ones
    assert set(SELECTOR_ALLOWED) <= found
