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
