"""Self-tests for the benchmark (not part of the engine's test suite):

    python3 -m pytest perfbench/tests -q

They run the benchmark's own machinery on sf0.001 tables generated
into a temporary directory.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import check  # noqa: E402
import datagen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from worker import Runner  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL = ("latest_order_per_customer", "asof_weekly_snapshots")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_match_what_runs_print():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    names = [*e2e, *layers, *(w["name"] for w in spec["workloads"])]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in [*e2e.values(), *layers.values()]:
        assert UNIT.match(unit), unit
    assert e2e == run.END_TO_END_UNITS
    assert layers == ledger.per_layer_units()
    assert len(layers) <= 128
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )


def test_datagen_is_a_function_of_the_seed():
    a, b, c = (datagen.build_tables(s, 0.001) for s in (5, 5, 6))
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000
    # a table does not depend on which other tables are built
    assert datagen.build_tables(5, 0.001, ["documents"])["documents"].equals(a["documents"])


def test_each_workload_reads_only_the_tables_it_generates(tmp_path):
    for workload, names in workloads.WORKLOADS.items():
        out = tmp_path / workload
        out.mkdir()
        odk = run.write_inputs(str(out), workload, 3, 0.001)
        written = {p.stem for p in out.glob("*.parquet")} - {"odk_raw", "odk_resolution"}
        assert written == set(workloads.READS[workload])
        # the oracles find every table they read among the views
        expected = run.expectations(str(out), odk, names, workloads.READS[workload])
        assert set(expected) == set(names)


@pytest.fixture(scope="module")
def data(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("sf0.001"))
    tables = datagen.write_tables(out, 3, 0.001)
    odk = datagen.write_odk_inputs(out, tables["events"], 3)
    return out, odk


@pytest.fixture(scope="module")
def spark():
    from bohemia_kenya_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _expected(data, names):
    return run.expectations(data[0], data[1], names, datagen.TABLES)


def _entries(data, names):
    from bohemia_kenya_data_pipeline_spark.queries import QUERIES

    return workloads.entries(names, data[1], QUERIES)


def test_outputs_match_and_a_corrupted_result_counts_as_failed(spark, data):
    names = [workloads.CLEANING_DAG, *SMALL]
    expected = _expected(data, names)
    runner = Runner(spark, _entries(data, names), expected, data[0])
    runner.run_pass(traced=False)
    assert (runner.attempted, runner.failures) == (3, [])

    # one wrong row in a registered entry's expectation, and one
    # anomaly too many in the cleaning DAG's
    cols, plain, tagged = expected[SMALL[0]]
    bad_row = tuple(v + 1 if isinstance(v, int) else v for v in plain[0])
    expected[SMALL[0]] = (cols, [bad_row, *plain[1:]], tagged)
    expected[workloads.CLEANING_DAG] = dict(
        expected[workloads.CLEANING_DAG], anomalies=expected[workloads.CLEANING_DAG]["anomalies"] + 1
    )
    runner.run_pass(traced=False)
    assert runner.attempted == 6
    assert sorted(f.split(":")[0] for f in runner.failures) == sorted(
        [SMALL[0], workloads.CLEANING_DAG]
    )


def test_an_entry_that_raises_counts_as_failed(spark, data):
    def broken(spark_, data_dir):
        raise RuntimeError("boom")

    entry = workloads.Entry("broken", broken, lambda built: built)
    runner = Runner(spark, [entry], {}, data[0])
    rec = runner.run_pass(traced=False)
    assert runner.attempted == 1 and runner.failures == ["broken: RuntimeError: boom"]
    assert rec["walls"] == {}


def test_traced_pass_ledger_reconciles(spark, data):
    names = [workloads.CLEANING_DAG, *SMALL]
    runner = Runner(spark, _entries(data, names), _expected(data, names), data[0], ledger.Tracer(spark))
    rec = runner.run_pass(traced=True)
    assert runner.failures == []
    assert [e["name"] for e in rec["ledgers"]] == names
    for e in rec["ledgers"]:
        assert e["problems"] == []
        assert e["jobs"] >= 1 and e["tasks"] >= 1 and e["py4j_calls"] > 0
        assert 0.0 < e["job_busy_s"] <= e["wall_s"] + 0.02
        assert e["job_busy_s"] + e["gap_s"] == pytest.approx(e["wall_s"])
        assert e["wall_s"] == pytest.approx(rec["walls"][e["name"]], abs=0.05)
    dag = rec["ledgers"][0]
    assert dag["spans"]["jobs.clean_form"][0] == 1
    assert dag["spans"]["quality.drop_empty_columns"][2] >= 1  # its eager count job
    # every per-layer metric comes from the pass ledgers except the
    # ones the worker measures around the passes
    units = ledger.per_layer_units()
    layers = ledger.pass_layers(rec["ledgers"])
    assert set(units) - set(layers) == {
        "session.import_s",
        "session.start_s",
        "cold.build_s",
        "cold.job_busy_s",
        "cold.gap_s",
        "driver.peak_rss_mb",
        "trace.overhead_frac",
    }
    assert set(layers) <= set(units)


def test_untraced_pass_installs_no_wrappers(spark, data):
    import importlib

    from py4j.java_gateway import GatewayClient

    originals = {
        span: getattr(importlib.import_module(mod), attr)
        for span, (mod, attr) in ledger.SPANS.items()
    }
    send = GatewayClient.send_command
    seen = []

    def probe(spark_, data_dir):
        seen.append(GatewayClient.send_command is send)
        seen.extend(
            getattr(importlib.import_module(mod), attr) is originals[span]
            for span, (mod, attr) in ledger.SPANS.items()
        )
        return spark_.range(3)

    entry = workloads.Entry("probe", probe, lambda df: (df.columns, df.collect(), [df]))
    expected = {"probe": check.spark_canonical(["id"], [{"id": i} for i in range(3)])}
    tracer = ledger.Tracer(spark)
    runner = Runner(spark, [entry], expected, data[0], tracer)
    runner.run_pass(traced=True)
    assert not all(seen) and not tracer.installed
    seen.clear()
    runner.run_pass(traced=False)
    assert seen and all(seen)
    assert runner.failures == []


def test_run_fails_without_the_engine_package(tmp_path):
    import shutil
    import subprocess

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "trial_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""
