"""Self-tests of the benchmark: generator, correctness gate, counters.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run as bench_run  # noqa: E402
import salesgen  # noqa: E402
import workloads  # noqa: E402


def _md5(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    days = [(d, 30) for d in range(6)]
    paths = []
    for i, seed in enumerate((11, 11, 12)):
        p = str(tmp_path / f"s{i}.csv")
        salesgen.SalesGenerator(seed, span_days=6).write(p, days)
        paths.append(p)
    assert _md5(paths[0]) == _md5(paths[1])
    assert _md5(paths[0]) != _md5(paths[2])


def test_every_defect_class_is_generated(tmp_path):
    p = str(tmp_path / "s.csv")
    exp = salesgen.SalesGenerator(3, span_days=4).write(
        p, [(d, 300) for d in range(4)])
    with open(p, encoding="utf-8") as fh:
        text = fh.read().splitlines()
    assert text.count(salesgen.HEADER) >= 2  # the header, then repeats
    assert ",,,,," in text
    assert any(line.startswith(",") and line != ",,,,," for line in text)
    assert exp.invalid["cast_failure"] >= 4  # header, date, qty, price
    assert exp.invalid["null_required_field"] >= 1
    assert exp.valid_rows > exp.cleansed  # exact duplicates collapse
    assert exp.product_versions > exp.products  # SCD2 price changes
    assert exp.state_postals == 10  # Portland OR and Portland ME


def test_oracle_cache_is_current():
    """Every headline query's cached oracle digest matches its SQL and
    the tables, so no run has to recompute it."""
    from bench import HEADLINE
    from sales_data_warehouse_spark.queries.corpus import ORACLE

    with open(oracle.CACHE, encoding="utf-8") as fh:
        cache = json.load(fh)
    assert cache["tables"] == oracle.tables_sha(oracle.TABLES_DIR)
    for q in HEADLINE:
        assert cache["queries"][q]["sql"] == hashlib.sha256(
            ORACLE[q].encode()).hexdigest(), q


def test_tail_is_the_eleventh_largest():
    assert workloads.tail(list(range(1, 33))) == 22
    assert workloads.tail([3.0, 1.0, 2.0]) == 3.0  # too few: the maximum


def test_benchmark_json_declares_what_run_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["end_to_end"]} == bench_run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == bench_run.PER_LAYER
    assert len(spec["per_layer"]) <= 128
    assert {w["name"] for w in spec["workloads"]} == set(
        workloads.WORKLOADS)
    assert spec["run_seconds"] >= 1


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    s = bench_run._session(work)
    yield s
    bench_run._stop(s)


def _small_run(spark, tmp_path, trace=False):
    return workloads.Run(spark, str(tmp_path), seed=5, seconds=1.0,
                         trace=trace)


@pytest.mark.parametrize("dense", [False, True])
def test_invariants_match_run_etl(spark, tmp_path, dense):
    from sales_data_warehouse_spark.etl import run_etl

    csv = str(tmp_path / "sales.csv")
    exp = salesgen.SalesGenerator(5, span_days=8).write(
        csv, [(d, 25) for d in range(8)])
    out = str(tmp_path / "wh")
    res = run_etl(spark, csv, output_dir=out, dense=dense)
    assert workloads.check_warehouse(
        out, exp, dense, res.landing.count()) == []


def test_a_wrong_expectation_counts_as_failed(spark, tmp_path):
    from sales_data_warehouse_spark.etl import run_etl

    csv = str(tmp_path / "sales.csv")
    exp = salesgen.SalesGenerator(6, span_days=4).write(
        csv, [(d, 20) for d in range(4)])
    wrong = dataclasses.replace(exp, cleansed=exp.cleansed + 1)
    run = _small_run(spark, tmp_path)
    for i, want in enumerate((exp, wrong)):
        out = str(tmp_path / f"wh{i}")
        run.op("etl", lambda: run_etl(spark, csv, output_dir=out),
               lambda res: workloads.check_warehouse(
                   out, want, False, res.landing.count()))
    assert (run.attempted, run.failed) == (2, 1)
    assert "cleansed rows" in run.failures[0]


def test_query_counters_repeat_exactly(spark, tmp_path):
    """Shuffle bytes and task counts of a corpus query are identical
    across two traced runs: counters are evidence where wall time is
    not."""
    from sales_data_warehouse_spark.queries.corpus import QUERIES

    tables = oracle.TABLES_DIR
    run = _small_run(spark, tmp_path, trace=True)
    seen = []
    for _ in range(3):  # the first run also compiles; compare the others
        run.op("query", lambda: QUERIES["window_top1_per_group"](
            spark, tables).collect(), lambda _: [], traced=True)
        totals = run.tracer.op_totals(run.tracer.spans[-1])
        seen.append((totals["tasks"], totals["shuffle_bytes"]))
    assert seen[1] == seen[2]
    assert seen[1][1] > 0
