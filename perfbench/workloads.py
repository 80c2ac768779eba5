"""The benchmark's workloads, their correctness gates and their metrics.

Every workload makes its inputs from the seed, sets up, warms up (the
warm-up counts in ``setup_s``), then repeats its unit operation (closed
loop, one call at a time) for about ``seconds`` of wall time
(:meth:`Run.loop`):

* ``etl_dense_month`` -- op: ``run_etl(output_dir=..., dense=True)`` on a
  32-day sales CSV of ~7k rows; the cube (days x product versions x
  locations, ~4.5M rows) is ~650x the input rows, so ``dense_fact`` and
  the fact write dominate.
* ``corpus_queries`` -- op: a pass over the 32 ``bench.py`` HEADLINE
  entries of ``queries.corpus.QUERIES`` in seed-shuffled order, each
  collected into Python, on the fixed scale-0.01 tables in
  ``data/sf0.01``. Reads only.

Daily increments and streaming drains are traced, with their layers, in
the traced run of ``etl_dense_month`` (:class:`IncrementProbe`).

Every op is checked outside its timed region; an op that raises or fails
its check counts in ``failed``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from decimal import Decimal

import duckdb

from bench import HEADLINE

import oracle
import salesgen
from spans import Tracer, wrap_layers

#: shape of each workload's inputs: the dense month is ~3/4 of the
#: reference's size (~7k landing rows over 32 days, about one address per
#: order), as large as the benchmark's time allows
DENSE_DAYS, DENSE_ORDERS_PER_DAY = 32, 200
BASE_DAYS, BASE_ORDERS_PER_DAY = 31, 20
INCREMENT_ORDERS_PER_DAY, INCREMENT_PROBE_DAYS = 300, 2
#: set-up is repeated this many times; ``setup_s`` takes the median
SETUP_REPEATS = 3


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest value); the maximum when there are fewer samples."""
    ordered = sorted(values)
    return ordered[-11] if len(ordered) > 10 else ordered[-1]


def parquet_bytes(root: str, since: set[str] | None = None) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``root`` not in ``since``."""
    total = files = 0
    for path in parquet_files(root) - (since or set()):
        total += os.path.getsize(path)
        files += 1
    return total, files


def parquet_files(root: str) -> set[str]:
    return {
        os.path.join(d, f)
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    }


class Run:
    """State of one benchmark run: session, scratch directory, op
    accounting and, with tracing, the tracer."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(spark, f"seed{seed}") if trace else None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        self._tick = os.sysconf("SC_CLK_TCK")

    # -- measurement -------------------------------------------------
    def jvm_cpu_s(self) -> float:
        with open(f"/proc/{self._jvm_pid}/stat", encoding="ascii") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self._tick

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self._jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def op(self, name: str, fn, check, traced: bool = False):
        """Time ``fn()``, then check its result untimed. Returns
        ``(seconds, cpu_seconds, result)`` or ``None`` if it failed."""
        self.attempted += 1
        span = (self.tracer.span(name, op=True) if traced
                else nullcontext())
        try:
            with span:
                c0, t0 = self.jvm_cpu_s(), time.perf_counter()
                result = fn()
                elapsed = time.perf_counter() - t0
                cpu = self.jvm_cpu_s() - c0
        except Exception as exc:  # the op's failure is a measured outcome
            return self._fail(name, f"raised {exc!r}")
        try:
            problems = check(result)
        except Exception as exc:
            problems = [f"check raised {exc!r}"]
        if problems:
            return self._fail(name, "; ".join(problems))
        print(f"perfbench: {name} {elapsed:.3f} s, cpu {cpu:.2f} s",
              file=sys.stderr, flush=True)
        return elapsed, cpu, result

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        msg = f"{name}: {why}"[:500]
        self.failures.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)
        return None

    def loop(self, step, min_ops: int) -> None:
        """Call ``step(i)`` at least ``min_ops`` times, then for as long
        as the next call, taking as long as the last, would end within
        ``seconds`` of the start. The work measured then stays the same
        from run to run unless the program's speed changes a lot."""
        start = time.perf_counter()
        i = 0
        while True:
            t0 = time.perf_counter()
            step(i)
            i += 1
            now = time.perf_counter()
            if i >= min_ops and now - start + (now - t0) > self.seconds:
                return

    def setup_repeated(self, make) -> float:
        """Run the repeatable set-up ``make(k)`` several times into fresh
        directories; return the median wall time."""
        times = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            make(k)
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


def _mismatch(problems: list[str], what: str, got, want) -> None:
    if got != want:
        problems.append(f"{what}: got {got}, expected {want}")


def _scan(table_dir: str) -> str:
    return f"read_parquet('{table_dir}/**/*.parquet')"


def check_warehouse(out: str, exp: salesgen.Expected, dense: bool,
                    landing_rows: int | None = None) -> list[str]:
    """A warehouse directory against the generator's expected figures."""
    return (check_totals(out, exp, dense, landing_rows)
            + check_dimensions(out, exp))


def check_totals(out: str, exp: salesgen.Expected, dense: bool,
                 landing_rows: int | None = None) -> list[str]:
    """Row counts and sums of the invalid, cleansed and fact tables,
    read back with DuckDB: an independent reader, and no Spark jobs
    between the timed ones."""
    p: list[str] = []
    if landing_rows is not None:
        _mismatch(p, "landing rows", landing_rows, exp.landing)
    with duckdb.connect() as con:
        inv = dict(con.execute(
            f"SELECT reject_reason, count(*) FROM {_scan(out + '/invalid')}"
            " GROUP BY 1").fetchall())
        _mismatch(p, "invalid by reason", inv, exp.invalid)
        cleansed = con.execute(
            f"SELECT count(*) FROM {_scan(out + '/cleansed')}").fetchone()[0]
        _mismatch(p, "cleansed rows", cleansed, exp.cleansed)
        fact = con.execute(
            "SELECT count(*), sum(quantity_ordered),"
            " sum(quantity_ordered * price_each)"
            f" FROM {_scan(out + '/fact')}").fetchone()
    _mismatch(p, "fact rows", fact[0],
              exp.dense_rows if dense else exp.cleansed)
    _mismatch(p, "fact sum(qty)", fact[1], exp.qty)
    _mismatch(p, "fact sum(revenue)", fact[2],
              Decimal(exp.revenue_cents) / 100)
    return p


def check_dimensions(out: str, exp: salesgen.Expected) -> list[str]:
    """Sizes of the time, product (SCD2) and location dimensions."""
    p: list[str] = []
    with duckdb.connect() as con:
        days = con.execute(
            f"SELECT count(*) FROM {_scan(out + '/time_dimension')}"
        ).fetchone()[0]
        prod = con.execute(
            "SELECT count(*), count(DISTINCT product_name)"
            f" FROM {_scan(out + '/product_dimension')}").fetchone()
        loc = con.execute(
            "SELECT count(*), count(DISTINCT (state_name, postal))"
            f" FROM {_scan(out + '/location_dimension')}").fetchone()
    _mismatch(p, "days", days, exp.days)
    _mismatch(p, "product versions", prod[0], exp.product_versions)
    _mismatch(p, "products", prod[1], exp.products)
    _mismatch(p, "locations", loc[0], exp.locations)
    _mismatch(p, "(state, postal)", loc[1], exp.state_postals)
    return p


def _forced(dfs: tuple) -> tuple:
    """Run every DataFrame in ``dfs`` to completion, discarding rows."""
    for df in dfs:
        df.write.format("noop").mode("overwrite").save()
    return dfs


class _LayerFailed(Exception):
    """A layer of the traced ETL pass failed; the next ones need it."""


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------
class EtlDenseMonth:
    name = "etl_dense_month"
    min_ops = 2

    def __init__(self, run: Run) -> None:
        self.run = run
        self.times: list[tuple[float, float, bool]] = []
        self.ratios: list[float] = []

    def setup(self) -> float:
        def make(k: int) -> None:
            d = f"{self.run.work}/input{k}"
            os.makedirs(d)
            self.csv = f"{d}/sales.csv"
            self.expected = salesgen.SalesGenerator(
                self.run.seed, span_days=DENSE_DAYS
            ).write(self.csv, [
                (day, DENSE_ORDERS_PER_DAY) for day in range(DENSE_DAYS)])
        return self.run.setup_repeated(make)

    def _etl(self, out: str, traced: bool = False):
        from sales_data_warehouse_spark.etl import run_etl

        spark = self.run.spark
        return self.run.op(
            "etl",
            lambda: run_etl(spark, self.csv, output_dir=out, dense=True),
            lambda res: check_warehouse(out, self.expected, True,
                                        res.landing.count()),
            traced=traced,
        )

    def warm_up(self) -> float:
        """One ETL run, checked; returns its wall time."""
        out = f"{self.run.work}/warm_up"
        t0 = time.perf_counter()
        got = self._etl(out)
        shutil.rmtree(out, ignore_errors=True)
        return got[0] if got is not None else time.perf_counter() - t0

    def measure(self) -> None:
        trace = self.run.tracer is not None

        def step(i: int) -> None:
            # with tracing, ops go untraced, traced, ...: the difference
            # of the two medians is the tracing overhead
            traced = trace and i % 2 == 1
            out = f"{self.run.work}/warehouse{i}"
            got = self._etl(out, traced)
            if got is not None:
                self.times.append((got[0], got[1], traced))
                written, _ = parquet_bytes(out)
                self.ratios.append(written / os.path.getsize(self.csv))
            if traced and i == 1:
                self.traced_out = out
            else:
                shutil.rmtree(out, ignore_errors=True)

        if trace:
            # the first run after the warm-up is still slower than the
            # rest; with it untimed, untraced and traced runs compare
            # like with like
            self.warm_up()
        self.run.loop(step, self.min_ops)

    def metrics(self) -> dict[str, float]:
        untraced = [t for t in self.times if not t[2]]
        return {
            "op_p50_s": _median([t[0] for t in untraced]),
            "op_cpu_s": _median([t[1] for t in untraced]),
        }

    def layers(self) -> dict[str, float]:
        """Traced only: the ETL's layers one at a time, from outside."""
        from sales_data_warehouse_spark.operators.cleansing import cleanse
        from sales_data_warehouse_spark.operators.fact import (
            build_fact, dense_fact)
        from sales_data_warehouse_spark.operators.location_dimension import (
            build_location_dimension)
        from sales_data_warehouse_spark.operators.product_dimension import (
            build_product_dimension)
        from sales_data_warehouse_spark.operators.time_dimension import (
            build_time_dimension)
        from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv
        from sales_data_warehouse_spark.sources.parquet_io import write_table

        run, spark = self.run, self.run.spark
        out: dict[str, float] = {}
        held = []

        def record(name: str, seconds: float) -> None:
            out[f"{name}.s"] = seconds
            counters = run.tracer.op_totals(run.tracer.spans[-1])
            for k in ("jobs", "tasks", "cpu_s", "shuffle_bytes"):
                out[f"{name}.{k}"] = counters[k]
            if name in ("fact", "cube"):
                out[f"{name}.spill_bytes"] = counters["spill_bytes"]

        def layer(name: str, make):
            """Force every DataFrame ``make()`` returns with a noop sink,
            inside an op span; return the first, persisted, as the next
            layer's input."""
            got = run.op(name, lambda: _forced(make()), lambda _: [],
                         traced=True)
            if got is None:
                raise _LayerFailed(name)
            record(name, got[0])
            kept = got[2][0].persist()
            held.append(kept)
            out[f"{name}.rows"] = kept.count()
            return kept

        try:
            landing = layer("ingest", lambda: (ingest_csv(spark, self.csv),))
            cleansed = layer("cleanse", lambda: cleanse(landing))
            out["cleanse.useful_ratio"] = (
                out["cleanse.rows"] / out["ingest.rows"])
            time_dim = layer("dim_time",
                             lambda: (build_time_dimension(cleansed),))
            loc_dim = layer("dim_location",
                            lambda: (build_location_dimension(cleansed),))
            prod_dim = layer("dim_product",
                             lambda: (build_product_dimension(cleansed),))
            fact = layer("fact", lambda: (build_fact(
                cleansed, prod_dim, loc_dim, time_dim),))
            layer("cube", lambda: (dense_fact(
                fact, prod_dim, loc_dim, time_dim),))
        except _LayerFailed:
            pass  # counted as failed; later layers read 0
        for df in held:
            df.unpersist()

        # the write layer: the committed cube re-written, as run_etl does
        cube = spark.read.parquet(f"{self.traced_out}/fact")
        target = f"{run.work}/write_layer"
        got = run.op(
            "write",
            lambda: write_table(cube, target, partition_by=["month_id"]),
            lambda _: [], traced=True)
        if got is not None:
            record("write", got[0])
            out["write.bytes"], out["write.files"] = parquet_bytes(target)

        # run_etl itself, split by the program's job descriptions
        etl_ops = [s for s in run.tracer.spans if s.name == "etl"
                   and s.parent is None]
        for (op_id, bucket), c in run.tracer.counters.items():
            if any(s.id == op_id for s in etl_ops):
                key = f"etl.{bucket}.jobs"
                out[key] = out.get(key, 0) + c["jobs"] / len(etl_ops)
        traced_etl = [t[0] for t in self.times if t[2]]
        out["etl_s"] = _median(traced_etl)
        out["trace_overhead_s"] = out["etl_s"] - self.metrics()["op_p50_s"]
        layer_sum = sum(out[f"{n}.s"] for n in (
            "ingest", "cleanse", "dim_time", "dim_location", "dim_product",
            "fact", "cube", "write") if f"{n}.s" in out)
        out["etl.layer_sum_over_etl"] = layer_sum / out["etl_s"]
        out["warehouse_bytes_per_input_byte"] = _median(self.ratios)

        probe = IncrementProbe(run)
        probe.setup()
        probe.run_days(INCREMENT_PROBE_DAYS)
        out.update(probe.layers())
        return out


# ---------------------------------------------------------------------
class IncrementProbe:
    """Daily increments, traced: a base month built with ``run_etl``,
    then ~330-row daily CSVs folded in both ways -- ``run_etl_increment``
    into the warehouse, and a ``start_streaming_etl(available_now=True)``
    drain of the same file into a separate output. Run inside the traced
    run of ``etl_dense_month`` for the merge, append and stream layers
    (not a workload of its own: see the README)."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.dir = f"{run.work}/increments"
        self.days: list[dict] = []

    def setup(self) -> None:
        d = f"{self.dir}/input"
        os.makedirs(d)
        # one untimed day, then the traced ones
        days = INCREMENT_PROBE_DAYS + 1
        gen = salesgen.SalesGenerator(
            self.run.seed, span_days=BASE_DAYS + days)
        self.base_csv = f"{d}/base.csv"
        gen.write(self.base_csv, [
            (day, BASE_ORDERS_PER_DAY) for day in range(BASE_DAYS)])
        self.day_csvs = []
        for day in range(BASE_DAYS, BASE_DAYS + days):
            path = f"{d}/day{day:03d}.csv"
            gen.write(path, [(day, INCREMENT_ORDERS_PER_DAY)])
            self.day_csvs.append(path)
        self.gen = gen

    def run_days(self, days: int) -> None:
        """Build the base warehouse, fold in one untimed day, then
        ``days`` traced ones; check the merged dimensions at the end."""
        from sales_data_warehouse_spark.etl import run_etl

        run, spark = self.run, self.run.spark
        self.warehouse = f"{self.dir}/warehouse"
        self.stream_out = f"{self.dir}/stream"
        self.drop = f"{self.dir}/drop"
        os.makedirs(self.drop)
        run.op(
            "base_etl",
            lambda: run_etl(spark, self.base_csv, output_dir=self.warehouse),
            lambda _: check_warehouse(self.warehouse,
                                      self.gen.expected_total(0, 1), False),
        )
        for k in range(days + 1):
            self._day(k, traced=k > 0)
        problems = check_dimensions(
            self.warehouse, self.gen.expected_total(0, days + 2))
        if problems:
            run._fail(f"increment day {days} dimensions", "; ".join(problems))

    def _day(self, k: int, traced: bool) -> None:
        from sales_data_warehouse_spark.etl import run_etl_increment
        from sales_data_warehouse_spark.streaming import start_streaming_etl

        run, spark = self.run, self.run.spark
        csv = self.day_csvs[k]
        before = parquet_files(self.warehouse)
        with wrap_layers(run.tracer) if traced else nullcontext():
            inc = run.op(
                "increment",
                lambda: run_etl_increment(spark, csv, self.warehouse),
                lambda _: check_totals(
                    self.warehouse, self.gen.expected_total(0, k + 2),
                    False),
                traced=traced,
            )
            _, files = parquet_bytes(self.warehouse, before)
            shutil.copy(csv, self.drop)

            def drain():
                q = start_streaming_etl(
                    spark, self.drop, self.stream_out, available_now=True)
                q.awaitTermination()
                return q

            stream = run.op(
                "stream", drain,
                lambda q: self._check_stream(q, k), traced=traced)
        if not traced:
            return
        day = {"files": files}
        if inc is not None:
            day["increment_s"] = inc[0]
        if stream is not None:
            day["stream_s"] = stream[0]
            day["progress"] = stream[2].recentProgress
        self.days.append(day)

    def _check_stream(self, q, k: int) -> list[str]:
        if q.exception() is not None:
            return [f"stream query failed: {q.exception()}"]
        exp = self.gen.expected_total(1, k + 1)
        p: list[str] = []
        with duckdb.connect() as con:
            for table, want in (("cleansed", exp.valid_rows),
                                ("invalid", exp.invalid_total)):
                got = con.execute(
                    f"SELECT count(*) FROM "
                    f"{_scan(f'{self.stream_out}/{table}')}").fetchone()[0]
                _mismatch(p, f"streamed {table} rows", got, want)
        return p

    def layers(self) -> dict[str, float]:
        tracer = self.run.tracer
        out: dict[str, float] = {}
        ops = {name: [s for s in tracer.spans
                      if s.name == name and s.parent is None]
               for name in ("increment", "stream")}
        n = {name: max(1, len(v)) for name, v in ops.items()}
        inc_ids = {s.id for s in ops["increment"]}
        for layer in ("merge_time", "merge_location", "merge_product",
                      "append"):
            out[f"{layer}.s"] = sum(
                s.end - s.start for s in tracer.spans
                if s.name == layer and s.parent in inc_ids
            ) / n["increment"]
            for k in ("jobs", "tasks"):
                out[f"{layer}.{k}"] = sum(
                    c[k] for (op_id, bucket), c in tracer.counters.items()
                    if op_id in inc_ids and bucket == layer
                ) / n["increment"]
        for name, spans in ops.items():
            for k in ("jobs", "tasks"):
                out[f"{name}.{k}"] = sum(
                    tracer.op_totals(s)[k] for s in spans) / n[name]
        out["append.files"] = _median([d["files"] for d in self.days])
        progress = [p for d in self.days for p in d.get("progress", [])]
        for part in ("addBatch", "queryPlanning", "walCommit"):
            out[f"stream.{part}_ms"] = sum(
                p.durationMs.get(part, 0) for p in progress
            ) / n["stream"]
        out["increment_p50_s"] = _median(
            [d["increment_s"] for d in self.days if "increment_s" in d])
        out["stream_day_p50_s"] = _median(
            [d["stream_s"] for d in self.days if "stream_s" in d])
        return out


# ---------------------------------------------------------------------
class CorpusQueries:
    name = "corpus_queries"
    #: each query's median over three passes or more
    min_ops = 3

    def __init__(self, run: Run) -> None:
        self.run = run
        self.tables = oracle.TABLES_DIR
        self.passes: list[dict[str, tuple[float, float]]] = []
        self.traced_passes: list[dict[str, tuple[float, float]]] = []

    def setup(self) -> float:
        """The tables are fixed; the seed shuffles the query order. The
        oracle's digests are loaded here, outside set-up time."""
        from sales_data_warehouse_spark.queries.corpus import ORACLE

        self.order = list(HEADLINE)
        random.Random(self.run.seed).shuffle(self.order)
        self.want = oracle.expected_digests({q: ORACLE[q] for q in HEADLINE})
        return 0.0

    def warm_up(self) -> float:
        """One pass, its queries submitted from a thread per core (the
        cold pass is mostly per-plan compilation, which overlaps), then
        checked. Returns the pass's wall time."""
        from concurrent.futures import ThreadPoolExecutor, wait

        run = self.run
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            results = {q: pool.submit(self._collect, q) for q in self.order}
            wait(results.values())
        elapsed = time.perf_counter() - t0
        for q, fut in results.items():
            run.attempted += 1
            try:
                problems = self._check(q, fut.result())
            except Exception as exc:
                problems = [f"raised {exc!r}"]
            if problems:
                run._fail(f"query.{q}", "; ".join(problems))
        return elapsed

    def _collect(self, q: str) -> tuple[list[str], list[tuple]]:
        from sales_data_warehouse_spark.queries.corpus import QUERIES

        df = QUERIES[q](self.run.spark, self.tables)
        return df.columns, [tuple(r) for r in df.collect()]

    def _check(self, q: str, got) -> list[str]:
        cols, rows = got
        want = self.want.get(q)
        if want is None:
            return ["no oracle digest"]
        if oracle.digest(cols, rows) != want:
            return ["result differs from the DuckDB oracle"]
        return []

    def _pass(self, i: int) -> None:
        """One pass over the queries. With tracing, alternate queries are
        traced, the other half in the next pass, so both halves see the
        same warming of the JVM."""
        trace = self.run.tracer is not None
        timings: dict[bool, dict] = {False: {}, True: {}}
        for j, q in enumerate(self.order):
            traced = trace and (i + j) % 2 == 1
            got = self.run.op(f"query.{q}", lambda: self._collect(q),
                              lambda res: self._check(q, res), traced=traced)
            if got is not None:
                timings[traced][q] = got[:2]
        self.passes.append(timings[False])
        self.traced_passes.append(timings[True])

    def measure(self) -> None:
        self.run.loop(self._pass, self.min_ops)

    @staticmethod
    def _flat(passes, idx: int) -> list[float]:
        return [t[idx] for p in passes for t in p.values()]

    @staticmethod
    def _total(passes, idx: int) -> float:
        """A pass's worth of queries: each query's median, summed."""
        return sum(_median([p[q][idx] for p in passes if q in p])
                   for q in HEADLINE)

    def metrics(self) -> dict[str, float]:
        return {
            "op_p50_s": self._total(self.passes, 0),
            "op_cpu_s": self._total(self.passes, 1),
        }

    def layers(self) -> dict[str, float]:
        tracer = self.run.tracer
        out: dict[str, float] = {}
        times = self._flat(self.traced_passes, 0)
        out["query_p50_s"] = _median(times)
        out["query_tail_s"] = tail(times) if times else 0.0
        out["query_n"] = len(times)
        out["corpus_total_s"] = self._total(self.traced_passes, 0)
        out["trace_overhead_s"] = (
            out["corpus_total_s"] - self._total(self.passes, 0))
        for q in HEADLINE:
            vals = [p[q][0] for p in self.traced_passes if q in p]
            out[f"query.{q}.s"] = _median(vals)
        ops = [s for s in tracer.spans
               if s.name.startswith("query.") and s.parent is None]
        for k in ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes"):
            # per pass: each query is traced once per two passes
            out[f"query.all.{k}"] = sum(
                tracer.op_totals(s)[k] for s in ops
            ) / max(1, len(self.traced_passes) / 2)
        return out


WORKLOADS = {w.name: w for w in (EtlDenseMonth, CorpusQueries)}
