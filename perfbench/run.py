"""Benchmark of the engine: CSV ETL jobs and registry queries (executor-
bound and driver-bound), end to end (``--trace 0``) and per layer
(``--trace 1``).

Run from the root of a checkout:

    python3 perfbench/run.py --workload csv_etl --seed 1 --seconds 10 --trace 0

One closed-loop client on ``local[nproc]``. The inputs are generated from
``--seed`` into ``.perfbench_work/`` (removed at exit); the engine sees
only those files. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
(``perfbench-info``) records the machine, the checks and the tail rule.
Spans and the full record are written to ``.perfbench_out/``. See
perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import measure  # noqa: E402

ENGINE = "dataintegration_csvprovider_spark"
WORKLOADS = ("csv_etl", "queries")

#: registry queries of the ``queries`` workload. The first three are bound
#: by the executor (scan, shuffle join, aggregation, window, exact sums)
#: and run no Spark job while their DataFrame is built; the last two run
#: Spark jobs during the build (collects, a stream run to completion).
QUERIES = (
    "q1_pricing_summary", "q_join_inner", "q_window_running",
    "q_contamination", "q_stream_tumbling_append",
)
#: scale factor of the generated parquet tables (lineitem 120k rows)
QUERY_SF = 0.02
#: timed rounds per untraced run at least, so that their median drops one
#: disturbed round. Both workloads take 3.5-8 s a round, so at the declared
#: 10 s every run times exactly this many: operations still speed up from
#: round to round after the warm-up, and a run that fits one more round
#: than another would read faster for that alone.
MIN_ROUNDS = 3

#: input tables each query reads (its source rows per operation)
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "q_join_inner": ("lineitem", "orders", "customer", "nation"),
    "q_window_running": ("orders",),
    "q_contamination": ("documents",),
    "q_stream_tumbling_append": ("events",),
}

SPARK_FIELDS = {  # per-layer name -> (stage total, scale to unit)
    "spark.task_cpu_s": ("cpu_ns", 1e-9),
    "spark.task_run_s": ("run_ms", 1e-3),
    "spark.shuffle_read_mb": ("shuffle_read", 1 / 2**20),
    "spark.shuffle_write_mb": ("shuffle_write", 1 / 2**20),
    "spark.spill_mb": ("spill", 1 / 2**20),
    "spark.gc_s": ("gc_ms", 1e-3),
    "spark.input_mb": ("input_bytes", 1 / 2**20),
}


# --------------------------------------------------------------------------
# Machine and environment
# --------------------------------------------------------------------------


def machine_info() -> dict:
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) / 2**20  # kB -> GiB
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gib": round(mem["MemTotal"], 2),
        "mem_available_gib": round(mem["MemAvailable"], 2),
        "load1": os.getloadavg()[0],
    }


def configure_env(work: Path, info: dict) -> dict[str, str]:
    """Size the engine to this machine and keep every file it writes
    inside ``work``. Returns the extra Spark conf for the session."""
    driver_gb = max(1, min(2, int(info["mem_available_gib"] // 4)))
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(info["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_gb}g",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    info["driver_mem"] = f"{driver_gb}g"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the heap is committed and touched at launch, so the JVM's peak RSS
        # is the heap plus what the engine uses off-heap, not an accident of
        # when G1 grew the heap; heap pressure shows as spark.gc_s instead
        "spark.driver.extraJavaOptions": f"-Xms{driver_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.io.tmpdir={work / 'tmp'} -Dderby.system.home={work / 'tmp'}",
    }


def peak_rss_mb(pid: int | str) -> float:
    """VmHWM (peak resident set) of process ``pid``, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


def import_engine() -> SimpleNamespace:
    """The engine entry points the workloads call (imported here, not at
    module load, so that the import is timed and a checkout without the
    engine fails before any Spark work)."""
    m = {n: importlib.import_module(f"{ENGINE}.{n}") for n in (
        "session", "jobs", "sources.csv_source", "sinks.csv_sink",
        "plans.mapping_compiler", "plans.conditionals", "queries")}
    return SimpleNamespace(
        get_spark=m["session"].get_spark,
        all_queries=m["queries"].all_queries,
        JobSpec=m["jobs"].JobSpec,
        run_job=m["jobs"].run_job,
        CsvSource=m["sources.csv_source"].CsvSource,
        CsvSourceOptions=m["sources.csv_source"].CsvSourceOptions,
        CsvSink=m["sinks.csv_sink"].CsvSink,
        Mapping=m["plans.mapping_compiler"].Mapping,
        ColumnMapping=m["plans.mapping_compiler"].ColumnMapping,
        compile_mapping=m["plans.mapping_compiler"].compile_mapping,
        Conditional=m["plans.conditionals"].Conditional,
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# Workloads
# --------------------------------------------------------------------------


@dataclass
class OpResult:
    latency: float
    attempted: int
    failed: int
    source_rows: int
    check_s: float = 0.0  # output checks, left out of the timed wall time


@dataclass
class Round:
    """Every operation kind once; ``wall`` leaves out the output checks."""

    ops: list[tuple[str, OpResult]]
    wall: float


class CsvEtl:
    """Each operation is one ``run_job`` of a three-mapping JobSpec over a
    generated CSV folder; every output is checked after the operation."""

    def __init__(self, work: Path, seed: int) -> None:
        self.src = work / "csv_in"
        self.out = work / "csv_out"
        gen = inputs.write_csv_folder(str(self.src), seed)
        self.tables = gen["tables"]
        self.expected = gen["expected"]
        self.source_rows = sum(t["rows"] for t in self.tables.values())

    outputs_per_op = 3

    def kinds(self) -> list[str]:
        return ["run_job"]

    def bind(self, eng: SimpleNamespace, spark) -> None:
        self.eng, self.spark = eng, spark
        cm = eng.ColumnMapping
        mappings = [
            eng.Mapping(
                "orders", "orders_typed",
                [cm("id", dest_type="bigint"), cm("customer"), cm("country"),
                 cm("amount", dest_type="double"), cm("created", dest_type="datetime"),
                 cm("status"), cm("qty", dest_type="int"), cm("note"),
                 cm(None, "origin", constant="perfbench")],
                [eng.Conditional("status", "in", list(inputs.TYPED_STATUS_IN)),
                 eng.Conditional("country", "neq", inputs.TYPED_COUNTRY_NEQ)],
            ),
            eng.Mapping("orders", "orders_copy", [cm(c) for c in inputs.ORDERS_COLUMNS]),
            eng.Mapping("customers", "customers_copy",
                        [cm(c) for c in inputs.CUSTOMERS_COLUMNS]),
        ]
        source = eng.CsvSource(
            folder=str(self.src),
            options=eng.CsvSourceOptions(ignore_defective_rows=True))
        self.job = eng.JobSpec(
            source=source, destination=eng.CsvSink(folder=str(self.out)), mappings=mappings)
        self.probe_job = eng.JobSpec(
            source=source, destination=eng.CsvSink(folder=str(self.out / "probe")),
            mappings=[eng.Mapping("orders", "orders_ids", [cm("id"), cm("amount")])])

    def warm_up(self, kind: str) -> float:
        """Run ``kind`` once; returns the seconds its output checks took."""
        return self.op(kind, measure.Tracer(False)).check_s

    def check(self, result) -> int:
        """Failed outputs of one job: raised, missing or not matching the
        generator's expected row count and id checksum."""
        failed = 0
        for m in self.job.mappings:
            path = result.outputs.get(m.dest_table)
            if path is None or inputs.read_output_stats(path) != self.expected[m.dest_table]:
                failed += 1
        return failed

    def op(self, name: str, tracer: measure.Tracer, counters=None) -> OpResult:
        t0 = time.perf_counter()
        with tracer.span("jobs.run_job") as sp:
            result = self.eng.run_job(self.spark, self.job)
        latency = time.perf_counter() - t0
        if counters is not None:
            jobs = counters.new_jobs()
            sp.update(errors=len(result.errors), jobs=len(jobs),
                      stage_totals=counters.stage_totals(jobs))
        t1 = time.perf_counter()
        failed = self.check(result)
        return OpResult(latency, self.outputs_per_op, failed, self.source_rows,
                        time.perf_counter() - t1)

    def layer_calls(self, tracer: measure.Tracer, counters: measure.SparkCounters) -> None:
        """Each mapping's layer calls on their own, traced: scan + noop,
        compile + noop, sink write."""
        eng, spark, job = self.eng, self.spark, self.job
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        sink = eng.CsvSink(folder=str(self.out / "layers"))
        for m in job.mappings:
            with tracer.span("csv_source.validate"):
                job.source.validate()
            with tracer.span("csv_source.infer_schema"):
                job.source.infer_schema(spark)
            counters.new_jobs()
            obs = Observation("rows")
            with tracer.span("csv_source.scan") as sp:
                df = job.source.read(spark, m.source_table)
                noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            sp["tasks"] = counters.stage_totals(counters.new_jobs())["tasks"]
            sp["rows_in"] = obs.get["n"]
            sp["rows_dropped"] = self.tables[m.source_table]["rows"] - sp["rows_in"]
            with tracer.span("mapping_compiler.compile"):
                out = eng.compile_mapping(
                    df, m, params=job.params,
                    decimal_separator=job.source.options.decimal_separator)
            with tracer.span("mapping_compiler.exec"):
                noop(out)
            counters.new_jobs()
            with tracer.span("csv_sink.write") as sp:
                path = sink.write(out, m.dest_table, single_file=job.single_file_output)
            sp["tasks"] = counters.stage_totals(counters.new_jobs())["tasks"]
            sp["bytes_out"] = os.path.getsize(path)

    def check_failures(self) -> set[str]:
        return set()  # every output is checked after its operation

    def known_defects(self) -> dict:
        """Run the subset projection ``orders_ids`` (``id``, ``amount``)
        once, outside the timed region, and compare it with the reference
        semantics. Spark's CSV column pruning parses only the selected
        columns, so DROPMALFORMED keeps rows with too few or too many
        fields and the output has more rows than expected. The timed job
        maps whole rows only, so this defect cannot fail it; it is
        reported here instead."""
        want = self.expected["orders_ids"]
        try:
            result = self.eng.run_job(self.spark, self.probe_job)
            path = result.outputs.get("orders_ids")
            got = inputs.read_output_stats(path) if path else None
            errors = result.errors
        except Exception as e:  # noqa: BLE001 — reported, as is a mismatch
            got, errors = None, [f"{type(e).__name__}: {e}"]
        return {"csv_column_pruning": {"output": "orders_ids", "expected": want, "got": got,
                                       "errors": errors, "reproduced": got != want}}


class QueryWorkload:
    """Each operation is one registry query, built and then forced with a
    ``noop`` write, over generated parquet tables. The warm-up runs each
    query with collect; after the timed loop that result is checked
    against the registry's DuckDB oracle."""

    def __init__(self, work: Path, seed: int, names: tuple[str, ...], sf: float) -> None:
        self.names = names
        self.sf_dir = str(work / "tables")
        tables = sorted({t for n in names for t in QUERY_TABLES[n]})
        self.rows = inputs.write_parquet_tables(self.sf_dir, seed, sf, tuple(tables))
        self.spark_fp: dict[str, tuple | None] = {}

    outputs_per_op = 1

    def kinds(self) -> list[str]:
        return list(self.names)

    def bind(self, eng: SimpleNamespace, spark) -> None:
        self.eng, self.spark = eng, spark
        self.queries = eng.all_queries()

    def warm_up(self, name: str) -> float:
        """Run ``name`` once with collect and keep its fingerprint (None
        if it raised, which fails its check); returns the seconds the
        fingerprint took."""
        try:
            df = self.queries[name].fn(self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            print(f"perfbench: {name} failed in warm-up: {type(e).__name__}: {e}", file=sys.stderr)
            self.spark_fp[name] = None
            return 0.0
        t = time.perf_counter()
        self.spark_fp[name] = measure.fingerprint(list(df.columns), rows)
        return time.perf_counter() - t

    def op(self, name: str, tracer: measure.Tracer, counters=None) -> OpResult:
        rows = sum(self.rows[t] for t in QUERY_TABLES[name])
        t0 = time.perf_counter()
        with tracer.span("queries.build", query=name) as sp:
            df = self.queries[name].fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        build_jobs = None
        if counters is not None:
            build_jobs = counters.new_jobs()
            sp["jobs"] = len(build_jobs)
        t2 = time.perf_counter()
        with tracer.span("queries.exec", query=name) as sp2:
            noop(df)
        t3 = time.perf_counter()
        if counters is not None:
            exec_jobs = counters.new_jobs()
            sp2["stage_totals"] = counters.stage_totals(build_jobs + exec_jobs)
            sp2["jobs"] = len(build_jobs) + len(exec_jobs)
        return OpResult((t1 - t0) + (t3 - t2), 1, 0, rows)

    def check_failures(self) -> set[str]:
        """Names whose Spark result differs from the DuckDB oracle in row
        count, column names or order-insensitive value hash."""
        import duckdb

        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        bad = set()
        for name in self.names:
            cur = con.execute(self.queries[name].oracle)
            want = measure.fingerprint([d[0] for d in cur.description], cur.fetchall())
            if self.spark_fp[name] != want:
                bad.add(name)
        con.close()
        return bad

    def known_defects(self) -> dict:
        return {}


def make_workload(name: str, work: Path, seed: int):
    if name == "csv_etl":
        return CsvEtl(work, seed)
    return QueryWorkload(work, seed, QUERIES, QUERY_SF)


# --------------------------------------------------------------------------
# One benchmark run
# --------------------------------------------------------------------------


class Bench:
    def __init__(self, args, work: Path, info: dict) -> None:
        self.args = args
        self.work = work
        self.info = info
        self.layer: dict[str, float] = {}
        self.rng = random.Random(args.seed)
        self.spark = None
        self.gateway_proc = None

    # -- set-up ------------------------------------------------------------
    def setup(self, conf: dict[str, str]) -> float:
        """Engine import, get_spark (JVM launch), the registry, and two
        warm-up passes over every operation kind (for a query workload
        the first pass is the run with collect that its check uses). The
        output checks of the warm-up are left out, as in the timed loop."""
        t0 = time.perf_counter()
        self.eng = import_engine()
        t1 = time.perf_counter()
        self.spark = self.eng.get_spark(app_name="perfbench", extra_conf=conf)
        t2 = time.perf_counter()
        self.eng.all_queries()
        t3 = time.perf_counter()
        self.layer.update({
            "session.import_s": t1 - t0,
            "session.get_spark_s": t2 - t1,
            "queries.registry_build_s": t3 - t2,
        })
        from pyspark import SparkContext

        self.gateway_proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.wl.bind(self.eng, self.spark)
        # two passes: the first op of a kind after its cold run is still
        # ~30% slower than the ones after it
        checks = 0.0
        for kind in self.wl.kinds():
            checks += self.wl.warm_up(kind)
        for kind in self.wl.kinds():
            checks += self.wl.op(kind, measure.Tracer(False)).check_s
        return time.perf_counter() - t0 - checks

    # -- closed loop ---------------------------------------------------------
    def loop(self, seconds: float, tracer: measure.Tracer, counters, min_rounds: int = 1) -> list[Round]:
        """Whole rounds (every kind once, in a seeded order), at least
        ``min_rounds``, until ``seconds`` of round time have passed."""
        rounds: list[Round] = []
        while len(rounds) < min_rounds or sum(r.wall for r in rounds) < seconds:
            order = self.wl.kinds()
            self.rng.shuffle(order)
            t0 = time.perf_counter()
            ops = []
            for kind in order:
                if counters is not None:
                    counters.new_jobs()  # skip jobs of earlier untraced rounds
                a = time.perf_counter()
                try:
                    r = self.wl.op(kind, tracer, counters)
                except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                    print(f"perfbench: {kind} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    n = self.wl.outputs_per_op
                    r = OpResult(time.perf_counter() - a, n, n, 0)
                ops.append((kind, r))
            checks = sum(r.check_s for _, r in ops)
            rounds.append(Round(ops, time.perf_counter() - t0 - checks))
        return rounds

    def run(self) -> dict:
        a = self.args
        t = time.perf_counter()
        self.wl = make_workload(a.workload, self.work, a.seed)
        self.layer["bench.inputgen_s"] = time.perf_counter() - t
        conf = configure_env(self.work, self.info)
        setup_s = self.setup(conf)
        self.info.update(
            pyspark=self.spark.version,
            java=self.spark._jvm.java.lang.System.getProperty("java.version"),
        )

        off = measure.Tracer(False)
        if not a.trace:
            rounds = self.loop(a.seconds, off, None, MIN_ROUNDS)
        else:
            # untraced and traced rounds alternate, half the time each:
            # their ops_per_s ratio is the tracing overhead, and the
            # per-layer figures come from the traced ones
            tracer = measure.Tracer(True)
            counters = measure.SparkCounters(self.spark)
            plain: list[Round] = []
            rounds = []
            while sum(r.wall for r in rounds) < a.seconds / 2:
                plain += self.loop(0, off, None)
                rounds += self.loop(0, tracer, counters)
            if isinstance(self.wl, CsvEtl):
                self.wl.layer_calls(tracer, counters)
            self.layer["bench.trace_overhead"] = throughput(rounds) / throughput(plain)
            self.tracer = tracer

        results = [op for rd in rounds for op in rd.ops]
        elapsed = sum(rd.wall for rd in rounds)
        self.op_s_by_kind = {k: [r.latency for kk, r in results if kk == k] for k in self.wl.kinds()}
        bad = self.wl.check_failures()
        defects = self.wl.known_defects()
        for name, d in defects.items():
            if d["reproduced"]:
                print(f"perfbench: known defect {name} reproduced outside the timed job: "
                      f"{d['output']} expected {d['expected']}, got {d['got']}", file=sys.stderr)
        attempted = sum(r.attempted for _, r in results)
        failed = sum(r.failed + (r.attempted if k in bad else 0) for k, r in results)
        lat = [r.latency for _, r in results]
        tail, pct, beyond = measure.tail(lat)
        p50 = op_s_p50(rounds)
        self.info.update(
            ops=len(results), rounds=len(rounds), elapsed_s=elapsed, error_rate=failed / attempted,
            op_s_p50={"value": p50, "unit": "s"},
            op_s_tail={"value": tail, "unit": "s", "percentile": pct, "samples": len(lat),
                       "samples_beyond": beyond, "rule_met": beyond >= measure.TAIL_BEYOND},
            check_failed=sorted(bad), known_defects=defects,
        )
        if a.trace:
            declared = {m["name"]: m["unit"] for m in load_declared()["per_layer"]}
            queries = self.wl.names if isinstance(self.wl, QueryWorkload) else None
            base = self.layer | {"error_rate": failed / attempted, "op_s_p50": p50, "op_s_tail": tail}
            metrics = layer_metrics(self.tracer.spans, queries, base, len(results), elapsed, declared)
        else:
            rss = {"python": peak_rss_mb("self"), "jvm": peak_rss_mb(self.jvm_pid)}
            self.info["peak_rss_mb"] = rss
            metrics = end_to_end_metrics(setup_s, rounds, sum(rss.values()))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    # -- teardown --------------------------------------------------------------
    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it started) to exit."""
        if self.spark is not None:
            self.spark.stop()
        proc = self.gateway_proc
        if proc is not None:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def throughput(rounds: list[Round]) -> float:
    """Operations per second of the median round."""
    return len(rounds[0].ops) / statistics.median([rd.wall for rd in rounds])


def op_s_p50(rounds: list[Round]) -> float:
    """Median operation latency: the median over rounds of each round's
    median, so the kinds a round mixes weigh the same whatever the number
    of rounds."""
    return statistics.median(statistics.median(r.latency for _, r in rd.ops) for rd in rounds)


def end_to_end_metrics(setup_s: float, rounds: list[Round], rss_mb: float) -> dict:
    """The end-to-end metrics of one untraced run, ``name -> (value, unit)``.
    Rates are medians over rounds."""
    row_rates = [
        sum(r.source_rows for _, r in rd.ops) / sum(r.latency for _, r in rd.ops) for rd in rounds
    ]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (throughput(rounds), "1/s"),
        "rows_per_s": (statistics.median(row_rates), "rows/s"),
        "peak_rss_mb": (rss_mb, "MiB"),
    }


def layer_metrics(
    spans: list[dict], queries: tuple[str, ...] | None, base: dict[str, float],
    n_ops: int, elapsed: float, declared: dict[str, str],
) -> dict:
    """Per-layer metrics of a traced run from its spans, ``name -> (value,
    unit)``, for every declared name. ``queries`` is the query
    workload's names, or None for the CSV workload. A layer the workload
    leaves idle reads 0."""
    val = dict.fromkeys(declared, 0.0) | base

    def durations(name: str) -> list[float]:
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def attr(name: str, key: str) -> list:
        return [s[key] for s in spans if s["name"] == name]

    totals = [s["stage_totals"] for s in spans if "stage_totals" in s]
    sums = {k: sum(t[k] for t in totals) for k in measure.STAGE_FIELDS}
    val["spark.jobs_per_op"] = sum(attr("queries.exec", "jobs") + attr("jobs.run_job", "jobs")) / n_ops
    val["spark.stages_per_op"] = sums["stages"] / n_ops
    val["spark.tasks_per_op"] = sums["tasks"] / n_ops
    for name, (field, scale) in SPARK_FIELDS.items():
        val[name] = sums[field] * scale / n_ops
    val["spark.busy_cores"] = sums["run_ms"] / 1e3 / elapsed
    val["spark.failed_tasks"] = sums["failed_tasks"]

    if queries is not None:
        per = {q: {"build": [], "exec": [], "jobs": []} for q in queries}
        for s in spans:
            if s["name"] == "queries.build":
                per[s["query"]]["build"].append(s["end"] - s["start"])
                per[s["query"]]["jobs"].append(s["jobs"])
            elif s["name"] == "queries.exec":
                per[s["query"]]["exec"].append(s["end"] - s["start"])
        b, e = sum(durations("queries.build")), sum(durations("queries.exec"))
        val["queries.build_s"] = b / n_ops
        val["queries.exec_s"] = e / n_ops
        val["queries.build_share"] = b / (b + e)
        val["spark.jobs_during_build"] = sum(attr("queries.build", "jobs")) / n_ops
        for q, d in per.items():
            val[f"queries.{q}.build_s"] = statistics.median(d["build"])
            val[f"queries.{q}.exec_s"] = statistics.median(d["exec"])
            val[f"queries.{q}.jobs_during_build"] = statistics.median(d["jobs"])
    else:
        for name in ("csv_source.validate", "csv_source.infer_schema", "csv_source.scan",
                     "mapping_compiler.compile", "mapping_compiler.exec", "csv_sink.write",
                     "jobs.run_job"):
            val[f"{name}_s"] = statistics.median(durations(name))
        val["csv_sink.self_s"] = statistics.median(
            [w - x for w, x in zip(durations("csv_sink.write"), durations("mapping_compiler.exec"))])
        val["csv_source.rows_in"] = sum(attr("csv_source.scan", "rows_in"))
        val["csv_source.rows_dropped"] = sum(attr("csv_source.scan", "rows_dropped"))
        val["csv_source.scan_tasks"] = min(attr("csv_source.scan", "tasks"))
        val["csv_sink.write_tasks"] = sum(attr("csv_sink.write", "tasks"))
        val["csv_sink.bytes_out"] = sum(attr("csv_sink.write", "bytes_out"))
        val["jobs.errors"] = sum(attr("jobs.run_job", "errors"))

    unknown = set(val) - set(declared)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {k: (val[k], declared[k]) for k in declared}


def load_declared() -> dict:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        return json.load(fh)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)  # runs the cleanup in main's finally


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec(ENGINE) is None:
        print(f"perfbench: engine package {ENGINE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    info = machine_info()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    bench = Bench(args, work, info)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    out_dir.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        bench.tracer.write(str(out_dir / f"{stem}.spans.json"))
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "info": info, "op_s_by_kind": bench.op_s_by_kind,
              "result": result}
    with open(out_dir / f"{stem}.json", "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1)
    print("perfbench-info " + json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
