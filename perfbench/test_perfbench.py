"""Tests of the benchmark itself (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import hashlib
import json
import re
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

TINY = {"orders": 3000, "customers": 2000}
DECLARED = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _digests(folder: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(folder.iterdir())}


# -- generator ---------------------------------------------------------------


def test_csv_generator_is_byte_identical_per_seed(tmp_path):
    a = inputs.write_csv_folder(str(tmp_path / "a"), 7, TINY)
    b = inputs.write_csv_folder(str(tmp_path / "b"), 7, TINY)
    c = inputs.write_csv_folder(str(tmp_path / "c"), 8, TINY)
    assert a == b
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")


def test_parquet_generator_is_byte_identical_per_seed(tmp_path):
    names = ("orders", "lineitem", "events", "documents")
    a = inputs.write_parquet_tables(str(tmp_path / "a"), 3, 0.002, names)
    b = inputs.write_parquet_tables(str(tmp_path / "b"), 3, 0.002, names)
    inputs.write_parquet_tables(str(tmp_path / "c"), 4, 0.002, names)
    assert a == b == {n: inputs.table_rows(0.002)[n] for n in names}
    assert _digests(tmp_path / "a") == _digests(tmp_path / "b")
    assert _digests(tmp_path / "a") != _digests(tmp_path / "c")


def _reference_stats(path: Path, keep) -> dict:
    """Row count and id sum under the reference semantics: a row whose
    field count differs from the header's is skipped; ``NULL`` cells
    (written unquoted, never as a quoted value) are nulls."""
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.reader(fh, delimiter=";", quotechar='"', doublequote=True)
        header = next(reader)
        rows = [dict(zip(header, r)) for r in reader if len(r) == len(header)]
    ids = [int(r["id"]) for r in rows if keep(r)]
    return {"rows": len(ids), "id_sum": sum(ids)}


def test_csv_expected_counts_match_reference_semantics(tmp_path):
    gen = inputs.write_csv_folder(str(tmp_path), 11, TINY)
    exp = gen["expected"]
    assert gen["tables"]["orders"]["defective"] > 0
    assert gen["tables"]["customers"]["defective"] > 0

    def typed(r):
        return r["status"] in inputs.TYPED_STATUS_IN and r["country"] != inputs.TYPED_COUNTRY_NEQ

    assert exp["orders_typed"] == _reference_stats(tmp_path / "orders.csv", typed)
    assert exp["orders_copy"] == _reference_stats(tmp_path / "orders.csv", lambda r: True)
    assert exp["orders_ids"] == exp["orders_copy"]
    assert exp["customers_copy"] == _reference_stats(tmp_path / "customers.csv", lambda r: True)
    kept = TINY["orders"] - gen["tables"]["orders"]["defective"]
    assert exp["orders_ids"]["rows"] == kept


def test_read_output_stats_parses_quoted_first_column(tmp_path):
    p = tmp_path / "out.csv"
    p.write_text('"id";"x"\n"5";NULL\n"12";"a;b"\n', encoding="utf-8")
    assert inputs.read_output_stats(str(p)) == {"rows": 2, "id_sum": 17}


def test_csv_tables_split_into_four_scan_tasks(tmp_path):
    """Spark's split size is max(4 MiB, (bytes + 4 MiB) / cores); each
    table must give at least 4 splits on 4 cores."""
    inputs.write_csv_folder(str(tmp_path), 1)
    open_cost = 4 * 2**20
    for p in tmp_path.glob("*.csv"):
        size = p.stat().st_size
        split = max(open_cost, (size + open_cost) / 4)
        assert -(-size // split) >= 4, p.name


# -- tail rule ---------------------------------------------------------------


@pytest.mark.parametrize("n", [1, 5, 10, 19])
def test_tail_falls_back_to_max_below_twenty_samples(n):
    xs = [float(i) for i in range(n)]
    assert measure.tail(xs) == (float(n - 1), 100.0, 0)


@pytest.mark.parametrize("n,pct", [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    value, p, beyond = measure.tail(list(reversed(xs)))
    assert p == pct
    assert beyond == 10
    assert sum(x > value for x in xs) == 10
    # one rank higher would leave only 9 samples beyond
    assert sum(x > xs[xs.index(value) + 1] for x in xs) == 9


def test_tail_of_empty_raises():
    with pytest.raises(ValueError):
        measure.tail([])


# -- declared names ----------------------------------------------------------


def _names(kind: str) -> set[str]:
    return {m["name"] for m in DECLARED[kind]}


def test_benchmark_json_shape():
    assert set(DECLARED) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert DECLARED["paths"] == ["perfbench"]
    all_names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in DECLARED[k]]
    assert len(all_names) == len(set(all_names))
    for name in all_names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", name), name
    for m in DECLARED["end_to_end"] + DECLARED["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in DECLARED["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in DECLARED["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in DECLARED["end_to_end"])
    for w in DECLARED["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_workload_names_match_the_cli():
    choices = run.parse_args(["--workload", "csv_etl", "--seed", "1", "--seconds", "1"])
    assert choices.workload == "csv_etl"
    assert _names("workloads") == set(run.WORKLOADS)


def _rounds(n: int, kinds: int = 5) -> list:
    return [
        run.Round([(f"q{k}", run.OpResult(0.5 + (i + k) / 100, 1, 0, 100)) for k in range(kinds)],
                  wall=3.0 + i / 10)
        for i in range(n)
    ]


def test_end_to_end_names_and_units_are_declared():
    metrics = run.end_to_end_metrics(12.0, _rounds(5), 900.0)
    declared = {m["name"]: m["unit"] for m in DECLARED["end_to_end"]}
    assert {k: u for k, (_, u) in metrics.items()} == declared
    assert all(v > 0 for v, _ in metrics.values())


def test_rates_come_from_the_median_round():
    rounds = _rounds(3)  # walls 3.0, 3.1, 3.2 s; 5 ops each
    rounds[0].wall = 30.0  # one round hit by a stall
    assert run.throughput(rounds) == pytest.approx(5 / 3.2)


def test_p50_is_the_median_of_round_medians():
    # round i holds latencies 0.5 + (i + k) / 100 for kinds k = 0..4
    p50 = run.op_s_p50(_rounds(4))
    assert p50 == pytest.approx(statistics.median([0.52 + i / 100 for i in range(4)]))


def _stage_totals() -> dict:
    return dict.fromkeys(measure.STAGE_FIELDS, 1)


def _span(name: str, start: float, **attrs) -> dict:
    return {"name": name, "start": start, "end": start + 0.5, "parent": None, **attrs}


def test_query_layer_names_are_declared():
    names = run.QUERIES
    spans = []
    for i, q in enumerate(names):
        spans.append(_span("queries.build", i, query=q, jobs=1))
        spans.append(_span("queries.exec", i + 0.5, query=q, jobs=2, stage_totals=_stage_totals()))
    declared = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    base = {"error_rate": 0.0, "op_s_p50": 1.0, "op_s_tail": 1.0}
    out = run.layer_metrics(spans, names, base, len(names), 10.0, declared)
    assert set(out) == set(declared)
    for q in names:
        assert out[f"queries.{q}.build_s"][0] == 0.5


def test_csv_layer_names_are_declared():
    spans = [_span("jobs.run_job", 0, errors=0, jobs=3, stage_totals=_stage_totals())]
    for i, name in enumerate(("csv_source.validate", "csv_source.infer_schema",
                              "mapping_compiler.compile", "mapping_compiler.exec")):
        spans.append(_span(name, i))
    spans.append(_span("csv_source.scan", 5, tasks=4, rows_in=10, rows_dropped=1))
    spans.append(_span("csv_sink.write", 6, tasks=1, bytes_out=100))
    declared = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    base = {"error_rate": 1 / 3, "session.get_spark_s": 5.0}
    out = run.layer_metrics(spans, None, base, 1, 10.0, declared)
    assert set(out) == set(declared)
    assert out["csv_source.rows_dropped"][0] == 1
    assert out["error_rate"][0] == pytest.approx(1 / 3)


def test_undeclared_layer_name_is_refused():
    declared = {m["name"]: m["unit"] for m in DECLARED["per_layer"]}
    spans = [_span("queries.build", 0, query="q_other", jobs=0),
             _span("queries.exec", 0.5, query="q_other", jobs=1, stage_totals=_stage_totals())]
    with pytest.raises(KeyError):
        run.layer_metrics(spans, ("q_other",), {}, 1, 1.0, declared)


# -- contract ------------------------------------------------------------------


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero without printing a result."""
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "csv_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
