"""No-Spark lint: reject new old-form decimal sums (r12 verdict item 1).

The class: ``CAST(SUM(CAST(x AS DECIMAL(p,s>0))) AS DOUBLE)`` (oracle
SQL) and ``F.sum(col.cast("decimal(p,s>0)")).cast("double")`` (Spark
side) convert a fractional-scale decimal sum to double — and the two
engines implement decimal->double DIFFERENTLY (DuckDB: int128->double
then a second rounding division by 10^scale; Spark: BigDecimal
.doubleValue, one rounding), so results diverge by 1 ulp once a double
ulp exceeds the decimal quantum (|sum| > 2^33 for 6-dp, ~2^12 for
12-dp). TPC-H Q1's sum_charge flipped at the round-12 sf1 fixture.

Sanctioned forms (not flagged):
- the micros/pico/nano integer pipeline of ``exact_sum``/
  ``sql_exact_sum`` (queries/registry.py): per-row exact integer units
  summed on a 128-bit ``DECIMAL(38,0)`` accumulator, ONE int->double
  conversion — identical in both engines at any scale;
- exact-integer accumulators (``SUM(CAST(x AS DECIMAL(p,0)))``,
  integer sums cast to BIGINT);
- sites carrying a ``decimal-sum-ok:`` / ``bounded-sum:`` annotation
  within the 8 preceding lines, stating why the sum is structurally
  bounded below the divergence threshold (fixed window frames,
  per-document groups, rank-normalized masses) or why the old form is
  load-bearing (the documented dyadic-midpoint reporting class).

Every site is either migrated or annotated; a new unannotated site
fails this test.

A second check keeps that pipeline in ONE place: a per-row quantize
into integer micro/nano/pico units (``.cast("decimal(p,s)") *
F.lit(10**k)`` then ``.cast("long")``/``decimal(38,0)``, or SQL
``* 1000000 AS BIGINT``) outside registry.py is an inline copy of
``exact_sum``/``sql_exact_sum`` unless annotated ``decimal-sum-ok:``.
"""
from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "dataintegration_csvprovider_spark"

ANNOT = re.compile(r"decimal-sum-ok|bounded-sum")

#: oracle-side old form: CAST(SUM(CAST( ... )) AS DOUBLE) where the
#: inner cast is a fractional-scale decimal
SQL_SITE = re.compile(r"CAST\s*\(\s*SUM\s*\(\s*CAST\s*\(", re.I)

#: Spark-side old form: F.sum( ... .cast("decimal(p,s)") ... ) with a
#: fractional scale (s > 0) in the same call segment
PY_SITE = re.compile(r"F\.sum\s*\(")
PY_DEC = re.compile(r"""\.cast\(\s*["']decimal\(\s*\d+\s*,\s*([1-9]\d*)\s*\)""")


def _exempt_sql(seg: str) -> bool:
    """128-bit / exact-integer accumulator forms."""
    head = seg[:300]
    if re.search(r"AS\s+DECIMAL\(38,0\)\)\)", head, re.I):
        return True  # sql_exact_sum's per-row integral units
    if re.search(r"\)\s*AS\s+DECIMAL\(38,0\)\)", head, re.I):
        return True  # SUM(...) cast to the 128-bit exact accumulator
    if re.search(r"AS\s+DECIMAL\(\d+,0\)\)", head, re.I):
        return True  # exact-integer per-row cast (scale 0)
    if re.search(
        r"CAST\s*\(\s*SUM\s*\(\s*CAST\s*\(\s*[^()]*AS\s+(U?INT|BIGINT|INTEGER)",
        head, re.I,
    ):
        return True  # integer counting sums
    return False


def _sites() -> list[str]:
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        src = p.read_text()
        lines = src.splitlines()
        rel = p.relative_to(PKG.parent)
        for m in SQL_SITE.finditer(src):
            seg = src[m.start():m.start() + 400].replace("\n", " ")
            if _exempt_sql(seg):
                continue
            ln = src[:m.start()].count("\n") + 1
            ctx = "\n".join(lines[max(0, ln - 9):ln])
            if ANNOT.search(ctx) or ANNOT.search(lines[ln - 1]):
                continue
            offenders.append(f"{rel}:{ln} [sql] {seg[:90]}")
        for m in PY_SITE.finditer(src):
            seg = src[m.start():m.start() + 260].replace("\n", " ")
            dm = PY_DEC.search(seg)
            if not dm:
                continue
            # exact accumulators: decimal(38,0)/decimal(19,0) per-row
            if re.search(r"decimal\(38,0\)|decimal\(\d+,0\)", seg):
                continue
            ln = src[:m.start()].count("\n") + 1
            ctx = "\n".join(lines[max(0, ln - 9):ln])
            if ANNOT.search(ctx) or ANNOT.search(lines[ln - 1]):
                continue
            offenders.append(f"{rel}:{ln} [py] {seg[:90]}")
    return offenders


def test_no_unannotated_old_form_decimal_sums():
    offenders = _sites()
    assert not offenders, (
        "old-form decimal->double sum sites without a decimal-sum-ok/"
        "bounded-sum annotation (migrate to exact_sum/sql_exact_sum or "
        "annotate why the sum is bounded forever):\n"
        + "\n".join(offenders)
    )


#: Spark-side per-row quantize into integer units: decimal cast, times a
#: power-of-ten literal, then an integer or DECIMAL(38,0) cast
PY_QUANT = re.compile(
    r"""\.cast\(\s*(?:["']decimal\(\s*\d+\s*,\s*\d+\s*\)["']|[A-Z_][A-Z0-9_]*)\s*\)"""
    r"""\s*\*\s*F\.lit\(\s*(?:1_?000_?000[\d_]*|10\s*\*\*\s*\d+)\s*\)\s*\)?"""
    r"""\s*\.cast\(\s*["'](?:long|bigint|decimal\(38,\s*0\))["']""",
    re.I,
)
#: SQL-side per-row quantize into integer micro/nano/pico units
SQL_QUANT = re.compile(
    r"\*\s*1000000(?:000)*\s+AS\s+(?:BIGINT|DECIMAL\(38,\s*0\))", re.I
)


def _inline_quantize_sites() -> list[str]:
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        if p.name == "registry.py" and p.parent.name == "queries":
            continue
        src = p.read_text()
        lines = src.splitlines()
        rel = p.relative_to(PKG.parent)
        for pat, kind in ((PY_QUANT, "py"), (SQL_QUANT, "sql")):
            for m in pat.finditer(src):
                ln = src[:m.start()].count("\n") + 1
                ctx = "\n".join(lines[max(0, ln - 9):ln])
                if "decimal-sum-ok" in ctx:
                    continue
                seg = " ".join(m.group(0).split())
                offenders.append(f"{rel}:{ln} [{kind}] {seg[:90]}")
    return offenders


def test_no_inline_exact_sum_pipelines():
    offenders = _inline_quantize_sites()
    assert not offenders, (
        "inline per-row micros/nanos/picos quantize pipelines outside "
        "queries/registry.py (use exact_sum/sql_exact_sum, or annotate "
        "decimal-sum-ok: with why the raw units are needed):\n"
        + "\n".join(offenders)
    )


def test_exact_sum_rejects_unused_combinations():
    """exact_sum and sql_exact_sum share one validator; the SQL twin
    exercises it without a Spark session."""
    import pytest

    from dataintegration_csvprovider_spark.queries.registry import sql_exact_sum

    for kw in (
        {"scale": 7},
        {"scale": 12, "mean": True},
        {"scale": 9, "over": "OVER w"},
        {"over": "OVER w", "mean": True},
    ):
        with pytest.raises(ValueError):
            sql_exact_sum("x", **kw)
