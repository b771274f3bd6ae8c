"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (and the fixed sizes
below): the same seed writes byte-identical files. Two families:

- ``write_csv_folder``: a folder of ``;``-delimited, quoted CSV tables
  with ``NULL`` sentinels, comma-decimal amounts, datetime strings and a
  small share of defective rows (too few or too many fields). It returns
  the expected row count and id checksum of each job mapping, and of the
  known-defect probe's ``orders_ids``, under the reference semantics,
  where a defective row is skipped whichever columns a mapping selects.
- ``write_parquet_tables``: TPC-H-shaped tables plus ``events`` and
  ``documents``, with the schemas and value domains of the engine's
  fixture tables (FIXTURES.md), at a chosen scale factor.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# CSV folder for the run_job workload
# --------------------------------------------------------------------------

#: data rows per CSV table. Each file is ~13 MiB: a file above 12 MiB
#: splits into at least 4 scan tasks on 4 cores, since Spark's split size
#: is max(4 MiB open cost, (file + 4 MiB) / cores).
CSV_ROWS = {"orders": 145_000, "customers": 235_000}

#: share of rows written with the wrong number of fields
DEFECT_SHARE = 0.004

ORDERS_COLUMNS = ["id", "customer", "country", "amount", "created", "status", "qty", "note"]
CUSTOMERS_COLUMNS = ["id", "name", "segment", "balance", "since"]

#: conditionals of the filtered-and-typed mapping (see run.py CsvEtl.bind)
TYPED_STATUS_IN = ("A", "B")
TYPED_COUNTRY_NEQ = "XX"

_COUNTRIES = np.array(["DE", "NL", "FR", "US", "GB", "XX"])
_STATUS = np.array(["A", "B", "C"])
_SEGMENTS = np.array(["retail", "wholesale", "online", "partner"])
_WORDS = np.array(
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the".split()
)


def _defect_kinds(rng: np.random.Generator, n: int) -> np.ndarray:
    """0 = well-formed, 1 = too few fields, 2 = too many fields."""
    defective = rng.random(n) < DEFECT_SHARE
    return np.where(defective, rng.integers(1, 3, n), 0)


def _cell(v: str | None) -> str:
    """One written cell: quoted (embedded quotes doubled), or the
    unquoted NULL sentinel for None."""
    return "NULL" if v is None else '"' + v.replace('"', '""') + '"'


def _line(cells: list[str | None], kind: int) -> str:
    if kind == 1:
        cells = cells[:-2]
    elif kind == 2:
        cells = cells + ["extra"]
    return ";".join(map(_cell, cells))


def _orders_lines(rng: np.random.Generator, n: int):
    ids = 1 + 3 * np.arange(n) + rng.integers(0, 3, n)
    cust = rng.integers(0, 50_000, n).tolist()
    country = _COUNTRIES[rng.integers(0, len(_COUNTRIES), n)]
    country_null = rng.random(n) < 0.02
    cents = rng.integers(1, 5_000_000, n).tolist()
    amount_null = (rng.random(n) < 0.02).tolist()
    created = np.datetime64("2024-01-01T00:00:00", "s") + rng.integers(0, 366 * 86400, n).astype(
        "timedelta64[s]"
    )
    created = np.datetime_as_string(created).tolist()
    bad_date = (rng.random(n) < 0.01).tolist()
    status = _STATUS[rng.integers(0, 3, n)]
    status_null = rng.random(n) < 0.03
    qty = rng.integers(1, 100, n).tolist()
    note_words = _WORDS[rng.integers(0, len(_WORDS), (n, 3))].tolist()
    note_null = (rng.random(n) < 0.05).tolist()
    kinds = _defect_kinds(rng, n)
    cn, sn, cl, sl, kl = (
        country_null.tolist(), status_null.tolist(), country.tolist(), status.tolist(), kinds.tolist()
    )
    lines = []
    for i, oid in enumerate(ids.tolist()):
        whole, frac = divmod(cents[i], 100)
        note = " ".join(note_words[i]) + (' "quoted"' if i % 97 == 0 else "")
        cells = [
            str(oid),
            f"Customer#{cust[i]:07d}",
            None if cn[i] else cl[i],
            # comma decimal, '.' thousands separator: 4183179 -> 41.831,79
            None if amount_null[i] else f"{whole:,}".replace(",", ".") + f",{frac:02d}",
            "n/a" if bad_date[i] else created[i].replace("T", " "),
            None if sn[i] else sl[i],
            str(qty[i]),
            None if note_null[i] else note,
        ]
        lines.append(_line(cells, kl[i]))
    keep = kinds == 0
    typed = (
        keep
        & ~status_null
        & np.isin(status, TYPED_STATUS_IN)
        & (country_null | (country != TYPED_COUNTRY_NEQ))
    )
    return lines, ids, keep, typed, int((~keep).sum())


def _customers_lines(rng: np.random.Generator, n: int):
    ids = 1 + 2 * np.arange(n) + rng.integers(0, 2, n)
    seg = _SEGMENTS[rng.integers(0, len(_SEGMENTS), n)].tolist()
    seg_null = (rng.random(n) < 0.03).tolist()
    bal = rng.integers(-100_000, 10_000_000, n).tolist()
    since = (
        np.datetime64("2015-01-01", "D") + rng.integers(0, 3650, n).astype("timedelta64[D]")
    ).astype(str).tolist()
    kinds = _defect_kinds(rng, n)
    kl = kinds.tolist()
    lines = []
    for i, cid in enumerate(ids.tolist()):
        b = bal[i]
        cells = [
            str(cid),
            f"name {cid}",
            None if seg_null[i] else seg[i],
            f"{'-' if b < 0 else ''}{abs(b) // 100},{abs(b) % 100:02d}",
            since[i],
        ]
        lines.append(_line(cells, kl[i]))
    keep = kinds == 0
    return lines, ids, keep, int((~keep).sum())


def _write_csv(path: str, columns: list[str], lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write(";".join(map(_cell, columns)) + "\n")
        fh.write("\n".join(lines))
        fh.write("\n")


def write_csv_folder(folder: str, seed: int, rows: dict[str, int] | None = None) -> dict:
    """Write ``orders.csv`` and ``customers.csv`` into ``folder``.

    Returns ``{"tables": {table: {"rows", "defective"}}, "expected":
    {output: {"rows", "id_sum"}}}``; the outputs are named as in
    run.py's job (``orders_typed``, ``orders_copy``, ``customers_copy``)
    and its known-defect probe (``orders_ids``).
    """
    rows = rows or CSV_ROWS
    rng = np.random.default_rng([seed, 1])
    os.makedirs(folder, exist_ok=True)
    o_lines, o_ids, o_keep, o_typed, o_bad = _orders_lines(rng, rows["orders"])
    _write_csv(os.path.join(folder, "orders.csv"), ORDERS_COLUMNS, o_lines)
    c_lines, c_ids, c_keep, c_bad = _customers_lines(rng, rows["customers"])
    _write_csv(os.path.join(folder, "customers.csv"), CUSTOMERS_COLUMNS, c_lines)

    def stat(ids: np.ndarray, mask: np.ndarray) -> dict:
        return {"rows": int(mask.sum()), "id_sum": int(ids[mask].sum())}

    return {
        "tables": {
            "orders": {"rows": rows["orders"], "defective": o_bad},
            "customers": {"rows": rows["customers"], "defective": c_bad},
        },
        "expected": {
            "orders_typed": stat(o_ids, o_typed),
            "orders_copy": stat(o_ids, o_keep),
            "orders_ids": stat(o_ids, o_keep),
            "customers_copy": stat(c_ids, c_keep),
        },
    }


def read_output_stats(path: str) -> dict:
    """Row count and first-column id checksum of one written CSV file
    (quoted header, every id cell quoted)."""
    n = total = 0
    with open(path, encoding="utf-8") as fh:
        next(fh)
        for line in fh:
            total += int(line[1 : line.index('"', 1)])
            n += 1
    return {"rows": n, "id_sum": total}


# --------------------------------------------------------------------------
# Parquet tables for the query workloads
# --------------------------------------------------------------------------

#: rows at scale factor 1 (TESTDATA.md: sf0.1 lineitem = 600k)
_SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}

_MKT = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIO = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])


def table_rows(sf: float) -> dict[str, int]:
    """Row count of every generated table at scale factor ``sf``."""
    out = {k: max(1, int(v * sf)) for k, v in _SF1_ROWS.items()}
    out["nation"] = 25
    return out


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(int))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts with injected exact duplicates, near duplicates
    (a word or two changed) and contaminated copies of ``src0`` docs (a
    word or two appended), so the dedup and contamination operators
    find pairs."""
    source = np.array([f"src{i % 20}" for i in range(n)])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 20 and r < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(_WORDS[rng.integers(0, len(_WORDS))])
            texts.append(" ".join(words))
            continue
        if i > 20 and r < 0.10 and source[i] != "src0":
            j = int(rng.integers(0, i // 20)) * 20  # an earlier src0 doc
            extra = _WORDS[rng.integers(0, len(_WORDS), int(rng.integers(1, 3)))]
            texts.append(texts[j] + " " + " ".join(extra))
            continue
        k = int(rng.integers(8, 100))
        texts.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]))
    lang = _LANGS[np.minimum(rng.integers(0, 7, n), 4)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(lang),
            "source": pa.array(source),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def write_parquet_tables(folder: str, seed: int, sf: float, names: tuple[str, ...]) -> dict[str, int]:
    """Write ``{name}.parquet`` for each of ``names`` (customer, orders,
    lineitem, nation, events, documents) and return their row counts.
    supplier and part are not written; their sizes bound lineitem's keys."""
    rows = table_rows(sf)
    rng = np.random.default_rng([seed, 2])
    os.makedirs(folder, exist_ok=True)
    nc, ns, npart, no, nl, ne, nd = (
        rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem", "events", "documents")
    )
    i32, i64 = np.int32, np.int64
    build = {
        "nation": lambda: pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=i32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
            }
        ),
        "customer": lambda: pa.table(
            {
                "c_custkey": pa.array(np.arange(nc, dtype=i64)),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(i32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _MKT[rng.integers(0, 5, nc)],
            }
        ),
        "orders": lambda: pa.table(
            {
                "o_orderkey": pa.array(np.arange(no, dtype=i64)),
                "o_custkey": pa.array(rng.integers(0, nc, no).astype(i64)),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
                "o_totalprice": _money(rng, 1000, 500000, no),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                "o_orderpriority": _PRIO[rng.integers(0, 5, no)],
            }
        ),
        "lineitem": lambda: pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, no, nl).astype(i64)),
                "l_partkey": pa.array(rng.integers(0, npart, nl).astype(i64)),
                "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(i64)),
                "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(i32)),
                "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105000, nl),
                "l_discount": rng.integers(0, 11, nl) / 100.0,
                "l_tax": rng.integers(0, 9, nl) / 100.0,
                "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
                "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
            }
        ),
        "events": lambda: pa.table(
            {
                "event_id": pa.array(np.arange(ne, dtype=i64)),
                "ts": pa.array(
                    (
                        np.datetime64("2024-01-01T00:00:00", "us")
                        + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
                    ),
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, max(1, ne * 3 // 200), ne).astype(i64)),
                "event_type": _EVENT_TYPES[rng.integers(0, 5, ne)],
                "value": np.round(np.minimum(rng.exponential(50, ne), 560), 2),
                "props": np.char.add(
                    np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"
                ),
            }
        ),
        "documents": lambda: _documents(rng, nd),
    }
    written = {}
    for name in names:
        table = build[name]()
        pq.write_table(table, os.path.join(folder, f"{name}.parquet"))
        written[name] = table.num_rows
    return written
