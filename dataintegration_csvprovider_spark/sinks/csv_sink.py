"""CSV sink with the reference's row-serialization semantics (SURVEY §2.2).

Reference contract (CSVDestinationWriter.cs):
- K1: one CSV file per mapping, named after the destination table with an
  optional ``yyyyMMdd-HHmmssFFFFFFF`` timestamp suffix (:17-33); the
  destination directory is created (:61-62); encodings UTF-8 (default),
  UTF-16, cp1252, cp1251 (CSVProvider.cs:603-616).
- K2: quoted header row of destination column names, iff configured
  (:82-85,146-152).
- K3: every non-NULL value quoted; NULL written *unquoted* as ``NULL``
  (:129-131); embedded newlines stripped from the serialized row (:89).
  The reference does NOT escape embedded quote chars (:114,135) — we
  deliberately keep quote-doubling (documented divergence, SURVEY §7).

Spark's CSV writer can't express "quote everything except the null
sentinel" (quoteAll quotes the sentinel too — verified empirically), so
fidelity mode serializes rows itself: per-column ``csv_quote`` expressions
concat-joined JVM-side, written through the text source, then a driver-side
commit-rename produces the exactly-named single file (header prepended,
re-encoded if needed).

Scale: ``single_file=True`` implies coalesce(1) — the fidelity mode for
connector parity. At 100 TB use ``single_file=False``: a parallel
directory write (one part per task) with identical row bytes; downstream
consumers glob the directory.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
from dataclasses import dataclass, field, asdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.numeric import render_number
from ..functions.text import csv_quote
from ..sources.csv_source import ENCODINGS


@dataclass
class CsvSinkOptions:
    """Reference destination-config surface (CSVProvider.cs:719-735)."""

    delimiter: str = ";"
    quote: str = '"'
    first_row_contains_column_names: bool = True
    encoding: str = "UTF-8"
    include_timestamp_in_filename: bool = False  # CSVDestinationWriter.cs:24-27
    null_sentinel: str = "NULL"
    #: T6 — job culture for numeric rendering (CSVDestinationWriter.cs:135
    #: formats with string.Format(cultureInfo, "{0}", v); culture comes
    #: from the job config, CSVProvider.cs:618-629). "" = invariant.
    culture: str = ""

    def to_dict(self) -> dict:
        return asdict(self)

    @classmethod
    def from_dict(cls, d: dict) -> "CsvSinkOptions":
        return cls(**d)


@dataclass
class CsvSink:
    """CSV destination folder; one output file (or part-directory) per
    destination table."""

    folder: str
    options: CsvSinkOptions = field(default_factory=CsvSinkOptions)

    def _serialized(self, df: DataFrame) -> DataFrame:
        """One string column per row: reference-style quoting + newline
        scrub, joined with the delimiter. concat_ws skips NULLs, so cells
        are rendered via csv_quote first (NULL → unquoted sentinel).
        Float/double/decimal columns render through the job culture (T6)
        — a no-op translate for '.'-decimal cultures."""
        o = self.options
        numeric = {
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString() in ("double", "float")
            or f.dataType.simpleString().startswith("decimal")
        }
        cells = [
            csv_quote(
                render_number(F.col(c), culture=o.culture)
                if c in numeric
                else F.col(c),
                quote=o.quote,
                null_sentinel=o.null_sentinel,
            )
            for c in df.columns
        ]
        return df.select(F.concat_ws(o.delimiter, *cells).alias("value"))

    def _header_line(self, columns: list[str]) -> str:
        o = self.options
        return o.delimiter.join(f"{o.quote}{c}{o.quote}" for c in columns)

    def _target_name(self, table: str, timestamp: dt.datetime | None) -> str:
        suffix = ""
        if self.options.include_timestamp_in_filename:
            ts = timestamp or dt.datetime.now()
            # .NET "yyyyMMdd-HHmmssFFFFFFF": 100ns ticks (µs + '0'), but
            # FFFFFFF omits trailing zeros — and the entire fraction when
            # zero — so consumers parsing the reference's pattern match
            fraction = (ts.strftime("%f") + "0").rstrip("0")
            suffix = ts.strftime("%Y%m%d-%H%M%S") + fraction
        return f"{table}{suffix}.csv"

    def write(
        self,
        df: DataFrame,
        table: str,
        single_file: bool = True,
        timestamp: dt.datetime | None = None,
    ) -> str:
        """Write ``df`` as CSV for destination ``table``; returns the final
        path (file in single-file mode, directory otherwise)."""
        os.makedirs(self.folder, exist_ok=True)  # CSVDestinationWriter.cs:61-62
        out = self._serialized(df)
        staging = os.path.join(self.folder, f"_staging_{table}")
        if single_file:
            out = out.coalesce(1)
        out.write.mode("overwrite").text(staging)

        if not single_file:
            final_dir = os.path.join(self.folder, self._target_name(table, timestamp))
            if self.options.first_row_contains_column_names:
                with open(os.path.join(staging, "_header.csv"), "w") as fh:
                    fh.write(self._header_line(df.columns) + "\n")
            if os.path.isdir(final_dir):
                shutil.rmtree(final_dir)
            os.replace(staging, final_dir)
            return final_dir

        # single-file commit: header + re-encode + exact rename
        part = sorted(glob.glob(os.path.join(staging, "part-*")))
        body = b""
        for p in part:
            with open(p, "rb") as fh:
                body += fh.read()
        text = body.decode("utf-8")
        if self.options.first_row_contains_column_names:  # K2
            text = self._header_line(df.columns) + "\n" + text
        enc = ENCODINGS.get(self.options.encoding, self.options.encoding)
        final = os.path.join(self.folder, self._target_name(table, timestamp))
        tmp = final + ".tmp"
        with open(tmp, "w", encoding=enc, newline="\n") as fh:
            fh.write(text)
        os.replace(tmp, final)  # atomic commit-rename
        shutil.rmtree(staging, ignore_errors=True)
        return final
