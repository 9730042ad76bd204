"""S2/S3 — delimited (CSV/TSV) source, and the one positional read core
the DwC-A member reader shares (reference idigbio_ingestion/lib/
delimited.py, whose ``DelimitedFile`` ``DwcaRecordFile`` subclasses).

``read_positional`` reads a file by POSITION: the caller hands it the
file's ``Dialect`` and an index→term map — from meta.xml for a DwC-A
member (sources/dwca.py), from the canonicalized raw header for a bare
CSV/TSV (``read_delimited``). The header record(s) are sniffed once on
the driver with the csv module (header lines only, never data rows);
the read itself is ``spark.read.csv`` with an explicit all-string
``_cN`` schema that skips the header by position, so no
schema-inference job runs. PERMISSIVE mode does the reference's per-row
error recovery (bad rows are flagged, not fatal — SURVEY §7.7 item 8).

Value contract (delimited.py:255-268): every value is ``str.strip()``-ed
with Python's full whitespace class, a blank value is NULL (the
reference drops the key), and a term claimed by several positions takes
the last non-empty value.

A directory or glob takes its header from its first data file, so the
same bytes fold the same way whichever way the path is spelled; its
files must share that header shape.
"""

from __future__ import annotations

import csv
import glob
import itertools
import os
import re
from functools import reduce
from operator import or_
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from idb_backend_spark.sources.fieldnames import get_canonical_name

CORRUPT_COL = "__corrupt_record"

#: encodings where one character encodes to one byte that can never occur
#: inside another character's encoding (UTF-8 keeps ASCII bytes < 0x80 out
#: of continuation bytes) — the byte-scan probe is exact for these
_BYTE_TRANSPARENT_ENCODINGS = {
    "utf8", "ascii", "usascii", "latin1", "iso88591", "cp1252", "windows1252",
}


def file_contains_char(path: str, ch: str, encoding: str | None) -> bool:
    """Whether the file contains ``ch`` at all — the splittability probe
    behind ``read_positional``'s multi-line decision. Conservative: any
    path we cannot byte-scan exactly (directory/glob, non-transparent
    encoding, multi-byte needle) reports True, which only costs
    parallelism, never correctness."""
    if not os.path.isfile(path):
        return True
    enc = (encoding or "utf-8").lower().replace("-", "").replace("_", "")
    if enc not in _BYTE_TRANSPARENT_ENCODINGS:
        return True
    try:
        needle = ch.encode(encoding or "utf-8")
    except (UnicodeEncodeError, LookupError):
        return True
    if len(needle) != 1 or needle[0] >= 0x80:
        return True
    with open(path, "rb") as f:
        while chunk := f.read(8 << 20):
            if needle in chunk:
                return True
    return False


def normalize_delimiter(d: str | None, default: str = ",") -> str:
    """Delimiter normalization (delimited.py:63-125): words (``tab``),
    backslash escapes, ``0x09`` hex, XML entities ``&#9;``/``&#x9;``,
    quoted wrappers, and repeated-identical-char collapse."""
    if d is None:
        return default
    if isinstance(d, (bytes, bytearray)):
        d = bytes(d).decode("utf-8", errors="replace")
    d = str(d)
    if len(d) == 1 and d in ("\t", " "):
        # a literal whitespace char IS the delimiter — don't strip it away
        return d
    if len(d) > 1 and len(set(d)) == 1 and d[0] in ("\t", " "):
        # repeated literal whitespace ('\t\t') collapses like any other
        # repeated delimiter — strip() first would silently turn a
        # doubled-tab TSV declaration into the comma default
        return d[0]
    d = d.strip()
    if len(d) >= 2 and d[0] == d[-1] and d[0] in ("'", '"'):
        d = d[1:-1]
    # NB: r"\t" and "\\t" are the SAME two-character string — one spelling
    if d.lower() == "tab" or d == "\\t":
        d = "\t"
    elif d == "\\n":
        d = "\n"
    elif d == "\\r":
        d = "\r"
    m = re.fullmatch(r"0x([0-9a-fA-F]+)", d)
    if m:
        d = chr(int(m.group(1), 16))
    m = re.fullmatch(r"&#([0-9]+);", d)
    if m:
        d = chr(int(m.group(1), 10))
    m = re.fullmatch(r"&#x([0-9a-fA-F]+);", d)
    if m:
        d = chr(int(m.group(1), 16))
    if d == "":
        return default
    if len(d) != 1 and len(set(d)) == 1:
        d = d[0]
    if len(d) != 1:
        raise ValueError(f"invalid delimiter {d!r} (expected 1 character)")
    return d




class Dialect(NamedTuple):
    """How a delimited file is written — the reference ``DelimitedFile``
    constructor's arguments (delimited.py:130-175)."""

    sep: str = ","
    #: '' = no quoting
    quote: str = '"'
    encoding: str = "utf-8"
    #: record terminator for multi-line reads; None = Spark detects it
    line_sep: str | None = None
    header_rows: int = 1


def _first_data_file(path: str) -> str | None:
    """``path`` itself, or the first data file (name order, hidden and
    ``_``-prefixed names skipped as Spark skips them) of a directory or
    glob; None when nothing local matches."""
    for match in sorted(glob.glob(path)):
        if os.path.isfile(match):
            return match
        for root, dirs, files in os.walk(match):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for name in sorted(files):
                if not name.startswith(("_", ".")):
                    return os.path.join(root, name)
    return None


def sniff_header(path: str, dialect: Dialect) -> list[list[str]] | None:
    """The first ``max(header_rows, 1)`` non-empty records of ``path``'s
    first data file, parsed with the reference reader's own csv-module
    dialect (doublequote, no escapechar): the header rows, or with
    none declared the first data record, which sizes the schema. Bad
    bytes decode to U+FFFD, as Spark decodes them. None when the path is
    not local or the csv module cannot parse the dialect (an unknown
    encoding, or a quotechar it rejects with TypeError)."""
    first = _first_data_file(path)
    if first is None:
        return None
    try:
        with open(first, encoding=dialect.encoding or "utf-8",
                  errors="replace", newline="") as f:
            rows = csv.reader(
                f, delimiter=dialect.sep, quotechar=dialect.quote or None,
                quoting=csv.QUOTE_MINIMAL if dialect.quote else csv.QUOTE_NONE,
            )
            return list(itertools.islice(
                filter(None, rows), max(dialect.header_rows, 1)
            ))
    except (OSError, LookupError, csv.Error, TypeError):
        return None


def read_positional(
    spark: SparkSession,
    path: str,
    dialect: Dialect,
    headers: list[list[str]] | None,
    terms: dict[int, str],
    corrupt_col: str | None = None,
) -> tuple[DataFrame, dict[str, Column]]:
    """Read ``path`` by position -> (the ``_cN`` frame, term -> value).

    The schema is ``_c0 .. _cW-1`` with W the widest of the sniffed
    ``headers`` and the highest index in ``terms``, so an index past a
    short row reads NULL instead of failing to resolve. Header rows are
    skipped by position (Spark's ``header`` option drops the first
    record of each file; the caller drops any further ones). Each value
    is ``term -> Column`` over the frame: ``py_strip``-ed, blank as
    NULL, and a term several indexes claim (in ``terms`` order) folds to
    the LAST non-empty claim — the reference row loop's dict assignment
    (delimited.py:265-268), where a blank value never assigns.
    ``corrupt_col`` adds Spark's malformed-row capture column.

    Records may span lines only when the quote char occurs in the file:
    quoted values may hold embedded newlines, which only Spark's
    multi-line mode parses, but that mode reads each file in one task.
    The probe is a sequential byte scan that keeps the common
    never-quoting feed splittable; a directory or glob is assumed to
    quote. In multi-line mode an unclosed quote runs to the end of the
    file, as it does in the reference's reader.
    """
    from idb_backend_spark.functions.grabbers import blank_to_null

    # '' = no quoting: \u0000 disables Spark's quote handling instead of
    # silently reinstating '"'. Embedded quotes use RFC-4180 doubling —
    # what write_csv_member emits and the reference's csv module parses
    # (doublequote, no escapechar, so a backslash is data); Spark's
    # default backslash escape would corrupt doubled quotes.
    quote = dialect.quote or "\u0000"
    reader = (
        spark.read.option("header", str(dialect.header_rows > 0).lower())
        .option("sep", dialect.sep)
        .option("quote", quote)
        .option("escape", quote)
        .option("encoding", dialect.encoding)
        .option("mode", "PERMISSIVE")
    )
    if dialect.quote and file_contains_char(
        path, dialect.quote, dialect.encoding
    ):
        reader = reader.option("multiLine", "true")
        if dialect.line_sep:
            # multi-line mode otherwise detects the terminator from the
            # first line, and a mixed-ending file would parse as one record
            reader = reader.option("lineSep", dialect.line_sep)
    width = max([len(h) for h in headers or []] + [max(terms, default=0) + 1])
    fields = [StructField(f"_c{i}", StringType()) for i in range(width)]
    if corrupt_col:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
        fields.append(StructField(corrupt_col, StringType()))
    df = reader.schema(StructType(fields)).csv(path)
    claims: dict[str, list[Column]] = {}
    for idx, term in terms.items():
        claims.setdefault(term, []).append(blank_to_null(F.col(f"_c{idx}")))
    return df, {
        term: srcs[0] if len(srcs) == 1 else F.coalesce(*reversed(srcs))
        for term, srcs in claims.items()
    }


def read_delimited(
    spark: SparkSession,
    path: str,
    sep: str | None = ",",
    encoding: str = "utf-8",
    quote: str = '"',
) -> DataFrame:
    """Read a delimited file (or a directory/glob of same-header files)
    into canonicalized CURIE columns plus ``flag_corrupt_row`` and
    ``flag_encoding_error``.

    Each header is canonicalized through the fieldnames registry
    (delimited.py:176-189); a column the registry marks as bookkeeping
    is dropped, and headers that canonicalize to one term — literal
    duplicates included — fold to its last non-empty value.

    Corrupt rows survive with ``flag_corrupt_row`` set — the reference's
    per-row try/except-log-skip loop (delimited.py:256-305) drops them.
    The reference also pins the expected row length from the FIRST DATA
    ROW, not the header (delimited.py:244-248), so a short first row
    makes it skip every full-length row after it; here the header sets
    the width and bad rows are flagged, not dropped (pinned in
    tests/test_sources_export.py
    ``test_reference_first_row_pins_line_length``).
    """
    dialect = Dialect(normalize_delimiter(sep), quote, encoding)
    headers = sniff_header(path, dialect)
    if headers is None:
        raise ValueError(
            f"{path!r}: no header row readable on the driver (a local "
            "file, directory or glob in a csv-module dialect is needed)"
        )
    terms = {}
    for pos, verbatim in enumerate(headers[0] if headers else []):
        term, _cls = get_canonical_name(verbatim)
        if term is not None:  # None: the registry drops the column
            terms[pos] = term
    df, cols = read_positional(
        spark, path, dialect, headers, terms, corrupt_col=CORRUPT_COL
    )
    # flag_encoding_error — the reference splices a literal
    # "DECODEERROR:<hexbytes>" marker into any field whose bytes fail the
    # declared charset (delimited.py:42-47). Spark's JVM-side decode
    # substitutes U+FFFD instead, so the BAD BYTES are unrecoverable here
    # — a declared boundary — but the SIGNAL is not: any U+FFFD in any
    # field marks the row, the same row-level fact the marker carries.
    had_decode_error = reduce(
        or_,
        [F.coalesce(c.contains("\ufffd"), F.lit(False))
         for c in cols.values()],
        F.lit(False),
    )
    return df.select(
        *[c.alias(term) for term, c in cols.items()],
        F.col(CORRUPT_COL).isNotNull().alias("flag_corrupt_row"),
        had_decode_error.alias("flag_encoding_error"),
    )
