"""Seeded random-header fuzz of read_delimited against the reference's
DelimitedFile (r14) — the regression net for the positional
duplicate-canonical fold: random header multisets (mapped terms,
aliases that canonicalize together, literal duplicates, unknown and
bookkeeping columns) over well-formed rows with padding, quotes,
unicode and blanks. Record-dict equality row by row (aligned by a
unique __rowid column the registry keeps verbatim)."""

from __future__ import annotations

import csv
import io
import random

from tests.test_delimited_vs_reference import _read_all, ref_delimited  # noqa: F401

HEADERS = [
    "catalogNumber", "dwc:genus", "genus", "Genus", "MonthCollected",
    "DecimalLatitude", "dwc:decimalLatitude", "locality", "foo",
    "Annotations", "country", "id",
]
VALS = [
    "", " ", "x", "  padded  ", "Ünïcode", "a,b", 'q"uote', "12.5",
    "\tv\t", "multi word value", "0", "-", "ﬁn",
]


def test_random_header_fuzz_vs_reference(ref_delimited, spark, tmp_path):
    from idb_backend_spark.sources.delimited import read_delimited

    from conftest import soak_seeds

    for s_i, seed in enumerate(soak_seeds(0xDE11)):
        _fuzz_headers(ref_delimited, spark, tmp_path, random.Random(seed),
                      s_i * 25)


def _random_file(rng, tmp_path, it):
    """One seeded random-header CSV file; returns (path, header)."""
    ncols = rng.randint(1, 6)
    hdr = (rng.sample(HEADERS, ncols) if rng.random() < 0.5
           else [rng.choice(HEADERS) for _ in range(ncols)])
    rows = [
        [rng.choice(VALS) for _ in range(ncols)]
        for _ in range(rng.randint(1, 5))
    ]
    hdr = ["__rowid"] + hdr
    rows = [[str(i)] + r for i, r in enumerate(rows)]
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(hdr)
    w.writerows(rows)
    p = tmp_path / f"f{it}.csv"
    p.write_text(buf.getvalue(), encoding="utf-8")
    return p, hdr


def _fuzz_headers(ref_delimited, spark, tmp_path, rng, base):
    from idb_backend_spark.sources.delimited import read_delimited

    for it in range(base, base + 25):
        p, hdr = _random_file(rng, tmp_path, it)
        ref_rows = _read_all(ref_delimited.DelimitedFile(str(p), logname="t"))
        eng = read_delimited(spark, str(p)).collect()
        eng_by = {}
        for r in eng:
            d = {k: v for k, v in r.asDict().items()
                 if v is not None and not k.startswith("flag_")}
            eng_by[d.get("__rowid")] = d
        assert len(ref_rows) == len(eng), (it, hdr)
        for rr in ref_rows:
            assert eng_by.get(rr.get("__rowid")) == dict(rr), (it, hdr, rr)
