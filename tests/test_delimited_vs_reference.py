"""Differential execution of the delimited reader's ROW LOOP against
the reference's ``DelimitedFile`` (idigbio_ingestion/lib/delimited.py) —
beyond the r10 delimiter-normalizer battery, this drives
``readline()``'s record assembly, the line-length poisoning path, the
missing-fields skip, the DECODEERROR flag, the rowtype fallback vote,
and the broken-iteration quirks, all on real files.

Engine divergences, each documented at the kernel and machine-pinned
here: mismatched-length rows are FLAGGED (flag_corrupt_row), not
silently dropped; bad bytes decode to U+FFFD (the reference splices a
recoverable hex marker); zero rowtype votes return the Occurrence
default (the reference IndexErrors). r14: duplicate-canonical headers
now FOLD like the reference (last non-empty column wins the term —
positional raw-header fold in read_delimited) instead of keeping the
second column verbatim; the DUP_HEADER_POOL below drives that executed
differential.
"""

from __future__ import annotations

import importlib.util
import io
import sys

import pytest


@pytest.fixture(scope="module")
def ref_delimited(requires_reference):
    """The reference module, with ONE repair injected after the
    shipped-bug pin below runs against the pristine module: delimited.py
    uses ``NO_CLASS__UNKNOWN_FIELD`` in its unmapped-fields warning
    (:194) but never imports it from fieldnames (:16), so EVERY
    DelimitedFile construction with any mapped field NameErrors as
    shipped. The constant is injected with fieldnames' real value so the
    row loop underneath — the code production actually exercised before
    that refactor — can execute as the oracle."""
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_delimited", "/root/reference/idigbio_ingestion/lib/delimited.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from idb.helpers.fieldnames import NO_CLASS__UNKNOWN_FIELD

    mod.NO_CLASS__UNKNOWN_FIELD = NO_CLASS__UNKNOWN_FIELD
    return mod


def test_shipped_module_name_error_pinned(tmp_path, requires_reference):
    """The pristine module (no injection): constructing a DelimitedFile
    over a file with mapped headers NameErrors at the unmapped-fields
    warning (delimited.py:194 — NO_CLASS__UNKNOWN_FIELD used, never
    imported). Machine-pinned so the repair in the fixture above stays
    a conscious, documented step."""
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_delimited_pristine",
        "/root/reference/idigbio_ingestion/lib/delimited.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    p = tmp_path / "pristine.csv"
    p.write_text("catalogNumber\nc1\n", encoding="utf-8")
    with pytest.raises(NameError):
        mod.DelimitedFile(str(p), logname="t")


OCC = "http://rs.tdwg.org/dwc/terms/Occurrence"


def _read_all(df_obj):
    """Drain a reference DelimitedFile via readline() (its ``for``
    iteration is broken — see test_delimitedfile_iteration_is_broken)."""
    rows = []
    while True:
        try:
            rows.append(df_obj.readline())
        except StopIteration:
            return rows


def test_row_loop_vs_reference(ref_delimited, spark, tmp_path):
    """Record assembly parity on a well-formed file: canonicalized
    header mapping, drop-marked column removal, per-value strip,
    empty-after-strip drop (engine: null), quoted embedded delimiter."""
    p = tmp_path / "rows.csv"
    p.write_text(
        "catalogNumber,MonthCollected,DecimalLatitude,foo,Annotations\n"
        "c1,  5 ,29.65,weird,noise\n"
        'c2,,"  -82.32","a,b",noise\n'
        "c3,  ,x,  ,noise\n",
        encoding="utf-8",
    )
    ref_rows = _read_all(
        ref_delimited.DelimitedFile(str(p), logname="t")
    )

    from idb_backend_spark.sources.delimited import read_delimited

    got = {
        r["dwc:catalogNumber"]: {
            k: v for k, v in r.asDict().items()
            if v is not None and not k.startswith("flag_")
        }
        for r in read_delimited(spark, str(p)).collect()
    }
    assert len(ref_rows) == len(got) == 3
    for ref in ref_rows:
        ref = {k: v for k, v in ref.items() if not k.startswith("flag_")}
        assert got[ref["dwc:catalogNumber"]] == ref, (ref, got)


def test_value_strip_whitespace_class_vs_reference(ref_delimited, spark,
                                                   tmp_path):
    """The kept-value strip must strip the same whitespace CLASS as
    Python str.strip — tabs and CRs inside a comma-delimited field, not
    just spaces (delimited.py:255 ``lineArr[k].strip()``)."""
    p = tmp_path / "pad.csv"
    p.write_text(
        "catalogNumber,locality\n"
        "c1,\tpadded with tab\t\n"
        "c2, \t \n"  # whitespace-only after strip -> dropped
        "c3,\x0bvertical\x0c\n",
        encoding="utf-8",
    )
    ref_rows = _read_all(ref_delimited.DelimitedFile(str(p), logname="t"))

    from idb_backend_spark.sources.delimited import read_delimited

    got = {
        r["dwc:catalogNumber"]: r["dwc:locality"]
        for r in read_delimited(spark, str(p)).collect()
    }
    by_cat = {r["dwc:catalogNumber"]: r.get("dwc:locality") for r in ref_rows}
    assert by_cat == got, (by_cat, got)


def test_line_length_poisoning_executed(ref_delimited, spark, tmp_path):
    """The poisoning path (delimited.py:244-248 + the LineLengthException
    skip): with a header DICT (the DwC-A construction), the expected
    length pins to the FIRST DATA ROW — one overlong first row makes the
    reader silently skip every CORRECT-width row after it (and a short
    first row empties the file entirely via MissingFieldsException —
    see test_missing_fields_skip_executed). The engine FLAGS mismatched
    rows instead of dropping them (sources/delimited.py divergence
    note) — all rows survive with flag_corrupt_row on the malformed
    one."""
    p = tmp_path / "poison.csv"
    p.write_text("Rosa,US,extra\nCanis,BR\nFelis,MX\n", encoding="utf-8")
    ref = ref_delimited.DelimitedFile(
        str(p), header={0: "dwc:genus", 1: "dwc:country"}, rowtype=OCC,
        logname="t",
    )
    rows = _read_all(ref)
    # the overlong row READS (extra column ignored) and pins length 3;
    # both correct 2-field rows after it are silently dropped
    assert rows == [{"dwc:genus": "Rosa", "dwc:country": "US"}]

    from idb_backend_spark.sources.delimited import read_delimited

    p2 = tmp_path / "poison2.csv"
    p2.write_text("genus,country\nRosa,US,extra\nCanis,BR\nFelis,MX\n",
                  encoding="utf-8")
    eng = read_delimited(spark, str(p2)).collect()
    assert len(eng) == 3  # nothing dropped
    assert sum(1 for r in eng if r["flag_corrupt_row"]) == 1  # wide row


def test_missing_fields_skip_executed(ref_delimited, tmp_path):
    """A header dict naming an index past the row width skips EVERY row
    (MissingFieldsException caught and logged, delimited.py:250-253 +
    :275-279) — the file reads as empty."""
    p = tmp_path / "short.csv"
    p.write_text("Rosa,US\nCanis,BR\n", encoding="utf-8")
    ref = ref_delimited.DelimitedFile(
        str(p), header={0: "dwc:genus", 3: "dwc:country"}, rowtype=OCC,
        logname="t",
    )
    assert _read_all(ref) == []


def test_decode_error_flag_vs_reference(ref_delimited, spark, tmp_path):
    """Bad bytes, executed: the reference's registered codecs handler
    (delimited.py:42-47) is py2 code — it iterates ``e.object`` (BYTES
    on py3, yielding ints) through ``ord()``, so the handler itself
    TypeErrors and one bad byte KILLS the whole read on py3; the
    DECODEERROR:<hex> splice + flag_encoding_error path
    (:256-266) is reachable only under py2. The engine keeps the
    INTENT's row-level signal: bytes decode to U+FFFD (unrecoverable —
    the documented boundary) and the row carries flag_encoding_error;
    no crash, no dropped file."""
    p = tmp_path / "bad.csv"
    p.write_bytes(b"catalogNumber,locality\nc1,Ac\xfferly\nc2,fine\n")
    with pytest.raises(TypeError):  # ord() on an int — handler crashes
        # the buffered header-line decode already covers the bad byte,
        # so construction itself dies
        _read_all(ref_delimited.DelimitedFile(str(p), logname="t"))

    from idb_backend_spark.sources.delimited import read_delimited

    eng = {r["dwc:catalogNumber"]: r
           for r in read_delimited(spark, str(p)).collect()}
    assert eng["c1"]["flag_encoding_error"] is True
    assert eng["c1"]["dwc:locality"] == "Ac�erly"
    assert eng["c2"]["flag_encoding_error"] is False


def test_rowtype_fallback_vs_reference(ref_delimited, tmp_path):
    """The rowtype vote (delimited.py:179-204) executed over header
    batteries vs the engine's infer_row_type: Unknown-class headers DO
    vote (a mostly-unregistered feed gets rowtype 'Unknown'), ties break
    by class name DESC, drop-marked columns abstain."""
    from idb_backend_spark.sources.fieldnames import infer_row_type

    batteries = [
        ["MonthCollected", "dwc:genus", "ac:accessURI"],
        ["dwc:genus", "ac:accessURI"],            # 1-1 tie -> name DESC
        ["foo", "bar", "dwc:genus"],              # Unknown majority
        ["foo", "dwc:genus"],                     # Unknown-Occurrence tie
        ["ac:accessURI", "Annotations", "foo"],   # drop-marked abstains
    ]
    for headers in batteries:
        p = tmp_path / "rt.csv"
        p.write_text(",".join(headers) + "\na" + ",b" * (len(headers) - 1)
                     + "\n", encoding="utf-8")
        ref = ref_delimited.DelimitedFile(str(p), logname="t")
        assert infer_row_type(headers) == ref.rowtype, headers

    # divergence pin: zero votes IndexError in the reference; the
    # engine returns the Occurrence default
    p = tmp_path / "rt0.csv"
    p.write_text("Annotations\nx\n", encoding="utf-8")
    with pytest.raises(IndexError):
        ref_delimited.DelimitedFile(str(p), logname="t")
    assert infer_row_type(["Annotations"]) == "dwc:Occurrence"


DUP_HEADER_POOL = [
    # (header, data row) — duplicate-canonical folds, r14 pool class
    # (VERDICT r13 task 4): several headers claiming one term; the
    # reference's dict assignment makes the LAST NON-EMPTY column win
    # (empty-after-strip values never assign, delimited.py:265-268)
    ("catalogNumber,dwc:decimalLatitude,DecimalLatitude", "c1,11.0,22.0"),
    # later duplicate EMPTY: the earlier non-empty value must survive
    ("catalogNumber,dwc:decimalLatitude,DecimalLatitude", "c1,11.0,"),
    # later duplicate whitespace-only: strips to empty, never assigns
    ("catalogNumber,dwc:decimalLatitude,DecimalLatitude", 'c1,11.0,"\t  "'),
    # earlier empty, later wins
    ("catalogNumber,dwc:decimalLatitude,DecimalLatitude", "c1,,22.0"),
    # both empty: key absent from the record entirely
    ("catalogNumber,dwc:decimalLatitude,DecimalLatitude", "c1,,"),
    # LITERAL duplicate headers (Spark renames genus0/genus1 — the fold
    # must reunite them by position)
    ("genus,genus,catalogNumber", "Quercus,Betula,c1"),
    ("genus,genus,catalogNumber", "Quercus,,c1"),
    # three-way claim with mixed blanks: middle empty, last non-empty
    ("dwc_decimalLatitude,dwc:decimalLatitude,DecimalLatitude,id",
     "1.0,,3.0,r1"),
    ("dwc_decimalLatitude,dwc:decimalLatitude,DecimalLatitude,id",
     "1.0,2.0,,r1"),
    # values that strip differently: the padded later value wins and is
    # kept STRIPPED on both sides
    ("genus,Genus", "Quercus,  Betula\t"),
]


@pytest.mark.parametrize("header,row", DUP_HEADER_POOL)
def test_duplicate_canonical_header_vs_reference(ref_delimited, spark,
                                                 tmp_path, header, row):
    """Two+ headers canonicalizing to ONE term: the reference maps every
    index to the term and the row loop's dict assignment makes the LAST
    NON-EMPTY column win (delimited.py:265-268 — empty-after-strip
    values never assign). r14: the engine's positional raw-header fold
    (read_delimited) now reproduces that exactly — coalesce of the
    blank-nulled duplicate columns in reverse file order — where it
    previously kept the second column verbatim. EXECUTED record-dict
    equality, not transcription."""
    p = tmp_path / "dup.csv"
    p.write_text(f"{header}\n{row}\n", encoding="utf-8")
    ref_rows = _read_all(ref_delimited.DelimitedFile(str(p), logname="t"))

    from idb_backend_spark.sources.delimited import read_delimited

    out = read_delimited(spark, str(p)).collect()[0]
    got = {
        k: v
        for k, v in out.asDict().items()
        if v is not None and not k.startswith("flag_")
    }
    assert got == ref_rows[0], (header, row)


def test_duplicate_canonical_fold_reaches_etag(ref_delimited, spark,
                                               tmp_path):
    """The fold must land in content identity, not just projection: the
    engine etag of the folded record equals calcEtag of the reference's
    row dict — a record whose duplicate column diverged would version
    differently forever."""
    import importlib.util as _ilu

    spec = _ilu.spec_from_file_location(
        "ref_etags", "/root/reference/idb/helpers/etags.py"
    )
    ref_etags = _ilu.module_from_spec(spec)
    spec.loader.exec_module(ref_etags)

    p = tmp_path / "dup_etag.csv"
    p.write_text(
        "genus,Genus,catalogNumber\nQuercus,Betula,c1\nAcer,,c2\n",
        encoding="utf-8",
    )
    f = ref_delimited.DelimitedFile(str(p), logname="t")
    ref_hashes = [ref_etags.calcEtag(r) for r in _read_all(f)]

    from idb_backend_spark.functions.etags import calc_etag
    from idb_backend_spark.sources.delimited import read_delimited

    rows = read_delimited(spark, str(p)).orderBy("catalogNumber").collect()
    got = [
        calc_etag({
            k: v
            for k, v in r.asDict().items()
            if v is not None and not k.startswith("flag_")
        })
        for r in rows
    ]
    assert got == ref_hashes


def test_delimitedfile_iteration_is_broken(ref_delimited, tmp_path):
    """Executable quirk: DelimitedFile.__next__ delegates through
    ``super(DwcaRecordFile, ...)`` — a name delimited.py never defines
    (delimited.py:56-59) — so ``for row in f`` NameErrors on the first
    step and readlines() (which iterates) dies with it; every real
    consumer drives readline() directly. The engine has no iterator
    shim to diverge from — pinned so the transcribed loop in
    sources/delimited.py is never 'completed' to match broken code."""
    p = tmp_path / "it.csv"
    p.write_text("catalogNumber\nc1\nc2\n", encoding="utf-8")
    f = ref_delimited.DelimitedFile(str(p), logname="t")
    with pytest.raises(NameError):
        next(iter(f))


@pytest.mark.parametrize("spelling", ["directory", "glob"])
def test_path_spelling_parity(spark, tmp_path, spelling):
    """Identical bytes give identical columns and rows whichever way the
    path is spelled: a directory or glob takes its header from its first
    data file, so duplicate-canonical headers fold (last non-empty wins)
    exactly as they do for the file itself, and nothing warns."""
    import warnings

    from idb_backend_spark.sources.delimited import read_delimited

    d = tmp_path / "dupdir"
    d.mkdir()
    f = d / "part.csv"
    f.write_text(
        "genus,Genus,catalogNumber\nQuercus,Betula,c1\nAcer,,c2\n",
        encoding="utf-8",
    )
    other = str(d) if spelling == "directory" else str(d / "*.csv")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        one, many = read_delimited(spark, str(f)), read_delimited(spark, other)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert many.columns == one.columns == [
        "dwc:genus", "dwc:catalogNumber",
        "flag_corrupt_row", "flag_encoding_error",
    ]
    rows = sorted(r.asDict().items() for r in one.collect())
    assert sorted(r.asDict().items() for r in many.collect()) == rows
    assert [dict(r)["dwc:genus"] for r in rows] == ["Betula", "Acer"]


def test_invalid_quotechar_falls_back_instead_of_crashing(tmp_path):
    """csv.reader raises TypeError for a multi-character quotechar; the
    one header sniff must swallow it and report no header rather than
    crash the driver."""
    from idb_backend_spark.sources.delimited import Dialect, sniff_header

    p = tmp_path / "q.csv"
    p.write_text("genus,catalogNumber\nQuercus,c1\n", encoding="utf-8")
    assert sniff_header(str(p), Dialect(quote='""')) is None
    assert sniff_header(str(p), Dialect()) == [["genus", "catalogNumber"]]
