"""S1-S4 / S9-S11 tests: DwC-A read, delimited read with corrupt-row
isolation, EML parse, CSV/DwC-A export roundtrip, citations — modeled on
the reference's e2e export test shape
(tests/idigbio_workers/lib/test_download.py:12-50)."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.export import writers
from idb_backend_spark.sources import fieldnames as fn
from idb_backend_spark.sources.delimited import normalize_delimiter, read_delimited
from idb_backend_spark.sources.dwca import DwcaArchive, parse_meta_xml
from idb_backend_spark.sources.eml import parse_eml
from tests.test_delimited_vs_reference import DUP_HEADER_POOL

META_XML = b"""<?xml version="1.0" encoding="UTF-8"?>
<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">
  <core encoding="utf-8" fieldsTerminatedBy="," linesTerminatedBy="\\n"
        fieldsEnclosedBy="&quot;" ignoreHeaderLines="1"
        rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
    <files><location>occurrence.csv</location></files>
    <id index="0"/>
    <field index="1" term="http://rs.tdwg.org/dwc/terms/genus"/>
    <field index="2" term="http://rs.tdwg.org/dwc/terms/stateProvince"/>
    <field index="3" term="http://rs.tdwg.org/dwc/terms/decimalLatitude"/>
    <field term="http://rs.tdwg.org/dwc/terms/country" default="USA"/>
  </core>
  <extension encoding="utf-8" fieldsTerminatedBy="\\t" ignoreHeaderLines="0"
        rowType="http://rs.tdwg.org/ac/terms/multimedia">
    <files><location>multimedia.tsv</location></files>
    <coreid index="0"/>
    <field index="1" term="http://rs.tdwg.org/ac/terms/accessURI"/>
  </extension>
</archive>
"""

OCCURRENCE_CSV = """id,genus,stateprovince,lat
r1,Acer,Florida,29.65
r2,Quercus,Georgia,
r3,Acer,Florida,30.1
"""

MULTIMEDIA_TSV = "r1\thttp://img/1.jpg\nr3\thttp://img/3.jpg\n"

EML_XML = b"""<?xml version="1.0"?>
<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1">
  <dataset>
    <title>Herbarium Test Collection</title>
    <creator>
      <individualName><givenName>Jo</givenName><surName>Doe</surName></individualName>
      <electronicMailAddress>jo@example.org</electronicMailAddress>
    </creator>
    <abstract><para>Specimens of the test flora.</para></abstract>
    <intellectualRights>
      <para>This work is licensed under<ulink url="http://creativecommons.org/licenses/by/4.0/"><citetitle>CC BY (Attribution)</citetitle></ulink></para>
    </intellectualRights>
  </dataset>
</eml:eml>
"""


@pytest.fixture()
def dwca_zip(tmp_path):
    p = tmp_path / "archive.zip"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("meta.xml", META_XML)
        z.writestr("occurrence.csv", OCCURRENCE_CSV)
        z.writestr("multimedia.tsv", MULTIMEDIA_TSV)
        z.writestr("eml.xml", EML_XML)
    return str(p)


def test_parse_meta_xml():
    core, exts, meta_loc = parse_meta_xml(META_XML)
    assert meta_loc == "eml.xml"
    assert core.location == "occurrence.csv"
    assert core.record_type == "records"
    assert core.ignore_header_lines == 1
    assert core.term_by_index == {
        1: "dwc:genus", 2: "dwc:stateProvince", 3: "dwc:decimalLatitude"
    }
    assert core.defaults == {"dwc:country": "USA"}
    assert len(exts) == 1
    assert exts[0].fields_terminated_by == "\t"
    assert exts[0].id_is_coreid
    assert exts[0].record_type == "mediarecords"


def test_dwca_read(spark, dwca_zip, tmp_path):
    arch = DwcaArchive(dwca_zip, workdir=str(tmp_path / "x"))
    core = arch.read_core(spark)
    rows = {r["id"]: r for r in core.collect()}
    assert set(rows) == {"r1", "r2", "r3"}
    assert rows["r1"]["dwc:genus"] == "Acer"
    assert rows["r2"]["dwc:decimalLatitude"] is None  # blank -> null
    assert rows["r1"]["dwc:country"] == "USA"  # default applied
    ext = arch.read_extension(spark)
    erows = {r["coreid"]: r for r in ext.collect()}
    assert erows["r1"]["ac:accessURI"] == "http://img/1.jpg"
    md = arch.eml()
    assert md["collection_name"] == "Herbarium Test Collection"
    arch.close()


def test_eml_parse():
    md = parse_eml(EML_XML)
    assert md["collection_name"] == "Herbarium Test Collection"
    assert md["collection_description"] == "Specimens of the test flora."
    # canonicalized through the license table, never the raw text
    # (eml.py:102-111); the citetitle location (eml.py:75) wins here
    assert md["data_rights"] == "CC4 BY"
    assert md["contacts"][0]["last_name"] == "Doe"
    # role comes ONLY from positionName (eml.py:128,147) — the element
    # type (creator) is never recorded as a role
    assert "role" not in md["contacts"][0]


def test_normalize_delimiter():
    assert normalize_delimiter("\\t") == "\t"
    assert normalize_delimiter("tab") == "\t"
    assert normalize_delimiter("0x09") == "\t"
    assert normalize_delimiter("&#9;") == "\t"
    assert normalize_delimiter("&#x9;") == "\t"
    assert normalize_delimiter("||") == "|"
    assert normalize_delimiter(None) == ","
    assert normalize_delimiter("") == ","
    with pytest.raises(ValueError):
        normalize_delimiter("ab")


def test_read_delimited_canonicalize_and_corrupt(spark, tmp_path):
    p = tmp_path / "data.csv"
    p.write_text(
        "MonthCollected,Collector,Latitude\n"
        "5,Jane Roe,29.65\n"
        ',"unclosed quote,3\n'
        "6,Jim Poe,30.1\n"
    )
    df = read_delimited(spark, str(p))
    assert df.columns == [
        "dwc:month", "dwc:recordedBy", "dwc:decimalLatitude",
        "flag_corrupt_row", "flag_encoding_error",
    ]
    # a quote char in the file turns multiLine on, where an unclosed
    # quote runs to the end of the file (as in csv.reader): the tail is
    # one short, flagged record
    rows = [(r["dwc:month"], r["dwc:recordedBy"], r["flag_corrupt_row"])
            for r in df.collect()]
    assert sorted(rows, key=repr) == sorted([
        ("5", "Jane Roe", False),
        (None, "unclosed quote,3\n6,Jim Poe,30.1", True),
    ], key=repr)

    # a quote-free feed reads line by line: a wrong-width row is flagged
    # and its neighbours are untouched
    q = tmp_path / "wide.csv"
    q.write_text(
        "MonthCollected,Collector,Latitude\n"
        "5,Jane Roe,29.65\n"
        "7,Extra,1.0,surplus\n"
        "6,Jim Poe,30.1\n"
    )
    flags = {r["dwc:month"]: r["flag_corrupt_row"]
             for r in read_delimited(spark, str(q)).collect()}
    assert flags == {"5": False, "7": True, "6": False}


def test_csv_member_and_citations(spark, tmp_path):
    df = spark.createDataFrame(
        [("r1", "Acer", ["a", "b"]), ("r2", "Quercus", [])],
        "uuid string, genus string, flags array<string>",
    )
    out = str(tmp_path / "member.csv")
    writers.write_csv_member(
        df, out, "uuid", ["genus", "flags"],
        header_names={"genus": "http://rs.tdwg.org/dwc/terms/genus"},
    )
    lines = open(out).read().splitlines()
    assert lines[0].split(",")[1] == "http://rs.tdwg.org/dwc/terms/genus"
    body = "\n".join(sorted(lines[1:]))
    assert '"[""a"",""b""]"' in body  # non-string JSON-encoded
    counts = writers.recordset_counts(
        spark.createDataFrame([("a",), ("a",), ("b",)], "rs string"), "rs"
    )
    assert counts == [("a", 2), ("b", 1)]
    text = writers.citation_text(counts, "genus=acer", 3)
    # the reference's exact template (download.py:37-47): banner with
    # year, Query echo, total + isoformat datetime, recordset count,
    # one portal line per recordset desc, trailing newline
    assert text.startswith("https://www.idigbio.org/portal (")
    assert "Query: genus=acer," in text
    assert "3 records, accessed on " in text
    assert "contributed by 2 Recordsets, Recordset identifiers:" in text
    assert text.endswith(
        "https://www.idigbio.org/portal/recordsets/a (2 records)\n"
        "https://www.idigbio.org/portal/recordsets/b (1 records)\n"
    )
    assert writers.citation_text([], "q", 0) is None


def test_dwca_roundtrip(spark, tmp_path, dwca_zip):
    arch = DwcaArchive(dwca_zip, workdir=str(tmp_path / "in"))
    core = arch.read_core(spark)
    ext = arch.read_extension(spark)
    out_zip = str(tmp_path / "out.zip")
    writers.write_dwca(
        out_zip,
        core=(core, "id",
              ["dwc:genus", "dwc:stateProvince", "dwc:country"], "records"),
        extensions=[(ext, "coreid", ["ac:accessURI"], "mediarecords")],
        citations=writers.citation_text([("rs1", 3)], "all", 3),
        workdir=str(tmp_path / "w"),
    )
    with zipfile.ZipFile(out_zip) as z:
        names = set(z.namelist())
        assert names == {"meta.xml", "occurrence.csv", "multimedia.csv",
                         "citations.txt"}
        meta = z.read("meta.xml")
    # the generated meta.xml must parse back through our own reader
    core_d, exts_d, _ = parse_meta_xml(meta)
    assert core_d.location == "occurrence.csv"
    assert core_d.term_by_index[1] == "dwc:genus"
    assert exts_d[0].record_type == "mediarecords"
    # and the re-read archive must produce the same rows
    arch2_zip = str(tmp_path / "roundtrip.zip")
    import shutil

    shutil.copy(out_zip, arch2_zip)
    arch2 = DwcaArchive(arch2_zip, workdir=str(tmp_path / "in2"))
    core2 = arch2.read_core(spark)
    assert core2.count() == 3
    assert {r["dwc:genus"] for r in core2.collect()} == {"Acer", "Quercus"}
    arch.close()
    arch2.close()


def test_uniquevals_frame(spark):
    df = spark.createDataFrame(
        [("x",), ("x",), ("y",), (None,)], "v string"
    )
    out = writers.uniquevals_frame(df, "v").collect()
    assert [(r["value"], r["count"]) for r in out] == [
        ("x", 2), ("", 1), ("y", 1),
    ]
    import uuid as _uuid

    from idb_backend_spark.functions.enrichment import IDIGBIO_NAMESPACE

    assert out[0]["id"] == str(_uuid.uuid5(IDIGBIO_NAMESPACE, "x"))


def test_scientificname_fold_exotic_codepoint_residue(spark):
    """A3's capitalize fold, the documented exotic-codepoint residue
    machine-pinned (operators/aggregates.py:36-49): the engine folds
    scientificname buckets with upper(first)+lower(rest); Python's
    str.capitalize() TITLEcases the first char, which differs only on
    digraph/ligature codepoints — 'ß' uppercases to 'SS' but titlecases
    to 'Ss', 'ǳ' to 'Ǳ' vs 'ǲ'. Identical on every ASCII name the field
    actually holds (asserted over printable ASCII below); the exotic
    split stays a conscious divergence, named here with both outputs."""
    from idb_backend_spark.operators.aggregates import unique_values

    import string as _string

    rows = [("ßest",), ("ǳur",)] + [
        (c + "cer rubrum",) for c in _string.ascii_letters
    ]
    df = spark.createDataFrame(rows, "dwc_scientificname string")
    got = {
        r["value"]
        for r in unique_values(df, "dwc_scientificname").collect()
    }
    # engine output on the digraphs — upper(), the JVM fold
    assert "SSest" in got and "Ǳur" in got
    # Python's capitalize() would have produced the titlecase forms
    assert "ßest".capitalize() == "Ssest" and "Ssest" not in got
    assert "ǳur".capitalize() == "ǲur" and "ǲur" not in got
    # ASCII domain: the two folds agree exactly
    for c in _string.ascii_letters:
        v = c + "cer rubrum"
        assert v.capitalize() in got


def test_canonical_names():
    assert fn.get_canonical_name("dwc:verbatimElevation") == (
        "dwc:verbatimElevation", "dwc:Occurrence",
    )
    assert fn.get_canonical_name("MonthCollected") == (
        "dwc:month", "dwc:Occurrence",
    )
    assert fn.get_canonical_name("http://rs.tdwg.org/dwc/terms/genus")[0] == "dwc:genus"
    assert fn.get_canonical_name("asdf:Nonexistent用語") == (
        "asdf:Nonexistent", "Unknown",
    )
    assert fn.uri_to_curie("http://example.com/terms/foo") == "example:foo"
    assert fn.curie_to_uri("dwc:genus") == "http://rs.tdwg.org/dwc/terms/genus"
    assert fn.infer_row_type(["genus", "ac:accessURI", "locality"]) == "dwc:Occurrence"


def test_normalize_delimiter_literal_whitespace():
    # a literal tab/space must survive as-is, not strip to the default
    assert normalize_delimiter("\t") == "\t"
    assert normalize_delimiter(" ") == " "


def test_member_quote_probe(tmp_path):
    """The multiLine splittability probe: a member with no quote char at
    all reads without multiLine (splittable); any uncertainty — quote
    present, non-byte-transparent encoding, multi-byte needle — must
    report True (single-task but correct)."""
    from idb_backend_spark.sources.delimited import file_contains_char

    plain = tmp_path / "plain.csv"
    plain.write_text("id,genus\nr1,Acer\n")
    assert file_contains_char(str(plain), '"', "utf-8") is False

    quoted = tmp_path / "quoted.csv"
    quoted.write_text('id,note\nr1,"line\nbreak"\n')
    assert file_contains_char(str(quoted), '"', "utf-8") is True

    # exotic encodings can't be byte-scanned exactly -> conservative True
    assert file_contains_char(str(plain), '"', "utf-16") is True
    # multi-byte needle -> conservative True
    assert file_contains_char(str(plain), "“", "utf-8") is True
    # a directory or glob is assumed to quote
    assert file_contains_char(str(tmp_path), '"', "utf-8") is True


@pytest.mark.parametrize("meta,error", [
    pytest.param(None, ValueError, id="no-meta-xml"),
    pytest.param(b"<archive><core", SyntaxError, id="unparseable-meta-xml"),
])
def test_archive_open_failure_removes_workdir(tmp_path, meta, error):
    """An archive that cannot be opened raises and leaves no extracted
    tree on disk."""
    zp = tmp_path / "bad.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("occurrence.csv", OCCURRENCE_CSV)
        if meta is not None:
            z.writestr("meta.xml", meta)
    workdir = tmp_path / "x"
    with pytest.raises(error):
        DwcaArchive(str(zp), workdir=str(workdir))
    assert not workdir.exists()
    # the default workdir, beside the zip, is removed too
    with pytest.raises(error):
        DwcaArchive(str(zp))
    assert not (tmp_path / "bad_extracted").exists()


def test_dwca_member_with_embedded_newlines_still_parses(spark, tmp_path):
    """A genuinely quoted member (embedded newline) takes the multiLine
    path and parses the logical record across physical lines."""
    csv_body = (
        'id,genus,stateprovince,lat\n'
        'r1,"Acer\nrubrum",Florida,29.65\n'
        'r2,Quercus,Georgia,\n'
    )
    p = tmp_path / "nl.zip"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("meta.xml", META_XML)
        z.writestr("occurrence.csv", csv_body)
        z.writestr("multimedia.tsv", MULTIMEDIA_TSV)
        z.writestr("eml.xml", EML_XML)
    arch = DwcaArchive(str(p), workdir=str(tmp_path / "nlx"))
    rows = {r["id"]: r for r in arch.read_core(spark).collect()}
    assert set(rows) == {"r1", "r2"}
    assert rows["r1"]["dwc:genus"] == "Acer\nrubrum"
    arch.close()


def test_dwca_quote_escape_roundtrip(spark, tmp_path):
    """RFC-4180 doubled quotes: write_dwca escapes embedded quote chars
    by doubling; read_member must undouble them (reader escape = quote
    char, not Spark's default backslash) or any value containing '"'
    silently corrupts on round-trip."""
    from idb_backend_spark.export.writers import write_dwca

    df = spark.createDataFrame(
        [("r1", 'five "inches" north'), ("r2", "plain")],
        "id string, `dwc:locality` string",
    )
    zp = str(tmp_path / "q.zip")
    write_dwca(zp, (df, "id", ["dwc:locality"], "records"))
    arch = DwcaArchive(zp, workdir=str(tmp_path / "qx"))
    rows = {r["id"]: r["dwc:locality"] for r in arch.read_core(spark).collect()}
    assert rows == {"r1": 'five "inches" north', "r2": "plain"}
    arch.close()


def test_dwca_nested_folder_layout(spark, tmp_path, dwca_zip):
    """The common 'zip the directory' layout: meta.xml and members under
    one top-level folder, with locations relative to meta.xml's own
    directory. A decoy member named *-meta.xml must not be mistaken for
    the descriptor."""
    nested = tmp_path / "nested.zip"
    with zipfile.ZipFile(dwca_zip) as zin, zipfile.ZipFile(nested, "w") as z:
        z.writestr("pkg/eml-meta.xml", b"<decoy/>")
        for n in zin.namelist():
            z.writestr("pkg/" + n, zin.read(n))
    arch = DwcaArchive(str(nested), workdir=str(tmp_path / "nx"))
    rows = {r["id"]: r for r in arch.read_core(spark).collect()}
    assert set(rows) == {"r1", "r2", "r3"}
    assert rows["r1"]["dwc:country"] == "USA"
    md = arch.eml()
    assert md["collection_name"] == "Herbarium Test Collection"
    arch.close()


def test_dwca_header_skip_is_positional(spark, tmp_path):
    """ignoreHeaderLines drops the first record BY POSITION: a data row
    that happens to equal the header tuple must survive."""
    csv_body = (
        "id,genus,stateprovince,lat\n"
        "id,genus,stateprovince,\n"  # pathological data row == header-ish
        "r1,Acer,Florida,29.65\n"
    )
    p = tmp_path / "hdr.zip"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("meta.xml", META_XML)
        z.writestr("occurrence.csv", csv_body)
        z.writestr("multimedia.tsv", MULTIMEDIA_TSV)
        z.writestr("eml.xml", EML_XML)
    arch = DwcaArchive(str(p), workdir=str(tmp_path / "hx"))
    rows = {r["id"]: r for r in arch.read_core(spark).collect()}
    assert set(rows) == {"id", "r1"}
    assert rows["id"]["dwc:genus"] == "genus"
    arch.close()


def test_read_delimited_quote_escape_and_embedded_newlines(spark, tmp_path):
    """The probe-enabled multiLine path: RFC-4180 doubled quotes undouble
    on read (reference csv.reader doublequote semantics — Spark's default
    backslash escape retained them), and a quoted embedded newline parses
    as ONE record."""
    p = tmp_path / "q.csv"
    p.write_text(
        'Collector,Locality\n'
        '"Roe, Jane","said ""hi"" there"\n'
        '"Poe, Jim","123 Main St.\nBuilding 4"\n'
    )
    df = read_delimited(spark, str(p))
    rows = {r["dwc:recordedBy"]: r for r in df.collect()}
    assert set(rows) == {"Roe, Jane", "Poe, Jim"}
    assert rows["Roe, Jane"]["dwc:locality"] == 'said "hi" there'
    assert rows["Poe, Jim"]["dwc:locality"] == "123 Main St.\nBuilding 4"
    assert not any(r["flag_corrupt_row"] for r in rows.values())


def test_normalize_delimiter_repeated_whitespace():
    """A doubled-tab declaration collapses to tab like any repeated
    delimiter — strip()-first silently turned it into the comma default."""
    assert normalize_delimiter("\t\t") == "\t"
    assert normalize_delimiter("  ") == " "


def test_wkt_rejects_malformed_vertices_and_multipoint(spark):
    """F16: a ring with ANY non-numeric comma token is rejected whole
    (the reference nulls the shape; dropping just the bad vertex would
    emit a geometrically wrong polygon), and MULTIPOINT is not a POINT."""
    from idb_backend_spark.functions.finalize import wkt_point, wkt_polygon_ring

    df = spark.createDataFrame(
        [
            (1, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"),
            (2, "POLYGON ((0 0, 1 0, 1 1, bogus, 0 0))"),
            # bare fallback = the reference's FLAT comma-float dialect
            (3, "0,0,1,0,1,1"),
            (4, "0,0,1,0,1.2.3,4"),
            (5, "MULTIPOINT (10 40)"),
            (6, "POINT (10 40)"),
        ],
        "id long, wkt string",
    )
    rings = {r["id"]: r["ring"] for r in df.select(
        "id", wkt_polygon_ring(F.col("wkt")).alias("ring")
    ).collect()}
    assert rings[1] is not None and len(rings[1]) == 5
    assert rings[2] is None          # malformed vertex -> whole shape null
    assert rings[3] is not None and len(rings[3]) == 3
    assert rings[4] is None
    pts = {r["id"]: r["pt"] for r in df.select(
        "id", wkt_point(F.col("wkt")).alias("pt")
    ).collect()}
    assert pts[5] is None            # MULTIPOINT is not a POINT
    assert pts[6] == (10.0, 40.0)


def test_uri_to_curie_longest_namespace_wins():
    """Nested registry namespaces (the idigbio terms prefix is a proper
    prefix of its inhs/fcc sub-namespaces) must resolve to the LONGEST
    match, or sub-namespace terms miss their TRANSLATE rows."""
    assert fn.uri_to_curie(
        "http://portal.idigbio.org/terms/fcc/datePicked"
    ) == "fcc:datePicked"
    assert fn.uri_to_curie(
        "http://portal.idigbio.org/terms/recordId"
    ) == "idigbio:recordId"


def test_canonical_name_case_insensitive_retry():
    """The lowercased retry probes LOWERCASED registry keys — comparing
    lower('CatalogNumber') against the mixed-case key 'catalogNumber'
    could never match."""
    term, cls = fn.get_canonical_name("CatalogNumber")
    assert term == "dwc:catalogNumber"


def test_atom_feed_revision_and_link_rel():
    """Atom: <updated> moves on revision (published is immutable) and the
    archive link is the rel-less/alternate one — a trailing rel='self'
    must not win."""
    from idb_backend_spark.sources.rss import parse_feed

    xml = b"""<?xml version="1.0"?>
    <feed xmlns="http://www.w3.org/2005/Atom">
      <entry>
        <title>DS</title>
        <link rel="alternate" href="http://host/archive.zip"/>
        <link rel="self" href="http://host/feed/entry/1"/>
        <published>2020-01-01T00:00:00Z</published>
        <updated>2026-08-01T00:00:00Z</updated>
        <id>urn:x:1</id>
      </entry>
    </feed>"""
    (e,) = parse_feed(xml)
    assert e.link == "http://host/archive.zip"
    assert e.pub_date == "2026-08-01T00:00:00Z"


def test_read_delimited_flags_encoding_errors(spark, tmp_path):
    """r9 — flag_encoding_error: the reference splices a literal
    DECODEERROR:<hex> marker into fields whose bytes fail the declared
    charset (delimited.py:42-47); Spark's JVM decode substitutes U+FFFD,
    so the engine carries the same row-level signal as a boolean flag
    (the bad-byte hex payload is a declared boundary)."""
    p = tmp_path / "enc.csv"
    with open(p, "wb") as fh:
        fh.write(b"dwc:catalogNumber,dwc:genus\n")
        fh.write(b"CAT-1,Acer\n")
        fh.write(b"CAT-2,Qu\xff\xfeercus\n")  # invalid UTF-8 bytes
        fh.write(b"CAT-3,Pinus\n")
    df = read_delimited(spark, str(p))
    got = {
        r["dwc:catalogNumber"]: r["flag_encoding_error"]
        for r in df.collect()
    }
    assert got == {"CAT-1": False, "CAT-2": True, "CAT-3": False}
    # clean rows and corrupt-row isolation untouched by the new flag
    assert all(not r["flag_corrupt_row"] for r in df.collect())


def test_meta_field_index_quirks_match_reference():
    """r9 — three meta.xml field-mapping quirks pinned against
    dwca.py:199-246: (a) the id/coreid binding claims its index before
    the field loop, so a field sharing it is DROPPED (the classic IPT
    <id index="0"/> + occurrenceID-at-0 layout yields only `id`);
    (b) a duplicate column index keeps the FIRST declaration; (c) the
    term URI is quote-stripped; and a dropped-duplicate field with a
    default still surfaces as a constant column (the reference records
    defaults outside the dedup check)."""
    xml = b"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
      <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"
            fieldsTerminatedBy="," linesTerminatedBy="\\n" encoding="utf-8">
        <files><location>occ.csv</location></files>
        <field index="1" term="http://rs.tdwg.org/dwc/terms/genus"/>
        <id index="0"/>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>
        <field index="1" term="&quot;http://rs.tdwg.org/dwc/terms/family&quot;"/>
        <field index="2" term="http://rs.tdwg.org/dwc/terms/basisOfRecord"
               default="PreservedSpecimen"/>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/catalogNumber"
               default="CAT-X"/>
      </core>
    </archive>"""
    core, exts, _ = parse_meta_xml(xml)
    assert core.id_index == 0 and not core.id_is_coreid
    # id wins index 0 even though declared between the two fields;
    # occurrenceID and catalogNumber both dropped from the index map.
    # r10 CORRECTION: this meta is interleaved (a singleton field run
    # before the id), so the reference's xml2d merge order is
    # [occurrenceID, family, basisOfRecord, catalogNumber, genus] —
    # family reaches index 1 FIRST and genus is the duplicate that
    # drops. The r9 pin asserted {1: genus} on a document-order
    # assumption xml2d does not honor (xmlDictTools.py:37-39).
    assert core.term_by_index == {1: "dwc:family", 2: "dwc:basisOfRecord"}
    # the dropped-duplicate catalogNumber keeps its default ->
    # constant column
    assert core.defaults == {
        "dwc:basisOfRecord": "PreservedSpecimen",
        "dwc:catalogNumber": "CAT-X",
    }


def test_eml_rights_sentinels():
    """eml.py:102-111 — unmatched rights text and absent rights land on
    the reference's two distinct sentinel strings."""
    unmatched = EML_XML.replace(b"CC BY (Attribution)", b"all mine")
    assert parse_eml(unmatched)["data_rights"] == (
        "Unknown License, assume Public Domain"
    )
    no_rights = (
        b"<eml:eml xmlns:eml='eml://ecoinformatics.org/eml-2.1.1'>"
        b"<dataset><title>T</title></dataset></eml:eml>"
    )
    assert parse_eml(no_rights)["data_rights"] == (
        "No license, assume Public Domain"
    )


def test_meta_core_flag_literal_vs_intent():
    """S10 divergence pin: the reference's core flag expression
    (download.py:267) is `t == core_type and raw == core_source ==
    "raw"` — the chained comparison puts a BOOL against the string
    'raw', so it is False for EVERY (t, raw, core_source) combination
    and the reference's meta.xml marks even the core member as an
    <extension>/<coreid>. Encode the literal outcome exhaustively next
    to the engine's intent (a real <core>/<id> block for the core)."""
    import itertools

    def reference_literal_core(t, core_type, raw, core_source):
        return t == core_type and raw == core_source == "raw"

    for t, core_type, raw, core_source in itertools.product(
        ("records", "mediarecords"),
        ("records", "mediarecords"),
        (True, False),
        ("indexterms", "raw"),
    ):
        assert reference_literal_core(t, core_type, raw, core_source) is False

    meta = writers.make_meta_xml(
        [
            {"filename": "occurrence.csv", "fields": ["dwc:genus"],
             "core": True, "tsv": False, "type": "records"},
            {"filename": "multimedia.csv", "fields": ["ac:accessURI"],
             "core": False, "tsv": False, "type": "mediarecords"},
        ]
    )
    core_d, exts_d, _ = parse_meta_xml(meta)
    assert core_d.location == "occurrence.csv"  # engine intent: real core
    assert len(exts_d) == 1 and exts_d[0].id_is_coreid


def test_uniquevals_val_func_literal():
    """A3/A4 divergence pin: the reference's make_file unique branch
    passes identifiy_locality for BOTH uniquelocality AND uniquenames
    (download.py:604) — its uniquenames export id column hashes under
    the locality namespace; the gn-namespace id_func fetched from
    type_core_type_ids is dead in that branch. The engine keeps the
    per-type namespace (the dead table's evident intent). Encode the
    literal reference id for a name value next to the engine's."""
    import uuid

    root = "http://identifiers.idigbio.org/"
    loc_ns = uuid.uuid5(uuid.NAMESPACE_URL, root + "locality")
    gn_ns = uuid.uuid5(uuid.NAMESPACE_DNS, "globalnames.org")
    # identification.py:6-11 asserts these constants — reproduce them
    assert str(loc_ns) == "e8518454-3e95-5e2f-95b4-e4b25c6ebb53"
    assert str(gn_ns) == "90181196-fecf-5082-a4c1-411d4f314cda"

    name = "Acer rubrum"
    reference_literal_id = str(uuid.uuid5(loc_ns, name))  # val_func bug
    engine_intent_id = str(uuid.uuid5(gn_ns, name))
    assert reference_literal_id != engine_intent_id


def test_meta_field_term_two_colon_drop():
    """make_field quirk (meta_xml.py:41-44): term.split(':') keeps only
    parts[1] for a known prefix — 'dwc:a:b' folds to URI + 'a', the
    ':b' tail dropped; unknown prefixes pass through verbatim."""
    assert fn.curie_to_uri("dwc:genus") == (
        "http://rs.tdwg.org/dwc/terms/genus"
    )
    assert fn.curie_to_uri("dwc:a:b") == "http://rs.tdwg.org/dwc/terms/a"
    assert fn.curie_to_uri("nosuch:field") == "nosuch:field"
    assert fn.curie_to_uri("plain") == "plain"


def test_reference_unknown_namespace_term_is_fatal():
    """S1 divergence pin: the reference reader keeps an unknown-
    namespace term RAW and raises on any '.' in it (dwca.py:223-238) —
    and since meta.xml terms are full URIs, the HOSTNAME's dots make
    every unknown-namespace term fatal: one unregistered term kills the
    archive. Transcribed literally; the engine folds to the dot-free
    hostname-fragment CURIE instead (index_helper.py:73-95 — the munge
    the reference itself applies on the ES side) and ingests."""
    import pytest as _pytest

    known = {"http://rs.tdwg.org/dwc/terms/": "dwc"}

    def reference_fold(term):  # dwca.py:216-238, literal shape
        term = term.replace('"', "")
        ns_found = False
        for ns in sorted(known, key=len, reverse=True):
            if term.startswith(ns):
                ns_found = True
                term = term.replace(ns, known[ns] + ":")
                break
        if not ns_found:
            if "." in term:
                raise Exception(
                    "Term '{0}' contains a dot '.' which is not allowed "
                    "in field names.".format(term)
                )
        return term

    assert reference_fold("http://rs.tdwg.org/dwc/terms/genus") == "dwc:genus"
    with _pytest.raises(Exception, match="contains a dot"):
        reference_fold("http://unregistered.example.org/terms/weight")

    # the engine's lenient fold produces a stable dot-free CURIE
    assert fn.uri_to_curie(
        "http://unregistered.example.org/terms/weight"
    ) == "example:weight"


def test_reference_first_row_pins_line_length():
    """S2 divergence pin (delimited.py:244-248): the reference pins the
    expected row length from the FIRST DATA ROW, not the declared field
    count — transcribed below, a short first row then poisons every
    correct row after it (LineLengthException -> silently skipped).
    The engine reads against the declared schema and FLAGS bad rows
    instead of dropping them (read_delimited docstring)."""
    lines = [["a"], ["x", "y", "z"], ["p", "q", "r"]]
    line_length = None
    kept, skipped = [], []
    for arr in lines:
        if line_length is None:
            line_length = len(arr)  # first row wins, whatever it is
            kept.append(arr)
        elif line_length != len(arr):
            skipped.append(arr)  # LineLengthException -> log & skip
        else:
            kept.append(arr)
    assert kept == [["a"]]
    assert skipped == [["x", "y", "z"], ["p", "q", "r"]]


def test_meta_xml_field_order_follows_xml2d_merge():
    """r10 pin — xmlDictTools.xml2d (:24-46) materializes same-tag
    siblings by CONSECUTIVE-run groupby; a singleton first run followed
    by a multi-element run is appended AFTER it, so field order on
    interleaved metas is NOT document order and the duplicate-index
    first-wins rule binds to the merged order."""
    from idb_backend_spark.sources.dwca import parse_meta_xml

    meta = b"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
      <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
        <files><location>occ.txt</location></files>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/genus"/>
        <id index="9"/>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/family"/>
        <field index="1" term="http://rs.tdwg.org/dwc/terms/country"/>
      </core>
    </archive>"""
    core, _, _ = parse_meta_xml(meta)
    # merged order is family, country, genus -> index 0's FIRST
    # declaration is family (document order would pick genus)
    assert core.term_by_index[0] == "dwc:family"
    assert core.term_by_index[1] == "dwc:country"

    # consecutive fields (every IPT export): document order preserved
    meta2 = b"""<archive xmlns="http://rs.tdwg.org/dwc/text/">
      <core rowType="http://rs.tdwg.org/dwc/terms/Occurrence">
        <files><location>occ.txt</location></files>
        <id index="9"/>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/genus"/>
        <field index="0" term="http://rs.tdwg.org/dwc/terms/family"/>
      </core>
    </archive>"""
    core2, _, _ = parse_meta_xml(meta2)
    assert core2.term_by_index[0] == "dwc:genus"


# --------------------------------------------------------------------------
# Reader behaviour pinned without the reference checkout. Each expected
# row is the reference's documented result (the executed differentials in
# test_delimited_vs_reference / test_dwca_vs_reference assert the same
# values against the reference reader when it is present).
# --------------------------------------------------------------------------

#: the last-non-empty-wins result of each DUP_HEADER_POOL row
DUP_HEADER_EXPECTED = [
    {"dwc:catalogNumber": "c1", "dwc:decimalLatitude": "22.0"},
    {"dwc:catalogNumber": "c1", "dwc:decimalLatitude": "11.0"},
    {"dwc:catalogNumber": "c1", "dwc:decimalLatitude": "11.0"},
    {"dwc:catalogNumber": "c1", "dwc:decimalLatitude": "22.0"},
    {"dwc:catalogNumber": "c1"},
    {"dwc:genus": "Betula", "dwc:catalogNumber": "c1"},
    {"dwc:genus": "Quercus", "dwc:catalogNumber": "c1"},
    {"dwc:decimalLatitude": "3.0", "id": "r1"},
    {"dwc:decimalLatitude": "2.0", "id": "r1"},
    {"dwc:genus": "Betula"},
]

READ_DELIMITED_CASES = [
    pytest.param(f"{h}\n{r}\n", [e], id=f"dup-header-{i}")
    for i, ((h, r), e) in enumerate(zip(DUP_HEADER_POOL, DUP_HEADER_EXPECTED,
                                        strict=True))
] + [
    # every value is str.strip()-ed with Python's full whitespace class
    # (tabs, vertical tab, form feed), and blank-after-strip is absent
    pytest.param(
        "catalogNumber,locality\n"
        "c1,\tpadded with tab\t\n"
        "c2, \t \n"
        "c3,\x0bvertical\x0c\n",
        [
            {"dwc:catalogNumber": "c1", "dwc:locality": "padded with tab"},
            {"dwc:catalogNumber": "c2"},
            {"dwc:catalogNumber": "c3", "dwc:locality": "vertical"},
        ],
        id="whitespace-class-strip",
    ),
]


def _multiset(rows) -> list:
    import json

    return sorted(json.dumps(sorted(d.items())) for d in rows)


@pytest.mark.parametrize("text,expected", READ_DELIMITED_CASES)
def test_read_delimited_value_contract(spark, tmp_path, text, expected):
    """Header fold and value strip of read_delimited: several headers
    claiming one term fold to the last non-empty value, and a blank
    value is absent (delimited.py:255-268)."""
    p = tmp_path / "case.csv"
    p.write_text(text, encoding="utf-8")
    got = [
        {k: v for k, v in r.asDict().items()
         if v is not None and not k.startswith("flag_")}
        for r in read_delimited(spark, str(p)).collect()
    ]
    assert _multiset(got) == _multiset(expected)


def _dwca_meta(fields: str, quote: str = "", header_lines: int = 0) -> str:
    return (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        f' fieldsEnclosedBy="{quote}" encoding="UTF-8"'
        f' ignoreHeaderLines="{header_lines}">'
        "<files><location>occurrence.csv</location></files>"
        f"{fields}</core></archive>"
    )


_DWC = "http://rs.tdwg.org/dwc/terms/"

READ_MEMBER_CASES = [
    pytest.param(
        # a foreign archive: values padded with tabs, NBSP and CR/LF strip
        # with the full whitespace class; a blank id is absent; a value
        # of NUL+whitespace strips to the NUL, which the reader then
        # removes (an empty string, key present)
        _dwca_meta(
            '<id index="0"/>'
            f'<field index="1" term="{_DWC}genus"/>'
            f'<field index="2" term="{_DWC}country"/>',
            quote="&quot;", header_lines=1,
        ),
        "id,genus,country\n"
        '1,"\tRosa\t","\t"\n'
        '2," x ",us\n'
        '"\t", nb ,"\r\n"\n'
        '4," \x00 ",ok\n',
        ["id", "dwc:genus", "dwc:country"],
        [
            {"id": "1", "dwc:genus": "Rosa"},
            {"id": "2", "dwc:genus": "x", "dwc:country": "us"},
            {"dwc:genus": "nb"},
            {"id": "4", "dwc:genus": "", "dwc:country": "ok"},
        ],
        id="whitespace-class-strip",
    ),
    pytest.param(
        # one term declared at two indexes, index 3 before index 2: the
        # LAST DECLARED non-empty value wins (dwca.py:241-243)
        _dwca_meta(
            '<id index="0"/>'
            f'<field index="1" term="{_DWC}catalogNumber"/>'
            f'<field index="3" term="{_DWC}genus"/>'
            f'<field index="2" term="{_DWC}genus"/>'
        ),
        "1,c1,Quercus,Betula\n"
        "2,c2,Acer,\n"
        "3,c3,,Salix\n"
        "4,c4,,\n"
        "5,c5, \t ,  \n",
        ["id", "dwc:catalogNumber", "dwc:genus"],
        [
            {"id": "1", "dwc:catalogNumber": "c1", "dwc:genus": "Quercus"},
            {"id": "2", "dwc:catalogNumber": "c2", "dwc:genus": "Acer"},
            {"id": "3", "dwc:catalogNumber": "c3", "dwc:genus": "Salix"},
            {"id": "4", "dwc:catalogNumber": "c4"},
            {"id": "5", "dwc:catalogNumber": "c5"},
        ],
        id="duplicate-term-meta-fold",
    ),
    pytest.param(
        # a <field term="id"> claims the id binding's key after it: a
        # non-empty field value beats the id column, one `id` column
        _dwca_meta(
            '<id index="0"/>'
            '<field index="1" term="id"/>'
            f'<field index="2" term="{_DWC}genus"/>'
        ),
        "r1,other-id,Quercus\n"
        "r2,,Acer\n"
        "r3, \t ,Salix\n",
        ["id", "dwc:genus"],
        [
            {"id": "other-id", "dwc:genus": "Quercus"},
            {"id": "r2", "dwc:genus": "Acer"},
            {"id": "r3", "dwc:genus": "Salix"},
        ],
        id="id-term-collision",
    ),
    pytest.param(
        # an index past the member's width reads as absent, rows kept
        _dwca_meta(
            '<id index="0"/>'
            f'<field index="1" term="{_DWC}genus"/>'
            f'<field index="5" term="{_DWC}country"/>'
        ),
        "r0,Rosa,x\nr1,Acer,y\n",
        ["id", "dwc:genus", "dwc:country"],
        [{"id": "r0", "dwc:genus": "Rosa"}, {"id": "r1", "dwc:genus": "Acer"}],
        id="declared-index-beyond-width",
    ),
    pytest.param(
        # a default on a <field term="id"> whose index was a dropped
        # duplicate fills blank ids; it never adds a second `id` column
        _dwca_meta(
            '<id index="0"/>'
            f'<field index="1" term="{_DWC}genus"/>'
            '<field index="1" term="id" default="fallback-id"/>'
        ),
        "r0,Rosa\n,Acer\n",
        ["id", "dwc:genus"],
        [
            {"id": "r0", "dwc:genus": "Rosa"},
            {"id": "fallback-id", "dwc:genus": "Acer"},
        ],
        id="id-default-on-dropped-duplicate-index",
    ),
]


@pytest.mark.parametrize("meta,body,columns,expected", READ_MEMBER_CASES)
def test_read_member_value_contract(spark, tmp_path, meta, body, columns,
                                    expected):
    """The DwC-A member reader's columns, in order, and its rows."""
    zp = tmp_path / "case.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", body)
    arch = DwcaArchive(str(zp), workdir=str(tmp_path / "x"))
    df = arch.read_core(spark)
    assert df.columns == columns
    got = [
        {k: v for k, v in r.asDict().items() if v is not None}
        for r in df.collect()
    ]
    arch.close()
    assert _multiset(got) == _multiset(expected)


def _fuzz_rows_dwca(spark, tmp_path):
    import random

    from tests.test_dwca_meta_fuzz import _random_archive

    rng = random.Random(0xD3CA)
    for it in range(25):
        zp, _meta = _random_archive(rng, str(tmp_path), it)
        arch = DwcaArchive(zp, workdir=str(tmp_path / f"x{it}"))
        df = arch.read_core(spark)
        yield df.columns, [r.asDict() for r in df.collect()]
        arch.close()


def _fuzz_rows_delimited(spark, tmp_path):
    import random

    from tests.test_delimited_header_fuzz import _random_file

    rng = random.Random(0xDE11)
    for it in range(25):
        p, _hdr = _random_file(rng, tmp_path, it)
        df = read_delimited(spark, str(p))
        yield df.columns, [r.asDict() for r in df.collect()]


#: sha256 over every generated file's sorted column set and row multiset
FUZZ_DIGESTS = {
    "dwca": (
        "7004631a6acb9e27071dbecb4e31326383baacfc13262d48a4b4084e7af6f361"
    ),
    "delimited": (
        "1c4a907ee0c5749bb23882f71a5ccc9ad74c4469a0dfdaeb47fa49e59e6d02ea"
    ),
}


@pytest.mark.parametrize("reader", sorted(FUZZ_DIGESTS))
def test_seeded_fuzz_rows_digest(spark, tmp_path, reader):
    """The seeded generators of test_dwca_meta_fuzz (seed 0xD3CA) and
    test_delimited_header_fuzz (seed 0xDE11), engine only: every
    file's column set and row multiset (NULLs included) hash to a
    pinned digest, so a reader change that moves any generated row
    fails here even where the reference checkout is absent."""
    import hashlib
    import json

    gen = {"dwca": _fuzz_rows_dwca, "delimited": _fuzz_rows_delimited}
    h = hashlib.sha256()
    for columns, rows in gen[reader](spark, tmp_path):
        h.update(json.dumps([sorted(columns), _multiset(rows)]).encode())
    assert h.hexdigest() == FUZZ_DIGESTS[reader]
