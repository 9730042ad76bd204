"""Differential execution of the DwC-A descriptor assembly against the
reference's ``DwcaRecordFile`` (idigbio_ingestion/lib/dwca.py:137-250),
with the reference's OWN ``xml2d`` (xmlDictTools.py) materializing the
meta.xml dict — so the id/coreid index claim, the quote-stripped term
CURIE fold, duplicate-index first-wins, defaults capture, and the
xml2d sibling-merge order all execute for real against the engine's
``parse_meta_xml``.

Plus the writer round-trip the r9/r10 rounds lacked: an archive
written by the ENGINE's write_dwca is read back through the
REFERENCE's descriptor + row loop and must yield the engine's own
rows.

xml2d runs on stdlib ElementTree through a tiny adapter adding the
``nsmap`` attribute lxml provides (lxml is absent from this container;
xml2d touches nothing else of lxml).
"""

from __future__ import annotations

import importlib.abc
import importlib.util
import os
import sys
import types as pytypes
import xml.etree.ElementTree as ET
import zipfile
from unittest import mock

import pytest


class _NsEl:
    """ElementTree element + the lxml surface xml2d reads."""

    def __init__(self, el, nsmap=None):
        self._el = el
        self.nsmap = nsmap if nsmap is not None else {}

    @property
    def tag(self):
        return self._el.tag

    @property
    def attrib(self):
        return self._el.attrib

    @property
    def text(self):
        return self._el.text

    def __iter__(self):
        for c in self._el:
            yield _NsEl(c, self.nsmap)


def _wrap_root(el):
    """Reconstruct lxml's root nsmap from ET's Clark-notation tag."""
    tag = el.tag
    if tag.startswith("{"):
        return _NsEl(el, {None: tag[1:].split("}")[0]})
    return _NsEl(el)


@pytest.fixture(scope="module")
def ref_dwca(requires_reference):
    roots = {
        "gevent", "psycopg2", "boto3", "botocore", "requests",
        "elasticsearch", "celery", "redis", "lxml", "pyproj", "shapely",
        "fiona", "atomicfile", "magic", "bsddb3",
    }

    class AutoStub(importlib.abc.MetaPathFinder, importlib.abc.Loader):
        def find_spec(self, name, path=None, target=None):
            if name.split(".")[0] in roots and name not in sys.modules:
                return importlib.util.spec_from_loader(
                    name, self, is_package=True
                )
            return None

        def create_module(self, spec):
            m = mock.MagicMock()
            m.__name__ = spec.name
            m.__path__ = []
            m.__spec__ = spec
            return m

        def exec_module(self, module):
            pass

    sys.meta_path.insert(0, AutoStub())
    import datetime

    import pandas  # noqa: F401 — pandas must initialize against the
    # REAL pytz; a fake seeded first poisons its import in subset runs
    fake_pytz = pytypes.ModuleType("pytz")
    fake_pytz.utc = datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")
    from idigbio_ingestion.lib import dwca as RD
    from idigbio_ingestion.lib import delimited as RDEL
    from idigbio_ingestion.lib.xmlDictTools import xml2d

    # the shipped delimited.py never imports this constant — every
    # construction NameErrors otherwise (machine-pinned in
    # test_delimited_vs_reference::test_shipped_module_name_error_pinned)
    from idb.helpers.fieldnames import NO_CLASS__UNKNOWN_FIELD

    RDEL.NO_CLASS__UNKNOWN_FIELD = NO_CLASS__UNKNOWN_FIELD
    return RD, xml2d


OCC = "http://rs.tdwg.org/dwc/terms/Occurrence"
MM = "http://rs.tdwg.org/ac/terms/Multimedia"

#: term attribute pool — dwc/dcterms/ac URIs, a quoted URI (IPT leak,
#: dwca.py:221), and an unregistered bare name (no namespace, no dot —
#: passes the fatal-dot gate verbatim)
_TERMS = [
    "http://rs.tdwg.org/dwc/terms/genus",
    "http://rs.tdwg.org/dwc/terms/country",
    "http://rs.tdwg.org/dwc/terms/catalogNumber",
    "http://purl.org/dc/terms/modified",
    "http://rs.tdwg.org/ac/terms/accessURI",
    '"http://rs.tdwg.org/dwc/terms/locality"',
    "customField",
]


def _gen_block(rng, tag):
    """One randomized <core>/<extension> block (ET) + the data-file
    width it implies."""
    el = ET.Element(
        tag,
        attrib={
            "rowType": rng.choice([OCC, MM]),
            "fieldsTerminatedBy": ",",
            "linesTerminatedBy": "\\n",
            "fieldsEnclosedBy": '"',
            "encoding": "UTF-8",
            "ignoreHeaderLines": rng.choice(["0", "1"]),
        },
    )
    files = ET.SubElement(el, "files")
    loc = ET.SubElement(files, "location")
    loc.text = "member.csv"
    id_kind = rng.choice(["id", "coreid", None])
    if id_kind:
        ET.SubElement(el, id_kind, attrib={"index": "0"})
    used = [0]
    nf = rng.randint(1, 5)
    terms = rng.sample(_TERMS, nf)
    for i, term in enumerate(terms):
        attrib = {"term": term}
        mode = rng.random()
        if mode < 0.15 and used:
            attrib["index"] = str(rng.choice(used))  # duplicate index
        elif mode < 0.25:
            pass  # index-less (default-only constant column)
        else:
            attrib["index"] = str(max(used) + 1)
            used.append(max(used) + 1)
        if rng.random() < 0.4:
            attrib["default"] = f"dflt{i}"
        if "index" not in attrib and "default" not in attrib:
            attrib["default"] = f"dflt{i}"
        ET.SubElement(el, "field", attrib=attrib)
        if rng.random() < 0.2:
            ET.SubElement(el, "junk")  # split the <field> sibling run
    return el, max(used) + 1


def _ref_descriptor(RD, xml2d, el, tmp_path, width, ignore):
    """Build the reference DwcaRecordFile from the xml2d dict of the
    block and a matching data file; return it."""
    filedict = xml2d(_wrap_root(el))[el.tag]
    p = tmp_path / "member.csv"
    lines = ["h" + ",h" * (width - 1)] * ignore
    lines += [",".join(f"v{r}c{c}" for c in range(width)) for r in range(3)]
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return RD.DwcaRecordFile(filedict, str(p), logname="t")


def test_descriptor_assembly_vs_reference(ref_dwca, tmp_path):
    """120 randomized meta blocks: field index->term maps, defaults,
    filetype, and rowtype shortname must agree between the reference's
    DwcaRecordFile and the engine's parse_meta_xml."""
    import random

    from idb_backend_spark.sources.dwca import parse_meta_xml
    from idb_backend_spark.sources.fieldnames import rowtype_shortname

    RD, xml2d = ref_dwca
    rng = random.Random(70707)
    for case in range(120):
        tag = rng.choice(["core", "extension"])
        el, width = _gen_block(rng, tag)
        ignore = int(el.get("ignoreHeaderLines"))
        sub = tmp_path / f"c{case}"
        sub.mkdir()
        ref = _ref_descriptor(RD, xml2d, el, sub, width, ignore)

        arch = ET.Element("archive")
        if tag == "extension":
            # parse_meta_xml requires a core block alongside
            core_min, _ = _gen_block(random.Random(1), "core")
            arch.append(core_min)
        arch.append(el)
        eng_core, eng_exts, _meta = parse_meta_xml(ET.tostring(arch))
        d = eng_core if tag == "core" else eng_exts[0]

        # field map: the reference's fields dict includes the id claim
        expected = dict(d.term_by_index)
        if d.id_index is not None:
            expected[d.id_index] = "coreid" if d.id_is_coreid else "id"
        assert ref.fields == expected, (case, ET.tostring(el), ref.fields)
        assert ref.defaults == d.defaults, (case, ET.tostring(el))
        assert ref.filetype == (
            "extension" if d.id_is_coreid else "core"
        ), case
        assert ref.rowtype == rowtype_shortname(el.get("rowType")), case

        # the row loop applies the assembled fields — spot-read one row
        row = ref.readline()
        for idx, term in expected.items():
            assert row[term] == f"v0c{idx}", (case, idx, term, row)
        # the reference records defaults but its iterator NEVER merges
        # them (dwca.py:210/:246 write-only) — the engine's member read
        # applies them per the DwC-A text guide (sources/dwca.py:352-365,
        # documented intent repair); pin the reference's inertness
        for term, _d in ref.defaults.items():
            if term not in expected.values():
                assert term not in row, (case, term)


def test_unknown_rowtype_divergence(ref_dwca, tmp_path):
    """An unregistered rowType URI: the reference TypeErrors at the
    shortname fold (delimited.py:205-208 via DwcaRecordFile); the
    engine's record_type defaults to 'records' (DwcaFileDescriptor) —
    documented divergence, machine-pinned."""
    import random

    from idb_backend_spark.sources.dwca import parse_meta_xml

    RD, xml2d = ref_dwca
    el, width = _gen_block(random.Random(5), "core")
    el.set("rowType", "http://example.org/not/a/rowtype")
    with pytest.raises(TypeError):
        _ref_descriptor(RD, xml2d, el, tmp_path, width,
                        int(el.get("ignoreHeaderLines")))
    arch = ET.Element("archive")
    arch.append(el)
    core, _, _ = parse_meta_xml(ET.tostring(arch))
    assert core.record_type == "records"


def test_dotted_unknown_term_fatal_executed(ref_dwca, tmp_path):
    """The fatal unknown-namespace rule executed (dwca.py:227-239): a
    term outside every known namespace that CONTAINS A DOT raises —
    ES field names cannot carry dots."""
    import random

    RD, xml2d = ref_dwca
    el, width = _gen_block(random.Random(7), "core")
    ET.SubElement(el, "field",
                  attrib={"index": str(width), "term": "bad.dotted"})
    with pytest.raises(Exception, match="dot"):
        _ref_descriptor(RD, xml2d, el, tmp_path, width + 1, 1)


def test_engine_archive_reads_back_through_reference(ref_dwca, spark,
                                                     tmp_path):
    """Writer round-trip through the OTHER side's reader: an archive
    produced by the engine's write_dwca is opened with the reference's
    xml2d + DwcaRecordFile and must yield exactly the rows the engine
    reads from its own archive (core AND extension)."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.export.writers import write_dwca
    from idb_backend_spark.sources.dwca import DwcaArchive

    core = spark.createDataFrame(
        [(1, "Rosa", " padded "), (2, "Canis", ""), (3, "Quercus", "x,y")],
        "id int, `dwc:genus` string, `dwc:locality` string",
    )
    ext = spark.createDataFrame(
        [(1, "http://img/1"), (3, "http://img/3")],
        "coreid int, `ac:accessURI` string",
    )
    zip_path = str(tmp_path / "eng.zip")
    write_dwca(
        zip_path,
        (core, "id", ["dwc:genus", "dwc:locality"], "records"),
        extensions=[(ext, "coreid", ["ac:accessURI"], "mediarecords")],
    )

    # reference side: extract, xml2d the meta, DwcaRecordFile both members
    exdir = tmp_path / "ex"
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    ref_rows = {}
    for key, block in (("core", arch["core"]), ("ext", arch["extension"])):
        loc = block["files"]["location"]
        f = RD.DwcaRecordFile(block, str(exdir / loc), logname="t")
        rows = []
        while True:
            try:
                rows.append(f.readline())
            except StopIteration:
                break
        ref_rows[key] = rows

    # engine side: its own reader over the same zip
    a = DwcaArchive(zip_path)
    eng_core = {
        r["id"]: r.asDict() for r in a.read_core(spark).collect()
    }
    eng_ext = {
        r["coreid"]: r.asDict() for r in a.read_extension(spark).collect()
    }
    a.close()

    assert len(ref_rows["core"]) == len(eng_core) == 3
    for row in ref_rows["core"]:
        e = eng_core[row["id"]]
        assert row.get("dwc:genus") == e["dwc:genus"], (row, e)
        # blank-after-strip: reference drops the key, engine nulls
        assert row.get("dwc:locality") == e["dwc:locality"], (row, e)
    assert len(ref_rows["ext"]) == len(eng_ext) == 2
    for row in ref_rows["ext"]:
        e = eng_ext[row["coreid"]]
        assert row.get("ac:accessURI") == e["ac:accessURI"], (row, e)


def test_meta_writer_vs_reference(ref_dwca, tmp_path):
    """The meta.xml WRITER differential (idigbio_workers/lib/meta_xml.py
    executed vs export/writers.make_meta_xml): both outputs parsed with
    the one engine parser must yield identical descriptors — member
    routing, the four rowType URIs (incl. the lowercase ac
    'multimedia'), id/coreid at 0, fields from index 1, CURIE->URI
    resolution, csv/tsv terminators, and the &quot; enclosure.

    One reference quirk machine-pinned inline: make_field splits on
    EVERY colon and keeps only the second segment, so a two-colon term
    under a known prefix ('dwc:b:c') silently DROPS its tail; the
    engine's curie_to_uri splits once and keeps 'b:c' intact."""
    # file-location load: idigbio_workers/__init__ connects to brokers
    # on import; meta_xml.py itself only needs fieldnames.namespaces_rev
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_meta_xml", "/root/reference/idigbio_workers/lib/meta_xml.py"
    )
    RM = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(RM)

    from idb_backend_spark.export.writers import make_meta_xml
    from idb_backend_spark.sources.dwca import parse_meta_xml

    specs = [
        # (filename, CURIE fields, core?, tsv?, type)
        ("occurrence.csv",
         ["dwc:genus", "dwc:locality", "dcterms:modified"],
         True, False, "records"),
        ("multimedia.tsv", ["ac:accessURI", "dc:rights"],
         False, True, "mediarecords"),
        ("locality.csv", ["dwc:locality"], False, False, "uniquelocality"),
        ("names.csv", ["dwc:scientificName"], False, False, "uniquenames"),
    ]
    ref_meta = RM.make_meta(
        [RM.make_file_block(filename=f, fields=fields, core=core,
                            tabs=tsv, t=t)
         for f, fields, core, tsv, t in specs]
    ).encode("utf-8")
    eng_meta = make_meta_xml(
        [{"filename": f, "fields": fields, "core": core, "tsv": tsv,
          "type": t}
         for f, fields, core, tsv, t in specs]
    )

    def descs(meta_bytes):
        core, exts, _ = parse_meta_xml(meta_bytes)
        return [core] + exts

    for r, e in zip(descs(ref_meta), descs(eng_meta), strict=True):
        assert r.location == e.location
        assert r.row_type == e.row_type, (r.location, r.row_type, e.row_type)
        assert r.fields_terminated_by == e.fields_terminated_by
        assert r.fields_enclosed_by == e.fields_enclosed_by == '"'
        assert r.encoding.lower() == e.encoding.lower()
        assert r.ignore_header_lines == e.ignore_header_lines == 1
        assert r.id_index == e.id_index == 0
        assert r.id_is_coreid == e.id_is_coreid
        assert r.term_by_index == e.term_by_index, (r.location,)

    # the two-colon quirk, SHARED: both writers split on every colon
    # and keep only the second segment, so a two-colon term under a
    # known prefix silently drops its tail (meta_xml.py:41-44;
    # curie_to_uri reproduces it) — and an unknown prefix passes the
    # whole term through untouched on both sides
    ref_field = RM.make_field(index=0, term="dwc:b:c")
    assert 'term="http://rs.tdwg.org/dwc/terms/b"' in ref_field
    from idb_backend_spark.sources.fieldnames import curie_to_uri
    assert curie_to_uri("dwc:b:c") == "http://rs.tdwg.org/dwc/terms/b"
    assert curie_to_uri("a:b:c") == "a:b:c"
    assert 'term="a:b:c"' in RM.make_field(index=0, term="a:b:c")


def test_foreign_archive_value_strip_vs_reference(ref_dwca, spark, tmp_path):
    """A FOREIGN archive (not engine-written, so the writer's
    pre-stripping never ran) with tab/CR/NBSP-padded and
    blank-after-strip values: the reference reader strips every value
    with Python's full whitespace class and DROPS blank-after-strip
    keys (delimited.py:255-268, inherited by DwcaRecordFile) — the r12
    read-path fix makes the engine's read_member match. Also pins the
    NUL+whitespace corner: ' \\x00 ' strips to the bare NUL (not
    blank), survives the reader, and db_check's later strip_nuls
    leaves an empty-string VALUE with the key present."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="&quot;" encoding="UTF-8" ignoreHeaderLines="1">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        '<field index="2" term="http://rs.tdwg.org/dwc/terms/country"/>'
        "</core></archive>"
    )
    csv = (
        "id,genus,country\n"
        '1,"\tRosa\t","\t"\n'          # tab padding / tab-only -> drop
        '2," x ",us\n'                 # space padding
        '"\t", nb ,"\r\n"\n'  # blank id -> key absent; NBSP pad
        '4," \x00 ",ok\n'              # NUL+whitespace corner
    )
    zp = str(tmp_path / "foreign.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", csv)

    # reference
    exdir = tmp_path / "fx"
    with zipfile.ZipFile(zp) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    ref_rows = []
    while True:
        try:
            ref_rows.append(rf.readline())
        except StopIteration:
            break

    a = DwcaArchive(zp)
    eng_rows = [r.asDict() for r in a.read_core(spark).collect()]
    a.close()

    assert len(ref_rows) == len(eng_rows) == 4
    # row order: engine rows carry no seq here — align by position via
    # the genus value (unique per row)
    eng_by_genus = {r["dwc:genus"]: r for r in eng_rows}
    for row in ref_rows:
        if row.get("dwc:genus") == "\x00":
            continue  # the NUL corner aligns by id below (values differ
            # by design: engine folds db_check's strip_nuls into the read)
        e = eng_by_genus[row.get("dwc:genus")]
        for key in ("id", "dwc:genus", "dwc:country"):
            assert row.get(key) == e.get(key), (key, row, e)
    # the designed pins, explicitly:
    assert ref_rows[0]["dwc:genus"] == "Rosa"       # tabs stripped
    assert "dwc:country" not in ref_rows[0]          # tab-only dropped
    assert ref_rows[1]["dwc:genus"] == "x"           # spaces stripped
    assert "id" not in ref_rows[2]                   # blank id -> absent
    assert ref_rows[3]["dwc:genus"] == "\x00"        # reader keeps the NUL
    # the engine reader removes NULs at read (db_check's strip_nuls pass
    # folded in): key present, value empty string
    assert eng_by_genus.get("\x00") is None
    eng_r4 = [r for r in eng_rows if r["id"] == "4"][0]
    assert eng_r4["dwc:genus"] == ""


def test_duplicate_term_meta_fold_vs_reference(ref_dwca, spark, tmp_path):
    """r14 pool class (VERDICT r13 task 4): a meta.xml declaring the
    SAME term at TWO indexes. The reference maps both indexes into
    fields{index: term} (dwca.py:241-243) and the row loop's dict
    assignment makes the LAST NON-EMPTY declaration win
    (delimited.py:265-268 — blank-after-strip values never assign). The
    fields dict iterates in DECLARATION order, so the fold follows the
    meta.xml field order even when the indexes are declared out of
    numeric order — this meta declares index 3 BEFORE index 2, so a
    non-empty column 2 beats a non-empty column 3. Executed row-dict
    equality against the engine's read_core fold."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="" encoding="UTF-8" ignoreHeaderLines="0">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/catalogNumber"/>'
        '<field index="3" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        '<field index="2" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        "</core></archive>"
    )
    csv = (
        "1,c1,Quercus,Betula\n"   # both non-empty: LAST DECLARED (idx 2!)
        "2,c2,Acer,\n"            # later declaration (idx 2) non-empty
        "3,c3,,Salix\n"           # idx 2 empty -> idx 3 survives
        "4,c4,,\n"                # both empty: key absent
        "5,c5, \t ,  \n"          # whitespace-only both: key absent
    )
    zp = str(tmp_path / "dupterm.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", csv)

    exdir = tmp_path / "dx"
    with zipfile.ZipFile(zp) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    ref_rows = []
    while True:
        try:
            ref_rows.append(rf.readline())
        except StopIteration:
            break

    # the designed pins on the ORACLE itself (the fold direction):
    assert ref_rows[0]["dwc:genus"] == "Quercus"   # idx 2 declared last
    assert ref_rows[1]["dwc:genus"] == "Acer"
    assert ref_rows[2]["dwc:genus"] == "Salix"     # empty never assigns
    assert "dwc:genus" not in ref_rows[3]
    assert "dwc:genus" not in ref_rows[4]

    a = DwcaArchive(zp)
    eng_rows = {
        r["id"]: {
            k: v for k, v in r.asDict().items() if v is not None
        }
        for r in a.read_core(spark).collect()
    }
    a.close()
    assert len(eng_rows) == len(ref_rows) == 5
    for ref in ref_rows:
        assert eng_rows[ref["id"]] == ref, (ref, eng_rows[ref["id"]])


def test_id_term_collision_vs_reference(ref_dwca, spark, tmp_path):
    """A <field> whose bare term is literally ``id``: the reference
    seeds fields[id_index] = 'id' BEFORE the field loop (dwca.py:199-201)
    and the field's declaration lands in the same dict key — so in the
    row fold the later-declared FIELD's non-empty value beats the id
    column, and a blank field value lets the id column survive. The
    engine previously emitted TWO ``id`` columns here (ambiguous to
    every downstream select, duplicate keys on the ingest wire); r14
    folds the id column into the term's coalesce group. Executed
    row-dict equality."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="" encoding="UTF-8" ignoreHeaderLines="0">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="id"/>'
        '<field index="2" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        "</core></archive>"
    )
    csv = (
        "r1,other-id,Quercus\n"   # field non-empty -> beats id column
        "r2,,Acer\n"              # field blank -> id column survives
        "r3, \t ,Salix\n"         # whitespace-only field -> id survives
    )
    zp = str(tmp_path / "idterm.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", csv)

    exdir = tmp_path / "ix"
    with zipfile.ZipFile(zp) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    ref_rows = []
    while True:
        try:
            ref_rows.append(rf.readline())
        except StopIteration:
            break

    assert ref_rows[0]["id"] == "other-id"   # the field won
    assert ref_rows[1]["id"] == "r2"         # blank field, id survived
    assert ref_rows[2]["id"] == "r3"

    a = DwcaArchive(zp)
    df = a.read_core(spark)
    assert df.columns.count("id") == 1       # no duplicate column
    eng = {
        r["dwc:genus"]: {k: v for k, v in r.asDict().items()
                         if v is not None}
        for r in df.collect()
    }
    a.close()
    for ref_row in ref_rows:
        assert eng[ref_row["dwc:genus"]] == ref_row, (ref_row, eng)


def test_declared_index_beyond_width_vs_reference(ref_dwca, spark,
                                                  tmp_path):
    """r14 fuzz finding: a meta.xml field declared at an index past the
    member's actual width. The reference raises MissingFieldsException
    for EVERY row (delimited.py:250-253 — `if k >= len(lineArr)`), each
    caught-and-logged, so the whole member reads as EMPTY and the
    recordset silently ingests nothing. The engine previously CRASHED
    the archive (unresolved `_cN` AnalysisException); it now reads the
    rows with the over-declared term ABSENT — the same keep-don't-drop
    stance as its short-row handling, machine-pinned as a documented
    divergence (keeping data beats both crashing and silently emptying
    the feed)."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="" encoding="UTF-8" ignoreHeaderLines="0">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        '<field index="5" term="http://rs.tdwg.org/dwc/terms/country"/>'
        "</core></archive>"
    )
    zp = str(tmp_path / "short.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", "r0,Rosa,x\nr1,Acer,y\n")

    exdir = tmp_path / "sx"
    with zipfile.ZipFile(zp) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    ref_rows = []
    while True:
        try:
            ref_rows.append(rf.readline())
        except StopIteration:
            break
    assert ref_rows == []          # the reference loses the entire member

    a = DwcaArchive(zp)
    eng = a.read_core(spark).orderBy("id").collect()
    a.close()
    assert [r["id"] for r in eng] == ["r0", "r1"]
    assert [r["dwc:genus"] for r in eng] == ["Rosa", "Acer"]
    assert all(r["dwc:country"] is None for r in eng)


def test_id_default_on_dropped_duplicate_index_vs_reference(ref_dwca,
                                                            spark,
                                                            tmp_path):
    """r14 fuzz finding #2: a ``<field term="id" default=...>`` whose
    index was a dropped duplicate. The descriptor records the default
    OUTSIDE the dedup check (reference parity, dwca.py:246-247), and
    the engine's index-less-default loop then emitted a CONSTANT column
    literally named ``id`` next to the real id binding — a duplicate
    column that shadowed every real id in dict renderings. Now the id
    binding owns its name: such a default fills BLANK ids (the engine's
    documented defaults-applied divergence), never duplicates the
    column. The reference never applies defaults at all — its rows keep
    the plain column-0 id."""
    RD, xml2d = ref_dwca

    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="" encoding="UTF-8" ignoreHeaderLines="0">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        '<field index="1" term="id" default="fallback-id"/>'
        "</core></archive>"
    )
    zp = str(tmp_path / "iddef.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", "r0,Rosa\n,Acer\n")

    exdir = tmp_path / "idx"
    with zipfile.ZipFile(zp) as z:
        z.extractall(exdir)
    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    ref_rows = []
    while True:
        try:
            ref_rows.append(rf.readline())
        except StopIteration:
            break
    # reference: defaults never applied; blank id -> key absent
    assert ref_rows == [
        {"id": "r0", "dwc:genus": "Rosa"}, {"dwc:genus": "Acer"},
    ]

    a = DwcaArchive(zp)
    df = a.read_core(spark)
    assert df.columns.count("id") == 1        # no duplicate column
    eng = {r["dwc:genus"]: r["id"] for r in df.collect()}
    a.close()
    assert eng == {"Rosa": "r0", "Acer": "fallback-id"}
