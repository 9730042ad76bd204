"""Differential execution of the usage-stats collection (A7) against
the reference's ``idb/stats/collect.py`` — the REAL ``collect_stats``
three-branch accumulation loop run with the stats DB replaced by an
in-memory row iterator and ES replaced by a capture, compared to
``operators/aggregates.usage_stats_rollup`` over the exploded
relational rendering of the same events. This upgrades the r10
three-branch rebuild from transcription-pinned to machine-derived.
"""

from __future__ import annotations

import datetime
import importlib.abc
import importlib.util
import json
import sys
import types as pytypes
from unittest import mock

import pytest


@pytest.fixture(scope="module")
def ref_collect(requires_reference):
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
    # the stats DB pool connects at import; the loop under test only
    # touches fetchiter, patched per test
    sys.modules.setdefault(
        "idb.postgres_backend.stats_db", mock.MagicMock()
    )
    sys.modules.setdefault("idb.clibase", mock.MagicMock())

    import idb.stats.collect as RC

    return RC


#: the raw stats rows (one per reference DB row) — every branch, a
#: None geocode (json key 'null'), an ignored record_type, an empty
#: payload, and accumulation across rows
_EVENTS = [
    {"record_type": "records", "type": "view", "query_hash": "q1",
     "ip_geocode": {"country": "US", "region": "FL", "city": "G"},
     "payload": {"rk1": "rsA", "rk2": "rsA", "rk3": "rsB"}},
    {"record_type": "records", "type": "seen", "query_hash": "q2",
     "ip_geocode": None, "payload": {"rk1": "rsA", "rk9": "rsB"}},
    {"record_type": "records", "type": "search", "query_hash": "q3",
     "ip_geocode": {"country": "US"}, "payload": {"rsA": 5, "rsB": 2}},
    {"record_type": "mediarecords", "type": "download",
     "query_hash": "q4", "ip_geocode": None, "payload": {"rsA": 7}},
    {"record_type": "records", "type": "mapping", "query_hash": "q3",
     "ip_geocode": {"country": "BR"}, "payload": {"rsB": 1}},
    {"record_type": "notatype", "type": "view", "query_hash": "qX",
     "ip_geocode": None, "payload": {"rk": "rsA"}},  # ignored
    {"record_type": "records", "type": "search", "query_hash": "q5",
     "ip_geocode": None, "payload": {}},  # no entries
    {"record_type": "records", "type": "view", "query_hash": "q9",
     "ip_geocode": {"country": "US", "region": "FL", "city": "G"},
     "payload": {"rk1": "rsA"}},  # accumulates onto R1's cells
]


def _run_reference(RC, monkeypatch, tmp_path, dup=False):
    monkeypatch.chdir(tmp_path)  # collect_stats writes trace logs to cwd
    captured = []

    class FakeEs:
        def count(self, **kw):
            return {"count": 1 if dup else 0}

        def index(self, index=None, doc_type=None, body=None):
            captured.append(body)

    monkeypatch.setattr(
        RC, "statsdbpool",
        pytypes.SimpleNamespace(
            fetchiter=lambda sql, params, cursor_factory=None: iter(
                [dict(e) for e in _EVENTS]
            )
        ),
    )
    RC.collect_stats(datetime.datetime(2026, 8, 16, 10, 0), es=FakeEs())
    return captured


def test_collect_stats_vs_usage_rollup(ref_collect, spark, monkeypatch,
                                       tmp_path):
    RC = ref_collect
    docs = _run_reference(RC, monkeypatch, tmp_path)
    assert docs, "reference emitted no recordset docs"

    # engine input: the exploded relational rendering of the payloads
    rows = []
    for e in _EVENTS:
        if e["record_type"] not in ("records", "mediarecords"):
            continue
        geo = json.dumps(e["ip_geocode"], sort_keys=True)
        for k, v in e["payload"].items():
            if e["type"] in ("view", "seen"):
                rows.append((v, e["record_type"], e["type"], k,
                             e["query_hash"], geo, None))
            else:
                rows.append((k, e["record_type"], e["type"], None,
                             e["query_hash"], geo, v))
    df = spark.createDataFrame(
        rows,
        "recordset string, record_type string, stats_type string, "
        "term string, query_hash string, geocode string, "
        "record_count long",
    )
    from idb_backend_spark.operators.aggregates import usage_stats_rollup

    out = usage_stats_rollup(
        df, ["recordset", "record_type", "stats_type"]
    ).collect()
    eng = {
        (r["recordset"], r["record_type"], r["stats_type"]): r
        for r in out
    }

    seen_cells = set()
    for doc in docs:
        rsid = doc["recordset_id"]
        assert doc["harvest_date"] == "2026-08-16"
        for rt in ("records", "mediarecords"):
            for st in ("download", "mapping", "search", "seen", "view"):
                d = doc[rt][st]
                key = (rsid, rt, st)
                if key not in eng:
                    # the relational shape omits empty combos; the
                    # reference materializes zeroed cells for all 2x5
                    assert d["count"] == 0 and d["total"] == 0
                    assert not d["items"] and not d["queries"]
                    assert not d["geocodes"]
                    continue
                seen_cells.add(key)
                g = eng[key]
                assert g["count"] == d["count"], key
                assert g["total"] == d["total"], key
                assert dict(g["items"] or {}) == {
                    i["term"]: i["count"] for i in d["items"]
                }, key
                assert dict(g["queries"] or {}) == {
                    i["term"]: i["count"] for i in d["queries"]
                }, key
                assert dict(g["geocodes"] or {}) == {
                    json.dumps(i["geo"], sort_keys=True): i["count"]
                    for i in d["geocodes"]
                }, key
    assert seen_cells == set(eng), (
        "engine emitted cells the reference did not",
        set(eng) - seen_cells,
    )


def test_collect_stats_duplicate_run_aborts(ref_collect, monkeypatch,
                                            tmp_path):
    """The duplicate-run trap (collect.py:103-110): a nonzero count for
    the harvest date aborts before reading any stats rows — no docs
    indexed."""
    RC = ref_collect
    docs = _run_reference(RC, monkeypatch, tmp_path, dup=True)
    assert docs == []
