"""Differential execution of the record-view link shaping (P15) against
the reference's v2/v1 ``format_item`` (idb/data_api/v2.py:17-55,
v1.py:11-41), loaded with flask stubbed and ``current_app``/``url_for``
replaced by fakes that mirror the production URL shape — so the
parent-type link key, the deleted self link, the single-element list
wrap, the naive ``+"s"`` sibling pluralization (v2) vs the naive
``t[:-1]`` de-pluralization (v1), and the verbatim sibling keys (v1)
all execute for real against ``query/views.record_view_links``.
"""

from __future__ import annotations

import importlib.abc
import importlib.util
import datetime
import random
import sys
import types as pytypes
from unittest import mock

import pytest
from pyspark.sql import functions as F

BASE = "https://search.idigbio.org/v2/view/"


@pytest.fixture(scope="module")
def ref_views(requires_reference):
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
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")
    stor = mock.MagicMock()
    stor.__name__ = "idb.helpers.storage"
    sys.modules.setdefault("idb.helpers.storage", stor)
    # .common pulls the DB model layer — fabricate it before the import
    sys.modules.setdefault("idb.data_api.common", mock.MagicMock())

    import idb.data_api.v1 as RV1
    import idb.data_api.v2 as RV2

    # reference PARENT_MAP, loaded from its real config module
    spec = importlib.util.spec_from_file_location(
        "ref_api_config", "/root/reference/idb/data_api/config.py"
    )
    CFG = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(CFG)

    app = pytypes.SimpleNamespace(config={"PARENT_MAP": CFG.PARENT_MAP})

    def url_for(endpoint, t=None, u=None, _external=None):
        assert endpoint == ".item"
        return f"{BASE}{t}/{u}"

    for mod in (RV1, RV2):
        mod.current_app = app
        mod.url_for = url_for
    return RV1, RV2, CFG


def test_parent_map_parity(ref_views):
    from idb_backend_spark.query.views import PARENT_MAP

    _, _, CFG = ref_views
    assert PARENT_MAP == CFG.PARENT_MAP


#: the reference PARENT_MAP shape, for the collision arms below (the
#: fixture's CFG carries the authoritative copy; parity is asserted by
#: test_parent_map_parity)
_PARENTS = {
    "records": "recordsets",
    "mediarecords": "recordsets",
    "recordsets": "publishers",
}


def _cases(rng, n):
    types_pool = ["records", "mediarecords", "recordsets", "publishers"]
    sib_types = ["record", "mediarecord", "recordset", "publisher",
                 "annotation"]
    out = []
    for i in range(n):
        t = rng.choice(types_pool)
        parent = f"p-{i}" if rng.random() < 0.7 else None
        siblings = None
        if rng.random() < 0.7:
            siblings = {
                k: [f"s-{i}-{j}" for j in range(rng.randint(0, 3))]
                for k in rng.sample(sib_types, rng.randint(1, 2))
            }
            # r15 collision arms: a sibling group whose rendered key
            # lands ON the parent link key — v2 pluralizes k+'s' onto
            # the parent type, v1's de-pluralized parent meets the
            # verbatim singular — exercising the dict.update overwrite
            # the engine mirrors with map_filter + map_concat
            if rng.random() < 0.3 and t in _PARENTS:
                siblings[_PARENTS[t][:-1]] = [f"c-{i}"]
            if rng.random() < 0.15 and t in _PARENTS:
                siblings[_PARENTS[t]] = [f"cc-{i}"]
        out.append((t, f"u-{i}", parent, siblings))
    return out


def _engine_links(spark, cases, style):
    from idb_backend_spark.query.views import record_view_links

    got = {}
    # t is a compile-time parameter of the engine expression — group by t
    by_t = {}
    for t, u, parent, siblings in cases:
        by_t.setdefault(t, []).append((u, parent, siblings))
    for t, rows in by_t.items():
        df = spark.createDataFrame(
            [
                (u, parent,
                 {k: v for k, v in (sib or {}).items()}
                 if sib is not None else None)
                for u, parent, sib in rows
            ],
            "u string, parent string, siblings map<string,array<string>>",
        )
        out = df.select(
            "u",
            record_view_links(
                t, F.col("u"), F.col("parent"), F.col("siblings"),
                base=BASE, style=style,
            ).alias("links"),
        ).collect()
        for r in out:
            got[r["u"]] = dict(r["links"])
    return got


def test_v2_format_item_links_vs_reference(ref_views, spark):
    from conftest import soak_seeds

    _, RV2, _ = ref_views
    mod = datetime.datetime(2020, 1, 1)
    for seed in soak_seeds(90909):
        cases = _cases(random.Random(seed), 60)
        got = _engine_links(spark, cases, style="v2")
        for t, u, parent, siblings in cases:
            r = RV2.format_item(t, u, "etag", mod, 3, parent, {"d": 1},
                                siblings, ["rid"])
            assert got[u] == r["links"], (
                seed, t, u, parent, siblings, got[u], r,
            )


def test_v1_format_item_links_vs_reference(ref_views, spark):
    from conftest import soak_seeds

    RV1, _, _ = ref_views
    mod = datetime.datetime(2020, 1, 1)
    for seed in soak_seeds(91919):
        cases = _cases(random.Random(seed), 60)
        got = _engine_links(spark, cases, style="v1")
        for t, u, parent, siblings in cases:
            r = RV1.format_item(t, u, "etag", mod, 3, parent, {"d": 1},
                                siblings, ["rid"])
            assert got[u] == r["idigbio:links"], (seed, t, u, parent,
                                                  siblings)
