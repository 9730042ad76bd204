"""Differential execution of the media API response assembly (P15)
against the reference's ``v2_media.py`` — ``get_media_url``,
``get_json_for_record``, and ``respond_to_record``'s preview state
machine EXECUTED (flask stubbed; ``jsonify`` replaced by a capture so
the full text/cache precedence chain runs) against the engine's
``media_storage_url`` / ``preview_state`` / ``media_api_record``
columns — the exact kernels the newly graded ``media_serving_table``
entry serves.
"""

from __future__ import annotations

import datetime
import importlib.abc
import importlib.util
import itertools
import random
import sys
import types as pytypes
from unittest import mock

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ref_v2media(requires_reference):
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
    for name in ("idb.helpers.storage", "idb.helpers.idb_flask_authn",
                 "idb.postgres_backend.db", "idb.data_api.common"):
        m = mock.MagicMock()
        m.__name__ = name
        sys.modules.setdefault(name, m)

    import idb.data_api.v2_media as RVM

    # capture jsonify's dict + the cache_control the route sets on it
    class _Resp:
        def __init__(self, d):
            self.d = d
            self.cache_control = pytypes.SimpleNamespace(
                public=None, max_age=None
            )

    RVM.jsonify = _Resp
    return RVM


class _Rec:
    """The row surface v2_media reads (MediaObject.fromurl's columns +
    the bucketname property, db.py:727-729)."""

    def __init__(self, **kw):
        self.__dict__.update(kw)

    @property
    def bucketname(self):
        return f"idigbio-{self.bucket}-prod"


def _cases(rng, n):
    out = []
    for i in range(n):
        bucket = rng.choice([None, "images", "sounds"])
        etag = rng.choice([None, f"e{i}"])
        mod = rng.choice([
            None,
            datetime.datetime(2020, 3, 4, 5, 6, 7),
            datetime.datetime(2020, 3, 4, 5, 6, 7, 250),
        ])
        out.append(_Rec(
            url=rng.choice([f"http://u/{i}", ""]),
            type=rng.choice([None, "", "images"]),
            mime=rng.choice([None, "", "image/jpeg"]),
            detected_mime=rng.choice([None, "", "image/png"]),
            bucket=bucket,
            etag=etag,
            derivatives=rng.choice([None, True, False]),
            modified=mod,
            owner=rng.choice([None, "", "alice"]),
            last_status=rng.choice([None, 0, 200, 1403]),
        ))
    return out


DERIVS = [None, "thumbnail", "webview", "fullsize", "weird"]


def test_media_response_assembly_vs_reference(ref_v2media, spark):
    """Randomized record rows × every deriv: storage URL, the
    text/cache precedence chain, and the falsy-dropping response dict
    must agree between the executed reference and the engine columns
    (engine map values are strings; the reference's typed values
    stringify to the same rendering)."""
    RVM = ref_v2media

    from idb_backend_spark.functions.enrichment import first_nonempty
    from idb_backend_spark.query.views import (
        media_api_record,
        media_storage_url,
        preview_state,
    )

    rng = random.Random(121212)
    cases = _cases(rng, 120)

    rows = [
        (i, r.url, r.type, r.mime, r.detected_mime, r.bucket, r.etag,
         r.derivatives, r.modified, r.owner, r.last_status)
        for i, r in enumerate(cases)
    ]
    schema = (
        "i long, url string, type string, mime string, dmime string, "
        "bucket string, etag string, derivs boolean, modified timestamp, "
        "owner string, last_status int"
    )

    for deriv in DERIVS:
        df = spark.createDataFrame(rows, schema)
        tob = first_nonempty(F.col("type"), F.col("bucket"))
        eff_mime = first_nonempty(F.col("dmime"), F.col("mime"))
        murl = media_storage_url(
            F.col("bucket"), F.col("etag"), F.col("derivs"), deriv,
            env="prod",
        )
        state = preview_state(murl, eff_mime, tob, F.col("last_status"))
        out = df.select(
            "i",
            murl.alias("murl"),
            state["text"].alias("text"),
            state["cache"].alias("cache"),
            media_api_record(
                F.col("url"), murl, tob, F.col("etag"), F.col("modified"),
                F.col("owner"), eff_mime, F.col("last_status"),
                text=state["text"],
            ).alias("resp"),
        ).collect()
        got = {r["i"]: r for r in out}

        for i, rec in enumerate(cases):
            g = got[i]
            assert g["murl"] == RVM.get_media_url(rec, deriv), (i, deriv)
            # respond_to_record's json arm runs the full state machine
            resp = RVM.respond_to_record(rec, deriv=deriv, format="json")
            ref_d = resp.d
            assert g["cache"] == resp.cache_control.max_age, (i, deriv)
            assert (g["text"] or None) == ref_d.get("text"), (i, deriv)
            eng_map = dict(g["resp"])
            ref_map = {k: str(v) for k, v in ref_d.items()}
            assert eng_map == ref_map, (i, deriv, eng_map, ref_map, vars(rec))
