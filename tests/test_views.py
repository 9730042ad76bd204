"""API view assembly (query/views.py) — golden pins against
idb/data_api/v2_media.py:26-101 and v2.py:19-56.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.functions.enrichment import first_nonempty
from idb_backend_spark.query import views as V


def _one(spark, expr, schema_rows=None):
    rows, schema = schema_rows or ([(1,)], "x int")
    return spark.createDataFrame(rows, schema).select(expr.alias("o")).collect()[0]["o"]


# ---------------------------------------------------------------------------
# media_storage_url — v2_media.py:29-40
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "bucket,etag,derivs,deriv,expect",
    [
        ("images", "E1", None, None, "https://s.idigbio.org/idigbio-images-prod/E1"),
        (None, "E1", None, None, None),       # bucket required
        ("images", None, None, None, None),   # etag required
        # deriv URL: derivatives flag required, always .jpg
        ("images", "E1", True, "thumbnail",
         "https://s.idigbio.org/idigbio-images-prod-thumbnail/E1.jpg"),
        ("sounds", "E1", True, "webview",
         "https://s.idigbio.org/idigbio-sounds-prod-webview/E1.jpg"),
        ("images", "E1", False, "thumbnail", None),  # not generated yet
        ("images", "E1", None, "thumbnail", None),   # NULL flag is falsy
        ("images", "E1", True, "original", None),    # unknown deriv name
    ],
)
def test_media_storage_url(spark, bucket, etag, derivs, deriv, expect):
    df = spark.createDataFrame(
        [(bucket, etag, derivs)], "b string, e string, d boolean"
    )
    got = df.select(
        V.media_storage_url(F.col("b"), F.col("e"), F.col("d"), deriv).alias("o")
    ).collect()[0]["o"]
    assert got == expect


# ---------------------------------------------------------------------------
# preview_state — v2_media.py:60-77
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "murl,mime,tob,status,text,cache",
    [
        ("http://u", None, None, None, None, 345600),     # url wins
        (None, None, "images", 200, "No Preview", 86400),  # no mime
        (None, "image/jpeg", None, 200, "No Preview", 86400),  # no type
        # the missing-mime arm is checked BEFORE pending: a pending row
        # with no mime reads 'No Preview'
        (None, None, "images", None, "No Preview", 86400),
        (None, "image/jpeg", "images", None, "Preview Pending", 600),
        (None, "image/jpeg", "images", 404, "No Preview", 86400),
        # ''-resolved or-chains are NOT None and fall through
        (None, "", "", None, "Preview Pending", 600),
    ],
)
def test_preview_state(spark, murl, mime, tob, status, text, cache):
    df = spark.createDataFrame(
        [(murl, mime, tob, status)], "u string, m string, t string, s int"
    )
    got = df.select(
        V.preview_state(
            F.col("u"), F.col("m"), F.col("t"), F.col("s")
        ).alias("o")
    ).collect()[0]["o"]
    assert (got["text"], got["cache"]) == (text, cache)


# ---------------------------------------------------------------------------
# media_api_record — v2_media.py:43-57 (falsy filter)
# ---------------------------------------------------------------------------


def test_media_api_record_falsy_filter(spark):
    ts = datetime.datetime(2026, 8, 1, 12, 30, 5)
    df = spark.createDataFrame(
        [("http://f", None, "", "E1", ts, "u1", "image/jpeg", 0)],
        "fr string, mu string, tob string, e string, m timestamp, o string, "
        "mi string, st int",
    )
    got = df.select(
        V.media_api_record(
            F.col("fr"), F.col("mu"), F.col("tob"), F.col("e"), F.col("m"),
            F.col("o"), F.col("mi"), F.col("st"),
        ).alias("o")
    ).collect()[0]["o"]
    # NULL url, '' type, 0 last_status all dropped (v2_media.py:57)
    assert got == {
        "filereference": "http://f",
        "etag": "E1",
        "modified": "2026-08-01T12:30:05",
        "user": "u1",
        "mime": "image/jpeg",
    }


def test_media_api_record_iso_micros(spark):
    ts = datetime.datetime(2026, 8, 1, 12, 30, 5, 250000)
    df = spark.createDataFrame([(ts,)], "m timestamp")
    got = df.select(
        V.media_api_record(
            F.lit("f"), F.lit(None).cast("string"), F.lit(None).cast("string"),
            F.lit(None).cast("string"), F.col("m"), F.lit(None).cast("string"),
            F.lit(None).cast("string"), F.lit(None).cast("int"),
        ).alias("o")
    ).collect()[0]["o"]
    # isoformat keeps six-digit micros when nonzero
    assert got["modified"] == "2026-08-01T12:30:05.250000"


def test_media_api_record_kv_matches_map_render(spark):
    """r16: media_api_record_kv (native concat_ws render, no
    higher-order functions) must equal sorting + joining the
    media_api_record map on every falsy/absent arm: NULL and '' values,
    0 and nonzero last_status, micro and whole-second timestamps,
    present and absent text."""
    ts0 = datetime.datetime(2026, 8, 1, 12, 30, 5)
    ts1 = datetime.datetime(2026, 8, 1, 12, 30, 5, 250000)
    rows = [
        ("http://f", None, "", "E1", ts0, "u1", "image/jpeg", 0, None),
        ("", "http://m", "images", None, ts1, "", None, 200, "No Preview"),
        ("f2", "", None, "E2", None, "o2", "", None, ""),
        (None, None, None, None, None, None, None, 7, "Preview Pending"),
    ]
    df = spark.createDataFrame(
        rows,
        "fr string, mu string, tob string, e string, m timestamp, o string, "
        "mi string, st int, tx string",
    )
    args = [
        F.col("fr"), F.col("mu"), F.col("tob"), F.col("e"), F.col("m"),
        F.col("o"), F.col("mi"), F.col("st"),
    ]
    via_map = F.array_join(
        F.transform(
            F.array_sort(
                F.map_entries(V.media_api_record(*args, text=F.col("tx")))
            ),
            lambda e: F.concat(e["key"], F.lit("="), e["value"]),
        ),
        ";",
    )
    out = df.select(
        via_map.alias("a"),
        V.media_api_record_kv(*args, text=F.col("tx")).alias("b"),
    ).collect()
    for r in out:
        assert r.a == r.b, (r.a, r.b)


# ---------------------------------------------------------------------------
# resolve_deriv — v2_media.py:121-125
# ---------------------------------------------------------------------------


def test_resolve_deriv_precedence():
    assert V.resolve_deriv({"deriv": "thumbnail", "size": "webview"}) == "thumbnail"
    assert V.resolve_deriv({"size": "webview"}) == "webview"
    assert V.resolve_deriv({}) is None
    # unvalidated: an unknown value passes through
    assert V.resolve_deriv({"size": "bogus"}) == "bogus"


# ---------------------------------------------------------------------------
# record_view_links — v2.py:19-56
# ---------------------------------------------------------------------------


def test_record_view_links(spark):
    df = spark.createDataFrame(
        [("u1", "p1", {"mediarecord": ["m1", "m2"]})],
        "u string, p string, sib map<string,array<string>>",
    )
    got = df.select(
        V.record_view_links(
            "records", F.col("u"), F.col("p"), F.col("sib"),
            base="http://api/view/",
        ).alias("o")
    ).collect()[0]["o"]
    # parent link keyed by the parent TYPE; sibling groups naively
    # pluralized with urls built from the ORIGINAL singular key; NO self
    # link (deleted in the item view, v2.py:40)
    assert got == {
        "recordsets": ["http://api/view/recordsets/p1"],
        "mediarecords": [
            "http://api/view/mediarecord/m1",
            "http://api/view/mediarecord/m2",
        ],
    }
    # null parent: no parent link
    df2 = spark.createDataFrame(
        [("u1", None, None)], "u string, p string, sib map<string,array<string>>"
    )
    got2 = df2.select(
        V.record_view_links("records", F.col("u"), F.col("p")).alias("o")
    ).collect()[0]["o"]
    assert got2 == {}


def test_type_mime_or_folds(spark):
    # type = r.type or r.bucket; mime = detected or mime ('' falsy at
    # the first arm, kept verbatim at the last)
    df = spark.createDataFrame(
        [("", "images", "", None)], "t string, b string, dm string, mi string"
    )
    got = df.select(
        first_nonempty(F.col("t"), F.col("b")).alias("tob"),
        first_nonempty(F.col("dm"), F.col("mi")).alias("mime"),
    ).collect()[0]
    assert got["tob"] == "images"
    assert got["mime"] is None


def test_record_view_links_v1(spark):
    """v1.py:11-41 — de-pluralized link keys (drop last char), sibling
    keys pass through unmodified, urls keep plural route types."""
    df = spark.createDataFrame(
        [("u1", "p1", {"mediarecord": ["m1"]})],
        "u string, p string, sib map<string,array<string>>",
    )
    got = df.select(
        V.record_view_links(
            "records", F.col("u"), F.col("p"), F.col("sib"),
            base="http://api/v1/", style="v1",
        ).alias("o")
    ).collect()[0]["o"]
    assert got == {
        "recordset": ["http://api/v1/recordsets/p1"],
        "mediarecord": ["http://api/v1/mediarecord/m1"],
    }


def test_media_lookup_kind_dispatch():
    """api.py:21-28 — lexical uuid-vs-etag dispatch, both hex cases."""
    assert V.media_lookup_kind("9a0d0f35-0000-4000-8000-000000000001") == "uuid"
    assert V.media_lookup_kind("9A0D0F35-0000-4000-8000-000000000001") == "uuid"
    assert V.media_lookup_kind("9a4e35834eb80d9af64bcd07ed996b9ec0e60d92") == "etag"
    assert V.media_lookup_kind("not-a-uuid") == "etag"


def test_media_serving_view(spark):
    """fromurl's 3-table join + latest-object + response assembly
    (db.py:618-656, v2_media.py:29-77) composed end to end."""
    import datetime

    media = spark.createDataFrame(
        [
            ("http://a/1", "images", "image/jpeg", 200),
            ("http://a/2", "images", None, None),     # never fetched
        ],
        "url string, type string, mime string, last_status int",
    )
    t1 = datetime.datetime(2026, 1, 1)
    t2 = datetime.datetime(2026, 2, 1)
    media_objects = spark.createDataFrame(
        [
            ("http://a/1", "E_OLD", t1),
            ("http://a/1", "E_NEW", t2),   # latest wins
        ],
        "url string, etag string, modified timestamp",
    )
    objects = spark.createDataFrame(
        [
            ("E_NEW", "images", "image/jpeg", True, "u1"),
            ("E_OLD", "images", "image/jpeg", False, "u1"),
        ],
        "etag string, bucket string, detected_mime string, "
        "derivatives boolean, owner string",
    )
    from idb_backend_spark.query.views import media_serving_view

    got = {r["url"]: r for r in
           media_serving_view(media, media_objects, objects).collect()}
    r1 = got["http://a/1"]
    assert r1["media_url"] == "https://s.idigbio.org/idigbio-images-prod/E_NEW"
    assert r1["preview_text"] is None and r1["cache_s"] == 345600
    response = r1["response_kv"].split(";")
    assert "etag=E_NEW" in response
    assert "modified=2026-02-01T00:00:00" in response
    # unlanded media: no object row, pending preview
    r2 = got["http://a/2"]
    assert r2["media_url"] is None
    # type present via media.type; mime NULL -> 'No Preview' BEFORE
    # pending (the precedence pin) ... type or bucket = 'images',
    # mime = detected(None) or mime(None) = None -> No Preview
    assert (r2["preview_text"], r2["cache_s"]) == ("No Preview", 86400)
    # deriv request against the landed row with derivatives=true
    got_t = {r["url"]: r for r in media_serving_view(
        media, media_objects, objects, deriv="thumbnail").collect()}
    assert got_t["http://a/1"]["media_url"] == (
        "https://s.idigbio.org/idigbio-images-prod-thumbnail/E_NEW.jpg"
    )
