"""Record/media API view assembly — the response-shaping layer of the
reference's data API (idb/data_api/v2_media.py:26-101, v2.py:19-56).

These are pure column expressions over the latest media/objects view
(J6) and the record latest view (J1-J3): the reference shapes each JSON
response per request; the engine shapes the same fields as columns so a
serving layer reads them straight off the table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from idb_backend_spark.functions.enrichment import first_nonempty

#: v2_media.py:26 — the only sizes a deriv/size parameter may name.
DERIVATIONS = ("thumbnail", "webview", "fullsize")

#: conversions.py:26-30 PARENT_MAP — child type -> parent type.
PARENT_MAP = {
    "records": "recordsets",
    "mediarecords": "recordsets",
    "recordsets": "publishers",
}


def resolve_deriv(args: dict) -> str | None:
    """v2_media.py:121-125 — the request's derivative selector:
    ``deriv`` beats ``size`` (elif), absent -> None. The VALUE is not
    validated here; an unknown one simply produces no URL."""
    if "deriv" in args:
        return args["deriv"]
    if "size" in args:
        return args["size"]
    return None


def media_storage_url(
    bucket: Column,
    etag: Column,
    derivatives: Column | None = None,
    deriv: str | None = None,
    env: str = "prod",
) -> Column:
    """get_media_url (v2_media.py:29-40): the storage URL for a media
    row, or NULL.

    Pinned contract: bucket AND etag must be non-null; the bucket name
    is ``idigbio-{bucket}-{env}`` (db.py:727-729 MediaObject.bucketname
    — env-suffixed, 'prod' upstream); a derivative URL exists only when
    ``deriv`` names a member of DERIVATIONS AND the row's derivatives
    flag is truthy (:36-39 — NULL/false means not generated yet), and it
    ALWAYS ends ``.jpg`` regardless of media type
    (``{bucketname}-{deriv}/{etag}.jpg`` — a video derivative is its
    poster frame); any other deriv value -> NULL even for fully-landed
    media (the function falls off the end, :40)."""
    bucketname = F.concat(F.lit("idigbio-"), bucket, F.lit("-" + env))
    base_ok = bucket.isNotNull() & etag.isNotNull()
    if deriv is None:
        return F.when(
            base_ok,
            F.concat(F.lit("https://s.idigbio.org/"), bucketname, F.lit("/"), etag),
        )
    if deriv not in DERIVATIONS:
        return F.lit(None).cast("string")
    have = F.coalesce(derivatives, F.lit(False)) if derivatives is not None else F.lit(False)
    return F.when(
        base_ok & have,
        F.concat(
            F.lit("https://s.idigbio.org/"),
            bucketname,
            F.lit("-" + deriv + "/"),
            etag,
            F.lit(".jpg"),
        ),
    )


def preview_state(
    media_url: Column,
    mime: Column,
    type_or_bucket: Column,
    last_status: Column,
) -> Column:
    """respond_to_record's text/cache state machine (v2_media.py:60-77)
    as a struct(text string, cache int).

    Precedence pins: a resolvable media URL -> no text, 4-day cache; a
    missing mime or type -> 'No Preview' (1 day) — and this arm is
    checked BEFORE the never-downloaded arm, so a pending row with no
    mime reads 'No Preview', not 'Preview Pending'; only then does a
    NULL last_status mean 'Preview Pending' (10 min); everything else
    'No Preview' (1 day). ``mime`` and ``type_or_bucket`` carry the
    Python-or fold (detected_mime or mime / type or bucket, :64) — an
    ''-resolved chain is NOT None and falls through to the status arm
    (build them with functions.enrichment.first_nonempty)."""
    st = lambda t, c: F.struct(  # noqa: E731
        F.lit(t).cast("string").alias("text"),
        F.lit(c).cast("int").alias("cache"),
    )
    return (
        F.when(media_url.isNotNull(), st(None, 4 * 24 * 60 * 60))
        .when(mime.isNull() | type_or_bucket.isNull(), st("No Preview", 24 * 60 * 60))
        .when(last_status.isNull(), st("Preview Pending", 600))
        .otherwise(st("No Preview", 24 * 60 * 60))
    )


def _iso(ts: Column) -> Column:
    """datetime.isoformat parity: fractional seconds appear ONLY when
    the microseconds are nonzero (six digits then, never trimmed)."""
    base = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss")
    micro = F.date_format(ts, "SSSSSS")
    return F.when(micro != "000000", F.concat(base, F.lit("."), micro)).otherwise(
        base
    )


def media_api_record(
    url: Column,
    media_url: Column,
    type_or_bucket: Column,
    etag: Column,
    modified: Column,
    owner: Column,
    mime: Column,
    last_status: Column,
    text: Column | None = None,
) -> Column:
    """get_json_for_record (v2_media.py:43-57) as a map<string,string>.

    The reference's final comprehension drops FALSY values, not just
    nulls (:57 ``if v``): '' strings vanish, a 0 last_status would
    vanish, and the ``text`` extra only appears when the preview state
    set one. ``type``/``mime`` carry the or-folds (:48, :52);
    ``modified`` is isoformatted (:50). Collapsing typed values to a
    string map is the engine-side stand-in for the heterogeneous JSON
    dict; last_status renders in decimal."""
    entries = _media_api_entries(
        url, media_url, type_or_bucket, etag, modified, owner, mime,
        last_status, text,
    )
    m = F.map_from_arrays(
        F.array(*[F.lit(k) for k, _ in entries]),
        F.array(*[v for _, v in entries]),
    )
    return F.map_filter(m, lambda _, v: v.isNotNull())


def _media_api_entries(
    url, media_url, type_or_bucket, etag, modified, owner, mime,
    last_status, text=None,
) -> list[tuple[str, Column]]:
    """get_json_for_record's (key, nullable value) table — shared by the
    map form (media_api_record) and the rendered form
    (media_api_record_kv) so the falsy-drop semantics cannot drift."""
    text_col = text if text is not None else F.lit(None).cast("string")
    return [
        ("filereference", F.nullif(url, F.lit(""))),
        ("url", F.nullif(media_url, F.lit(""))),
        ("type", F.nullif(type_or_bucket, F.lit(""))),
        ("etag", F.nullif(etag, F.lit(""))),
        ("modified", _iso(modified)),
        ("user", F.nullif(owner, F.lit(""))),
        ("mime", F.nullif(mime, F.lit(""))),
        (
            "last_status",
            F.when(last_status != 0, last_status.cast("string")),
        ),
        ("text", F.nullif(text_col, F.lit(""))),
    ]


def media_api_record_kv(*args, **kwargs) -> Column:
    """The api record rendered directly as the canonical sorted
    ``k=v;...`` string (what serving-table consumers hash/compare).

    Value-identical to sorting + joining the media_api_record map —
    keys are a fixed literal set, so alphabetical key order is known at
    plan time, ``concat(k=, v)`` is NULL exactly when the map_filter
    would drop the entry, and concat_ws skips NULLs. The point is
    PHYSICAL (prefer built-ins): map_filter and the
    consumer-side transform/array_sort are higher-order functions —
    CodegenFallback expressions that knock the ENTIRE enclosing Project
    (the whole response assembly, storage-URL and preview-state chains
    included) out of whole-stage codegen into interpreted evaluation;
    the same mechanism as the documented array_compact->ArrayFilter
    rejection in functions/flags.py. The concat_ws form stays inside
    codegen end to end (media_serving_table interleaved A/B at sf0.1:
    0.804 -> 0.475 s, DESIGN.md, "Media serving table renders k=v
    natively"; equality pinned by
    tests/test_views.py::test_media_api_record_kv_matches_map_render)."""
    entries = _media_api_entries(*args, **kwargs)
    return F.concat_ws(
        ";",
        *[
            F.concat(F.lit(k + "="), v)
            for k, v in sorted(entries, key=lambda kv: kv[0])
        ],
    )


def record_view_links(
    t: str,
    uuid: Column,
    parent: Column,
    siblings: Column | None = None,
    base: str = "https://search.idigbio.org/v2/view/",
    style: str = "v2",
) -> Column:
    """format_item's links map (v2.py:19-56 / v1.py:11-41) as
    map<string, array<string>>.

    v2 pins: the parent link is keyed by the PARENT TYPE name and only
    present when the parent uuid is (v2.py:19-26); the item view
    DELETES the self link that the list view carries and wraps every
    remaining link value in a single-element LIST (:40-42); sibling
    groups are keyed by the sibling type NAIVELY pluralized (``k + "s"``
    — 'records' -> 'recordss' would follow from a plural input;
    upstream passes singular type names, :46-48).

    v1 pins (``style="v1"``, v1.py:11-41): the link keys are instead
    the type names naively DE-pluralized (``"".join(t[:-1])`` — drop
    the last character, whatever it is), sibling keys pass through
    UNmodified, and link URLS still use the plural route types. The
    surrounding v1 dict carries ``idigbio:``-prefixed keys — the
    caller's naming, not this map's.

    ``siblings`` is a map<string, array<string>> of sibling type ->
    uuids."""
    entries = []
    if t in PARENT_MAP:
        pt = PARENT_MAP[t]
        key = pt[:-1] if style == "v1" else pt
        entries.append(
            F.when(
                parent.isNotNull(),
                F.struct(
                    F.lit(key).alias("key"),
                    F.array(
                        F.concat(F.lit(base + pt + "/"), parent)
                    ).alias("value"),
                ),
            )
        )
    links = F.map_from_entries(
        F.filter(F.array(*entries), lambda e: e.isNotNull())
    ) if entries else F.create_map().cast("map<string,array<string>>")
    if siblings is None:
        return links
    sib_urls = F.transform_values(
        siblings,
        lambda k, v: F.transform(
            v, lambda u: F.concat(F.lit(base), k, F.lit("/"), u)
        ),
    )
    if style != "v1":
        sib_urls = F.transform_keys(
            sib_urls, lambda k, _: F.concat(k, F.lit("s"))
        )
    # merge semantics are the reference's dict.update (v2.py:53 /
    # v1.py:39): a sibling group whose key COLLIDES with the parent
    # link key overwrites it — v1's de-pluralized parent 'recordset'
    # meets a verbatim sibling type 'recordset'; v2's pluralized
    # sibling 'recordset'+'s' meets the parent key 'recordsets'. A
    # bare map_concat THROWS DUPLICATED_MAP_KEY on exactly those rows
    # (differential finding, test_view_links_vs_reference), so the
    # parent side is filtered to the non-colliding keys first. The
    # coalesce keeps a NULL sibling map from nulling the whole result
    # (map_concat(links, NULL) is NULL — the reference's
    # siblings=None keeps the parent links).
    sib_urls = F.coalesce(
        sib_urls, F.create_map().cast("map<string,array<string>>")
    )
    sib_keys = F.map_keys(sib_urls)
    links = F.map_filter(
        links,
        lambda k, _: ~F.coalesce(F.array_contains(sib_keys, k), F.lit(False)),
    )
    return F.map_concat(links, sib_urls)


#: api.py:21 — the media key dispatch pattern (both hex cases).
_UUID_RE = (
    r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
    r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
)


def media_lookup_kind(key: str) -> str:
    """The /media/<key> route dispatch (idb/data_api/api.py:21-28): a
    key shaped EXACTLY like a dashed uuid (either hex case) resolves
    through the record path (MediaObject.fromuuid — uuid -> latest
    record -> accessuri -> url row); anything else is treated as an
    object etag (frometag). The dispatch is purely lexical — a 40-hex
    sha1 etag can never collide with the dashed shape, but a provider
    identifier that HAPPENS to be a uuid is routed as one."""
    import re as _re

    return "uuid" if _re.match(_UUID_RE, key) else "etag"


def media_serving_view(
    media,
    media_objects,
    objects,
    deriv: str | None = None,
    env: str = "prod",
):
    """The full media-lookup serving table — MediaObject.fromurl's
    three-table join (db.py:618-656: media LEFT JOIN media_objects LEFT
    JOIN objects, DISTINCT ON (url) ORDER BY modified DESC — the J6
    latest-object-per-url) composed with the API response assembly
    (media_storage_url / preview_state / media_api_record_kv above). One
    row per media url with everything respond_to_record reads, so the
    OLTP-ish lookup becomes a column read off a materialized view:
    uuid lookups resolve through the record's accessuri to a url
    (fromuuid, db.py:681-688) and land here; etag lookups hit the
    objects side (frometag) — both end in this row shape.

    Scale: latest-object is the J1 max_by kernel (one exchange on url);
    the objects join keys on etag — one row per distinct blob, which at
    corpus scale is LARGE (content-addressed metadata grows with the
    media), so this is a plain shuffle join on a unique key, broadcast
    only when materializing a per-batch slice; nothing else shuffles. A
    serving layer range-partitioned on url reads point lookups from one
    partition."""
    from idb_backend_spark.operators.versioning import latest_per_key_agg

    latest_obj = latest_per_key_agg(
        media_objects.select("url", F.col("etag").alias("__oetag"), "modified"),
        ["url"],
        ["modified"],
    ).select("url", "__oetag", F.col("modified").alias("__omod"))
    j = (
        media.join(latest_obj, "url", "left")
        .join(
            objects.select(
                F.col("etag").alias("__oetag"),
                F.col("bucket").alias("__bucket"),
                F.col("detected_mime").alias("__dmime"),
                F.col("derivatives").alias("__derivs"),
                F.col("owner").alias("__owner"),
            ),
            "__oetag",
            "left",
        )
    )
    tob = first_nonempty(F.col("type"), F.col("__bucket"))
    eff_mime = first_nonempty(F.col("__dmime"), F.col("mime"))
    murl = media_storage_url(
        F.col("__bucket"), F.col("__oetag"), F.col("__derivs"), deriv, env=env
    )
    state = preview_state(murl, eff_mime, tob, F.col("last_status"))
    # the response renders as the canonical sorted k=v; string via
    # media_api_record_kv — value-identical to sorting and joining the
    # media_api_record map, but free of the map_filter/transform
    # higher-order functions whose CodegenFallback drops this whole
    # Project (every chain above included) out of whole-stage codegen
    return j.select(
        "url",
        murl.alias("media_url"),
        state["text"].alias("preview_text"),
        state["cache"].alias("cache_s"),
        media_api_record_kv(
            F.col("url"),
            murl,
            tob,
            F.col("__oetag"),
            F.col("__omod"),
            F.col("__owner"),
            eff_mime,
            F.col("last_status"),
            text=state["text"],
        ).alias("response_kv"),
    )
