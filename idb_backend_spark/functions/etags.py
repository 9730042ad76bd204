"""Canonical content hashing — record identity for versioning/dedup.

Reproduces the observable semantics of the reference's etag functions
(idb/helpers/etags.py:7-16 `calcEtag`, :41-79 `objectHasher`) from their
spec: record identity is the SHA-1 hex digest of the compact JSON encoding
(``separators=(',', ':')``, ``ensure_ascii=False``) of the flattened
``[k1, v1, k2, v2, ...]`` array with keys in sorted order. Byte-exact
reproduction matters: any drift breaks versioning/dedup parity
(SURVEY §7.7 item 1).

Distributed use: `etag_expr` (flat all-string records) and
`etag_pairs_expr` (the ingest (k, v) pair-array format) build the same
bytes as `calc_etag`, their scalar reference, with native concat/sha1
and stay JVM-side.
"""

from __future__ import annotations

import hashlib
import json

from pyspark.sql import Column
from pyspark.sql import functions as F

#: SHA-1 of {"deleted": true} — the tombstone sentinel version
#: (reference idb/postgres_backend/db.py:33).
TOMBSTONE_ETAG = "9a4e35834eb80d9af64bcd07ed996b9ec0e60d92"


def calc_etag(record: dict) -> str:
    """SHA-1 over compact JSON of the sorted flattened [k, v, ...] array."""
    flat: list = []
    for k in sorted(record.keys()):
        flat.append(k)
        flat.append(record[k])
    encoded = json.dumps(flat, separators=(",", ":"), ensure_ascii=False)
    return hashlib.sha1(encoded.encode("utf8")).hexdigest()


def object_hash(data, hash_type: str = "sha1", sort_arrays: bool = False,
                sort_keys: bool = True) -> str:
    """Recursive typed hasher (digest-of-digests for containers).

    Semantics match reference objectHasher (etags.py:41-79): lists hash the
    concatenation of element digests (optionally sorted); dicts hash the
    concatenation of ``key + digest(value)`` over (optionally sorted) keys;
    strings hash their raw text; numbers hash ``str(value)``; None hashes
    the empty string. Used for corrections keys and download-request dedup.
    """
    h = hashlib.new(hash_type)
    if isinstance(data, list):
        parts = [
            object_hash(x, hash_type, sort_arrays, sort_keys) for x in data
        ]
        if sort_arrays:
            parts = sorted(parts)
        s = "".join(parts)
    elif isinstance(data, bool):
        # bool is an int subclass; reference renders it via str() too
        s = str(data)
    elif isinstance(data, str):
        s = data
    elif isinstance(data, (int, float)):
        s = str(data)
    elif isinstance(data, dict):
        keys = sorted(data.keys()) if sort_keys else list(data.keys())
        s = "".join(
            k + object_hash(data[k], hash_type, sort_arrays, sort_keys)
            for k in keys
        )
    elif data is None:
        s = ""
    else:
        raise TypeError(f"unhashable type for object_hash: {type(data)}")
    h.update(s.encode("utf8"))
    return h.hexdigest()


def _json_str(c: Column) -> Column:
    """Full json.dumps string escaping (ensure_ascii=False): backslash
    first, then quote, the five two-char control escapes, and every
    remaining U+0000-U+001F as \\u00xx — literal (non-regex) replaces
    so the whole chain stays a flat StringReplace pipeline in codegen."""
    c = F.replace(c, F.lit("\\"), F.lit("\\\\"))
    c = F.replace(c, F.lit('"'), F.lit('\\"'))
    for ch, esc in (("\b", "\\b"), ("\f", "\\f"), ("\n", "\\n"),
                    ("\r", "\\r"), ("\t", "\\t")):
        c = F.replace(c, F.lit(ch), F.lit(esc))
    for cp in range(0x20):
        if chr(cp) in "\b\f\n\r\t":
            continue
        c = F.replace(c, F.lit(chr(cp)), F.lit("\\u%04x" % cp))
    return F.concat(F.lit('"'), c, F.lit('"'))


def etag_expr(colmap: dict[str, Column | str]) -> Column:
    """Native-expression etag for a *flat, all-string* record.

    Builds the identical canonical JSON bytes with concat_ws/sha1 so the
    hot path (ingest dedup over billions of rows) never leaves the JVM.
    ``colmap`` maps field name -> string Column; null fields are dropped
    from the record, matching dict-absence in `calc_etag`.
    """
    pieces = []
    for name in sorted(colmap):
        c = colmap[name]
        c = F.col(c) if isinstance(c, str) else c
        pieces.append(
            F.when(
                c.isNotNull(),
                F.concat(_json_str(F.lit(name)), F.lit(","), _json_str(c)),
            )
        )
    body = F.concat_ws(",", *[p for p in pieces])
    return F.sha1(F.concat(F.lit("["), body, F.lit("]")).cast("binary"))


def etag_pairs_expr(pairs: Column) -> Column:
    """Native-expression etag for an ordered (k, v) PAIR-ARRAY record —
    the ingest wire format (operators/ingest.ROW_SCHEMA) — identical
    bytes to ``calc_etag(dict(pairs))`` for flat string records, fully
    JVM-side (array_sort + transform + sha1; no Python in the giant-
    recordset hot path).

    Semantics matched to calc_etag:

    * keys sort in code-point order — Spark's UTF8 binary string order
      coincides with Python's code-point comparison because UTF-8 is
      order-preserving (array_sort on the struct sorts (k, v); with a
      record's keys unique that equals sorting by k alone);
    * a PRESENT pair with a null value renders JSON ``null`` (a dict
      key holding None), unlike etag_expr's colmap where null means the
      field is absent;
    * a null array hashes to null (no record, no etag);
    * a pair with a NULL KEY nulls the whole etag — calcEtag raises
      there (sorting None against str), sending the reference's row to
      the exception bucket; array_join would otherwise silently skip
      the null item and hash the record as if the pair were absent,
      silently diverging from the kernel. The relational ingest path
      maps the null etag to the same exception outcome.
    """
    item = F.transform(
        F.array_sort(pairs),
        lambda p: F.concat(
            _json_str(p["k"]),
            F.lit(","),
            F.coalesce(_json_str(p["v"]), F.lit("null")),
        ),
    )
    return F.when(
        ~F.coalesce(
            F.exists(pairs, lambda p: p["k"].isNull()), F.lit(True)
        ),
        F.sha1(
            F.concat(
                F.lit("["), F.array_join(item, ","), F.lit("]")
            ).cast("binary")
        ),
    )
