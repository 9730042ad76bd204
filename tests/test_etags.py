"""Canonical-hash golden tests (F19). Goldens are literal digests computed
from the documented canonical encoding (SURVEY §1.2 / §7.7): sha1 of the
compact JSON of the sorted flattened [k, v, ...] array."""

import hashlib
import json

from pyspark.sql import functions as F

from idb_backend_spark.functions.etags import (
    TOMBSTONE_ETAG,
    calc_etag,
    etag_expr,
    object_hash,
)


def _expected(record):
    flat = []
    for k in sorted(record):
        flat.append(k)
        flat.append(record[k])
    return hashlib.sha1(
        json.dumps(flat, separators=(",", ":"), ensure_ascii=False).encode("utf8")
    ).hexdigest()


def test_tombstone_constant():
    # the documented sentinel: sha1 of the canonical encoding of
    # {"deleted": true} (reference db.py:33)
    assert calc_etag({"deleted": True}) == TOMBSTONE_ETAG


def test_etag_known_values():
    rec = {"dwc:genus": "Acer", "dwc:specificEpithet": "rubrum"}
    assert calc_etag(rec) == _expected(rec)
    # key order must not matter
    assert calc_etag(dict(reversed(list(rec.items())))) == calc_etag(rec)


def test_etag_unicode_not_ascii_escaped():
    rec = {"dwc:locality": "São Paulo — várzea"}
    assert calc_etag(rec) == _expected(rec)


def test_object_hash_shapes():
    # scalar string hashes its raw text
    assert object_hash("abc") == hashlib.sha1(b"abc").hexdigest()
    # numbers hash str(value)
    assert object_hash(7) == hashlib.sha1(b"7").hexdigest()
    # dict: concat of key + digest(value), sorted keys
    inner = hashlib.sha1(b"1").hexdigest()
    expect = hashlib.sha1(("a" + inner).encode()).hexdigest()
    assert object_hash({"a": 1}) == expect
    # list: concat of element digests, optionally sorted
    da, db = object_hash("a"), object_hash("b")
    assert object_hash(["b", "a"]) == hashlib.sha1((db + da).encode()).hexdigest()
    assert object_hash(["b", "a"], sort_arrays=True) == hashlib.sha1(
        ("".join(sorted([da, db]))).encode()
    ).hexdigest()


def test_etag_expr_matches_python(spark):
    df = spark.createDataFrame(
        [("acer", "rubrum"), ("quercus", None), ('with"quote', "tab\there")],
        ["genus", "epithet"],
    )
    got = [
        r[0]
        for r in df.select(
            etag_expr({"dwc:genus": "genus", "dwc:epithet": "epithet"})
        ).collect()
    ]
    assert got[0] == calc_etag({"dwc:genus": "acer", "dwc:epithet": "rubrum"})
    # null field is dropped from the record
    assert got[1] == calc_etag({"dwc:genus": "quercus"})
    assert got[2] == calc_etag(
        {"dwc:genus": 'with"quote', "dwc:epithet": "tab\there"}
    )


def test_etag_expr_control_chars(spark):
    # every char json.dumps escapes must hash identically on the native
    # path: the two-char escapes, \u00xx control chars, and backslash runs
    tricky = [
        ("bell\x07", "esc\x1b"),
        ("back\bspace", "form\ffeed"),
        ("nul\x00mid", "unit\x1fsep"),
        ("back\\slash", '\\"mix\x01'),
    ]
    df = spark.createDataFrame(tricky, ["a", "b"])
    got = [
        r[0]
        for r in df.select(etag_expr({"f:a": "a", "f:b": "b"})).collect()
    ]
    for g, (a, b) in zip(got, tricky):
        assert g == calc_etag({"f:a": a, "f:b": b})


def test_etag_pairs_expr_matches_python(spark):
    """The pair-array native etag must render calc_etag's exact bytes:
    unsorted input pairs, unicode, embedded quotes/backslashes/controls,
    empty strings, an empty record, a present-but-null value (a dict
    key holding None — rendered as JSON null, NOT dropped), and a NULL
    record (no record, no etag)."""
    from idb_backend_spark.functions.etags import calc_etag, etag_pairs_expr

    recs = [
        {"b:z": "v1", "a:y": "v2"},                      # unsorted keys
        {"dwc:genus": "Ĝenus", "x": 'say "hi" \\ done'},
        {"t": "tab\there", "n": "line\nbreak", "c": "\x01ctl"},
        {"empty": "", "": "empty-key"},
        {},
        {"Z": "upper sorts before lower", "a": "x"},
    ]
    rows = [(i, [(k, v) for k, v in r.items()]) for i, r in enumerate(recs)]
    # the present-but-null value case (no dict equivalent in `recs`
    # because calc_etag is called with an explicit None below)
    rows.append((len(recs), [("k1", None), ("k0", "v")]))
    rows.append((len(recs) + 1, None))
    df = spark.createDataFrame(
        rows, "i int, rec array<struct<k: string, v: string>>"
    )
    got = {
        r["i"]: r["e"]
        for r in df.select("i", etag_pairs_expr(F.col("rec")).alias("e"))
        .collect()
    }
    for i, rec in enumerate(recs):
        assert got[i] == calc_etag(rec), rec
    assert got[len(recs)] == calc_etag({"k1": None, "k0": "v"})
    assert got[len(recs) + 1] is None


def test_etag_pairs_expr_matches_ingest_kernel(spark):
    """The native pair etag and the ingest kernel's calc_etag agree on
    the SAME wire rows — the giant-recordset relational path can hash
    JVM-side and still join the kernel's outcomes on etag."""
    from idb_backend_spark.functions.etags import etag_pairs_expr
    from idb_backend_spark.operators.ingest import (
        LOOKUP_SCHEMA,
        ROW_SCHEMA,
        ingest_subfiles,
    )

    recs = [
        {"dwc:occurrenceID": f"o-{i}", "dwc:recordedBy": f"p {i}\ttab"}
        for i in range(8)
    ]
    rows = spark.createDataFrame(
        [
            ("rs-x", 0, "f.txt", "dwc:Occurrence", i, list(r.items()))
            for i, r in enumerate(recs)
        ],
        ROW_SCHEMA,
    )
    lookup = spark.createDataFrame([], LOOKUP_SCHEMA)
    kernel_etags = {
        r["seq"]: r["etag"]
        for r in ingest_subfiles(rows, lookup).collect()
        if r["outcome"] != "delete"
    }
    native = {
        r["seq"]: r["e"]
        for r in rows.select(
            "seq", etag_pairs_expr(F.col("rec")).alias("e")
        ).collect()
    }
    assert native == kernel_etags


def test_etag_pairs_expr_randomized_batch(spark):
    """200 random unicode records through the full escaping chain in ONE
    Spark job (a per-example property run costs a job each — same
    coverage, two orders of magnitude faster)."""
    import random

    from idb_backend_spark.functions.etags import calc_etag, etag_pairs_expr

    rng = random.Random(20260816)
    pool = (
        [chr(c) for c in range(0x20, 0x7F)]
        + ["\u0142", "\u4e2d", "\U0001f600", "\\", '"', "\t", "\n",
           "\r", "\x01", "\x1f", "\x7f", ""]
    )

    def rnd_str():
        return "".join(
            rng.choice(pool) for _ in range(rng.randrange(0, 10))
        )

    recs = []
    for _ in range(200):
        n = rng.randrange(0, 6)
        recs.append({rnd_str(): rnd_str() for _ in range(n)})
    df = spark.createDataFrame(
        [(i, list(r.items())) for i, r in enumerate(recs)],
        "i int, rec array<struct<k: string, v: string>>",
    )
    got = {
        r["i"]: r["e"]
        for r in df.select(
            "i", etag_pairs_expr(F.col("rec")).alias("e")
        ).collect()
    }
    for i, rec in enumerate(recs):
        assert got[i] == calc_etag(rec), repr(rec)
