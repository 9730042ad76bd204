"""Differential execution of the media validation tables (F24) and the
annotations identity extraction against the reference's own code
(idb/helpers/media_validation.py, idb/annotations/loader.py) — both
pure Python once ``magic`` is stubbed / the DB connection is bypassed.
"""

from __future__ import annotations

import importlib.util
import itertools
import json
import sys
from unittest import mock

import pytest


@pytest.fixture(scope="module")
def ref_mv(requires_reference):
    sys.modules.setdefault("magic", mock.MagicMock())
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_media_validation",
        "/root/reference/idb/helpers/media_validation.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_validate_mime_for_type_grid_vs_reference(ref_mv):
    """The full (mime, bucket) grid through BOTH validate_mime_for_type
    implementations: result tuples agree and every raise maps to the
    same error class (the engine flattens the subclass name into
    ``code``)."""
    from idb_backend_spark.functions.multimodal import (
        MediaValidationError,
        validate_mime_for_type,
    )

    mimes = [
        None, "", "image/jpeg", "image/jp2", "audio/mpeg", "audio/mpeg3",
        "video/mp4", "video/mpeg", "model/mesh", "text/plain", "text/csv",
        "application/zip", "application/pdf", "nonsense/mime",
    ]
    buckets = [
        None, "", "images", "sounds", "video", "models", "datasets",
        "debugfile", "guoda", "notabucket",
    ]
    for mime, bucket in itertools.product(mimes, buckets):
        try:
            ref_out = ref_mv.validate_mime_for_type(mime, bucket)
            ref_err = None
        except ref_mv.MediaValidationError as e:
            ref_out, ref_err = None, type(e).__name__
        try:
            eng_out = validate_mime_for_type(mime, bucket)
            eng_err = None
        except MediaValidationError as e:
            eng_out, eng_err = None, e.code
        assert (ref_out, ref_err) == (eng_out, eng_err), (mime, bucket)


def test_get_default_bucket_vs_reference(ref_mv):
    from idb_backend_spark.functions.enrichment import (
        _FORMAT_BUCKETS,
        _MIME_ALIASES,
    )

    domain = set(ref_mv.default_buckets) | set(ref_mv.mime_aliases) | {
        "application/zip", "text/plain", "nonsense/mime",
    }
    for mime in sorted(domain):
        ref = ref_mv.get_default_bucket(mime)
        eng = _FORMAT_BUCKETS.get(_MIME_ALIASES.get(mime, mime))
        assert ref == eng, mime


def test_zip_sniff_prefix_vs_reference(ref_mv):
    """sniff_mime's ZIP short-circuit (media_validation.py:79-81) — the
    only sniff arm that runs without libmagic — executed against the
    engine's magic-byte table. The engine's 'datasets' routing for a
    sniffed zip (vs the reference validate()'s UnknownBucketError,
    default_buckets having no zip entry) stays the documented r9 choice;
    the DETECTED MIME itself must agree."""
    from idb_backend_spark.functions.multimodal import sniff_mime

    for head in (b"PK\x03\x04rest", b"PK\x05\x06", b"PK\x07\x08x",
                 bytearray(b"PK\x03\x04"), "PK\x03\x04text"):
        assert ref_mv.sniff_mime(head) == "application/zip"
        raw = head.encode() if isinstance(head, str) else bytes(head)
        assert sniff_mime(raw)[0] == "application/zip"
    # a non-zip prefix falls through to libmagic there (stubbed here) —
    # only the short-circuit is comparable
    assert ref_mv.sniff_mime(b"\xff\xd8\xffdata") is not None  # mock object


def test_annotation_identity_vs_reference(requires_reference):
    """AnnotationsLoader.add_corrections' identity tuple
    (loader.py:53-54) executed — instance created without the DB
    connection; the method only appends — vs annotation_identity +
    normalize fold: last-colon-segment ids, annotatedBy.name source,
    whole-JSON lowercase body."""
    sys.path.insert(0, "/root/reference")
    # satisfy loader.py's `from idb.postgres_backend import ...` with a
    # throwaway mock, then REMOVE it — a lingering non-package mock
    # would poison later real imports of idb.postgres_backend.db
    # (the fetcher fixture below needs the real package)
    had = "idb.postgres_backend" in sys.modules
    if not had:
        sys.modules["idb.postgres_backend"] = mock.MagicMock()
    try:
        spec = importlib.util.spec_from_file_location(
            "ref_ann_loader", "/root/reference/idb/annotations/loader.py"
        )
        RL = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(RL)
    finally:
        if not had:
            del sys.modules["idb.postgres_backend"]

    from idb_backend_spark.operators.corrections import annotation_identity

    docs = [
        {"@id": "urn:uuid:ABC-1", "hasTarget": {"@id": "urn:uuid:t-9"},
         "annotatedBy": {"name": "Alice"}, "annotatedAt": "2020-01-01"},
        {"@id": "plainid", "hasTarget": {"@id": "x:y:z"},
         "annotatedBy": {"name": "BOB"}, "annotatedAt": "2021-02-02"},
        {"@id": "a:b", "hasTarget": {"@id": "nocolon"},
         "annotatedBy": {"name": "c"}, "annotatedAt": "2022-03-03"},
    ]
    ld = object.__new__(RL.AnnotationsLoader)
    ld.corrections = []
    ld.conn = mock.MagicMock()  # __del__ releases it to the (stubbed) pool
    for v in docs:
        ld.add_corrections(dict(v), approved=True)
    for v, row in zip(docs, ld.corrections):
        uuids_id, source_id, source = annotation_identity(v)
        assert row[0] == uuids_id
        assert row[1] == source_id
        assert row[3] == source
        # stored body: the whole-JSON lowercase fold (same class as the
        # corrections write side, normalize_correction_rule)
        assert row[2] == json.dumps(v).lower()
        assert row[4] is True and row[5] == v["annotatedAt"]
        assert row[6] == row[2] and row[7] == row[5]  # upsert arm reuse


@pytest.fixture(scope="module")
def ref_fetcher(requires_reference):
    """mediaing.fetcher loads under the auto-stub hook (requests /
    gevent / psycopg2 / botocore fabricated; Status + IGNORE_PREFIXES
    from the real mediaing package)."""
    import importlib.abc

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
    sys.path.insert(0, "/root/reference")
    stor = mock.MagicMock()
    stor.__name__ = "idb.helpers.storage"
    sys.modules.setdefault("idb.helpers.storage", stor)
    from idigbio_ingestion.mediaing import fetcher as RFETCH

    return RFETCH


def test_inspect_html_response_vs_reference(ref_fetcher, spark):
    """The disguised-denial classifier EXECUTED (fetcher.py:494-502 +
    the :425 mime gate) vs operators/mediaing.classify_html_response
    over a content battery that covers the two-space quirk: BLOCKED_RE
    is ``ip (?:address)? (blocked|blacklisted)`` — the optional group
    sits between two MANDATORY spaces, so 'your ip blocked' (one
    space) never matches while 'your ip  blocked' and 'ip address
    blacklisted' do; DENIED wins when both appear."""
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.mediaing import (
        classify_html_response,
    )

    RFETCH = ref_fetcher
    battery = [
        "Access Denied by host",
        "ACCESS DENIED",
        "your ip blocked",          # one space — the famous non-match
        "your ip  blocked",         # two spaces — matches
        "ip address blocked",
        "IP ADDRESS BLACKLISTED",
        "ip  blacklisted",
        "ipblocked",
        "all good content",
        "access denied and ip  blocked",  # DENIED checked first
        "",
    ]
    mimes = ["text/html", "text/plain", "image/jpeg"]

    rows = [(c, m, i) for i, (c, m) in enumerate(
        (c, m) for c in battery for m in mimes)]
    df = spark.createDataFrame(rows, "content string, mime string, i long")
    got = {
        r["i"]: r["status"]
        for r in df.select(
            "i",
            classify_html_response(F.col("content"), F.col("mime"))
            .alias("status"),
        ).collect()
    }
    for c, m, i in rows:
        # the reference gates on detected mime BEFORE calling
        # inspect_html_response (fetcher.py:422-427)
        if m in ("text/html", "text/plain"):
            sc = RFETCH.inspect_html_response(c)
            expect = sc.value if sc is not None else None
        else:
            expect = None
        assert got[i] == expect, (c, m, got[i], expect)

    # Status numeric parity for the synthetic codes the engine writes
    from idb_backend_spark.operators.mediaing import (
        STATUS_BLOCKED,
        STATUS_FAUX_DENIED,
    )

    assert RFETCH.Status.FAUX_DENIED.value == STATUS_FAUX_DENIED == 1403
    assert RFETCH.Status.BLOCKED.value == STATUS_BLOCKED == 1509

    # IGNORE_PREFIXES parity (the unconditional ignore gate S14 pins)
    from idigbio_ingestion import mediaing as RMED

    from idb_backend_spark.operators.mediaing import IGNORE_PREFIXES

    assert tuple(RMED.IGNORE_PREFIXES) == tuple(IGNORE_PREFIXES)


def test_validate_mime_for_type_fuzz_vs_reference(ref_mv):
    """r15 soak arm (SURVEY §5): the full-product grid above covers the
    registry's own vocabulary; this arm fuzzes BEYOND it — random-case
    variants, whitespace-padded forms, bare words, unicode subtypes,
    multi-slash junk — to prove the table lookup (not a normalizer)
    semantics agree everywhere, not just on clean keys. IDB_SOAK=N adds
    fresh seeds."""
    import random

    from conftest import soak_seeds

    from idb_backend_spark.functions.multimodal import (
        MediaValidationError,
        validate_mime_for_type,
    )

    pieces = ["image", "audio", "video", "model", "text", "application",
              "IMAGE", "Image", " image", "nonsense", ""]
    subs = ["jpeg", "jp2", "mpeg", "mpeg3", "mp4", "mesh", "plain", "csv",
            "zip", "pdf", "JPEG", "jpeg ", "x-y", "☃", "jpeg/extra", ""]
    bucket_pool = [None, "", "images", "sounds", "video", "models",
                   "datasets", "debugfile", "guoda", "IMAGES", "Images",
                   " images", "images ", "notabucket", "☃", "mp3"]
    for seed in soak_seeds(0xF24):
        rng = random.Random(seed)
        for _ in range(300):
            kind = rng.random()
            if kind < 0.1:
                mime = None
            elif kind < 0.25:
                mime = rng.choice(pieces + subs)  # slashless junk
            else:
                mime = f"{rng.choice(pieces)}/{rng.choice(subs)}"
            bucket = rng.choice(bucket_pool)
            try:
                ref_out = ref_mv.validate_mime_for_type(mime, bucket)
                ref_err = None
            except ref_mv.MediaValidationError as e:
                ref_out, ref_err = None, type(e).__name__
            try:
                eng_out = validate_mime_for_type(mime, bucket)
                eng_err = None
            except MediaValidationError as e:
                eng_out, eng_err = None, e.code
            assert (ref_out, ref_err) == (eng_out, eng_err), (
                seed, mime, bucket,
            )


def test_inspect_html_response_fuzz_vs_reference(ref_fetcher, spark):
    """r15 soak arm: randomized compositions of the BLOCKED/DENIED
    vocabulary (variable spacing — the regex's mandatory-two-space
    quirk — case variants, embedded filler, both patterns in one
    content) through the real inspect_html_response vs the engine's
    classifier, batch-executed in one Spark job per seed."""
    import random

    from conftest import soak_seeds
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.mediaing import classify_html_response

    RFETCH = ref_fetcher
    words = ["ip", "address", "blocked", "blacklisted", "access",
             "denied", "Access", "DENIED", "IP", "ADDRESS", "Blocked",
             "filler", "the", "your", "", "ipaddress", "addressblocked"]
    seps = ["", " ", "  ", "   ", "\t", "\n", " x "]
    for seed in soak_seeds(0x509):
        rng = random.Random(seed)
        battery = []
        for _ in range(400):
            n = rng.randrange(1, 8)
            parts = []
            for k in range(n):
                parts.append(rng.choice(words))
                parts.append(rng.choice(seps))
            battery.append("".join(parts))
        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(battery)], "i long, c string"
        )
        got = {
            r["i"]: r["s"]
            for r in df.select(
                "i",
                classify_html_response(
                    F.col("c"), F.lit("text/html")
                ).alias("s"),
            ).collect()
        }
        for i, c in enumerate(battery):
            sc = RFETCH.inspect_html_response(c)
            expect = sc.value if sc is not None else None
            assert got[i] == expect, (seed, repr(c), got[i], expect)
