"""Differential execution of the COMPOSED ingest row loop — the
reference's ``db_check.process_subfile``
(idigbio_ingestion/db_check.py:181-475) run for real as the oracle
against the engine's cogrouped sequential kernel
(operators/ingest.ingest_subfiles).

Round 11 executed the loop's pieces (identifyRecord, strip_nuls, the
suspects grid, etags); this module runs the WHOLE match/create/update
decision loop head-to-head, including the parts only the composition
exercises: the ``unconsumed_extensions`` / ``core_siblings`` cross-member
buffers (:259-270,:365-378), the in-file duplicate discipline with its
asymmetric rollback (etag claims survive a failed row, id claims do
not, :271-276 vs :436-439), the phantom-found arithmetic (found/match
move before a cross-record raise, :304-313), set-difference deletes
(:441-454), the ingested-then-raised ``ac:associatedSpecimenReference``
quirk (set_record at :349 precedes the probe at :389-410), and in-run
identifier visibility through the db handle.

The reference runs under the established auto-stub import hook with an
in-memory PostgresDB fake that honors the loop's exact contract surface
(get_uuid / set_record / _upsert_uuid_sibling / undelete_item /
delete_item / get_item / fetchone-suffix-probe). Created-entity uuids
are uuid4 in the reference and deterministic uuid5 in the engine
(documented divergence, operators/ingest.py), so every comparison is by
row/identifier identity, never by created-uuid value.
"""

from __future__ import annotations

import copy
import datetime
import json
import random
import sys
import types
from unittest import mock

import pytest

from idb_backend_spark.functions.etags import calc_etag
from idb_backend_spark.operators.ingest import (
    LOOKUP_SCHEMA,
    ROW_SCHEMA,
    ingest_subfiles,
    subfile_summary,
)

RSID = "00000000-0000-0000-0000-00000000rs01"


# --------------------------------------------------------------------------
# reference loading (the repo's standard auto-stub hook)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ref_db_check(requires_reference):
    import importlib.abc
    import importlib.util

    roots = {
        "gevent", "psycopg2", "boto3", "botocore", "requests",
        "elasticsearch", "celery", "redis", "lxml", "pyproj", "shapely",
        "fiona", "atomicfile", "magic",
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
    import pandas  # noqa: F401 — initialize against the real pytz first

    fake_pytz = types.ModuleType("pytz")
    fake_pytz.utc = datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")
    import botocore.exceptions
    import psycopg2

    psycopg2.DatabaseError = type("DatabaseError", (Exception,), {})
    botocore.exceptions.ClientError = type("ClientError", (Exception,), {})
    stor = mock.MagicMock()
    stor.__name__ = "idb.helpers.storage"
    sys.modules.setdefault("idb.helpers.storage", stor)
    from idigbio_ingestion import db_check as DB

    return DB


class FakeRecordFile:
    """The slice of DwcaRecordFile process_subfile touches: iteration
    over row dicts plus rowtype / name / lineCount."""

    def __init__(self, name, rowtype, rows):
        self.name = name
        self.rowtype = rowtype
        self.rows = rows
        self.lineCount = len(rows)

    def __iter__(self):
        # the loop mutates r in place (extension merge, occurrenceID
        # promotion) — hand it copies so batteries stay reusable
        return iter(copy.deepcopy(self.rows))


class FakePostgresDB:
    """In-memory stand-in for the PostgresDB surface the loop calls
    (idb/postgres_backend/db.py:434-466 get_uuid/set_record and the
    sibling/delete/undelete helpers), honoring in-run visibility:
    set_record inserts become probe-able by later rows, exactly like
    the reference's single transaction."""

    def __init__(self, probe=None, uuids=()):
        # ident -> (uuid, parent, deleted)
        self.probe = dict(probe or {})
        self.uuids = set(uuids) | {u for u, _, _ in self.probe.values()}
        self.set_records = []
        self.sibling_upserts = []
        self.deleted_items = []
        self.undeleted_items = []
        self._n = 0

    def get_uuid(self, ids):
        hits = {self.probe[i] for i in ids if i in self.probe}
        if len(hits) > 1:
            raise ValueError("Identifiers have multiple uuids:", ids)
        if len(hits) == 1:
            return next(iter(hits))
        self._n += 1
        return ("ref-new-%04d" % self._n, None, False)

    def set_record(self, u, t, p, d, ids, siblings):
        self.set_records.append(
            (u, t, p, copy.deepcopy(d), sorted(ids), list(siblings))
        )
        self.uuids.add(u)
        for i in ids:
            self.probe.setdefault(i, (u, p, False))

    def _upsert_uuid_sibling(self, u, s):
        self.sibling_upserts.append((u, s))

    def undelete_item(self, u):
        self.undeleted_items.append(u)
        for i, (pu, pp, pdel) in list(self.probe.items()):
            if pu == u and pdel:
                self.probe[i] = (pu, pp, False)

    def delete_item(self, u):
        self.deleted_items.append(u)

    def get_item(self, u):
        return {"uuid": u} if u in self.uuids else None

    def fetchone(self, sql, params, cursor_factory=None):
        suffix = params[0].lstrip("%")
        for i, (u, _, _) in self.probe.items():
            if i.endswith(suffix):
                return {"uuids_id": u}
        return None


#: summary keys compared 1:1 with the reference's returned dict
SUMMARY_KEYS = [
    "create", "update", "delete", "to_undelete", "ingestions",
    "resurrections", "processed_line_count", "total_line_count",
    "no_recordid_count", "duplicate_record_count", "duplicate_id_count",
    "record_exceptions", "exceptions",
]


def run_reference(DB, members, rs_uuid_etag, rs_id_uuid, db, ingest=True):
    """process_subfile per member, in the reference's member order,
    with the module-level archive buffers reset first (process_file
    clears them per archive, db_check.py:548-550)."""
    DB.unconsumed_extensions.clear()
    DB.core_siblings.clear()
    out = {}
    for rf in members:
        out[rf.name] = DB.process_subfile(
            rf, RSID, rs_uuid_etag, rs_id_uuid, ingest=ingest, db=db
        )
    return out


def run_engine(spark, members, lookup_rows, ingest=True):
    rows = []
    for order, rf in enumerate(members):
        for seq, rec in enumerate(rf.rows):
            wire = [
                (
                    k,
                    v
                    if isinstance(v, str) or v is None
                    else json.dumps(v, ensure_ascii=False),
                )
                for k, v in rec.items()
            ]
            rows.append((RSID, order, rf.name, rf.rowtype, seq, wire))
    rows_df = spark.createDataFrame(rows, ROW_SCHEMA)
    lookup_df = spark.createDataFrame(lookup_rows, LOOKUP_SCHEMA)
    outcomes = ingest_subfiles(rows_df, lookup_df, ingest=ingest)
    collected = outcomes.collect()
    summaries = {
        r["fname"]: r.asDict()
        for r in subfile_summary(outcomes).collect()
    }
    return collected, summaries


def seed_lookup(rs_uuid_etag, rs_id_uuid, global_probe):
    """LOOKUP_SCHEMA rows from the same dicts the reference receives."""
    rows = []
    for rtype, id_map in rs_id_uuid.items():
        uuid_idents = {}
        for ident, u in id_map.items():
            uuid_idents.setdefault(u, []).append(ident)
        for u, etag in rs_uuid_etag[rtype].items():
            idents = uuid_idents.get(u) or [None]
            for ident in idents:
                rows.append(
                    (RSID, "rs", rtype, ident, u, etag, RSID, False)
                )
    for ident, (u, parent, deleted) in global_probe.items():
        rows.append((RSID, "global", None, ident, u, None, parent, deleted))
    return rows


def uuid_key(u, seeded, created_ids):
    """Stable cross-engine identity for a uuid: seeded uuids compare by
    value; created uuids compare by the identifier set they claimed."""
    if u in seeded:
        return ("seed", u)
    if u in created_ids:
        return ("new", frozenset(created_ids[u]))
    return ("opaque", u)


def compare(DB, db, ref_summaries, eng_rows, eng_summaries, seeded):
    # 1. per-member counters
    for fname, ref in ref_summaries.items():
        eng = eng_summaries[fname]
        for k in SUMMARY_KEYS:
            assert eng[k] == ref[k], (
                f"{fname}.{k}: engine {eng[k]} != reference {ref[k]}\n"
                f"ref: { {q: ref[q] for q in SUMMARY_KEYS} }\n"
                f"eng: { {q: eng[q] for q in SUMMARY_KEYS} }"
            )
    assert set(eng_summaries) == set(ref_summaries)

    # 2. absence deletes, by value (always seeded uuids)
    eng_deletes = sorted(
        r["uuid"] for r in eng_rows if r["outcome"] == "delete"
    )
    assert eng_deletes == sorted(db.deleted_items)

    # 3. ingested rows: identifier sets claimed by set_record
    ref_created = {u: ids for u, _, _, _, ids, _ in db.set_records}
    eng_created = {
        r["uuid"]: sorted(r["ids"] or [])
        for r in eng_rows
        if r["ingested"] and r["outcome"] != "delete"
    }
    ref_idsets = sorted(map(tuple, ref_created.values()))
    eng_idsets = sorted(map(tuple, eng_created.values()))
    assert eng_idsets == ref_idsets

    # 4. content parity of ingested records: the reference hashes the
    # post-merge dict through its own calcEtag inside set_record; the
    # kernel's etag column must render the same hash set
    ref_etags = sorted(DB.calcEtag(d) for _, _, _, d, _, _ in db.set_records)
    eng_etags = sorted(
        r["etag"]
        for r in eng_rows
        if r["ingested"] and r["outcome"] != "delete"
    )
    assert eng_etags == ref_etags

    # 5. sibling edges, translated through uuid_key
    ref_ids_by_uuid = {u: ids for u, ids in ref_created.items()}
    eng_ids_by_uuid = {u: ids for u, ids in eng_created.items()}
    ref_edges = []
    for u, _, _, _, _, sibs in db.set_records:
        for s in sibs:
            ref_edges.append(
                (uuid_key(u, seeded, ref_ids_by_uuid),
                 uuid_key(s, seeded, ref_ids_by_uuid))
            )
    for u, s in db.sibling_upserts:
        ref_edges.append(
            (uuid_key(u, seeded, ref_ids_by_uuid),
             uuid_key(s, seeded, ref_ids_by_uuid))
        )
    eng_edges = []
    for r in eng_rows:
        if r["outcome"] == "delete" or not r["siblings"]:
            continue
        for s in r["siblings"]:
            eng_edges.append(
                (uuid_key(r["uuid"], seeded, eng_ids_by_uuid),
                 uuid_key(s, seeded, eng_ids_by_uuid))
            )
    assert sorted(eng_edges) == sorted(ref_edges)


# --------------------------------------------------------------------------
# battery 1 — randomized occurrence core: the match/create/update loop
# --------------------------------------------------------------------------


def _seeded_store(n=40):
    """Existing recordset children whose etags come from REAL row dicts,
    so 'match' rows can reproduce them byte-identically."""
    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    docs = {}
    for i in range(n):
        u = f"ex-rec-{i:04d}"
        d = {"dwc:occurrenceID": f"occ-{i}", "dwc:recordedBy": f"col-{i}"}
        docs[u] = d
        uuid_etag["records"][u] = calc_etag(d)
        id_uuid["records"][f"{RSID.lower()}\\occ-{i}".lower()] = u
        if i % 4 == 0:
            # a second, verbatim-style identifier for the same entity
            id_uuid["records"][f"urn:rec:{i}"] = u
    for i in range(8):
        u = f"ex-med-{i:04d}"
        d = {"ac:providerManagedID": f"PMID-{i}", "dc:format": "image/jpeg"}
        uuid_etag["mediarecords"][u] = calc_etag(d)
        id_uuid["mediarecords"][f"pmid-{i}"] = u
    return uuid_etag, id_uuid, docs


def _battery1_rows(rng):
    """120 rows over every decision branch. Designed constraint (the
    kernel and the loop agree by construction): a duplicate-id row never
    itself holds the first claim on some OTHER identifier — the chain
    case is pinned separately in test_dup_id_release_chain."""
    rows = []
    prior_success = []  # (row, idents-claiming) for dup targets
    for k in range(120):
        branch = rng.choice(
            ["new", "match", "update", "noid", "dup_etag", "dup_id",
             "conflict", "foreign", "deleted", "multi_uuid", "new_multi",
             "promoted", "rr"]
        )
        i = rng.randrange(40)
        if branch == "new":
            r = {"dwc:occurrenceID": f"new-{k}", "dwc:recordedBy": f"p{k}"}
            prior_success.append(r)
        elif branch == "match":
            r = {"dwc:occurrenceID": f"occ-{i}", "dwc:recordedBy": f"col-{i}"}
        elif branch == "update":
            r = {"dwc:occurrenceID": f"occ-{i}", "dwc:recordedBy": f"rev-{k}"}
        elif branch == "noid":
            r = {"dwc:recordedBy": f"anon-{k}"}
        elif branch == "dup_etag" and prior_success:
            r = dict(rng.choice(prior_success))
        elif branch == "dup_id" and prior_success:
            donor = rng.choice(prior_success)
            r = dict(donor)
            r["dwc:recordedBy"] = f"dupid-{k}"
        elif branch == "conflict":
            j = (i + 1) % 40
            r = {
                "idigbio:recordId": f"urn:rec:{(i // 4) * 4}",
                "dwc:occurrenceID": f"occ-{j if j % 4 else (j + 1) % 40}",
                "dwc:recordedBy": f"x-{k}",
            }
        elif branch == "foreign":
            r = {"dwc:occurrenceID": f"foreign-{k % 3}",
                 "dwc:recordedBy": f"f-{k}"}
        elif branch == "deleted":
            r = {"dwc:occurrenceID": f"gone-{k % 2}",
                 "dwc:recordedBy": f"g-{k}"}
        elif branch == "multi_uuid":
            r = {"idigbio:recordId": "urn:global:a",
                 "idigbio:recordID": "urn:global:b",
                 "dwc:recordedBy": f"mu-{k}"}
        elif branch == "new_multi":
            r = {"idigbio:recordId": f"urn:new:{k}",
                 "dwc:occurrenceID": f"nm-{k}",
                 "dwc:recordedBy": f"n-{k}"}
            prior_success.append(r)
        elif branch == "promoted":
            r = {"id": f"bare-{k}", "dwc:recordedBy": f"b-{k}"}
        elif branch == "rr":
            rel = rng.choice(["representedIn", "sameAs", "isRelatedTo"])
            r = {
                "dwc:ResourceRelationship": [
                    {"dwc:relatedResourceID": f"RR-{k}",
                     "dwc:relationshipOfResource": rel}
                ],
                "dwc:occurrenceID": f"rr-{k}",
                "dwc:recordedBy": f"r-{k}",
            }
        else:  # dup branches with no prior target yet
            r = {"dwc:occurrenceID": f"new-{k}", "dwc:recordedBy": f"p{k}"}
            prior_success.append(r)
        rows.append(r)
    return rows


def _battery1_global():
    """The uuids_identifier probe beyond the recordset: foreign-parent
    entities, deleted entities, and a multi-uuid pair."""
    g = {}
    for m in range(3):
        g[f"{RSID.lower()}\\foreign-{m}"] = (
            f"other-{m}", "11111111-1111-1111-1111-111111111111", False)
    for m in range(2):
        g[f"{RSID.lower()}\\gone-{m}"] = (f"dead-{m}", RSID, True)
    g["urn:global:a"] = ("ga-uuid", RSID, False)
    g["urn:global:b"] = ("gb-uuid", RSID, False)
    return g


def _soak_extra_seeds() -> list[int]:
    """Collection-time IDB_SOAK support (SURVEY §5): N-1 fresh printed
    seeds appended to the pinned battery when soaking."""
    import os
    import random as _r

    n = int(os.environ.get("IDB_SOAK", "1"))
    if n <= 1:
        return []
    seeds = [_r.SystemRandom().randrange(2**32) for _ in range(n - 1)]
    print(f"IDB_SOAK={n} ingest fresh seeds: {seeds}")
    return seeds


@pytest.mark.parametrize("seed", [7, 101, 4242] + _soak_extra_seeds())
def test_core_loop_randomized(ref_db_check, spark, seed):
    DB = ref_db_check
    rng = random.Random(seed)
    uuid_etag, id_uuid, _ = _seeded_store()
    rows = _battery1_rows(rng)
    g = _battery1_global()

    members = [FakeRecordFile("occurrence.txt", "dwc:Occurrence", rows)]
    db = FakePostgresDB(probe=g)
    ref = run_reference(DB, members, uuid_etag, id_uuid, db)

    lookup = seed_lookup(uuid_etag, id_uuid, g)
    eng_rows, eng_sum = run_engine(spark, members, lookup)

    seeded = (
        set(uuid_etag["records"]) | set(uuid_etag["mediarecords"])
        | {u for u, _, _ in g.values()}
    )
    compare(DB, db, ref, eng_rows, eng_sum, seeded)


# --------------------------------------------------------------------------
# battery 2 — multi-member archive: extension + media + core buffering
# --------------------------------------------------------------------------


def test_archive_buffers(ref_db_check, spark):
    DB = ref_db_check
    uuid_etag, id_uuid, docs = _seeded_store(n=12)

    # extension member (non-ingestion rowtype): buffered by coreid,
    # merged into the core rows that carry the same bare id
    ext_rows = [
        {"coreid": f"core-{i}", "gbif:identifier": f"alt-{i}"}
        for i in range(6)
    ] + [
        {"coreid": "core-2", "gbif:identifier": "alt-2b"},
        {"coreid": "orphan-9", "gbif:identifier": "never-consumed"},
    ]
    # media member (ingestion rowtype, mediarecords): its uuids become
    # the core rows' siblings through core_siblings; one UConn pair
    media_rows = [
        {"coreid": f"core-{i}", "ac:providerManagedID": f"PMID-{i}",
         "dc:rights": "cc0"}
        for i in range(4)
    ] + [
        {"coreid": "core-1",
         "ac:providerManagedID": "SAME-X",
         "dcterms:identifier": "same-x",
         "dc:rights": "cc-by"},
    ]
    # core member: ids consume the buffers; row 0/1 match seeded
    # entities, the rest create; row 5 carries no buffered extension
    core_rows = []
    for i in range(6):
        r = {"id": f"core-{i}", "dwc:recordedBy": f"rec-{i}"}
        if i < 2:
            # reproduce the seeded content EXCEPT the merged extension
            # payload, which changes the etag (a real reference effect:
            # extension data is part of record identity)
            r = {"id": f"core-{i}", "dwc:occurrenceID": f"occ-{i}",
                 "dwc:recordedBy": f"col-{i}"}
        core_rows.append(r)

    members = [
        FakeRecordFile("identifier.txt", "gbif:Identifier", ext_rows),
        FakeRecordFile("multimedia.txt", "dwc:Multimedia", media_rows),
        FakeRecordFile("occurrence.txt", "dwc:Occurrence", core_rows),
    ]
    db = FakePostgresDB()
    ref = run_reference(DB, members, uuid_etag, id_uuid, db)

    lookup = seed_lookup(uuid_etag, id_uuid, {})
    eng_rows, eng_sum = run_engine(spark, members, lookup)

    seeded = set(uuid_etag["records"]) | set(uuid_etag["mediarecords"])
    compare(DB, db, ref, eng_rows, eng_sum, seeded)

    # the buffers actually fired: core rows 0-4 carry media siblings /
    # merged extension etags — at least one engine core-row sibling list
    # is non-empty and references a media-created entity
    core_sibs = [
        r["siblings"]
        for r in eng_rows
        if r["fname"] == "occurrence.txt" and r["siblings"]
    ]
    assert core_sibs, "core_siblings buffer never fired"


# --------------------------------------------------------------------------
# battery 3 — ac:associatedSpecimenReference resolution
# --------------------------------------------------------------------------


ASR_SEED_UUID = "12345678-abcd-4ef0-9876-543210fedcba"
ASR_SUFFIX = "0f0e0d0c-0b0a-4908-8706-050403020100"
ASR_INRUN = "aaaabbbb-cccc-4ddd-8eee-ffff00001111"
ASR_MISSING = "99999999-9999-4999-8999-999999999999"


def test_specimen_reference_probe(ref_db_check, spark):
    DB = ref_db_check
    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    # a known uuid (get_item hit) and an identifier whose SUFFIX is a
    # uuid literal (the reverse-LIKE probe, db_check.py:397-404)
    g = {f"urn:suffix:{ASR_SUFFIX}": ("suffix-owner", RSID, False)}

    rows = [
        # creates an entity whose identifier ends with ASR_INRUN —
        # in-run visibility target for row 3's suffix probe
        {"dwc:occurrenceID": f"donor-{ASR_INRUN}",
         "dwc:recordedBy": "donor"},
        # direct uuid hit
        {"dwc:occurrenceID": "asr-1", "dwc:recordedBy": "a1",
         "ac:associatedSpecimenReference": f"see {ASR_SEED_UUID}"},
        # suffix hit on a seeded identifier
        {"dwc:occurrenceID": "asr-2", "dwc:recordedBy": "a2",
         "ac:associatedSpecimenReference": ASR_SUFFIX},
        # suffix hit on the identifier INSERTED by row 0 this run
        {"dwc:occurrenceID": "asr-3", "dwc:recordedBy": "a3",
         "ac:associatedSpecimenReference": ASR_INRUN},
        # unresolvable: the row was ALREADY set_record'ed when the probe
        # raises — ingested-but-excepted, unprotected from deletion
        {"dwc:occurrenceID": "asr-4", "dwc:recordedBy": "a4",
         "ac:associatedSpecimenReference": ASR_MISSING},
        # empty string: falsy, probe skipped entirely
        {"dwc:occurrenceID": "asr-5", "dwc:recordedBy": "a5",
         "ac:associatedSpecimenReference": ""},
    ]
    members = [FakeRecordFile("occurrence.txt", "dwc:Occurrence", rows)]
    db = FakePostgresDB(probe=g, uuids={ASR_SEED_UUID})
    ref = run_reference(DB, members, uuid_etag, id_uuid, db)

    lookup = seed_lookup(uuid_etag, id_uuid, g)
    # the get_item-only uuid (no identifier row): a bare global row
    lookup.append((RSID, "global", None, "urn:item:seed", ASR_SEED_UUID,
                   None, RSID, False))
    eng_rows, eng_sum = run_engine(spark, members, lookup)

    seeded = {ASR_SEED_UUID, "suffix-owner"}
    compare(DB, db, ref, eng_rows, eng_sum, seeded)

    # the quirk is pinned: the asr-4 row ingested AND raised
    ref_sum = ref["occurrence.txt"]
    assert ref_sum["record_exceptions"] == 1
    # ALL six rows set_record'ed — asr-4 ingested before its probe raised
    assert ref_sum["ingestions"] == 6
    assert ref_sum["processed_line_count"] == 5
    quirk = [
        r for r in eng_rows
        if r["outcome"] == "asr_unresolved" and r["ingested"]
    ]
    assert len(quirk) == 1


# --------------------------------------------------------------------------
# pinned divergence — the dup-id claim-release chain
# --------------------------------------------------------------------------


def test_dup_id_release_chain(ref_db_check):
    """A row that fails the duplicate-id check releases its OTHER
    identifier claims (ids_to_add reset, db_check.py:419-439), so a
    third row can reuse them. The reference's sequential loop honors
    the release; so does the engine kernel (claims are registered only
    after a row survives). Executed here so the agreement is
    machine-pinned rather than assumed."""
    DB = ref_db_check
    rows = [
        {"dwc:occurrenceID": "alpha", "dwc:recordedBy": "one"},
        # fails: occurrenceID 'alpha' already claimed; its recordId
        # claim 'urn:beta' must be RELEASED
        {"idigbio:recordId": "urn:beta", "dwc:occurrenceID": "alpha",
         "dwc:recordedBy": "two"},
        # succeeds ONLY if row 2's claim was released
        {"idigbio:recordId": "urn:beta", "dwc:recordedBy": "three"},
    ]
    members = [FakeRecordFile("occurrence.txt", "dwc:Occurrence", rows)]
    empty = {"records": {}, "mediarecords": {}}
    db = FakePostgresDB()
    ref = run_reference(
        DB, members,
        {"records": {}, "mediarecords": {}},
        copy.deepcopy(empty), db,
    )["occurrence.txt"]
    assert ref["processed_line_count"] == 2
    assert ref["duplicate_id_count"] == 1
    assert ref["create"] == 2

    from idb_backend_spark.operators.ingest import _process_group
    import pandas as pd

    rows_pdf = pd.DataFrame(
        [
            {"rsid": RSID, "file_order": 0, "fname": "occurrence.txt",
             "rowtype": "dwc:Occurrence", "seq": i,
             "rec": list(r.items())}
            for i, r in enumerate(rows)
        ]
    )
    lookup_pdf = pd.DataFrame(
        columns=["rsid", "scope", "rtype", "ident", "uuid", "etag",
                 "parent", "deleted"]
    )
    out = _process_group(rows_pdf, lookup_pdf, True, ())
    assert list(out["outcome"]) == ["create", "dup_id", "create"]


# --------------------------------------------------------------------------
# battery 4 — the archive digest (metadataToSummaryJSON)
# --------------------------------------------------------------------------


def _ref_digest(DB, counts, filemd5="md5-abc"):
    metadata = {
        "name": "harvest.zip",
        "filemd5": filemd5,
        "recordset_id": RSID,
        "processing_start_datetime": "2026-08-16T00:00:00",
        "commited": True,
        "paused": False,
        "counts": counts,
    }
    # writeFile/doStats off: no AtomicFile, no stats ES — the pure fold
    return DB.metadataToSummaryJSON(
        RSID, metadata, writeFile=False, doStats=False
    )


def test_archive_digest_vs_reference(ref_db_check, spark):
    """metadataToSummaryJSON (db_check.py:568-630) executed over REAL
    process_subfile outputs (battery 2's archive) vs the engine's
    archive_summary rollup — including the per-type counter gate, the
    all-members csv/no-recordid/duplicate sums, and the reference's own
    misspelled output keys, which are the downstream wire format."""
    from idb_backend_spark.operators.ingest import archive_summary

    DB = ref_db_check
    uuid_etag, id_uuid, _ = _seeded_store(n=12)
    ext_rows = [
        {"coreid": f"core-{i}", "gbif:identifier": f"alt-{i}"}
        for i in range(6)
    ]
    media_rows = [
        {"coreid": f"core-{i}", "ac:providerManagedID": f"PMID-{i}",
         "dc:rights": "cc0"}
        for i in range(4)
    ]
    core_rows = [
        {"id": f"core-{i}", "dwc:recordedBy": f"rec-{i}"} for i in range(6)
    ] + [
        {"dwc:recordedBy": "no-id-row"},  # no_recordid
        {"id": "core-3", "dwc:recordedBy": "rec-3"},  # dup id+etag
    ]
    members = [
        FakeRecordFile("identifier.txt", "gbif:Identifier", ext_rows),
        FakeRecordFile("multimedia.txt", "dwc:Multimedia", media_rows),
        FakeRecordFile("occurrence.txt", "dwc:Occurrence", core_rows),
    ]
    db = FakePostgresDB()
    counts = run_reference(DB, members, uuid_etag, id_uuid, db)
    ref = _ref_digest(DB, counts)

    from idb_backend_spark.operators.ingest import (
        ingest_subfiles,
        subfile_summary,
    )

    rows = []
    for order, rf in enumerate(members):
        for seq, rec in enumerate(rf.rows):
            rows.append(
                (RSID, order, rf.name, rf.rowtype, seq, list(rec.items()))
            )
    rows_df = spark.createDataFrame(rows, ROW_SCHEMA)
    lookup_df = spark.createDataFrame(
        seed_lookup(uuid_etag, id_uuid, {}), LOOKUP_SCHEMA
    )
    meta = spark.createDataFrame(
        [(RSID, "harvest.zip", "md5-abc", "2026-08-16T00:00:00", True,
          False)],
        "rsid string, filename string, filemd5 string, "
        "harvest_date string, commited boolean, paused boolean",
    )
    eng = (
        archive_summary(
            subfile_summary(ingest_subfiles(rows_df, lookup_df)), meta
        )
        .collect()[0]
        .asDict()
    )
    for k in (
        "recordset_id", "filename", "filemd5", "harvest_date",
        "records_count", "records_create", "records_update",
        "records_delete", "mediarecords_count", "mediarecords_create",
        "mediarecords_update", "mediarecords_delete", "datafile_ok",
        "commited", "paused", "csv_line_count", "no_recordid_count",
        "duplicate_occurence_count", "dublicate_occurence_ids",
    ):
        assert eng[k] == ref[k], f"{k}: engine {eng[k]} != ref {ref[k]}"
    # the misspelled keys really are the reference's wire format
    assert "dublicate_occurence_ids" in ref


def test_archive_digest_null_filemd5(ref_db_check, spark):
    """The filemd5-None short-circuit (db_check.py:588-595): datafile_ok
    false, zeroed counters, and the csv-level keys ABSENT from the
    reference dict — mapped to NULL in the engine's fixed schema."""
    from idb_backend_spark.operators.ingest import archive_summary

    DB = ref_db_check
    ref = _ref_digest(DB, counts={}, filemd5=None)
    assert ref["datafile_ok"] is False
    assert "csv_line_count" not in ref
    assert ref["records_count"] == 0

    empty = spark.createDataFrame(
        [],
        "rsid string, fname string, rowtype string, "
        "processed_line_count long, total_line_count long, create long, "
        "update long, delete long, to_undelete long, resurrections long, "
        "ingestions long, no_recordid_count long, "
        "duplicate_record_count long, duplicate_id_count long, "
        "record_exceptions long, exceptions long",
    )
    meta = spark.createDataFrame(
        [(RSID, "harvest.zip", None, "2026-08-16T00:00:00", False, False)],
        "rsid string, filename string, filemd5 string, "
        "harvest_date string, commited boolean, paused boolean",
    )
    eng = archive_summary(empty, meta).collect()[0].asDict()
    assert eng["datafile_ok"] is False
    assert eng["csv_line_count"] is None
    assert eng["records_count"] == 0
    assert eng["commited"] is False


# --------------------------------------------------------------------------
# battery 5 — property fuzz: arbitrary rows from a collision-prone pool
# --------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

FUZZ_UUID_KNOWN = "11111111-2222-4333-8444-555566667777"
FUZZ_UUID_MISS = "deadbeef-dead-4bad-8bad-deaddeadbeef"

#: values chosen to collide and to hit the munge/fold edges: BOM, NULs,
#: whitespace-only, case twins, empty, a uuid literal, and None (the
#: reference's bare except-Exception bucket when an identifier rule
#: concatenates it)
_FUZZ_VALUES = [
    "a", "A", " a ", "﻿b", "x\x00y", "", "  ", "occ-1", "OCC-1",
    "urn:1", "urn:2", f"ref {FUZZ_UUID_KNOWN}", FUZZ_UUID_MISS, None,
]

_FUZZ_FIELDS = [
    "idigbio:recordId", "idigbio:recordID", "dwc:occurrenceID", "id",
    "ID", "ac:providerManagedID", "dcterms:identifier", "coreid",
    "dwc:recordedBy", "ac:associatedSpecimenReference",
]

_FUZZ_RR = [
    [{"dwc:relatedResourceID": "urn:1",
      "dwc:relationshipOfResource": "representedIn"}],
    [{"dwc:relatedResourceID": "urn:2",
      "dwc:relationshipOfResource": "sameAs"}],
    [{"dwc:relationshipOfResource": "isRelatedTo"}],  # missing key arm
    [],
    "not-a-list",  # iterates char-by-char in idFromRR -> no dict -> None
    # r13 (advice): non-dict ELEMENTS inside the list — an int makes
    # the membership test raise TypeError into the bare-except bucket;
    # a str element substring-tests False and yields None, so the row
    # proceeds on its other identifier fields. Both must agree with
    # the real idFromRR, not an isinstance softening.
    [1, 2],
    ["strelem"],
]


def _fuzz_rows():
    rec = st.dictionaries(
        st.sampled_from(_FUZZ_FIELDS),
        st.sampled_from(_FUZZ_VALUES),
        min_size=0,
        max_size=5,
    ).flatmap(
        lambda d: st.one_of(
            st.just(d),
            st.sampled_from(_FUZZ_RR).map(
                lambda rr: {**d, "dwc:ResourceRelationship": rr}
            ),
        )
    )
    return st.lists(rec, min_size=3, max_size=18)


@pytest.mark.skipif(not _HAVE_HYP, reason="hypothesis unavailable")
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=_fuzz_rows(),
    rowtype=st.sampled_from(
        ["dwc:Occurrence", "dwc:Multimedia", "dcterms", "gbif:Identifier"]
    ),
)
def test_fuzz_core_loop(ref_db_check, spark, rows, rowtype):
    """Arbitrary rows from a collision-prone value pool through BOTH
    loops — the strongest form of the differential: no designed
    branches, every agreement (counters, ingested id-sets, content
    hashes, deletes, sibling edges) must hold for whatever the
    generator produces, including rows the reference can only handle
    through its bare except-Exception bucket (None identifiers, a
    string-valued ResourceRelationship)."""
    DB = ref_db_check
    # deep-copy: process_subfile mutates rows in place
    members = [FakeRecordFile("fuzz.txt", rowtype, copy.deepcopy(rows))]
    g = {
        "urn:1": (FUZZ_UUID_KNOWN, RSID, False),
        "urn:2": ("other-uuid", "99999999-9999-4999-8999-000000000001",
                  False),
    }
    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    db = FakePostgresDB(probe=g)
    ref = run_reference(DB, members, uuid_etag, id_uuid, db)

    lookup = seed_lookup(uuid_etag, id_uuid, g)
    eng_rows, eng_sum = run_engine(spark, members, lookup)

    seeded = {FUZZ_UUID_KNOWN, "other-uuid"}
    compare(DB, db, ref, eng_rows, eng_sum, seeded)


# --------------------------------------------------------------------------
# battery 6 — real archive bytes through BOTH systems (S1 + J9 e2e)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ref_dwca_reader(requires_reference):
    """The reference's own DwC-A reader (DwcaRecordFile + xml2d), loaded
    under the same hook — battery 6 feeds it the engine-written zip."""
    import importlib  # the ref_db_check hook is already installed by use

    sys.path.insert(0, "/root/reference")
    from idb.helpers.fieldnames import NO_CLASS__UNKNOWN_FIELD
    from idigbio_ingestion.lib import delimited as RDEL
    from idigbio_ingestion.lib import dwca as RD
    from idigbio_ingestion.lib.xmlDictTools import xml2d

    # shipped defect: delimited.py never imports this constant
    # (machine-pinned in test_delimited_vs_reference)
    RDEL.NO_CLASS__UNKNOWN_FIELD = NO_CLASS__UNKNOWN_FIELD
    return RD, xml2d


def test_archive_bytes_e2e(ref_db_check, ref_dwca_reader, spark, tmp_path):
    """One zip, two systems: the engine writes a DwC-A (occurrence core
    + multimedia extension, edge values included), the REFERENCE opens
    it with its own xml2d + DwcaRecordFile and runs process_subfile per
    member, the ENGINE opens it with DwcaArchive + archive_rows and
    runs the kernel — store mutations must agree. This composes S1
    (reader), S10 (writer), F19 (etag), F22/F23 (identify) and J9/U2
    into one bytes-level differential."""
    import os
    import zipfile
    import xml.etree.ElementTree as ET

    DB = ref_db_check
    RD, xml2d = ref_dwca_reader

    from idb_backend_spark.export.writers import write_dwca
    from idb_backend_spark.operators.ingest import (
        archive_rows,
        ingest_subfiles,
        subfile_summary,
    )
    from idb_backend_spark.sources.dwca import DwcaArchive

    core = spark.createDataFrame(
        [
            # ids seeded to match/update/create; values with commas,
            # quotes, padding, unicode
            (1, "occ-1", "Rosa, the 'first'"),
            (2, "occ-2", ' padded "quoted" '),
            (3, "occ-3", "Ĝenus"),
            (4, "occ-4", ""),          # blank -> key absent both sides
            (5, "occ-5", "plain"),
            (5, "occ-5", "plain"),     # exact dup row -> dup_etag
        ],
        "id int, `dwc:occurrenceID` string, `dwc:recordedBy` string",
    )
    ext = spark.createDataFrame(
        [
            (1, "PMID-1", "http://img/1"),
            (3, "PMID-3", "http://img/3"),
            (9, "PMID-9", "http://img/9"),  # orphan coreid
        ],
        "coreid int, `ac:providerManagedID` string, `ac:accessURI` string",
    )
    zip_path = str(tmp_path / "e2e.zip")
    write_dwca(
        zip_path,
        (core, "id", ["dwc:occurrenceID", "dwc:recordedBy"], "records"),
        extensions=[
            (ext, "coreid", ["ac:providerManagedID", "ac:accessURI"],
             "mediarecords")
        ],
    )

    # seeded store: occ-1 matches nothing (content differs), occ-2's
    # entity exists -> update; a never-sent child -> delete
    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    rsl = RSID.lower()
    for i in (1, 2, 7):
        uuid_etag["records"][f"ex-{i}"] = f"old-etag-{i}"
        id_uuid["records"][f"{rsl}\\occ-{i}"] = f"ex-{i}"

    # ---- reference: its own reader over the engine's zip
    exdir = tmp_path / "ex"
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(exdir)

    # minimal lxml surface for xml2d over an ET root (the pattern from
    # test_dwca_vs_reference: reconstruct the root nsmap from ET's
    # Clark-notation tag)
    class _NsEl:
        def __init__(self, el, nsmap=None):
            self._el = el
            self.nsmap = nsmap if nsmap is not None else {}

        tag = property(lambda self: self._el.tag)
        attrib = property(lambda self: self._el.attrib)
        text = property(lambda self: self._el.text)

        def __iter__(self):
            for c in self._el:
                yield _NsEl(c, self.nsmap)

    def _wrap_root(el):
        tag = el.tag
        if tag.startswith("{"):
            return _NsEl(el, {None: tag[1:].split("}")[0]})
        return _NsEl(el)

    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    ext_blocks = arch.get("extension", [])
    if isinstance(ext_blocks, dict):
        ext_blocks = [ext_blocks]
    members = []
    for block in ext_blocks + [arch["core"]]:
        loc = block["files"]["location"]
        members.append(RD.DwcaRecordFile(block, str(exdir / loc),
                                         logname="t"))
    db = FakePostgresDB()
    DB.unconsumed_extensions.clear()
    DB.core_siblings.clear()
    ref = {}
    for rf in members:
        ref[os.path.basename(rf.name)] = DB.process_subfile(
            rf, RSID, uuid_etag, id_uuid, ingest=True, db=db
        )

    # ---- engine: DwcaArchive + the adapter + the kernel
    a = DwcaArchive(zip_path)
    rows = archive_rows(spark, a, RSID)
    lookup = spark.createDataFrame(
        seed_lookup(uuid_etag, id_uuid, {}), LOOKUP_SCHEMA
    )
    outcomes = ingest_subfiles(rows, lookup)
    eng_rows = outcomes.collect()
    eng_sum = {
        r["fname"]: r.asDict() for r in subfile_summary(outcomes).collect()
    }
    a.close()

    ref = {k: v for k, v in ref.items()}
    # fname keys: reference uses the extracted path basename; engine the
    # meta.xml location — identical for the engine-written archive
    seeded = {"ex-1", "ex-2", "ex-7"}
    compare(DB, db, ref, eng_rows, eng_sum, seeded)

    # sanity on the designed branches: occ-2 updated, ex-7 deleted,
    # the dup row flagged, the orphan extension row still created
    occ = ref["occurrence.csv"]
    assert occ["update"] == 2            # occ-1 and occ-2 both differ
    assert occ["delete"] == 1            # ex-7 absent
    assert occ["duplicate_record_count"] == 1
    med = ref["multimedia.csv"]
    assert med["create"] == 3


@pytest.mark.skipif(not _HAVE_HYP, reason="hypothesis unavailable")
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    rows=_fuzz_rows(),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_fuzz_seeded_store(ref_db_check, spark, rows, seed):
    """Fuzz with a SEEDED recordset store: children whose identifiers
    come from the same collision-prone pool, so the match/update/
    conflict/foreign/resurrect arms fire under arbitrary inputs, not
    only in the designed batteries. Etags for half the children are
    derived from real row dicts (match-able); the rest are synthetic
    (update-able)."""
    DB = ref_db_check
    rng = random.Random(seed)
    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    # seed children from a sample of the generated rows' own identifier
    # material, plus fixed idents from the pool
    pool_idents = [
        "a", "occ-1", f"{RSID}\\a", f"{RSID}\\occ-1", f"{RSID}\\",
        f"{RSID}\\urn:1",
    ]
    for i, ident in enumerate(rng.sample(pool_idents, 4)):
        u = f"ex-fz-{i}"
        id_uuid["records"][ident] = u
        if i % 2 == 0 and rows:
            uuid_etag["records"][u] = calc_etag(
                dict(rng.choice(rows))
            )
        else:
            uuid_etag["records"][u] = f"etag-fz-{i}"
    g = {
        "urn:1": ("g-known", RSID, False),
        "urn:2": ("g-foreign", "99999999-9999-4999-8999-000000000001",
                  False),
        f"{RSID}\\occ-1": ("g-dup-of-rs", RSID, False),  # overlaps rs scope
    }
    # the global probe must be CONSISTENT with the rs scope (the same
    # uuids_identifier table): idents the rs scope claims resolve to the
    # rs child, like the reference's single table
    for ident, u in id_uuid["records"].items():
        g[ident] = (u, RSID, False)

    members = [FakeRecordFile("fuzz.txt", "dwc:Occurrence",
                              copy.deepcopy(rows))]
    db = FakePostgresDB(probe=g)
    ref = run_reference(DB, members, uuid_etag, id_uuid, db)

    lookup = seed_lookup(uuid_etag, id_uuid, g)
    eng_rows, eng_sum = run_engine(spark, members, lookup)

    seeded = set(uuid_etag["records"]) | {u for u, _, _ in g.values()}
    compare(DB, db, ref, eng_rows, eng_sum, seeded)


def test_process_file_commit_gate_executed(
    ref_db_check, ref_dwca_reader, spark, tmp_path, monkeypatch
):
    """r13 EXECUTED commit gate (db_check.py:476-560) — and a
    transcription correction it forced: process_file keys ``counts`` by
    the member's FILE LOCATION (DwcaRecordFile.name, dwca.py:170-177),
    so the gate's ``if k not in ingestion_types: continue`` skips EVERY
    member ('occurrence.csv' is not 'dwc:Occurrence'), type_commits
    stays [], and ``all([]) is True`` — **the literal reference gate
    always commits**; its 0.5-threshold arithmetic is fully dead code,
    not merely inverted (the r9 transcription pin had modeled counts as
    keyed by type). Proven here by running the REAL process_file over
    an engine-written archive: a catastrophic all-churn batch commits.
    The engine's commit_gate remains the documented intent-based
    divergence (abort on mass change), now against the corrected
    reference behavior."""
    import os
    import xml.etree.ElementTree as ET
    import zipfile

    DB = ref_db_check
    RD, xml2d = ref_dwca_reader

    from idb_backend_spark.export.writers import write_dwca
    from idb_backend_spark.operators import store as st

    # an all-new batch REPLACING a store whose every member vanishes —
    # the exact mass-change shape the intent gate exists to refuse
    core = spark.createDataFrame(
        [(i, f"churn-{i}", f"p{i}") for i in range(6)],
        "id int, `dwc:occurrenceID` string, `dwc:recordedBy` string",
    )
    zip_path = str(tmp_path / "churn.zip")
    write_dwca(
        zip_path, (core, "id", ["dwc:occurrenceID", "dwc:recordedBy"],
                   "records")
    )
    exdir = tmp_path / "ex"
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(exdir)

    class _NsEl:
        def __init__(self, el, nsmap=None):
            self._el = el
            self.nsmap = nsmap if nsmap is not None else {}

        tag = property(lambda self: self._el.tag)
        attrib = property(lambda self: self._el.attrib)
        text = property(lambda self: self._el.text)

        def __iter__(self):
            for c in self._el:
                yield _NsEl(c, self.nsmap)

    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    nsmap = (
        {None: meta_root.tag[1:].split("}")[0]}
        if meta_root.tag.startswith("{")
        else {}
    )
    arch = xml2d(_NsEl(meta_root, nsmap))["archive"]
    loc = arch["core"]["files"]["location"]

    class FakeDwca:
        """db_check's Dwca surface for the zip branch: .extensions /
        .core members + close(); members are the REAL DwcaRecordFile
        over the extracted files, so counts keys are the REAL .name."""

        def __init__(self, fname, skipeml=True, logname=None):
            self.extensions = []
            self.core = RD.DwcaRecordFile(
                arch["core"], str(exdir / loc), logname="t"
            )

        def close(self):
            pass

    commits = []

    class GateDB(FakePostgresDB):
        def commit(self):
            commits.append("commit")

        def rollback(self):
            commits.append("rollback")

        def close(self):
            pass

    # seeded store: 5 existing children, all absent from the file ->
    # 5 deletes against 6 creates over 6 lines
    uuid_etag = {"records": {f"ex-{i}": f"et-{i}" for i in range(5)},
                 "mediarecords": {}}
    id_uuid = {
        "records": {
            f"{RSID.lower()}\\old-{i}": f"ex-{i}" for i in range(5)
        },
        "mediarecords": {},
    }
    monkeypatch.setattr(DB, "Dwca", FakeDwca)
    monkeypatch.setattr(DB, "PostgresDB", GateDB)
    meta = DB.process_file(
        zip_path, "application/zip", RSID, uuid_etag, id_uuid,
        ingest=True, commit_force=False,
    )

    # the member key is the member FILE (DelimitedFile.__init__ re-sets
    # .name to the full extracted path — even further from a rowtype
    # key), and the batch COMMITTED
    keys = list(meta["counts"])
    assert [os.path.basename(k) for k in keys] == [loc]
    assert all(k not in DB.ingestion_types for k in keys)
    assert meta["commited"] is True
    assert commits == ["commit"]
    c = meta["counts"][keys[0]]
    assert c["create"] == 6 and c["delete"] == 5

    # the engine's intent gate refuses the same batch (the documented
    # divergence, now against the CORRECTED reference behavior)
    summary = [{"status": "create", "n": 6}, {"status": "delete", "n": 5}]
    assert st.commit_gate(summary, existing_count=5) is False


def test_duplicate_term_archive_e2e(ref_db_check, ref_dwca_reader, spark,
                                    tmp_path):
    """r14 pool class (duplicate keys at the source): a FOREIGN archive
    whose meta.xml declares dwc:genus at TWO indexes — the reference
    reader folds both into one dict key (last non-empty declaration
    wins) BEFORE calcEtag/identifyRecord ever run, so the fold is part
    of content identity. The engine's read_member coalesce (r14) must
    produce identical store mutations through the whole kernel. Rows
    cover: both columns set (last declared wins), later-declared blank
    (earlier survives), both blank (key absent), and a fold that makes
    two rows IDENTICAL (duplicate-etag detection fires on content the
    unfolded reader would have considered distinct)."""
    import os
    import zipfile
    import xml.etree.ElementTree as ET

    DB = ref_db_check
    RD, xml2d = ref_dwca_reader

    from idb_backend_spark.operators.ingest import (
        archive_rows,
        ingest_subfiles,
        subfile_summary,
    )
    from idb_backend_spark.sources.dwca import DwcaArchive

    meta = (
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">'
        '<core rowType="http://rs.tdwg.org/dwc/terms/Occurrence"'
        ' fieldsTerminatedBy="," linesTerminatedBy="\\n"'
        ' fieldsEnclosedBy="" encoding="UTF-8" ignoreHeaderLines="1">'
        "<files><location>occurrence.csv</location></files>"
        '<id index="0"/>'
        '<field index="1" term="http://rs.tdwg.org/dwc/terms/occurrenceID"/>'
        '<field index="3" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        '<field index="2" term="http://rs.tdwg.org/dwc/terms/genus"/>'
        "</core></archive>"
    )
    csv = (
        "id,occurrenceID,genus2,genus3\n"
        "1,occ-1,Quercus,Betula\n"   # idx 2 declared last -> Quercus
        "2,occ-2,Acer,\n"            # later declaration non-empty
        "3,occ-3,,Salix\n"           # idx 2 blank -> Salix survives
        "4,occ-4,,\n"                # both blank -> genus absent
        "5,occ-5,Pinus,ignored\n"    # fold collides with...
        "5,occ-5,Pinus,shadowed\n"   # ...this row -> duplicate etag
    )
    zip_path = str(tmp_path / "dupterm_e2e.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        z.writestr("meta.xml", meta)
        z.writestr("occurrence.csv", csv)

    uuid_etag = {"records": {}, "mediarecords": {}}
    id_uuid = {"records": {}, "mediarecords": {}}
    rsl = RSID.lower()
    # occ-2 exists with a stale etag -> update; occ-9 never sent -> delete
    uuid_etag["records"]["ex-2"] = "old-etag-2"
    id_uuid["records"][f"{rsl}\\occ-2"] = "ex-2"
    uuid_etag["records"]["ex-9"] = "old-etag-9"
    id_uuid["records"][f"{rsl}\\occ-9"] = "ex-9"

    exdir = tmp_path / "dex"
    with zipfile.ZipFile(zip_path) as z:
        z.extractall(exdir)

    class _NsEl:
        def __init__(self, el, nsmap=None):
            self._el = el
            self.nsmap = nsmap if nsmap is not None else {}

        tag = property(lambda self: self._el.tag)
        attrib = property(lambda self: self._el.attrib)
        text = property(lambda self: self._el.text)

        def __iter__(self):
            for c in self._el:
                yield _NsEl(c, self.nsmap)

    def _wrap_root(el):
        tag = el.tag
        if tag.startswith("{"):
            return _NsEl(el, {None: tag[1:].split("}")[0]})
        return _NsEl(el)

    meta_root = ET.parse(os.path.join(exdir, "meta.xml")).getroot()
    arch = xml2d(_wrap_root(meta_root))["archive"]
    rf = RD.DwcaRecordFile(
        arch["core"], str(exdir / "occurrence.csv"), logname="t"
    )
    db = FakePostgresDB()
    DB.unconsumed_extensions.clear()
    DB.core_siblings.clear()
    ref = {
        "occurrence.csv": DB.process_subfile(
            rf, RSID, uuid_etag, id_uuid, ingest=True, db=db
        )
    }

    a = DwcaArchive(zip_path)
    rows = archive_rows(spark, a, RSID)
    lookup = spark.createDataFrame(
        seed_lookup(uuid_etag, id_uuid, {}), LOOKUP_SCHEMA
    )
    outcomes = ingest_subfiles(rows, lookup)
    eng_rows = outcomes.collect()
    eng_sum = {
        r["fname"]: r.asDict() for r in subfile_summary(outcomes).collect()
    }
    a.close()

    compare(DB, db, ref, eng_rows, eng_sum, {"ex-2", "ex-9"})

    occ = ref["occurrence.csv"]
    assert occ["create"] == 4            # occ-1/3/4/5 (occ-5 once)
    assert occ["update"] == 1            # occ-2
    assert occ["delete"] == 1            # ex-9 absent from the feed
    assert occ["duplicate_record_count"] == 1   # the folded collision
