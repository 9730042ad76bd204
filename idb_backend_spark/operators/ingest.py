"""The ingest row loop (db_check.process_subfile) as a cogrouped
sequential kernel.

Reference: ``idigbio_ingestion/db_check.py:181-475`` — per archive
member, each row is stripped, merged with buffered extension rows,
content-hashed, identified, probed against the recordset's existing
identifiers, and classified create/update/match; entities absent from
the member are tombstoned (``:441-454``). The loop is inherently
SEQUENTIAL per recordset: in-file duplicate discipline (``seen_etags`` /
``seen_ids``), the cross-member ``unconsumed_extensions`` /
``core_siblings`` buffers (``:169-170,:259-270,:365-378``), and in-run
identifier visibility (a row created earlier in the file resolves a
later row's ``ac:associatedSpecimenReference``) all depend on row
order. The reference parallelizes by RECORDSET (one db-check process
per recordset); this operator expresses the same grain in Spark — a
``groupBy(rsid).cogroup(lookup.groupBy(rsid)).applyInPandas`` kernel,
one Arrow batch group per recordset, rows processed in (file_order,
seq) order inside the kernel. At 100 TB the cluster runs thousands of
recordset groups concurrently; within a group the semantics are the
reference's own. For the degenerate giant-recordset tail the relational
path (operators/store.apply_harvest_batch + functions/finalize
identifier columns, graded by ``ingest_e2e`` / ``identity_match``) is
the spill-safe fallback — this kernel holds one recordset's lookup
dicts in memory, exactly like the reference's ``get_db_dicts``
(db_check.py:137-150).

Differentially EXECUTED against the real ``process_subfile`` (auto-stub
hook, in-memory PostgresDB fake) in tests/test_ingest_vs_reference.py.

Deliberate divergences (documented, not drift):

- New-entity uuids are DETERMINISTIC (uuid5 over the recordset + first
  claimed identifier) where the reference draws ``uuid.uuid4()``
  (db_check.py:443 via db.get_uuid) — re-ingesting the same archive
  yields the same uuids, which makes the whole dataflow idempotent and
  retry-safe on a cluster. Comparisons in the differential are
  therefore by row/edge identity, never by created-uuid value.
- The ``ac:associatedSpecimenReference`` suffix probe (db_check.py:
  397-404) runs an unordered ``LIKE`` with no ORDER BY — with several
  matching identifiers the reference's pick is Postgres heap order.
  The kernel takes the first match in lookup order; the differential
  feeds at most one match per probe.
"""

from __future__ import annotations

import json
import re
import uuid as _uuid
from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame

from idb_backend_spark.functions.etags import calc_etag

#: rowtype -> store type (db_check.py:90-96)
INGESTION_TYPES = {
    "dwc:Occurrence": "records",
    "dwc:Multimedia": "mediarecords",
    "dcterms": "mediarecords",
    "records": "records",
    "mediarecords": "mediarecords",
}

#: BOM strip + trim (db_check.py:44-45,:60-61)
_BAD_CHAR_RE = re.compile("[\ufeff]")

#: uuid literal scan for ac:associatedSpecimenReference (db_check.py:48-49)
_UUID_RE = re.compile(
    "([a-fA-F0-9]{8}-[a-fA-F0-9]{4}-[a-fA-F0-9]{4}-"
    "[a-fA-F0-9]{4}-[a-fA-F0-9]{12})"
)

#: namespace for deterministic created-entity uuids (divergence note in
#: the module docstring)
_CREATE_NS = _uuid.uuid5(_uuid.NAMESPACE_URL, "idb-backend-spark/ingest")

#: output row shape — one row per input record plus synthetic
#: ``outcome='delete'`` rows for the member-level absence tombstones
OUTCOME_SCHEMA = (
    "rsid string, fname string, rowtype string, seq long, outcome string, "
    "uuid string, etag string, ids array<string>, "
    "siblings array<string>, "
    "found boolean, matched boolean, to_undelete boolean, ingested boolean"
)

#: lookup side of the cogroup: scope='rs' rows carry the recordset's
#: children (rtype records/mediarecords, ident -> uuid, uuid -> latest
#: etag; ident may be null for an id-less child), scope='global' rows
#: carry the uuids_identifier table beyond the recordset (the
#: db.get_uuid probe: parent + deleted flag)
LOOKUP_SCHEMA = (
    "rsid string, scope string, rtype string, ident string, uuid string, "
    "etag string, parent string, deleted boolean"
)

#: rec is an ORDERED field list, not a map: Spark's map type does not
#: preserve entry order, and record identity is order-sensitive below
#: the top level (calcEtag sorts only top-level keys; a buffered
#: extension row serializes nested in its file's column order, so
#: reordering it changes the content hash)
ROW_SCHEMA = (
    "rsid string, file_order int, fname string, rowtype string, "
    "seq long, rec array<struct<k: string, v: string>>"
)


def _munge(s: str) -> str:
    return _BAD_CHAR_RE.sub("", s).strip()


def _id_from_rr(rr, rsid):
    """idFromRR (db_check.py:98-108): only the FIRST element is ever
    consulted — the loop returns on every branch of iteration one.
    No isinstance guard: a non-container entry (e.g. an int) makes the
    membership test raise TypeError, exactly like the reference —
    the row lands in the bare-except exception bucket. A str entry
    passes the substring `in` test like Python's, then raises on
    subscript if both substrings happen to be present — also the
    reference's behavior."""
    for idr in rr:
        has = (
            "dwc:relatedResourceID" in idr
            and "dwc:relationshipOfResource" in idr
        )
        if not has:
            return None
        rel = idr["dwc:relationshipOfResource"]
        if rel == "representedIn":
            return _munge(idr["dwc:relatedResourceID"])
        if rsid is not None and rel == "sameAs":
            return rsid + "\\" + _munge(idr["dwc:relatedResourceID"])
        return None
    return None


def _identify(rowtype: str, rec: dict, rsid: str) -> list[str]:
    """Candidate identifiers in TABLE order, lowercased
    (identifier_fields db_check.py:64-87 + identifyRecord :152-168,
    including the UConn providerManagedID skip :156-159). Returns the
    ordered candidate list (the etag/field-name tuple elements of the
    reference's triples carry no decision weight downstream)."""
    out: list[str] = []

    def emit(v):
        if v is not None:
            out.append(v.lower())

    if rowtype == "dwc:Occurrence":
        for f in ("idigbio:recordId", "idigbio:recordID"):
            if f in rec:
                emit(_munge(rec[f]))
        if "dwc:ResourceRelationship" in rec:
            emit(_id_from_rr(rec["dwc:ResourceRelationship"], rsid))
        for f in ("dwc:occurrenceID", "id", "ID"):
            if f in rec:
                emit(rsid + "\\" + _munge(rec[f]))
    elif rowtype in ("dwc:Multimedia", "dcterms"):
        for f in ("idigbio:recordId", "idigbio:recordID"):
            if f in rec:
                emit(_munge(rec[f]))
        if "ac:providerManagedID" in rec:
            uconn = (
                "dcterms:identifier" in rec
                and rec["dcterms:identifier"].lower()
                == rec["ac:providerManagedID"].lower()
            )
            if not uconn:
                emit(_munge(rec["ac:providerManagedID"]))
        if "dcterms:identifier" in rec:
            emit(rsid + "\\media\\" + _munge(rec["dcterms:identifier"]))
    return out


def _strip_nuls(x):
    if isinstance(x, str):
        return x.replace("\x00", "")
    if isinstance(x, dict):
        return {k: _strip_nuls(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_strip_nuls(v) for v in x]
    return x


class _RowFail(Exception):
    def __init__(self, outcome: str):
        self.outcome = outcome


class _Store:
    """The kernel's view of the uuid store — the in-run-visible slice of
    uuids / uuids_identifier that process_subfile touches through its
    db handle (get_uuid probe, set_record inserts, undelete)."""

    def __init__(self):
        self.probe: dict[str, tuple] = {}  # ident -> (uuid, parent, deleted)
        self.uuids: set[str] = set()

    def get_uuid(self, idents: Iterable[str], rsid: str, seed: str):
        hits = {self.probe[i] for i in idents if i in self.probe}
        if len(hits) > 1:
            return None, None, False, "multi_uuid"
        if len(hits) == 1:
            u, parent, deleted = next(iter(hits))
            return u, parent, deleted, None
        return (
            str(_uuid.uuid5(_CREATE_NS, rsid + "\0" + seed)),
            None,
            False,
            None,
        )

    def insert(self, u: str, idents: Iterable[str], rsid: str):
        self.uuids.add(u)
        for i in idents:
            self.probe.setdefault(i, (u, rsid, False))

    def undelete(self, u: str):
        for i, (pu, pp, pd_) in list(self.probe.items()):
            if pu == u and pd_:
                self.probe[i] = (pu, pp, False)

    def resolve_asr(self, ref: str):
        """get_item by uuid, else identifier suffix LIKE
        (db_check.py:389-410)."""
        if ref in self.uuids:
            return ref
        for i, (u, _, _) in self.probe.items():
            if i.endswith(ref):
                return u
        return None


def _process_group(
    rows: pd.DataFrame,
    lookup: pd.DataFrame,
    ingest: bool,
    nested_terms: tuple,
) -> pd.DataFrame:
    existing_ids = {"records": {}, "mediarecords": {}}
    existing_etags = {"records": {}, "mediarecords": {}}
    store = _Store()

    for t in lookup.itertuples():
        if t.scope == "rs":
            rt = t.rtype
            if isinstance(t.ident, str):
                existing_ids[rt][t.ident] = t.uuid
                store.probe.setdefault(t.ident, (t.uuid, t.rsid, False))
            existing_etags[rt][t.uuid] = t.etag
            store.uuids.add(t.uuid)
        else:
            store.probe[t.ident] = (t.uuid, t.parent, bool(t.deleted))
            store.uuids.add(t.uuid)

    # cross-member archive state (db_check.py:169-170; cleared per
    # archive in process_file:548-550 — one cogroup group IS one archive)
    unconsumed: dict = {}
    core_sibs: dict = {}

    out: list[dict] = []
    rows = rows.sort_values(["file_order", "seq"])

    for (fname, rowtype), member in rows.groupby(
        ["fname", "rowtype"], sort=False
    ):
        rsid = member.iloc[0]["rsid"]
        typ = INGESTION_TYPES.get(rowtype)
        sub_ingest = ingest and typ is not None
        ex_ids = existing_ids[typ] if typ else {}
        ex_etags = existing_etags[typ] if typ else {}
        seen_etags: set = set()
        seen_ids: dict = {}
        seen_uuids: dict = {}

        for t in member.itertuples():
            # rec arrives as an ordered (k, v) pair array (ROW_SCHEMA
            # note); Arrow renders struct elements as dicts or tuples
            if t.rec is None:
                rec = {}
            else:
                pairs = [
                    (p["k"], p["v"]) if isinstance(p, dict) else tuple(p)
                    for p in t.rec
                ]
                rec = dict(pairs)
            for nt in nested_terms:
                if isinstance(rec.get(nt), str):
                    try:
                        rec[nt] = json.loads(rec[nt])
                    except ValueError:
                        pass
            rec = _strip_nuls(rec)

            res = {
                "rsid": rsid, "fname": fname, "rowtype": rowtype,
                "seq": t.seq, "outcome": None, "uuid": None, "etag": None,
                "ids": [], "siblings": [], "found": False,
                "matched": False, "to_undelete": False, "ingested": False,
            }
            claims: dict = {}
            row_uuids: dict = {}
            try:
                rid = rec.get("id")
                siblings = []
                if rid is not None:
                    if rid in unconsumed:
                        rec.update(unconsumed.pop(rid))
                    if rid in core_sibs:
                        siblings = core_sibs[rid]
                if (
                    rowtype == "dwc:Occurrence"
                    and "dwc:occurrenceID" not in rec
                    and "id" in rec
                ):
                    rec["dwc:occurrenceID"] = rec.pop("id")

                etag = calc_etag(rec)
                res["etag"] = etag
                if etag in seen_etags:
                    raise _RowFail("dup_etag")
                seen_etags.add(etag)

                idents = _identify(rowtype, rec, rsid)
                if not idents and rowtype in INGESTION_TYPES:
                    raise _RowFail("no_recordid")
                for i in idents:
                    if i in seen_ids:
                        raise _RowFail("dup_id")
                    claims[i] = True

                u = None
                for i in idents:
                    if i not in ex_ids:
                        continue
                    if u is None:
                        res["found"] = True
                        u = ex_ids[i]
                        if ex_etags[u] == etag:
                            res["matched"] = True
                    elif ex_ids[i] != u:
                        raise _RowFail("conflict")

                deleted = False
                if u is None:
                    u, parent, deleted, err = store.get_uuid(
                        idents, rsid, idents[0] if idents else f"{fname}:{t.seq}"
                    )
                    if err:
                        raise _RowFail(err)
                    if parent is not None and parent != rsid:
                        raise _RowFail("foreign_parent")
                res["uuid"] = u
                if deleted:
                    res["to_undelete"] = True

                for i in idents:
                    claims[i] = u
                row_uuids[u] = etag
                # recorded at resolution time: a row that set_records and
                # THEN raises (the ASR quirk) keeps the ids it claimed,
                # exactly as the reference's set_record already consumed
                # list(ids_to_add)
                res["ids"] = sorted(claims)

                if sub_ingest and not deleted:
                    if res["matched"]:
                        # matched: only the sibling upserts run
                        # (db_check.py:344-347)
                        res["siblings"] = list(siblings)
                    else:
                        store.insert(u, claims, rsid)
                        res["ingested"] = True
                        res["siblings"] = list(siblings)
                elif sub_ingest and deleted:
                    store.undelete(u)
                    store.insert(u, claims, rsid)
                    res["ingested"] = True
                    res["siblings"] = list(siblings)
                    res["outcome"] = "resurrect"

                coreid = rec.get("coreid")
                if coreid is not None:
                    if rowtype in INGESTION_TYPES:
                        core_sibs.setdefault(coreid, []).append(u)
                    else:
                        unconsumed.setdefault(coreid, {}).setdefault(
                            rowtype, []
                        ).append(rec)

                asr = rec.get("ac:associatedSpecimenReference")
                if asr:
                    for ref in _UUID_RE.findall(asr):
                        db_uuid = store.resolve_asr(ref.lower())
                        if db_uuid is None:
                            raise _RowFail("asr_unresolved")
                        if sub_ingest:
                            res["siblings"] = res["siblings"] + [db_uuid]

                if res["outcome"] is None:
                    if res["matched"]:
                        res["outcome"] = "match"
                    elif res["found"]:
                        res["outcome"] = "update"
                    else:
                        res["outcome"] = "create"
            except _RowFail as e:
                # the reference zeroes the row's id/uuid claims on ANY
                # exception (db_check.py:419-439) but keeps effects that
                # already ran (seen_etags, an already-issued set_record,
                # the coreid buffers)
                res["outcome"] = e.outcome
                claims = {}
                row_uuids = {}
            except Exception:  # noqa: BLE001 — mirrors db_check.py:432-436
                # the reference's bare `except Exception` bucket: a
                # malformed value (None where a string is required, a
                # non-list ResourceRelationship, …) counts as one
                # exception row and the loop continues — a row-level
                # data defect must not kill a whole executor task
                res["outcome"] = "exception"
                claims = {}
                row_uuids = {}
            seen_ids.update(claims)
            seen_uuids.update(row_uuids)
            out.append(res)

        # member-level absence deletes (db_check.py:441-454): scoped to
        # the member's type, computed whether or not ingest ran
        for gone in sorted(set(ex_etags) - set(seen_uuids)):
            out.append(
                {
                    "rsid": rsid, "fname": fname, "rowtype": rowtype,
                    "seq": None, "outcome": "delete", "uuid": gone,
                    "etag": None, "ids": [], "siblings": [],
                    "found": False, "matched": False,
                    "to_undelete": False, "ingested": False,
                }
            )

    cols = [
        "rsid", "fname", "rowtype", "seq", "outcome", "uuid", "etag",
        "ids", "siblings", "found", "matched", "to_undelete", "ingested",
    ]
    return pd.DataFrame(out, columns=cols)


def ingest_subfiles(
    rows: DataFrame,
    lookup: DataFrame,
    ingest: bool = True,
    nested_terms: tuple = ("dwc:ResourceRelationship",),
) -> DataFrame:
    """Run every recordset's archive members through the ingest row
    loop. ``rows``: ROW_SCHEMA (rec as an ordered (k, v) pair array —
    order-preserving, unlike Spark maps; terms named in ``nested_terms``
    may carry JSON-encoded structures — the store's wire format for
    nested DwC values). ``lookup``: LOOKUP_SCHEMA.
    Returns OUTCOME_SCHEMA rows; feed to :func:`subfile_summary` for
    the reference's per-member counter dict."""

    def kernel(r: pd.DataFrame, lk: pd.DataFrame) -> pd.DataFrame:
        if r.empty:
            return pd.DataFrame(
                columns=[f.split()[0] for f in OUTCOME_SCHEMA.split(", ")]
            )
        return _process_group(r, lk, ingest, nested_terms)

    return (
        rows.groupBy("rsid")
        .cogroup(lookup.groupBy("rsid"))
        .applyInPandas(kernel, OUTCOME_SCHEMA)
    )


def subfile_summary(outcomes: DataFrame) -> DataFrame:
    """process_subfile's counter dict (db_check.py:456-475) as a native
    aggregation over the kernel's outcome rows — create/update derive
    from the found/matched FLAGS, not the terminal outcome, preserving
    the reference's phantom-found arithmetic (a row that matched an
    identifier and then raised still moved ``found``, so it still
    shifts create/update; db_check.py:304-309 increment before the
    :311-313 raise)."""
    from pyspark.sql import functions as F

    is_row = F.col("outcome") != "delete"
    ok = F.col("outcome").isin("match", "update", "create", "resurrect")
    return (
        outcomes.groupBy("rsid", "fname", "rowtype")
        .agg(
            F.sum(ok.cast("long")).alias("processed_line_count"),
            F.sum(is_row.cast("long")).alias("total_line_count"),
            (
                F.sum(ok.cast("long")) - F.sum(F.col("found").cast("long"))
            ).alias("create"),
            (
                F.sum(F.col("found").cast("long"))
                - F.sum(F.col("matched").cast("long"))
            ).alias("update"),
            F.sum((F.col("outcome") == "delete").cast("long")).alias(
                "delete"
            ),
            F.sum(F.col("to_undelete").cast("long")).alias("to_undelete"),
            # set_record fires BEFORE the coreid/ASR steps, so a row can
            # ingest and still end in asr_unresolved — the reference's
            # ingestions/resurrections counters moved anyway
            # (db_check.py:349-356 precede the :389-410 probe); count by
            # the ingested flag, not the terminal outcome
            F.sum(
                (F.col("ingested") & F.col("to_undelete")).cast("long")
            ).alias("resurrections"),
            F.sum(
                (F.col("ingested") & ~F.col("to_undelete")).cast("long")
            ).alias("ingestions"),
            F.sum((F.col("outcome") == "no_recordid").cast("long")).alias(
                "no_recordid_count"
            ),
            F.sum((F.col("outcome") == "dup_etag").cast("long")).alias(
                "duplicate_record_count"
            ),
            F.sum((F.col("outcome") == "dup_id").cast("long")).alias(
                "duplicate_id_count"
            ),
            F.sum(
                F.col("outcome")
                .isin(
                    "no_recordid", "dup_etag", "dup_id", "conflict",
                    "foreign_parent", "asr_unresolved",
                )
                .cast("long")
            ).alias("record_exceptions"),
            # multi_uuid = get_uuid's ValueError; exception = the bare
            # except-Exception bucket — both land in the reference's
            # generic counter (db_check.py:432-436)
            F.sum(
                F.col("outcome").isin("multi_uuid", "exception")
                .cast("long")
            ).alias("exceptions"),
        )
    )


def archive_summary(member_summaries: DataFrame, meta: DataFrame) -> DataFrame:
    """The per-archive digest (metadataToSummaryJSON, db_check.py:
    568-630) as a native second-level rollup over
    :func:`subfile_summary` rows.

    ``meta``: one row per archive — (rsid, filename, filemd5,
    harvest_date, commited, paused). Reference semantics preserved:

    * only ingestion-type members contribute to the records_*/
      mediarecords_* counters (the ``t["type"] in ingestion_types``
      gate, :606-612); csv_line_count / no_recordid_count and the two
      duplicate counters sum over ALL members;
    * the output keeps the reference's own misspelled field names
      (``duplicate_occurence_count``, ``dublicate_occurence_ids``,
      :615-617) — they are the wire format downstream consumers read;
    * a null filemd5 short-circuits (:588-595): datafile_ok false,
      zeroed counters, and the csv-level fields NULL (the reference
      OMITS those keys entirely — dict-key absence maps to null in a
      fixed relational schema; pinned in the differential test).
    """
    from pyspark.sql import functions as F

    typ_map = F.create_map(
        *[F.lit(x) for kv in INGESTION_TYPES.items() for x in kv]
    )
    m = member_summaries.withColumn("typ", typ_map[F.col("rowtype")])

    def typed(t, col):
        return F.sum(
            F.when(F.col("typ") == t, F.col(col)).otherwise(F.lit(0))
        )

    rolled = m.groupBy("rsid").agg(
        *[
            typed(t, src).alias(f"{t}_{dst}")
            for t in ("records", "mediarecords")
            for src, dst in (
                ("processed_line_count", "count"),
                ("create", "create"),
                ("update", "update"),
                ("delete", "delete"),
            )
        ],
        F.sum("total_line_count").alias("csv_line_count"),
        F.sum("no_recordid_count").alias("no_recordid_count"),
        F.sum("duplicate_record_count").alias("duplicate_occurence_count"),
        F.sum("duplicate_id_count").alias("dublicate_occurence_ids"),
    )
    out = meta.join(rolled, "rsid", "left")
    ok = F.col("filemd5").isNotNull()
    zero = F.lit(0).cast("long")
    nul = F.lit(None).cast("long")
    gated = {
        f"{t}_{c}": F.when(ok, F.coalesce(F.col(f"{t}_{c}"), zero))
        .otherwise(zero)
        for t in ("records", "mediarecords")
        for c in ("count", "create", "update", "delete")
    }
    gated.update(
        {
            c: F.when(ok, F.coalesce(F.col(c), zero)).otherwise(nul)
            for c in (
                "csv_line_count", "no_recordid_count",
                "duplicate_occurence_count", "dublicate_occurence_ids",
            )
        }
    )
    gated["datafile_ok"] = ok
    return out.withColumns(gated).select(
        F.col("rsid").alias("recordset_id"), "filename", "filemd5",
        "harvest_date",
        *[
            f"{t}_{c}"
            for t in ("records", "mediarecords")
            for c in ("count", "create", "update", "delete")
        ],
        "datafile_ok", "commited", "paused", "csv_line_count",
        "no_recordid_count", "duplicate_occurence_count",
        "dublicate_occurence_ids",
    )


def archive_rows(spark, archive, rsid: str) -> DataFrame:
    """ROW_SCHEMA rows from an extracted DwC-A (sources/dwca.
    DwcaArchive): extensions FIRST, core LAST — process_file's member
    order (db_check.py:489-498), which the cross-member buffers depend
    on. Each member's columns (id/coreid + CURIE terms, blanks already
    nulled by read_member) become the ordered (k, v) pair array; null
    values drop out, matching the reference reader's key-absence for
    blank fields.

    ``seq`` is ``monotonically_increasing_id`` — its (partition, offset)
    layout sorts identically to file order for a single-file CSV member,
    which is what the kernel's in-file first-wins discipline needs.

    Row types are folded to the reference's CURIE shortnames
    (fieldnames.rowtype_shortname — the ``types`` map the reference's
    DelimitedFile consults); an unmapped rowType URI passes through
    verbatim and the kernel treats the member as non-ingestion, where
    the reference raises TypeError and loses the whole archive
    (delimited.py:205-208 — lenient-pass-through divergence, pinned in
    the e2e differential's docstring)."""
    from pyspark.sql import functions as F

    from idb_backend_spark.sources.fieldnames import rowtype_shortname

    parts = []
    members = list(archive.extensions) + [archive.core]
    for order, desc in enumerate(members):
        df = archive.read_member(spark, desc)
        pairs = F.array_compact(
            F.array(
                *[
                    F.when(
                        F.col(f"`{c}`").isNotNull(),
                        F.struct(
                            F.lit(c).alias("k"), F.col(f"`{c}`").alias("v")
                        ),
                    )
                    for c in df.columns
                ]
            )
        )
        shortname = rowtype_shortname(desc.row_type) or desc.row_type
        parts.append(
            df.select(
                F.lit(rsid).alias("rsid"),
                F.lit(order).cast("int").alias("file_order"),
                F.lit(desc.location).alias("fname"),
                F.lit(shortname).alias("rowtype"),
                F.monotonically_increasing_id().alias("seq"),
                pairs.alias("rec"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# The giant-recordset RELATIONAL path + the size router
# --------------------------------------------------------------------------


def _field(rec, key: str):
    """First value for ``key`` in the ordered pair array (keys are
    unique on the wire, like dict keys)."""
    from pyspark.sql import functions as F

    # try_element_at: null (not an ANSI error) when the key is absent
    return F.try_element_at(
        F.filter(rec, lambda p: p["k"] == F.lit(key)), F.lit(1)
    )["v"]


def _has(rec, key: str):
    from pyspark.sql import functions as F

    return F.exists(rec, lambda p: p["k"] == F.lit(key))


def ingest_outcomes_relational(
    rows: DataFrame, lookup: DataFrame, ingest: bool = True
) -> DataFrame:
    """The ingest row loop's decisions computed FULLY RELATIONALLY —
    the scale path for recordsets too large for one cogroup group
    (the kernel holds a recordset's rows and lookup dicts in one pandas
    frame, exactly like the reference's per-recordset process; a
    100 M-row recordset needs the shuffle-and-join formulation).
    Everything stays JVM-side: etag_pairs_expr for content identity,
    record_identifiers/media_identifiers for the candidate rules,
    uuid5_expr for created-entity ids (the same derivation as the
    kernel, so both paths mint identical uuids), windows for the
    in-file duplicate discipline, and an anti-join for the absence
    deletes.

    SCOPE (the clean subset — exact for the archive shapes that
    actually get giant: single-member well-formed delimited feeds; the
    kernel is authoritative elsewhere, agreement on the shared subset
    pinned in tests/test_ingest_kernel.py):

    * no cross-member buffers (unconsumed_extensions / core_siblings),
      no ac:associatedSpecimenReference probes, no in-run identifier
      visibility, no nested ResourceRelationship terms;
    * ONE-PASS duplicate-id claims: a row that fails the dup-id check
      does not release its other identifier claims, and a row that
      fails at the MATCH stage (conflict / foreign parent / multi-uuid)
      keeps its claims — the sequential loop releases both (the
      divergence is machine-pinned in
      tests/test_ingest_kernel.py::test_relational_path_chain_divergence).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.etags import etag_pairs_expr
    from idb_backend_spark.functions.enrichment import uuid5_expr
    from idb_backend_spark.functions.finalize import (
        media_identifiers,
        record_identifiers,
    )

    typ_map = F.create_map(
        *[F.lit(x) for kv in INGESTION_TYPES.items() for x in kv]
    )

    rec = F.col("rec")
    is_occ = F.col("rowtype") == "dwc:Occurrence"
    promote = is_occ & ~_has(rec, "dwc:occurrenceID") & _has(rec, "id")
    promoted = F.when(
        promote,
        F.transform(
            rec,
            lambda p: F.when(
                p["k"] == "id",
                F.struct(
                    F.lit("dwc:occurrenceID").alias("k"), p["v"].alias("v")
                ),
            ).otherwise(p),
        ),
    ).otherwise(rec)

    base = rows.select(
        "rsid", "fname", "rowtype", "seq",
        # null rec folds to the empty record, like the kernel's
        # ``rec = {}`` arm — its etag is calc_etag({}), not null
        F.coalesce(
            promoted, F.array().cast("array<struct<k:string,v:string>>")
        ).alias("rec"),
        typ_map[F.col("rowtype")].alias("typ"),
    )
    rec = F.col("rec")
    rec_ids = record_identifiers(
        F.col("rsid"),
        _field(rec, "dwc:occurrenceID"),
        _field(rec, "idigbio:recordId"),
        _field(rec, "id"),
        record_id_cap=_field(rec, "idigbio:recordID"),
        bare_id_cap=_field(rec, "ID"),
    )
    med_ids = media_identifiers(
        F.col("rsid"),
        _field(rec, "idigbio:recordId"),
        _field(rec, "ac:providerManagedID"),
        _field(rec, "dcterms:identifier"),
        record_id_cap=_field(rec, "idigbio:recordID"),
    )
    base = base.withColumns(
        {
            "etag": etag_pairs_expr(rec),
            "idents": F.when(is_occ, rec_ids)
            .when(F.col("rowtype").isin("dwc:Multimedia", "dcterms"),
                  med_ids)
            .otherwise(F.array().cast("array<string>")),
        }
    ).drop("rec")

    member = ["rsid", "fname", "rowtype"]
    w_etag = Window.partitionBy(*member, "etag").orderBy("seq")
    base = base.withColumn(
        # a null etag is a malformed record (null pair key — calcEtag
        # raises there; etag_pairs_expr nulls the hash): the kernel's
        # bare-except bucket, never a duplicate of other null-etag rows
        "bad_etag", F.col("etag").isNull()
    ).withColumn(
        "dup_etag",
        ~F.col("bad_etag") & (F.row_number().over(w_etag) > 1),
    ).withColumn(
        "no_recordid",
        ~F.col("bad_etag")
        & ~F.col("dup_etag")
        & (F.size("idents") == 0)
        & F.col("rowtype").isin(*INGESTION_TYPES),
    )
    gate1 = (
        ~F.col("bad_etag") & ~F.col("dup_etag") & ~F.col("no_recordid")
    )

    # one-pass first-claim per identifier among gate1 survivors: a
    # min-over-window on the claim key needs ONE exchange; the earlier
    # groupBy + self-join formulation shuffled the exploded claims a
    # second time for the join (r13 simplification, advice follow-up)
    w_claim = Window.partitionBy(*member, "ident")
    dup_id_rows = (
        base.filter(gate1)
        .select(*member, "seq", F.explode_outer("idents").alias("ident"))
        .filter(F.col("ident").isNotNull())
        .withColumn("claim_seq", F.min("seq").over(w_claim))
        .filter(F.col("seq") > F.col("claim_seq"))
        .select(*member, "seq")
        .distinct()
        .withColumn("dup_id", F.lit(True))
    )
    base = base.join(dup_id_rows, member + ["seq"], "left").fillna(
        {"dup_id": False}
    )

    # match stage: idents in TABLE order against the recordset children
    survivors = base.filter(gate1 & ~F.col("dup_id"))
    probe = survivors.select(
        *member, "seq", "typ", "etag",
        F.posexplode_outer("idents").alias("pos", "ident"),
    )
    rs_ids = lookup.filter(
        (F.col("scope") == "rs") & F.col("ident").isNotNull()
    ).select(
        "rsid",
        F.col("rtype").alias("typ"),
        "ident",
        F.col("uuid").alias("ex_uuid"),
        F.col("etag").alias("ex_etag"),
    )
    hits = probe.join(rs_ids, ["rsid", "typ", "ident"]).groupBy(
        *member, "seq"
    ).agg(
        F.min_by("ex_uuid", "pos").alias("u_found"),
        F.min_by("ex_etag", "pos").alias("etag_found"),
        F.countDistinct("ex_uuid").alias("n_uuids"),
    )
    matched = survivors.join(hits, member + ["seq"], "left")

    # get_uuid stage for unmatched rows: the global identifier probe
    # (scope='global' PLUS the recordset's own idents, db_check.py
    # queries the whole uuids_identifier table)
    glob = lookup.filter(
        (F.col("scope") == "global") & F.col("ident").isNotNull()
    ).select(
        "rsid", "ident", "uuid",
        F.col("parent"), F.coalesce("deleted", F.lit(False)).alias("del_"),
    ).unionByName(
        lookup.filter(
            (F.col("scope") == "rs") & F.col("ident").isNotNull()
        ).select(
            "rsid", "ident", "uuid",
            F.col("rsid").alias("parent"), F.lit(False).alias("del_"),
        )
    ).distinct()
    unmatched_probe = matched.filter(F.col("u_found").isNull()).select(
        *member, "seq", F.explode_outer("idents").alias("ident")
    )
    gprobe = unmatched_probe.join(glob, ["rsid", "ident"], "left").groupBy(
        *member, "seq"
    ).agg(
        # countDistinct skips nulls — a no-hit row (all-null struct
        # members from the left join) must count 0, not 1
        F.countDistinct(
            F.when(
                F.col("uuid").isNotNull(),
                F.struct("uuid", "parent", "del_"),
            )
        ).alias("n_hits"),
        F.first("uuid", ignorenulls=True).alias("g_uuid"),
        F.first("parent", ignorenulls=True).alias("g_parent"),
        F.max(F.coalesce("del_", F.lit(False))).alias("g_deleted"),
    )
    full = matched.join(gprobe, member + ["seq"], "left")

    found = F.col("u_found").isNotNull()
    is_match = found & (F.col("etag_found") == F.col("etag"))
    conflict = found & (F.col("n_uuids") > 1)
    multi = ~found & (F.coalesce("n_hits", F.lit(0)) > 1)
    foreign = (
        ~found
        & (F.col("n_hits") == 1)
        & F.col("g_parent").isNotNull()
        & (F.col("g_parent") != F.col("rsid"))
    )
    hit_one = ~found & (F.col("n_hits") == 1) & ~foreign
    deleted = hit_one & F.col("g_deleted")
    first_ident = F.try_element_at("idents", F.lit(1))
    minted = uuid5_expr(
        F.concat(
            F.col("rsid"), F.lit("\0"),
            F.coalesce(
                first_ident,
                F.concat("fname", F.lit(":"), F.col("seq").cast("string")),
            ),
        ),
        namespace=_CREATE_NS,
    )
    u = F.when(found, F.col("u_found")).when(hit_one, F.col("g_uuid")).otherwise(minted)
    sub_ingest = F.lit(ingest) & F.col("typ").isNotNull()
    outcome = (
        F.when(conflict, "conflict")
        .when(multi, "multi_uuid")
        .when(foreign, "foreign_parent")
        .when(is_match, "match")
        .when(found, "update")
        .when(deleted & sub_ingest, "resurrect")
        .otherwise("create")
    )
    ok = outcome.isin("match", "update", "create", "resurrect")
    decided = full.select(
        "rsid", "fname", "rowtype", "seq",
        outcome.alias("outcome"),
        F.when(~conflict & ~multi & ~foreign, u).alias("uuid"),
        "etag",
        F.sort_array(F.array_distinct("idents")).alias("ids"),
        F.array().cast("array<string>").alias("siblings"),
        found.alias("found"),
        is_match.alias("matched"),
        (deleted & ~conflict & ~multi & ~foreign).alias("to_undelete"),
        (sub_ingest & ok & ~is_match).alias("ingested"),
    )

    failed_rows = base.filter(~(gate1 & ~F.col("dup_id"))).select(
        "rsid", "fname", "rowtype", "seq",
        F.when(F.col("bad_etag"), "exception")
        .when(F.col("dup_etag"), "dup_etag")
        .when(F.col("no_recordid"), "no_recordid")
        .otherwise("dup_id")
        .alias("outcome"),
        F.lit(None).cast("string").alias("uuid"),
        "etag",
        F.array().cast("array<string>").alias("ids"),
        F.array().cast("array<string>").alias("siblings"),
        F.lit(False).alias("found"),
        F.lit(False).alias("matched"),
        F.lit(False).alias("to_undelete"),
        F.lit(False).alias("ingested"),
    )

    # member-level absence deletes: rs children of the member's type
    # minus the member's successful uuids
    members = rows.select("rsid", "fname", "rowtype").distinct().withColumn(
        "typ", typ_map[F.col("rowtype")]
    )
    ex = lookup.filter(F.col("scope") == "rs").select(
        "rsid", F.col("rtype").alias("typ"), "uuid"
    ).distinct()
    seen = decided.filter(
        F.col("outcome").isin("match", "update", "create", "resurrect")
    ).select("rsid", "fname", "rowtype", "uuid")
    deletes = (
        members.join(ex, ["rsid", "typ"])
        .join(
            seen,
            ["rsid", "fname", "rowtype", "uuid"],
            "left_anti",
        )
        .select(
            "rsid", "fname", "rowtype",
            F.lit(None).cast("long").alias("seq"),
            F.lit("delete").alias("outcome"),
            "uuid",
            F.lit(None).cast("string").alias("etag"),
            F.array().cast("array<string>").alias("ids"),
            F.array().cast("array<string>").alias("siblings"),
            F.lit(False).alias("found"),
            F.lit(False).alias("matched"),
            F.lit(False).alias("to_undelete"),
            F.lit(False).alias("ingested"),
        )
    )
    return decided.unionByName(failed_rows).unionByName(deletes)


def ingest_subfiles_routed(
    rows: DataFrame,
    lookup: DataFrame,
    ingest: bool = True,
    kernel_max_rows: int = 1_200_000,
    nested_terms: tuple = ("dwc:ResourceRelationship",),
) -> DataFrame:
    """Skew-aware routing: recordsets whose row count fits one cogroup
    group run the faithful sequential kernel; giants take the
    relational path (ingest_outcomes_relational — same uuids, same
    counters on the clean subset). The reference has no giant-recordset
    answer at all (one process per recordset, memory-bound the same
    way the kernel is); the router is what makes the 100 TB shape
    work: a handful of mega-recordsets no longer pin one executor.

    ``kernel_max_rows`` default comes from the MEASURED memory profile
    (SCALING.md, Round-13 addendum 1): the kernel's Python worker
    holds ~3.6 KB/row end-to-end (pandas group + lookup dicts +
    outcome rows; linear 250 k → 5 M rows), so
    1.2 M rows ≈ 4.1 GiB — a safe per-task budget on an 8–16 GiB
    executor. Scale it with the executor's python-worker budget:
    rows ≈ budget_bytes / 3600.

    The relational route is STRUCTURALLY gated, not just size-gated:
    it is exact only for single-member archives with none of the
    sequential-state carriers (cross-member ``coreid`` buffers,
    ``ac:associatedSpecimenReference`` probes, nested terms). A giant
    recordset that carries any of those stays on the kernel — wrong
    answers are worse than a slow group, and the kernel's memory bound
    is the reference's own per-recordset bound. The routing decision is
    one aggregation pass over the pair arrays (cheap next to the ingest
    itself)."""
    from pyspark.sql import functions as F

    special = ("coreid", "ac:associatedSpecimenReference") + tuple(
        nested_terms
    )
    has_special = F.coalesce(
        F.exists("rec", lambda p: p["k"].isin(*special)), F.lit(False)
    )
    # Two-phase decision so the common no-giant case stays cheap: the
    # size pass touches ONLY rsid (column-pruned at the scan — it never
    # materializes the rec arrays), and the structural scan (F.exists
    # over the pair arrays + member min/max) runs only over rows of
    # SIZE-candidate recordsets, which is an empty or near-empty
    # semi-join in the normal shape.
    counts = rows.groupBy("rsid").agg(F.count(F.lit(1)).alias("__n"))
    cand = counts.filter(F.col("__n") > kernel_max_rows).select("rsid")
    member_key = F.struct("fname", "rowtype")
    flags = (
        rows.join(F.broadcast(cand), "rsid", "leftsemi")
        .groupBy("rsid")
        .agg(
            # multi-member iff min(member) != max(member) — exact, and
            # plain min/max partial-aggregate map-side where a
            # countDistinct would carry per-group distinct sets
            F.min(member_key).alias("__m0"),
            F.max(member_key).alias("__m1"),
            F.max(has_special.cast("int")).alias("__s"),
        )
    )
    big_rs = flags.filter(
        (F.col("__m0") == F.col("__m1")) & (F.col("__s") == 0)
    ).select("rsid")
    small = rows.join(F.broadcast(big_rs), "rsid", "left_anti")
    big = rows.join(F.broadcast(big_rs), "rsid", "leftsemi")
    lk_small = lookup.join(F.broadcast(big_rs), "rsid", "left_anti")
    lk_big = lookup.join(F.broadcast(big_rs), "rsid", "leftsemi")
    return ingest_subfiles(
        small, lk_small, ingest=ingest, nested_terms=nested_terms
    ).unionByName(ingest_outcomes_relational(big, lk_big, ingest=ingest))


def ingest_archive(
    spark,
    zip_path: str,
    rsid: str,
    lookup: DataFrame,
    ingest: bool = True,
    kernel_max_rows: int = 1_200_000,
):
    """The whole db_check flow for one archive, composed: open the
    DwC-A (sources/dwca.DwcaArchive), adapt members to the wire format
    (:func:`archive_rows`, extensions first), run the size-routed row
    loop (:func:`ingest_subfiles_routed`), and derive both digest
    levels. One call replaces ``process_file`` + ``process_subfile`` +
    ``metadataToSummaryJSON`` (db_check.py:478-630) minus the IO the
    engine does not own (S3 fetch, commit/rollback — the commit gate is
    operators/store.commit_gate, fed from the member summaries).

    Returns (outcomes, member_summaries, archive) — the caller applies
    outcomes to the store (operators/store.apply_harvest_batch over the
    successful rows, or directly from the outcome uuids/etags) and
    closes the archive.
    """
    from idb_backend_spark.sources.dwca import DwcaArchive

    archive = DwcaArchive(zip_path)
    rows = archive_rows(spark, archive, rsid)
    outcomes = ingest_subfiles_routed(
        rows, lookup, ingest=ingest, kernel_max_rows=kernel_max_rows
    )
    return outcomes, subfile_summary(outcomes), archive
