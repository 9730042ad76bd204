"""Download-job orchestration with params-hash dedup
(reference idb/data_api/v2_download.py:20-106;
idigbio_workers/tasks/download.py:83-122).

The reference queues exports through Celery/Redis and dedups identical
requests by a recursive hash of the params dict for 23 hours. Here the
job layer is plain driver-side orchestration (Spark jobs are already
async on the cluster): ``submit`` hashes the params (F19 objectHasher
semantics), reuses a live result within the dedup window, and otherwise
runs the export function.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from idb_backend_spark.functions.etags import object_hash

#: identical query reuse window — 23 h (v2_download.py:20-22)
DEDUP_SECONDS = 23 * 3600

#: job/artifact retention — 30 days (the reference's task TTL,
#: v2_download.py:20-23)
RESULT_TTL_SECONDS = 30 * 24 * 3600


@dataclass
class Job:
    job_id: str
    params: dict
    status: str = "pending"  # pending | running | done | failed
    result: object = None
    created_at: float = field(default_factory=time.time)
    error: str | None = None


class DownloadJobManager:
    """Query-hash-keyed job registry (the fakeredis-backed task store in
    the reference's tests)."""

    def __init__(self, dedup_seconds: float = DEDUP_SECONDS, clock=time.time):
        self.dedup_seconds = dedup_seconds
        self.clock = clock
        self.jobs: dict[str, Job] = {}
        #: jobs displaced by a re-submit after their dedup window — kept
        #: until vacuum runs their artifact cleanup
        self._replaced: list[Job] = []
        #: ids already reported gone by a prior vacuum whose parked
        #: predecessor is still awaiting cleanup — guards the
        #: report-once contract ACROSS vacuums (a retried parked cleanup
        #: must not re-report an id the pass that expired the live job
        #: already returned). Cleared on re-submit of the same params.
        self._reported_gone: set[str] = set()

    def params_hash(self, params: dict) -> str:
        """F19 — recursive sha1 of the params dict with sorted keys and
        sorted arrays (objectHasher(..., sort_arrays=True),
        v2_download.py:77-99)."""
        return object_hash(params, "sha1", sort_arrays=True)

    def submit(self, params: dict, run, force: bool = False) -> Job:
        """Run (or reuse) the export for ``params``. ``run(params)`` does
        the actual work and returns the artifact descriptor. A job
        replaced past its dedup window is parked for the next ``vacuum``
        (its artifact still needs the on_expire cleanup — dropping it
        from the registry would orphan the file forever).

        ``force=True`` bypasses the dedup reuse and dispatches a fresh
        run (v2_download.py:75,81 — the reference only consults the
        query-hash key when force is falsy); a FAILED or UNKNOWN prior
        task is likewise never reused (:85-87)."""
        key = self.params_hash(params)
        existing = self.jobs.get(key)
        if existing is not None:
            age = self.clock() - existing.created_at
            if (
                not force
                and age < self.dedup_seconds
                and existing.status in ("pending", "running", "done")
            ):
                return existing
            if existing.status != "failed":
                # park for artifact cleanup at the next vacuum; a FAILED
                # job never produced an artifact, and handing it to
                # on_expire would either crash the cleanup callback or
                # re-park it forever
                self._replaced.append(existing)
        job = Job(job_id=key, params=params, status="running",
                  created_at=self.clock())
        self.jobs[key] = job
        # a fresh live job revives the id: a later vacuum that removes
        # it must report it gone again
        self._reported_gone.discard(key)
        try:
            job.result = run(params)
            job.status = "done"
        except Exception as e:  # per-job fault isolation
            job.status = "failed"
            job.error = str(e)
        return job

    def status(self, job_id: str) -> Job | None:
        return self.jobs.get(job_id)

    def vacuum(
        self,
        ttl_seconds: float = RESULT_TTL_SECONDS,
        on_expire=None,
    ) -> list[str]:
        """Drop jobs older than ``ttl_seconds`` (the reference's 30-day
        task TTL). ``on_expire(job)`` runs per expired job for artifact
        cleanup (file delete, object-store remove); a callback failure
        keeps that job registered so the next vacuum retries it.

        Returns the job_ids no longer reachable through the registry. A
        DISPLACED job (replaced by a re-submit past the dedup window)
        shares its params-hash id with the live replacement; its artifact
        cleanup still runs here, but its id is only reported when no live
        job with that id remains registered — callers treat the return as
        "these ids are gone", so a still-live id must never appear."""
        now = self.clock()
        expired = [
            key
            for key, job in self.jobs.items()
            if now - job.created_at >= ttl_seconds
        ]
        removed = []
        for key in expired:
            # a FAILED job never produced an artifact — handing it to
            # on_expire would crash artifact-path callbacks and pin the
            # job in the registry forever (the same guard submit applies
            # before parking displaced jobs)
            if on_expire is not None and self.jobs[key].status != "failed":
                try:
                    on_expire(self.jobs[key])
                except Exception:
                    continue  # keep the job; retry cleanup next vacuum
            del self.jobs[key]
            removed.append(key)
            self._reported_gone.add(key)
        # Displaced jobs cleaned unconditionally of age: they are already
        # unreachable through the registry, only their artifacts linger.
        # CONTRACT: on_expire receives the parked job with ITS OWN result
        # descriptor while a live job may share the params-hash id — a
        # run() whose artifact path is derived from the params hash alone
        # would collide across versions; version the path (e.g. include
        # created_at) so cleaning the displaced artifact can never touch
        # the live replacement's.
        still_parked = []
        for job in self._replaced:
            if on_expire is not None:
                try:
                    on_expire(job)
                except Exception:
                    still_parked.append(job)  # retry next vacuum
                    continue
            if (
                job.job_id not in self.jobs
                and job.job_id not in self._reported_gone
            ):
                # report once — within this pass AND across passes: an
                # expired live job and its parked predecessor(s) share
                # the params-hash id, and a parked cleanup that retries
                # into a later vacuum must not re-report an id a prior
                # pass already returned
                removed.append(job.job_id)
                self._reported_gone.add(job.job_id)
        self._replaced = still_parked
        return removed


def finish_link(link: str) -> str:
    """Artifact-link finishing — force the https scheme
    (tasks/download.py:97,129 intent).

    Sweep pin (tests/test_e2e_flagship.py
    test_finish_link_and_reference_py3_crash): the reference writes
    ``string.replace(link, "http:", "https:")`` — the Python-2 STRING
    MODULE function, which does not exist on its Python-3 runtime — so
    the downloader task raises AttributeError right after a successful
    upload, and the email path crashes the same way. (It survives in
    practice only because upload_download_file_to_ceph already returns
    an https URL.) This helper implements what that line meant, on the
    leading scheme only — not a blind substring swap that would also
    rewrite an 'http:' embedded in a query string."""
    return "https:" + link[len("http:"):] if link.startswith("http:") else link


def normalize_request(o: dict) -> dict:
    """The download endpoint's request normalization
    (v2_download.py:29-66), quirks kept:

    * ``query`` aliases ``rq`` only when ``rq`` is absent (:52-53).
    * A list-valued param takes its FIRST element (:57-58) — repeated
      query-string keys arrive as lists.
    * A string value is ``json.loads``-ed when it parses, kept as the
      RAW STRING when it does not (:60-64): ``rq={"genus":"acer"}``
      becomes a dict, ``rq=acer`` stays the string 'acer' (which the
      shim compiler then iterates as a query dict's keys — the
      reference inherits that downstream, it does not reject here).
    * Only the seven known params are read; unknown keys are ignored.
    """
    import json as _json

    params = {
        "core_type": "records",
        "core_source": "indexterms",
        "rq": None,
        "mq": None,
        "form": "dwca-csv",
        "record_fields": None,
        "mediarecord_fields": None,
    }
    o = dict(o)
    if "query" in o and "rq" not in o:
        o["rq"] = o["query"]
    for k in params.keys():
        if k in o:
            v = o[k]
            if isinstance(v, list):
                v = v[0]
            if isinstance(v, str):
                try:
                    params[k] = _json.loads(v)
                except ValueError:
                    params[k] = v
            else:
                params[k] = v
    return params


def status_payload(job: Job, ttl_seconds: float | None = None, now=None) -> dict:
    """The download status response shape (v2_download.py:109-148
    get_task_status): query echoed, ``complete`` true for any TERMINAL
    state (the reference short-circuits on a cached ``task_status`` in the
    hash — set only at completion — without consulting the result
    backend, :124-127), ``download_url`` only on success, ``error`` only
    on failure, and ``expires`` present ONLY when the key carries a TTL
    (the redis ``ttl == -1`` no-expiry probe, :119-122). A failure also
    frees the query-hash dedup slot upstream (dissociate_query_hash,
    :160-166 — guarded so it only deletes the hash key while it still
    points at THIS task) — the engine's equivalent is submit()'s
    never-reuse-failed rule."""
    import datetime as _dt

    out: dict = {
        "query": job.params,
        "task_status": job.status,
        "complete": job.status in ("done", "failed"),
    }
    if ttl_seconds is not None:
        base = now if now is not None else time.time()
        out["expires"] = _dt.datetime.fromtimestamp(
            base + ttl_seconds, _dt.timezone.utc
        ).isoformat()
    if job.status == "done":
        out["download_url"] = job.result
    elif job.status == "failed":
        out["error"] = job.error
    return out
