"""The workloads. Each is a closed loop with one client: the next
operation starts when the previous one has returned its last row.

A workload makes its inputs from the seed (``prepare``) and does its
per-session set-up (``start``). It then serves a stream of operations:
``next_input`` makes operation i's input outside the timed region,
``run`` is the timed call into the engine, and ``check`` and
``verify`` judge the answers outside the timed region. The first
``WARM_OPS`` operations, which cover every kind, are the untimed
warm-up. Every call into a layer of the package sits in a
``tracer.span``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import json
import os
import shutil
import time
import zipfile
from dataclasses import dataclass, field
from statistics import median

import numpy as np
from pyspark.sql import functions as F

from perfbench import inputs


@dataclass
class Result:
    items: int
    value: object = None
    marks: dict = field(default_factory=dict)


@dataclass
class Op:
    index: int
    kind: str
    seconds: float
    items: int
    ok: bool = True
    marks: dict = field(default_factory=dict)
    value: object = None
    traced: bool = False


def load_hashing(root: str):
    """``value_hash`` of the oracle gate (tools/check_correctness.py),
    so answers are compared exactly as the gate compares them."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_perfbench_cc", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def digest(rows) -> str:
    h = hashlib.sha1()
    for r in sorted(json.dumps(list(r), default=str) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def percentile(values, q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(np.ceil(q * len(v))) - 1))]


def duckdb_views(tables: dict):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads=2")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


class Workload:
    name = ""
    #: op kinds whose latency is op_gmean_ms
    primary: tuple = ()
    #: op kinds whose items and time make items_per_s
    rate: tuple = ()
    #: leading ops of the stream run untimed as the warm-up
    WARM_OPS = 1
    #: ops in one round of the fixed op sequence; a run serves whole
    #: rounds, so every run times the same mix
    ROUND = 1
    #: rounds a traced run serves at a time. It gives the ops of each
    #: ``turn_key`` to its traced and untraced halves in turn, so both
    #: halves get the same mix when every key comes an even number of
    #: times in these rounds.
    TRACED_ROUNDS = 2

    def __init__(self, root: str, work: str, seed: int, traced: bool = False):
        self.root, self.work, self.seed = root, work, seed
        self.rng = np.random.default_rng(seed)
        self.value_hash = load_hashing(root)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        raise NotImplementedError

    def start(self, spark) -> None:
        pass

    def next_input(self, i: int):
        raise NotImplementedError

    def turn_key(self, kind: str, inp):
        """Ops with the same key take the traced and untraced halves of
        a traced run in turn."""
        return kind

    def run(self, spark, tr, kind: str, inp) -> Result:
        raise NotImplementedError

    def check(self, op: Op, inp) -> bool:
        return True

    def verify(self, spark, ops: list[Op], traced: bool) -> list[str]:
        """Checks outside the timed region: marks wrong ops not ok and
        returns one note per failed check."""
        return []

    def details(self, ops: list[Op]) -> dict:
        return {}

    def traced_details(self, ops: list[Op]) -> dict:
        """Figures of ops that only traced runs serve, from both halves."""
        return {}

    def layer_values(self) -> dict:
        return {}


# --- the indexer's batch job ------------------------------------------


class BatchJob(Workload):
    """The operators' batch job: a full Index ETL pass over a
    lineitem-shaped fact table, then exact, MinHash-LSH and SimHash
    dedup of a text corpus and an exact top-k over its embeddings.

    Not a workload of its own: run after run, its wall time varied by
    more than the largest bound the benchmark may set, on one host.
    Traced portal runs serve it between requests, so its layers are
    still metered."""

    ROWS = 60_000
    DOCS = 1_500
    VECS = 2_000
    SAMPLE_MOD = 50

    def prepare(self):
        inputs.lineitem(self.rng, self.ROWS, self.path("etl"))
        self.corpus = inputs.corpus(self.rng, self.DOCS, self.VECS,
                                    self.path("corpus"))
        self.recorded = None

    def start(self, spark):
        self.docs = spark.read.parquet(self.corpus["documents"])
        self.emb = spark.read.parquet(self.corpus["embeddings"])

    def next_input(self, i):
        return "batch", i % len(self.corpus["queries"])

    def run(self, spark, tr, kind, inp):
        t0 = time.perf_counter()
        self._etl(spark, tr)
        t1 = time.perf_counter()
        out = self._dedup(tr, self.corpus["queries"][inp])
        marks = {"etl_s": t1 - t0, "dedup_s": time.perf_counter() - t1}
        return Result(self.ROWS + self.DOCS, out, marks)

    def _etl(self, spark, tr):
        from idb_backend_spark.plans.catalog import Q

        with tr.span("plans", "etl_enrichment_pipeline"):
            df = Q["etl_enrichment_pipeline"](spark, self.path("etl"))
        # the write plans a query of its own, so there is no Dataset to
        # plan ahead: this span has no spark.plan child
        with tr.span("functions", "enrich"):
            df.write.format("noop").mode("overwrite").save()

    def _dedup(self, tr, query):
        from idb_backend_spark.operators import ann, dedup
        from idb_backend_spark.session import spread_for_compute

        out = {}
        with tr.span("dedup", "exact_dedup"):
            df = tr.plan(dedup.exact_dedup(
                spread_for_compute(self.docs, "doc_id"), "text", "doc_id"))
            out["exact"] = df.collect()
        with tr.span("dedup", "minhash_lsh_pairs"):
            df = tr.plan(dedup.minhash_lsh_pairs(
                self.docs, "text", "doc_id", shingle_k=3, num_hashes=64,
                bands=16, threshold=0.5))
            out["minhash"] = df.collect()
        with tr.span("dedup", "simhash_pairs"):
            df = tr.plan(dedup.simhash_pairs(self.docs, "text", "doc_id",
                                             max_hamming=3))
            out["simhash"] = df.collect()
        with tr.span("ann", "brute_force_topk"):
            df = tr.plan(ann.brute_force_topk(self.emb, query.tolist(), k=10))
            out["topk"] = df.collect()
        return out

    def check(self, op, inp):
        """Every pass must give the pair sets the first pass recorded;
        ``verify`` checks that first pass independently."""
        dig = {k: digest(v) for k, v in op.value.items() if k != "topk"}
        first = self.recorded is None
        op.value = {"topk": op.value["topk"], "q": inp,
                    "rows": op.value if first else None}
        if first:
            self.recorded = dig
        return dig == self.recorded

    def verify(self, spark, ops, traced):
        notes = self._verify_etl(spark) + self._verify_pairs(ops, traced)
        if notes:
            # one oracle answer covers every pass: the ETL plan and input
            # never change, and every pass was held to the first pair sets
            for op in ops:
                op.ok = False
        return notes + self._verify_topk(ops)

    def _verify_etl(self, spark):
        """A seeded sample of order keys (rowid is orderkey * 10 +
        linenumber), value-hashed against the catalog's DuckDB oracle
        over the same parquet."""
        from idb_backend_spark.plans.catalog import ORACLE, Q

        r = self.seed % self.SAMPLE_MOD
        sf_dir = self.path("etl")
        df = Q["etl_enrichment_pipeline"](spark, sf_dir).filter(
            F.floor(F.col("rowid") / 10) % self.SAMPLE_MOD == r)
        srows, scols = df.collect(), df.columns
        con = duckdb_views({"lineitem": f"{sf_dir}/lineitem.parquet"})
        rel = con.execute(f"SELECT * FROM ({ORACLE['etl_enrichment_pipeline']})"
                          f" WHERE floor(rowid / 10) % {self.SAMPLE_MOD} = {r}")
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
        con.close()
        if (len(srows) == len(orows) > 0
                and sorted(scols) == sorted(ocols)
                and self.value_hash(srows, scols)
                == self.value_hash(orows, ocols)):
            return []
        return [f"etl sample differs from the oracle: spark {len(srows)} "
                f"rows, oracle {len(orows)} rows"]

    def _verify_pairs(self, ops, traced):
        from idb_backend_spark.plans.catalog import ORACLE
        from idb_backend_spark.plans.synth import NORM_SQL

        first = next((o for o in ops if o.value and o.value["rows"]), None)
        if first is None:
            return []
        rows = first.value["rows"]
        notes = []
        con = duckdb_views({"documents": self.corpus["documents"]})
        rel = con.execute(ORACLE["exact_dedup"])
        ocols = [d[0] for d in rel.description]
        if self.value_hash(rows["exact"], ["fp", "keeper", "n_copies"]) \
                != self.value_hash(rel.fetchall(), ocols):
            notes.append("exact_dedup differs from the DuckDB oracle")
        # documents that normalize to the same text are pairs in both
        # near-dup tiers
        groups = con.execute(
            "SELECT list(doc_id ORDER BY doc_id) FROM documents "
            f"GROUP BY {NORM_SQL} HAVING count(*) > 1").fetchall()
        con.close()
        copies = {(g[0][0], b) for g in groups for b in g[0][1:]}
        mh = {(r["id_a"], r["id_b"]) for r in rows["minhash"]}
        sh = {(r["id_a"], r["id_b"]) for r in rows["simhash"]}
        if not copies or not copies <= mh:
            notes.append("minhash_lsh_pairs misses exact copies")
        if not copies <= sh or any(r["hamming"] > 3 for r in rows["simhash"]):
            notes.append("simhash_pairs misses copies or exceeds radius")
        if traced:
            self.lsh_precision = self._precision(mh)
        return notes

    def _verify_topk(self, ops):
        notes = []
        vecs = self.corpus["vectors"].astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        for op in ops:
            if op.value is None:
                continue
            qv = self.corpus["queries"][op.value["q"]].astype(np.float64)
            cos = np.round(vecs @ qv / (norms * np.linalg.norm(qv)), 6)
            want = sorted(zip(-cos, range(len(cos))))[:10]
            got = [(r["vec_id"], r["cosine"]) for r in op.value["topk"]]
            if [i for _, i in want] != [i for i, _ in got] or any(
                    abs(-c - g) > 2e-6 for (c, _), (_, g) in zip(want, got)):
                op.ok = False
                notes.append(f"brute_force_topk differs from numpy, "
                             f"op {op.index}")
        return notes

    def _precision(self, lsh_pairs) -> float:
        """Share of LSH pairs whose exact shingle Jaccard clears the
        threshold: useful over attempted."""
        from idb_backend_spark.operators.dedup import (
            minhash_exact_verified_pairs)

        exact = minhash_exact_verified_pairs(
            self.docs, "text", "doc_id", threshold=0.5).collect()
        useful = {(r["id_a"], r["id_b"]) for r in exact} & lsh_pairs
        return len(useful) / max(len(lsh_pairs), 1)

    def details(self, ops):
        etl = sum(o.marks["etl_s"] for o in ops)
        dd = sum(o.marks["dedup_s"] for o in ops)
        return {"etl_records_per_s": (self.ROWS * len(ops) / etl, "1/s"),
                "dedup_docs_per_s": (self.DOCS * len(ops) / dd, "1/s")}

    def layer_values(self):
        v = getattr(self, "lsh_precision", None)
        return {} if v is None else {"dedup.lsh_precision": v}


# --- portal_search -----------------------------------------------------


class PortalSearch(Workload):
    """The portal's request stream: searches and DwC-A downloads. A
    traced run also serves the indexer's batch job in one slot of every
    round, in place of a search; it is neither a primary nor a
    rate op, so the end-to-end metrics are those of the requests alone,
    and its figures come from the batch jobs of both halves."""

    name = "portal_search"
    primary = rate = ("search", "download")
    #: 18 searches and two downloads, every template twice or more; in
    #: a traced round the batch job takes one of the four term searches
    ROUND = 20
    TRACED_ROUNDS = 1
    #: one round on a small index, then two at full size. The first
    #: round compiles every query shape, which costs seconds a request
    #: at any index size, and the small index saves the scans; then
    #: latencies fall by a fifth over two more rounds at full size as
    #: the JVM compiles the hot paths. From the fourth round on, round
    #: to round they agree within a few percent.
    WARM_SMALL = ROUND
    WARM_OPS = WARM_SMALL + 2 * ROUND
    #: the batch job's slot in a round of a traced run, in place of the
    #: second of the round's four term searches; of the warm-up rounds
    #: only the last has it
    BATCH_SLOT = 8
    #: requests answered again on DuckDB: a seeded sample of the
    #: full-size searches and every full-size download
    SAMPLE = 12
    RECORDS = 50_000
    SMALL_RECORDS = 1_000
    CORE = [("scientificname", "dwc:scientificName"),
            ("country", "dwc:country"),
            ("basisofrecord", "dwc:basisOfRecord"),
            ("institutioncode", "dwc:institutionCode"),
            ("catalognumber", "dwc:catalogNumber"),
            ("recordset", "dwc:datasetID")]
    EXT = [("format", "dc:format"), ("license", "dcterms:license")]

    def __init__(self, root: str, work: str, seed: int, traced: bool = False):
        super().__init__(root, work, seed)
        self.batch = BatchJob(root, work, seed) if traced else None

    def prepare(self):
        self.tables = inputs.portal_tables(self.rng, self.RECORDS,
                                           self.path("portal"))
        self.stream = inputs.request_stream(self.rng, 5000)
        # a generator of its own, so the full-size inputs do not depend
        # on the small index
        self.small_tables = inputs.portal_tables(
            np.random.default_rng([self.seed, 1]), self.SMALL_RECORDS,
            self.path("portal_small"))
        self.n_zip = 0
        if self.batch:
            self.batch.prepare()

    def start(self, spark):
        self.frames = {
            small: (spark.read.parquet(t["records"]),
                    spark.read.parquet(t["media"]))
            for small, t in ((False, self.tables), (True, self.small_tables))}
        if self.batch:
            self.batch.start(spark)

    def next_input(self, i):
        small = i < self.WARM_SMALL
        if (self.batch and i >= self.WARM_OPS - self.ROUND
                and i % self.ROUND == self.BATCH_SLOT):
            return self.batch.next_input(i)
        kind, template, rq, mq = self.stream[i % len(self.stream)]
        return kind, (template, rq, mq, small)

    def turn_key(self, kind, inp):
        # per template, so both halves get each template equally often
        return kind if kind == "batch" else (kind, inp[0])

    def run(self, spark, tr, kind, inp):
        from idb_backend_spark.operators.aggregates import (hit_counts,
                                                            keyset_page)
        from idb_backend_spark.query.shim import compile_shim

        if kind == "batch":
            return self.batch.run(spark, tr, kind, inp)
        template, rq, mq, small = inp
        records, media = self.frames[small]
        if kind == "download":
            return Result(1, self._download(tr, records, media, rq, mq),
                          {"template": template})
        with tr.span("query", "compile_shim"):
            pred = compile_shim(rq)
        with tr.span("aggregates", "hit_counts"):
            df = tr.plan(hit_counts(records, pred, "recordset"))
            counts = df.collect()
        with tr.span("aggregates", "keyset_page"):
            df = tr.plan(keyset_page(records.filter(pred), "uuid"))
            page = df.collect()
        return Result(1, (counts, page, df.columns), {"template": template})

    def _download(self, tr, records, media, rq, mq):
        from idb_backend_spark.export.writers import (citation_text,
                                                      recordset_counts,
                                                      write_dwca)
        from idb_backend_spark.operators.relations import cross_filter
        from idb_backend_spark.query.shim import compile_shim

        with tr.span("query", "compile_shim"):
            rp, mp = compile_shim(rq), compile_shim(mq)
        with tr.span("relations", "cross_filter"):
            r_out, m_out = cross_filter(records, media, rp, mp,
                                        link=("uuid", "coreid"))
            r_out, m_out = r_out.persist(), m_out.persist()
            for d in (r_out, m_out):
                # count() would plan a query of its own: plan and run this one
                tr.plan(d.groupBy().count()).collect()
        try:
            with tr.span("export", "recordset_counts"):
                counts = recordset_counts(r_out, "recordset")
            self.n_zip += 1
            zip_path = self.path("downloads", f"dl{self.n_zip}.zip")
            os.makedirs(os.path.dirname(zip_path), exist_ok=True)
            core = r_out.select("uuid", *[F.col(c).alias(t)
                                          for c, t in self.CORE])
            ext = m_out.select("coreid", *[F.col(c).alias(t)
                                           for c, t in self.EXT])
            with tr.span("export", "write_dwca"):
                write_dwca(
                    zip_path,
                    (core, "uuid", [t for _, t in self.CORE], "records"),
                    extensions=[(ext, "coreid", [t for _, t in self.EXT],
                                 "mediarecords")],
                    citations=citation_text(
                        counts, rq, total=sum(n for _, n in counts)),
                )
        finally:
            r_out.unpersist()
            m_out.unpersist()
        return {"zip": zip_path, "counts": counts}

    def check(self, op, inp):
        """Downloads: count the member rows in the zip, then drop it; the
        counts are judged against DuckDB in ``verify``."""
        if op.kind == "batch":
            return self.batch.check(op, inp)
        if op.kind != "download":
            return True
        path = op.value["zip"]
        with zipfile.ZipFile(path) as z:
            members = {m: z.read(m).count(b"\n") - 1
                       for m in ("occurrence.csv", "multimedia.csv")}
            cited = "citations.txt" in z.namelist()
        op.marks["zip_bytes"] = os.path.getsize(path)
        os.remove(path)
        op.value = {"counts": op.value["counts"], "members": members}
        total = sum(c for _, c in op.value["counts"])
        return members["occurrence.csv"] == total and (cited or total == 0)

    def verify(self, spark, ops, traced):
        """A seeded sample of searches and every download answered again
        through ``shim_to_sql`` on DuckDB over the same parquet."""
        from idb_backend_spark.query.shim import shim_to_sql

        con = duckdb_views({"records": self.tables["records"],
                            "media": self.tables["media"]})
        full = [o for o in ops if o.index >= self.WARM_SMALL and o.value]
        searches = [o for o in full if o.kind == "search"]
        picked = np.random.default_rng(self.seed).permutation(len(searches))
        sample = [searches[i] for i in picked[:self.SAMPLE]] + [
            o for o in full if o.kind == "download"]
        notes = []
        for op in sample:
            _, rq, mq, _ = self.next_input(op.index)[1]
            where = shim_to_sql(rq)
            if op.kind == "search":
                counts, page, cols = op.value
                want = con.execute(
                    f"SELECT recordset, count(*) FROM records WHERE {where} "
                    "GROUP BY 1").fetchall()
                rel = con.execute(f"SELECT * FROM records WHERE {where} "
                                  "ORDER BY uuid LIMIT 100")
                ocols = [d[0] for d in rel.description]
                uuids = [r["uuid"] for r in page]
                good = (sorted(map(tuple, counts)) == sorted(want)
                        and self.value_hash(page, cols)
                        == self.value_hash(rel.fetchall(), ocols)
                        and uuids == sorted(uuids))
            else:
                msql = shim_to_sql(mq)
                want = con.execute(
                    f"WITH m AS (SELECT coreid FROM media WHERE {msql}) "
                    f"SELECT recordset, count(*) FROM records WHERE {where} "
                    "AND uuid IN (SELECT coreid FROM m) GROUP BY 1").fetchall()
                n_media = con.execute(
                    f"WITH r AS (SELECT uuid FROM records WHERE {where}) "
                    f"SELECT count(*) FROM media WHERE {msql} "
                    "AND coreid IN (SELECT uuid FROM r)").fetchone()[0]
                good = (sorted(op.value["counts"]) == sorted(want)
                        and op.value["members"]["multimedia.csv"] == n_media)
            if not good:
                op.ok = False
                notes.append(f"{op.kind} {op.index} differs from DuckDB: {rq}")
        con.close()
        if self.batch:
            notes += self.batch.verify(
                spark, [o for o in ops if o.kind == "batch"], traced)
        return notes

    def details(self, ops):
        s = [o.seconds for o in ops if o.kind == "search"]
        d = [o.seconds for o in ops if o.kind == "download"]
        out = {"searches": (len(s), "count"), "downloads": (len(d), "count")}
        if s:
            out["search_p50_ms"] = (median(s) * 1e3, "ms")
            out["search_p95_ms"] = (percentile(s, 0.95) * 1e3, "ms")
        if d:
            out["download_p50_s"] = (median(d), "s")
        return out

    def traced_details(self, ops):
        b = [o for o in ops if o.kind == "batch"]
        return self.batch.details(b) if b else {}

    def layer_values(self):
        return self.batch.layer_values() if self.batch else {}


# --- harvest_ingest ----------------------------------------------------


class HarvestIngest(Workload):
    """Publisher harvests folded into the bucketed version store, with
    compaction and uuid point lookups between them."""

    name = "harvest_ingest"
    primary = ("harvest",)
    rate = ("harvest", "compact")
    BUCKETS = 8
    TABLE = "perfbench_store"
    #: compaction after every second harvest, a lookup after each
    CYCLE = ["harvest", "lookup", "compact", "harvest", "lookup",
             "harvest", "lookup", "compact"]
    #: three harvests, one of each size class
    ROUND = len(CYCLE)
    #: two untimed cycles: every kind, and two harvests of every size;
    #: after one cycle harvest latencies still fall by a fifth
    WARM_OPS = 2 * len(CYCLE)
    T0 = dt.datetime(2024, 1, 1)

    def prepare(self):
        import pyarrow.parquet as pq

        self.plan = inputs.HarvestPlan(self.rng)
        self.initial = self.path("store_initial.parquet")
        pq.write_table(inputs.store_rows(self.plan), self.initial)
        self.n_batch = 0

    def start(self, spark):
        """The store as publishers left it: version 0 of every record."""
        from idb_backend_spark.operators import store as st

        hist = spark.read.parquet(self.initial).select(
            "uuid", F.lit("records").alias("type"), "parent", "etag",
            F.lit(0).alias("version"),
            F.lit(self.T0).cast("timestamp").alias("modified"), "data")
        st.write_bucketed_history(hist, self.TABLE, self.BUCKETS)

    def next_input(self, i):
        kind = self.CYCLE[i % len(self.CYCLE)]
        if kind == "harvest":
            self.n_batch += 1
            return kind, (self.plan.next_batch(self.path("harvests")),
                          self.n_batch)
        if kind == "lookup":
            sets = self.plan.recordsets()
            rs = sets[int(self.rng.integers(0, len(sets)))]
            keys = list(rs.records)
            u = keys[int(self.rng.integers(0, len(keys)))]
            return kind, (u, list(rs.records[u]))
        return kind, None

    def run(self, spark, tr, kind, inp):
        from idb_backend_spark.operators import store as st

        if kind == "harvest":
            return self._harvest(spark, tr, *inp)
        if kind == "compact":
            with tr.span("store", "compact"):
                rewrote = st.compact_history(spark, self.TABLE, self.BUCKETS,
                                             max_files_per_bucket=2)
            return Result(0, rewrote)
        marks = {}
        t = time.perf_counter()
        with tr.span("store", "lookup"):
            df = tr.plan(st.latest_view(spark.table(self.TABLE))
                         .filter(F.col("uuid") == inp[0]))
            live = df.collect()
        marks["latest_ms"] = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        with tr.span("store", "version_history"):
            df = tr.plan(st.version_history(spark.table(self.TABLE), inp[0]))
            versions = df.collect()
        marks["history_ms"] = (time.perf_counter() - t) * 1e3
        return Result(0, (live, versions), marks)

    def _harvest(self, spark, tr, batch, n):
        """From the zip read to the latest view reflecting the batch."""
        from idb_backend_spark.functions.etags import etag_expr
        from idb_backend_spark.operators import store as st
        from idb_backend_spark.sources.dwca import DwcaArchive

        with tr.span("sources", "dwca_read"):
            arch = DwcaArchive(batch.zip_path, self.path("extract", f"b{n}"))
            core = arch.read_core(spark)
        with tr.span("functions", "etags"):
            cols = {t: F.col(f"`{t}`") for t in inputs.CORE_TERMS}
            frame = core.select(
                F.col("id").alias("uuid"), F.lit("records").alias("type"),
                F.lit(batch.rs_id).alias("parent"),
                etag_expr(cols).alias("etag"),
                F.concat_ws("|", *cols.values()).alias("data"))
        modified = F.lit(self.T0 + dt.timedelta(hours=n)).cast("timestamp")
        with tr.span("store", "apply_batch"):
            res = st.apply_harvest_batch(
                spark.table(self.TABLE), frame, modified,
                delete_parents=[batch.rs_id], cache_latest=True)
            summary = tr.plan(res.summary).collect()
        try:
            with tr.span("store", "append"):
                rows = res.appended.unionByName(
                    res.tombstones, allowMissingColumns=True
                ).select(*st.HISTORY_COLS)
                st.write_bucketed_history(rows, self.TABLE, self.BUCKETS,
                                          mode="append")
        finally:
            res.cleanup()
        with tr.span("store", "latest"):
            df = tr.plan(st.latest_view(spark.table(self.TABLE))
                         .filter(F.col("parent") == batch.rs_id)
                         .groupBy().count())
            n_live = df.collect()[0][0]
        return Result(batch.n_records,
                      ({r["status"]: r["n"] for r in summary}, n_live))

    def check(self, op, inp):
        if op.kind == "harvest":
            batch, n = inp
            shutil.rmtree(self.path("extract", f"b{n}"), ignore_errors=True)
            os.remove(batch.zip_path)
            summary, n_live = op.value
            want = {k: v for k, v in (("create", batch.creates),
                                      ("update", batch.updates),
                                      ("delete", batch.deletes)) if v}
            return summary == want and n_live == batch.n_records
        if op.kind == "lookup":
            from idb_backend_spark.functions.etags import calc_etag

            live, versions = op.value
            etag = calc_etag(dict(zip(inputs.CORE_TERMS, inp[1])))
            return (len(live) == 1 and live[0]["etag"] == etag
                    and versions[-1]["etag"] == etag
                    and [v["version"] for v in versions]
                    == list(range(len(versions))))
        return True

    def verify(self, spark, ops, traced):
        """Live-view counts per recordset must equal the truth that the
        seeded create/update/delete plan left."""
        from idb_backend_spark.operators import store as st

        got = {r["parent"]: r["count"] for r in
               st.latest_view(spark.table(self.TABLE)).groupBy("parent")
               .count().collect()}
        want = {rs.rs_id: len(rs.records) for rs in self.plan.recordsets()}
        files = [f.split(":", 1)[1] if f.startswith("file:") else f
                 for f in spark.table(self.TABLE).inputFiles()]
        self.store = {"files": len(files),
                      "bytes": sum(os.path.getsize(f) for f in files),
                      "live": sum(want.values())}
        if got == want:
            return []
        for op in ops:
            op.ok = False
        return ["live view counts differ from the harvest plan"]

    def details(self, ops):
        h = [o for o in ops if o.kind == "harvest"]
        lk = [o.marks["latest_ms"] for o in ops if o.kind == "lookup"]
        hist = [o.marks["history_ms"] for o in ops if o.kind == "lookup"]
        t = sum(o.seconds for o in ops if o.kind in self.rate)
        out = {"harvests": (len(h), "count"),
               "compactions": (sum(o.kind == "compact" for o in ops), "count"),
               "store_bytes_per_record": (
                   self.store["bytes"] / self.store["live"], "B")}
        if h:
            out["ingest_records_per_s"] = (sum(o.items for o in h) / t, "1/s")
            out["harvest_p50_s"] = (median(o.seconds for o in h), "s")
        if lk:
            out["live_lookup_p50_ms"] = (median(lk), "ms")
            out["history_lookup_p50_ms"] = (median(hist), "ms")
        return out

    def layer_values(self):
        return {"store.files": float(self.store["files"]),
                "store.bytes": float(self.store["bytes"])}


WORKLOADS = {w.name: w for w in (PortalSearch, HarvestIngest)}
