"""Scale-up probe: measure how the heavy document operators behave when
the corpus grows 10x — the local stand-in for the "would this survive
100x?" question the architecture is designed around.

Methodology
-----------
Replicate the sf0.1 documents table ``factor`` times into a scratch dir.
Replica i > 0 gets every token suffixed with ``_i`` (one native
transform), so replicas share NO shingles/fingerprints with each other
or the original: exact-dup groups, near-dup pair sets, and LSH bucket
shapes stay realistic (a naive row copy would instead turn every doc
into a 10-way duplicate group and explode pair counts quadratically).
doc_ids offset by 10M per replica.

Each probed operator is the CATALOG entry itself (same code the driver
grades), timed with a full count() at factor 1 and factor N on one warm
session. Near-linear wall-clock ratios (t_N / t_1 <= N, usually below
it as fixed overhead amortizes) are the pass signal; a super-linear
ratio flags a scale hazard (all-pairs behavior, driver collect, skew).

Usage: python tools/scale_probe.py [factor] [src_sf_dir]
Prints one JSON line; results recorded in SCALING.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

#: documents-only entries that dominate the bench and stress the
#: dedup/sketch/packing paths, plus the lineitem-backed enrichment and
#: versioning heavies (the reference-parity hot path)
PROBES = [
    "exact_dedup",
    "minhash_lsh_pairs",
    # (ngram_jaccard_pairs was retired — see the `ngram_jaccard_pairs`
    # retirement comment in plans/q_textsim.py; minhash_exact_verified
    # carries the exact-Jaccard semantics and is probed via
    # minhash_lsh_pairs)
    "corpus_curation_pipeline",
    "sequence_packing",
    "token_count_quality",
    "lang_id_heuristic",
    "training_corpus_e2e",
    "etl_enrichment_pipeline",
    "latest_object_per_url",
    # the TF-IDF inversion (documents) and the PQ audit
    # (embeddings — replicated via per-replica circular rotation)
    "tfidf_top_terms",
    "pq_recall_audit",
    # not a catalog entry: fixed-batch probe against the 1x and Nx
    # indexes (probe_neardup_scale) — the maintenance tier's claim
    "neardup_index_probe",
    # not a catalog entry: the cogrouped ingest row-loop kernel
    # (operators/ingest.py) probed at N x recordsets, constant rows per
    # recordset — the reference's own parallel grain (1 process per
    # recordset, db_check.py:743) re-expressed as cogroup groups
    "ingest_subfiles",
]


def _write_replicas(df, dst: str, name: str, factor: int, shift) -> None:
    """Write ``df`` (replica 0) unioned with ``shift(df, i)`` for each
    replica i in 1..factor-1 as ``dst/name.parquet``."""
    out = df
    for i in range(1, factor):
        out = out.unionByName(shift(df, i))
    out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def build_scaled(spark, src: str, dst: str, factor: int) -> None:
    def shift(docs, i):
        sfx = f"_{i}"
        return docs.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.array_join(
                # sfx is local to this call, so the lambda needs no
                # default arg (PySpark would bind one to the array index)
                F.transform(F.split("text", " "), lambda x: F.concat(x, F.lit(sfx))),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )

    docs = spark.read.parquet(f"{src}/documents.parquet")
    _write_replicas(docs, dst, "documents", factor, shift)


def build_scaled_embeddings(spark, src: str, dst: str, factor: int) -> None:
    """Replica vectors are CIRCULARLY ROTATED by i dimensions (one
    native slice+concat): distinct vectors with the identical norm and
    coordinate distribution, so top-k neighborhoods stay realistic —
    a naive row copy would put every query's exact duplicates at
    cosine 1.0 in every replica and make recall trivially wrong."""
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    # derive the dimension from the data — a hardcoded 64 would silently
    # truncate/pad replicas (and corrupt the recall probe) if the table's
    # geometry ever changed
    dim = len(emb.select("embedding").first()["embedding"])

    def shift(emb, i):
        r = (i - 1) % (dim - 1) + 1  # 1..dim-1: rotation 0 would copy exactly
        return emb.select(
            (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
            F.concat(
                F.slice("embedding", r + 1, dim - r),
                F.slice("embedding", 1, r),
            ).alias("embedding"),
            "label",
        )

    _write_replicas(emb, dst, "embeddings", factor, shift)


def build_scaled_events(spark, src: str, dst: str, factor: int) -> None:
    """Replicas shift user_id/event_id into disjoint bands and ts by i
    days: group COUNT (days x types x users) grows with the data while
    per-group size stays flat — how real usage traffic grows. The
    nanos-as-long read matches the engine's session setting; the shifted
    long is still nanos."""
    ev = spark.read.parquet(f"{src}/events.parquet")
    ts_is_long = dict(ev.dtypes)["ts"] == "bigint"  # nanos-as-long read
    day_ns = 86_400 * 1_000_000_000

    def shift(ev, i):
        return ev.withColumns(
            {
                "event_id": F.col("event_id") + i * 10_000_000,
                "user_id": F.col("user_id") + i * 1_000_000,
                "ts": (
                    F.col("ts") + F.lit(i * day_ns)
                    if ts_is_long
                    else F.col("ts") + F.make_dt_interval(days=F.lit(i))
                ),
            }
        )

    _write_replicas(ev, dst, "events", factor, shift)


def build_scaled_lineitem(spark, src: str, dst: str, factor: int) -> None:
    """Replicas offset every key column so per-key groups (the versioning
    top-1 and the synthesized record ids) stay replica-local — group
    COUNT grows with the data, group SIZE does not, matching how a real
    corpus grows."""
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    _write_replicas(li, dst, "lineitem", factor, lambda li, i: li.withColumns(
        {
            "l_orderkey": F.col("l_orderkey") + i * 100_000_000,
            "l_partkey": F.col("l_partkey") + i * 10_000_000,
            "l_suppkey": F.col("l_suppkey") + i * 1_000_000,
        }
    ))


#: entries whose work runs EAGERLY inside the entry body (training
#: loops, bounded collects, staged writes): the timer must wrap the
#: entry CALL too, or the noop sink times a 4-row literal frame and the
#: "scaling" is fiction
EAGER_PROBES = {"pq_recall_audit", "ivf_ann_topk"}

#: which scaled tables each probe actually reads — building all three at
#: factor 500 to probe an embeddings-only entry would spend minutes
#: writing 300 M lineitem rows nothing reads
PROBE_TABLES = {
    "etl_enrichment_pipeline": {"lineitem"},
    "latest_object_per_url": {"lineitem"},
    "cms_heavy_hitters": {"lineitem"},
    "pq_recall_audit": {"embeddings"},
    "ivf_ann_topk": {"embeddings"},
    "stats_rollup_nested": {"events"},
    "collection_counts_pivot": {"events"},
    "datasets_index_codes": {"events"},
    "ingest_subfiles": set(),  # rows synthesized natively in its probe
}


def time_entry(fn, spark, sf_dir: str, eager: bool = False) -> tuple[float, int]:
    """Time FULL evaluation via the noop sink — a bare count() lets
    Catalyst prune every projected expression (an enrichment pipeline
    'scales' perfectly when none of its columns are computed); the noop
    writer materializes every output column without writing bytes. Row
    count is taken untimed for the report. ``eager`` starts the clock
    BEFORE the entry call (EAGER_PROBES).

    MIN OF TWO runs at THIS factor: the big-factor dataset is
    freshly written, so a single-shot timing charges the OS page-cache
    cold read of the whole table to the probed operator — measured 153 s
    cold vs 55 s warm on a 60 M-row latest-per-key, turning an honest
    49x into a fictional 135x. bench.py's timing discipline, applied
    here."""
    runs = []
    for _ in range(2):
        t0 = time.time()
        df = fn(spark, sf_dir)
        if not eager:
            t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
    return min(runs), df.count()


def build_scaled_part(spark, src: str, dst: str, factor: int) -> None:
    """Replicas offset p_partkey by 10M each so derived urls (built from
    the FULL key in the discovery probe) stay replica-unique — the url
    domain grows with the data, matching how a real media table grows."""
    pt = spark.read.parquet(f"{src}/part.parquet").select("p_partkey")
    _write_replicas(pt, dst, "part", factor, lambda pt, i: pt.select(
        (F.col("p_partkey") + i * 10_000_000).alias("p_partkey")
    ))


def probe_discovery_scale(spark, f1_dir: str, fN_dir: str, factor: int) -> dict:
    """media_url_discovery's operator probe. The catalog entry's url
    formula folds keys mod 200 (constant url domain — at 100x that
    measures hot-key groupBys, not growth), so the probe rebuilds the
    same arm structure with REPLICA-UNIQUE urls (full key in the path):
    candidates, the media table, and the url equi-join all grow with
    the data, which is the real discovery shape. Timed = full
    evaluation of both output legs (inserts ∪ updates), warm min-of-2."""
    from idb_backend_spark.operators import mediaing as M

    out = {}
    for tag, src_dir in (("1", f1_dir), (str(factor), fN_dir)):
        part = spark.read.parquet(f"{src_dir}/part.parquet")
        k = F.col("p_partkey")
        base = F.concat(
            F.lit("http://h"), (k % 5).cast("string"),
            F.lit("/m/"), k.cast("string"),
        )
        recs = part.select(
            k.alias("ord"),
            F.when(k % 11 == 0, F.lit(None).cast("string"))
            .when(k % 11 == 1, F.lit(""))
            .when(k % 11 == 2, F.concat(F.lit(" "), base, F.lit("&amp;x=1 ")))
            .when(k % 11 == 3, F.concat(F.lit("http://www.tropicos.org/"), k.cast("string")))
            .otherwise(base)
            .alias("accessuri"),
            F.when(k % 4 == 0, F.lit("images"))
            .when(k % 4 == 1, F.lit("sounds"))
            .alias("mediatype"),
            F.when(k % 6 == 0, F.lit("image/jpeg"))
            .when(k % 6 == 3, F.lit("audio/mpeg"))
            .alias("format"),
        )
        media = part.filter(k % 3 == 0).select(
            base.alias("url"),
            F.when(k % 9 == 3, F.lit("images")).alias("type"),
            F.when(k % 2 == 0, F.lit("image/jpeg")).alias("mime"),
        )
        ins, upd = M.discover_media_urls(recs, media, order_col="ord")
        both = ins.unionByName(upd.select("url", "type", "mime"))
        runs = []
        for _ in range(2):
            t0 = time.time()
            both.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        out[f"t{tag}"] = min(runs)
        out[f"rows{tag}"] = both.count()
    out["ratio"] = (
        round(out[f"t{factor}"] / out["t1"], 2) if out["t1"] > 0 else None
    )
    print(
        f"  media_url_discovery(op): {out['t1']}s -> {out[f't{factor}']}s "
        f"(x{out['ratio']})",
        file=sys.stderr,
    )
    return out


def probe_ingest_scale(spark, factor: int) -> dict:
    """operators/ingest.ingest_subfiles at 1x vs Nx RECORDSETS (constant
    600 rows + 180 seeded children per recordset): growth adds GROUPS,
    not group size — the real corpus shape (db_check parallelizes one
    process per recordset) — so wall clock should track total rows while
    the per-group sequential kernel stays constant. Rows are built
    natively (range -> ordered (k,v) pair array) with a match/update/
    create/dup branch mix; timed = full outcome materialization through
    the noop sink, warm min-of-2."""
    from idb_backend_spark.operators.ingest import (
        LOOKUP_SCHEMA,
        ingest_subfiles,
    )

    base_rs = 24  # factor-1 recordset count

    def build(n_rs: int):
        rows = (
            spark.range(n_rs * 600)
            .select(
                F.concat(F.lit("rs-"), (F.col("id") % n_rs).cast("string"))
                .alias("rsid"),
                F.lit(0).alias("file_order"),
                F.lit("occurrence.txt").alias("fname"),
                F.lit("dwc:Occurrence").alias("rowtype"),
                (F.col("id") / n_rs).cast("long").alias("seq"),
                F.array(
                    F.struct(
                        F.lit("dwc:occurrenceID").alias("k"),
                        # ~3% in-file duplicate ids (seq folded), the
                        # rest unique per recordset
                        F.concat(
                            F.lit("occ-"),
                            F.when(
                                (F.col("id") / n_rs).cast("long") % 31 == 30,
                                ((F.col("id") / n_rs).cast("long") - 1),
                            )
                            .otherwise((F.col("id") / n_rs).cast("long"))
                            .cast("string"),
                        ).alias("v"),
                    ),
                    F.struct(
                        F.lit("dwc:recordedBy").alias("k"),
                        F.concat(
                            F.lit("rec-"), F.col("id").cast("string")
                        ).alias("v"),
                    ),
                ).alias("rec"),
            )
        )
        # 180 existing children per recordset: rows 0-179 probe as
        # updates (etag never matches the synthetic content), the rest
        # create; ~30 absentees per recordset become deletes
        lk = (
            spark.range(n_rs * 180)
            .select(
                F.concat(F.lit("rs-"), (F.col("id") % n_rs).cast("string"))
                .alias("rsid"),
                F.lit("rs").alias("scope"),
                F.lit("records").alias("rtype"),
                F.concat(
                    F.lit("rs-"), (F.col("id") % n_rs).cast("string"),
                    F.lit("\\occ-"),
                    (F.col("id") / n_rs).cast("long").cast("string"),
                ).alias("ident"),
                F.concat(F.lit("ex-"), F.col("id").cast("string"))
                .alias("uuid"),
                F.concat(F.lit("etag-"), F.col("id").cast("string"))
                .alias("etag"),
                F.concat(F.lit("rs-"), (F.col("id") % n_rs).cast("string"))
                .alias("parent"),
                F.lit(False).alias("deleted"),
            )
        )
        return rows, lk

    from idb_backend_spark.operators.ingest import (
        ingest_outcomes_relational,
    )

    out = {}
    for tag, n_rs in (("1", base_rs), (str(factor), base_rs * factor)):
        rows, lk = build(n_rs)
        for pname, fn in (
            ("", ingest_subfiles),
            # the giant-recordset relational twin on the SAME shapes —
            # reproducible source of SCALING.md, "Giant-recordset
            # relational path and router"
            ("_rel", ingest_outcomes_relational),
        ):
            res = fn(rows, lk)
            runs = []
            for _ in range(2):
                t0 = time.time()
                res.write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            out[f"t{tag}{pname}"] = min(runs)
            if not pname:
                out[f"rows{tag}"] = res.count()
    out["ratio"] = (
        round(out[f"t{factor}"] / out["t1"], 2) if out["t1"] > 0 else None
    )
    print(
        f"  ingest_subfiles: {out['t1']}s -> {out[f't{factor}']}s "
        f"(x{out['ratio']}); relational {out['t1_rel']}s -> "
        f"{out[f't{factor}_rel']}s",
        file=sys.stderr,
    )
    return out


def probe_neardup_scale(
    spark, f1_dir: str, fN_dir: str, scratch: str, factor: int
) -> dict:
    """The persistent near-dup index's steady-state claim, measured: the
    SAME fixed batch is probed against the factor-1 and factor-N
    corpora's indexes. Build (the once cost) is untimed; the timed probe
    is batch signatures + one broadcast-join scan of the index — no
    corpus shuffle — so probe time should grow far slower than the
    corpus (the index scan is column-pruned and the batch side is
    broadcast; it is NOT claimed O(1): the scan itself grows with the
    index)."""
    from idb_backend_spark.operators import neardup_index as ni

    # batch ids shifted clear of every replica's id band (replicas use
    # +i*10_000_000, so any factor below 10 000 stays clear — the old
    # +900M shift collided with replica 90's band at factor >= 91);
    # replica-0 text, so it genuinely near-matches docs in both corpora
    if factor < 2:
        # both loop tags would be "1": colliding output keys, the second
        # build overwriting the first index, and a self-division ratio
        raise ValueError(f"neardup probe needs factor >= 2, got {factor}")
    batch = (
        spark.read.parquet(f"{f1_dir}/documents.parquet")
        .limit(200)
        .select((F.col("doc_id") + 100_000_000_000).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    out = {}
    for tag, src_dir in (("1", f1_dir), (str(factor), fN_dir)):
        idx = os.path.join(scratch, f"ndidx_{tag}")
        ni.build_neardup_index(
            spark.read.parquet(f"{src_dir}/documents.parquet"),
            "text",
            "doc_id",
            idx,
        )
        probe = ni.probe_neardup_index(batch, "text", "doc_id", idx)
        probe.write.format("noop").mode("overwrite").save()  # warm
        t0 = time.time()
        probe.write.format("noop").mode("overwrite").save()
        out[f"t{tag}"] = round(time.time() - t0, 3)
        out[f"rows{tag}"] = probe.count()
    out["ratio"] = (
        round(out[f"t{factor}"] / out["t1"], 2) if out["t1"] > 0 else None
    )
    print(
        f"  neardup_index_probe: {out['t1']}s -> {out[f't{factor}']}s "
        f"(x{out['ratio']})",
        file=sys.stderr,
    )
    return out


def main() -> int:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else PROBES
    scratch = os.environ.get("SCALE_PROBE_DIR", "/tmp/scale_probe")

    from idb_backend_spark.plans import catalog
    from idb_backend_spark.session import get_spark

    spark = get_spark("scale-probe")
    entries = dict(catalog.Q)
    entries.update(catalog.UNGRADED)

    base = os.path.join(scratch, "f1")
    big = os.path.join(scratch, f"f{factor}")
    needed = set()
    for name in only:
        needed |= PROBE_TABLES.get(name, {"documents"})
    if "documents" in needed:
        build_scaled(spark, src, base, 1)
        build_scaled(spark, src, big, factor)
    if "lineitem" in needed:
        build_scaled_lineitem(spark, src, base, 1)
        build_scaled_lineitem(spark, src, big, factor)
    if "embeddings" in needed:
        build_scaled_embeddings(spark, src, base, 1)
        build_scaled_embeddings(spark, src, big, factor)
    if "events" in needed:
        build_scaled_events(spark, src, base, 1)
        build_scaled_events(spark, src, big, factor)

    results = {}
    if "media_url_discovery" in only:
        only = [n for n in only if n != "media_url_discovery"]
        build_scaled_part(spark, src, base, 1)
        build_scaled_part(spark, src, big, factor)
        results["media_url_discovery"] = probe_discovery_scale(
            spark, base, big, factor
        )
    if "neardup_index_probe" in only:
        only = [n for n in only if n != "neardup_index_probe"]
        results["neardup_index_probe"] = probe_neardup_scale(
            spark, base, big, scratch, factor
        )
    if "ingest_subfiles" in only:
        only = [n for n in only if n != "ingest_subfiles"]
        results["ingest_subfiles"] = probe_ingest_scale(spark, factor)

    for name in only:
        fn = entries[name]
        # warm both paths once at factor 1 so JIT/codegen cost doesn't
        # land on either timed run
        eager = name in EAGER_PROBES
        time_entry(fn, spark, base, eager)
        t1, n1 = time_entry(fn, spark, base, eager)
        tn, nn = time_entry(fn, spark, big, eager)
        results[name] = {
            "t1": t1,
            f"t{factor}": tn,
            "ratio": round(tn / t1, 2) if t1 > 0 else None,
            "rows1": n1,
            f"rows{factor}": nn,
        }
        print(f"  {name}: {t1}s -> {tn}s (x{results[name]['ratio']})",
              file=sys.stderr)

    shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"factor": factor, "src": src, "probes": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
