"""Persistent near-dup index (operators/neardup_index.py): build / probe
/ add against the batch-tier semantics and the DuckDB exact twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from idb_backend_spark.operators import neardup_index as ni


@pytest.fixture()
def index_dir(tmp_path):
    return str(tmp_path / "ndidx")


def test_probe_finds_planted_dup_not_novel(spark, index_dir):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus document about spark plans"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one token changed)
            (10, "the quick brown fox jumps over the lazy cat tonight"),
            # novel
            (11, "an entirely novel batch document nothing shares shingles"),
        ],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    got = {
        r["new_id"]: r["corpus_id"]
        for r in ni.probe_neardup_index(
            batch, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got == {10: 1}
    exact = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            batch,
            "text",
            "doc_id",
            index_dir,
            threshold=0.5,
            verify="exact",
            corpus=corpus,
        ).collect()
    }
    assert exact == {(10, 1)}


def test_exact_probe_matches_duckdb_twin(spark, sf_dir, index_dir):
    """The exact-verified probe between a %10 batch/corpus split of the
    real documents table equals the true cross-pair set computed by the
    DuckDB twin — LSH recall, shingle hashing, the id inequality, and
    the rounding contract all value-checked."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in ni.probe_neardup_index(
            batch,
            "text",
            "doc_id",
            index_dir,
            threshold=0.5,
            verify="exact",
            corpus=corpus,
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(
            ni.probe_neardup_exact_sql(
                "documents",
                "text",
                "doc_id",
                "doc_id % 10 = 0",
                "doc_id % 10 <> 0",
                3,
                0.5,
            )
        ).fetchall()
    )
    assert got == want
    # the synthetic corpus genuinely contains cross-split near-dups —
    # the probe must have something to find, or this proves nothing
    assert len(got) > 0


def test_add_is_idempotent_and_probed(spark, index_dir):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "iota kappa lambda mu nu xi omicron pi rho")],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    assert ni.add_to_neardup_index(batch, "text", "doc_id", index_dir) == 1
    # a retried batch adds nothing (crash-retry contract)
    assert ni.add_to_neardup_index(batch, "text", "doc_id", index_dir) == 0
    # the added doc is now discoverable: probing a near-copy of it hits
    probe = spark.createDataFrame(
        [(20, "iota kappa lambda mu nu xi omicron pi sigma")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got == {(20, 10)}


def test_probe_never_matches_self(spark, index_dir):
    """A doc probed with an id already in the index never pairs with
    itself — re-checking accepted docs yields only OTHER matches."""
    corpus = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight nine ten"),
            (2, "one two three four five six seven eight nine eleven"),
        ],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            corpus.filter("doc_id = 1"),
            "text",
            "doc_id",
            index_dir,
            threshold=0.5,
        ).collect()
    }
    assert got == {(1, 2)}


def test_probe_plan_broadcasts_batch_not_corpus(spark, sf_dir, index_dir):
    """The scale contract: the batch side is broadcast, the index scan
    is never shuffled into a sort-merge join, and no Python runs."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ni.build_neardup_index(
        docs.filter(F.col("doc_id") % 10 != 0), "text", "doc_id", index_dir
    )
    probe = ni.probe_neardup_index(
        docs.filter(F.col("doc_id") % 10 == 0),
        "text",
        "doc_id",
        index_dir,
        threshold=0.5,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain(mode="formatted")
    text = buf.getvalue()
    assert "BroadcastHashJoin" in text
    assert "CartesianProduct" not in text
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    # WHICH side is broadcast matters: the probe joins
    # idx.join(broadcast(batch)) so the batch must be the BUILD side
    # (BuildRight); a plan that broadcasts the INDEX instead would pass
    # a bare contains-check while inverting the scale contract
    assert "BuildRight" in text and "BuildLeft" not in text


def test_validation_and_meta(spark, index_dir):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide"):
        ni.build_neardup_index(df, "text", "doc_id", index_dir, bands=7)
    ni.build_neardup_index(
        df, "text", "doc_id", index_dir, num_hashes=32, bands=8, seed=7
    )
    assert ni.read_meta(spark, index_dir) == {
        "shingle_k": 3,
        "num_hashes": 32,
        "bands": 8,
        "seed": 7,
        "text_version": ni.TEXT_VERSION,
    }
    with pytest.raises(ValueError, match="verify"):
        ni.probe_neardup_index(df, "text", "doc_id", index_dir, verify="x")
    with pytest.raises(ValueError, match="corpus"):
        ni.probe_neardup_index(
            df, "text", "doc_id", index_dir, verify="exact"
        )


def test_null_text_parity_with_twin(spark, index_dir):
    """NULL text folds to '' on every engine path and in the twin: two
    NULL/'' docs are exact duplicates of each other (jaccard 1.0) on
    BOTH engines, instead of the engine pairing them while the twin's
    NULL-gram join drops them."""
    import duckdb
    import pandas as pd

    rows = [
        (1, None),
        (2, ""),
        (3, "a real document with plenty of distinct tokens here"),
        (10, None),  # batch: NULL — dups of corpus 1 and 2
    ]
    corpus = spark.createDataFrame(rows[:3], "doc_id long, text string")
    batch = spark.createDataFrame(rows[3:], "doc_id long, text string")
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    got = sorted(
        (r["new_id"], r["corpus_id"], r["jaccard"])
        for r in ni.probe_neardup_index(
            batch,
            "text",
            "doc_id",
            index_dir,
            threshold=0.5,
            verify="exact",
            corpus=corpus,
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "docs_tbl", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(
            ni.probe_neardup_exact_sql(
                "docs_tbl", "text", "doc_id",
                "doc_id >= 10", "doc_id < 10", 3, 0.5,
            )
        ).fetchall()
    )
    assert got == want == [(10, 1, 1.0), (10, 2, 1.0)]


def test_add_rejects_duplicate_ids(spark, index_dir):
    corpus = spark.createDataFrame(
        [(1, "seed corpus document")], "doc_id long, text string"
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    dup_batch = spark.createDataFrame(
        [(5, "first text of id five"), (5, "second text of id five")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        ni.add_to_neardup_index(dup_batch, "text", "doc_id", index_dir)


def test_text_version_mismatch_raises(spark, index_dir):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ni.build_neardup_index(df, "text", "doc_id", index_dir)
    # simulate an index built under an older tokenizer generation
    meta_path = index_dir.rstrip("/") + "/meta"
    from pyspark.sql import functions as F

    old = spark.read.parquet(meta_path).withColumn(
        "text_version", F.lit(1)
    )
    old.toPandas().to_parquet(f"{index_dir}/meta_old.parquet")
    import shutil

    shutil.rmtree(meta_path)
    import os

    os.makedirs(meta_path)
    shutil.move(
        f"{index_dir}/meta_old.parquet", f"{meta_path}/part-0.parquet"
    )
    with pytest.raises(ValueError, match="text_version"):
        ni.probe_neardup_index(df, "text", "doc_id", index_dir)


def test_rebuild_swaps_atomically(spark, index_dir):
    """A rebuild with different geometry replaces meta AND rows together
    (staging + rename swap): after the rebuild, probes hash with the new
    geometry and still find matches — no new-meta-over-old-rows skew —
    and no staging/backup dirs are left behind."""
    import os

    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    ni.build_neardup_index(
        corpus, "text", "doc_id", index_dir, num_hashes=32, bands=8
    )
    assert ni.read_meta(spark, index_dir)["num_hashes"] == 32
    probe = spark.createDataFrame(
        [(9, "one two three four five six seven eight nine eleven")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got == {(9, 1)}
    parent = os.path.dirname(index_dir.rstrip("/"))
    leftovers = [
        d for d in os.listdir(parent) if "__staging" in d or "__old" in d
    ]
    assert leftovers == []


def test_compact_preserves_rows_and_probe(spark, index_dir):
    """Compaction is purely physical: after several fragmenting adds,
    the rewritten index has the same row multiset, the same meta, fewer
    (or equal) files, and probes identically."""
    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    for i in range(3):
        batch = spark.createDataFrame(
            [(100 + i, f"batch {i} unique words alpha beta gamma delta")],
            "doc_id long, text string",
        )
        assert ni.add_to_neardup_index(batch, "text", "doc_id", index_dir) == 1
    rows_path = index_dir.rstrip("/") + "/rows"
    before_files = len(spark.read.parquet(rows_path).inputFiles())
    before_rows = sorted(
        (r["id"], r["band"], r["key"])
        for r in spark.read.parquet(rows_path).collect()
    )
    meta_before = ni.read_meta(spark, index_dir)
    after_files = ni.compact_neardup_index(spark, index_dir)
    assert after_files <= before_files
    after_rows = sorted(
        (r["id"], r["band"], r["key"])
        for r in spark.read.parquet(rows_path).collect()
    )
    assert after_rows == before_rows
    assert ni.read_meta(spark, index_dir) == meta_before
    probe = spark.createDataFrame(
        [(9, "one two three four five six seven eight nine eleven")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got == {(9, 1)}
    import os

    parent = os.path.dirname(index_dir.rstrip("/"))
    assert [
        d for d in os.listdir(parent) if "__staging" in d or "__old" in d
    ] == []


def test_add_rejects_null_ids_with_clear_message(spark, index_dir):
    """A single NULL id must be diagnosed as the NULL-id contract
    violation, not misreported as a 'duplicate' (count_distinct ignores
    NULLs, so the naive check would miscount)."""
    corpus = spark.createDataFrame(
        [(1, "seed corpus document")], "doc_id long, text string"
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    null_batch = spark.createDataFrame(
        [(None, "null id document")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL ids"):
        ni.add_to_neardup_index(null_batch, "text", "doc_id", index_dir)


def test_legacy_meta_without_text_version_says_rebuild(spark, index_dir):
    """A meta parquet written before the text_version pin existed must
    reach the rebuild message, not die on the missing column."""
    import pandas as pd

    import os

    meta_path = index_dir.rstrip("/") + "/meta"
    os.makedirs(meta_path)
    pd.DataFrame(
        [
            {
                "shingle_k": 3,
                "num_hashes": 64,
                "bands": 16,
                "seed": 42,
            }
        ]
    ).astype("int32").to_parquet(f"{meta_path}/part-0.parquet")
    with pytest.raises(ValueError, match="rebuild"):
        ni.read_meta(spark, index_dir)


def test_truncated_meta_raises_instead_of_defaulting(spark, index_dir):
    """ONLY text_version may be absent from the meta sidecar; a meta
    missing a geometry column (truncated/corrupt) must fail loudly —
    defaulting num_hashes/bands to 1 would yield a probe that hashes
    nothing like the index and silently misses every duplicate."""
    import os

    import pandas as pd

    meta_path = index_dir.rstrip("/") + "/meta"
    os.makedirs(meta_path)
    pd.DataFrame(
        [{"shingle_k": 3, "bands": 16, "seed": 42, "text_version": 2}]
    ).astype("int32").to_parquet(f"{meta_path}/part-0.parquet")
    with pytest.raises(ValueError, match="num_hashes"):
        ni.read_meta(spark, index_dir)


def test_build_rejects_duplicate_and_null_ids(spark, index_dir):
    """The bootstrap corpus is held to the same id contract as add
    batches: duplicate ids would min-fold both documents' shingles into
    one blended signature matching neither, and NULL ids can never be
    probed or replay-guarded."""
    dup = spark.createDataFrame(
        [(1, "first body of words"), (1, "second body of words")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="duplicate ids"):
        ni.build_neardup_index(dup, "text", "doc_id", index_dir)
    nul = spark.createDataFrame(
        [(None, "null id document")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL ids"):
        ni.build_neardup_index(nul, "text", "doc_id", index_dir)
    # neither attempt may leave a half-built index behind
    import os

    assert not os.path.exists(index_dir)


def test_probe_degrades_to_plain_join_over_broadcast_cap(
    spark, sf_dir, index_dir
):
    """The size gate on the probe's batch side: under the session
    broadcast threshold the batch is broadcast (the steady-state plan,
    asserted by test_probe_plan_broadcasts_batch_not_corpus); over it
    the probe degrades to a plain (band, key) join — same answer, no
    forced 8-KB-per-doc broadcast that a ~1M-doc batch would blow up."""
    import contextlib
    import io

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    small = {
        (r["new_id"], r["corpus_id"], r["est_jaccard"])
        for r in ni.probe_neardup_index(
            batch, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force "batch too big": estimate (n_batch x bands x sig width)
        # is far above 1 KB, so _gate_broadcast must NOT hint broadcast,
        # and AQE (same threshold) must not convert either
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
        probe = ni.probe_neardup_index(
            batch, "text", "doc_id", index_dir, threshold=0.5
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain(mode="formatted")
        text = buf.getvalue()
        assert "BroadcastHashJoin" not in text
        assert "CartesianProduct" not in text
        large = {
            (r["new_id"], r["corpus_id"], r["est_jaccard"])
            for r in probe.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert large == small and len(small) > 0


def test_compact_aborts_on_concurrent_add(spark, index_dir, monkeypatch):
    """The single-writer guard: an add that commits between compaction's
    file-listing snapshot and the swap must abort the swap (staged tree
    deleted, live index — INCLUDING the concurrent add — untouched),
    never silently un-index the added documents."""
    import os

    corpus = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    ni.build_neardup_index(corpus, "text", "doc_id", index_dir)
    racer = spark.createDataFrame(
        [(2, "a concurrent writer lands this batch mid compaction run")],
        "doc_id long, text string",
    )
    real = ni._stage_and_swap

    def add_mid_compaction(spark_, root, write_staging, pre_swap=None):
        # the add commits AFTER compact's snapshot listing (taken before
        # _stage_and_swap is entered) and BEFORE the swap
        assert ni.add_to_neardup_index(
            racer, "text", "doc_id", index_dir
        ) == 1
        return real(spark_, root, write_staging, pre_swap=pre_swap)

    monkeypatch.setattr(ni, "_stage_and_swap", add_mid_compaction)
    with pytest.raises(RuntimeError, match="swap aborted"):
        ni.compact_neardup_index(spark, index_dir)
    monkeypatch.setattr(ni, "_stage_and_swap", real)
    # live index intact: both the bootstrap doc and the racer's doc probe
    spark.catalog.refreshByPath(index_dir.rstrip("/") + "/rows")
    probe = spark.createDataFrame(
        [(9, "a concurrent writer lands this batch mid compaction too")],
        "doc_id long, text string",
    )
    got = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got == {(9, 2)}
    parent = os.path.dirname(index_dir.rstrip("/"))
    assert [d for d in os.listdir(parent) if "__staging" in d] == []
    # with the writer stopped, the retried compaction succeeds and the
    # racer's rows survive the rewrite
    ni.compact_neardup_index(spark, index_dir)
    got2 = {
        (r["new_id"], r["corpus_id"])
        for r in ni.probe_neardup_index(
            probe, "text", "doc_id", index_dir, threshold=0.5
        ).collect()
    }
    assert got2 == {(9, 2)}


def test_broadcast_bytes_cap_parses_spark_size_forms(spark):
    """Every size syntax Spark accepts for autoBroadcastJoinThreshold
    must parse in the session's broadcast gate (session._gate_broadcast,
    shared by the probe, the replay guard and the PQ query panel): bare
    int, bare-bytes 'b' suffix, k/m/g with and without trailing 'b' —
    a frame of exactly the cap broadcasts, one byte more does not — and
    -1 (broadcast disabled: nothing is force-broadcast)."""
    from idb_backend_spark.session import _gate_broadcast

    df = spark.range(1)

    def hinted(est_bytes: int) -> bool:
        gated = _gate_broadcast(df, est_bytes, spark)
        return "broadcast" in gated._jdf.queryExecution().logical().toString()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    cases = [
        ("10485760", 10485760),
        ("10485760b", 10485760),
        ("10m", 10 << 20),
        ("10MB", 10 << 20),
        ("1g", 1 << 30),
        ("512k", 512 << 10),
        ("-1", -1),
    ]
    try:
        for raw, want in cases:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", raw)
            if want < 0:
                assert not hinted(0), raw
            else:
                assert hinted(want) and not hinted(want + 1), raw
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_probe_empty_batch_yields_empty_result(spark, index_dir):
    """An empty ingest batch probes to an empty match frame on both
    verify paths — no division, no broadcast of nothing blowing up
    (the r9 two-stage probe checkpoints the empty signature frame and
    sizes its gates from a zero count)."""
    docs = spark.createDataFrame(
        [(i, f"some shared text body number {i % 3}") for i in range(30)],
        "doc_id long, text string",
    )
    ni.build_neardup_index(docs, "text", "doc_id", index_dir)
    empty = spark.createDataFrame([], "doc_id long, text string")
    est = ni.probe_neardup_index(empty, "text", "doc_id", index_dir)
    assert est.count() == 0
    assert est.columns == ["new_id", "corpus_id", "est_jaccard"]
    exact = ni.probe_neardup_index(
        empty, "text", "doc_id", index_dir, verify="exact", corpus=docs
    )
    assert exact.count() == 0


def test_signature_equals_duplicate_keeping_reference(spark):
    """Lane minima do not depend on repeated shingles: the signature
    folded from the distinct shingle frame equals one folded from
    duplicate-keeping shingles (computed inline below), so an index
    whose rows were hashed from duplicate-keeping shingles still probes
    the same. The corpus has repeated phrases, documents shorter than
    k tokens and NULL text (through the index's own NULL fold)."""
    import random

    from idb_backend_spark.functions.similarity import MERSENNE_P, _hash_params
    from idb_backend_spark.functions.text import normalize_text, tokens
    from idb_backend_spark.operators.dedup import _shingle_df, minhash_signatures

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, " ".join(rng.choices(words, k=rng.randint(3, 30))))
        for i in range(60)
    ]
    rows += [
        (100, "to be or not to be to be or not to be"),
        (101, "la la la la la la la la"),
        (102, "one two"),
        (103, "single"),
        (104, ""),
        (105, None),
        (106, "   "),
    ]
    k, nh, seed = 3, 16, 42
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs = ni._null_safe(docs, "text")

    got = minhash_signatures(_shingle_df(docs, "text", "doc_id", k), nh, seed)

    staged = docs.select(
        F.col("doc_id").alias("id"),
        tokens("text").alias("t"),
        normalize_text("text").alias("norm"),
    )
    n = F.size("t")
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at("t", (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    dup_sh = F.when(n >= k, windows).otherwise(F.array("norm"))
    hashed = staged.select("id", F.explode_outer(dup_sh).alias("g")).select(
        "id", F.pmod(F.xxhash64("g"), F.lit(MERSENNE_P)).alias("h")
    )
    ref = hashed.groupBy("id").agg(
        *[
            F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_P))).alias(
                f"m{j}"
            )
            for j, (a, b) in enumerate(_hash_params(nh, seed))
        ]
    )
    lanes = [f"m{j}" for j in range(nh)]
    # the reference really holds repeated shingles for the repeated phrases
    assert staged.filter(F.size(dup_sh) > F.size(F.array_distinct(dup_sh))).count() >= 2
    assert sorted(got.select("id", *lanes).collect()) == sorted(
        ref.select("id", *lanes).collect()
    )
    assert got.count() == len(rows)
