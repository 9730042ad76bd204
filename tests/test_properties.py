"""Property-based tests (hypothesis) for the deterministic kernels —
going beyond the reference's golden-only strategy (SURVEY §5 notes it has
no property testing). Pure-Python properties run per-example; Spark
comparisons batch all generated cases into one DataFrame so the suite
doesn't pay per-example session round-trips."""

from __future__ import annotations

import json
import uuid

from hypothesis import given, settings
from hypothesis import strategies as st

from idb_backend_spark.export.jobs import DownloadJobManager
from idb_backend_spark.functions.etags import calc_etag, object_hash
from idb_backend_spark.functions.geo import GridGeocoder
from idb_backend_spark.sources.delimited import normalize_delimiter

# ---------------------------------------------------------------------------
# F19 — canonical hashing
# ---------------------------------------------------------------------------

json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**31), max_value=2**31),
    st.text(max_size=40),
)
flat_records = st.dictionaries(st.text(min_size=1, max_size=20), st.text(max_size=40), max_size=8)


@given(flat_records)
@settings(max_examples=200, deadline=None)
def test_calc_etag_is_key_order_invariant(record):
    reordered = dict(reversed(list(record.items())))
    assert calc_etag(record) == calc_etag(reordered)
    # the spec: sha1 of compact JSON of the sorted flattened [k,v,...] array
    import hashlib

    flat = []
    for k in sorted(record):
        flat += [k, record[k]]
    expected = hashlib.sha1(
        json.dumps(flat, separators=(",", ":"), ensure_ascii=False).encode()
    ).hexdigest()
    assert calc_etag(record) == expected


nested_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=10), children, max_size=4),
    ),
    max_leaves=12,
)


@given(nested_values)
@settings(max_examples=200, deadline=None)
def test_object_hash_deterministic_and_type_sensitive(v):
    assert object_hash(v) == object_hash(v)
    # sort_arrays makes list order irrelevant
    if isinstance(v, list):
        assert object_hash(list(reversed(v)), sort_arrays=True) == object_hash(
            v, sort_arrays=True
        )


@given(st.dictionaries(st.text(min_size=1, max_size=10), json_scalars, max_size=6))
@settings(max_examples=100, deadline=None)
def test_params_hash_key_order_invariant(params):
    mgr = DownloadJobManager()
    assert mgr.params_hash(params) == mgr.params_hash(
        dict(reversed(list(params.items())))
    )


# ---------------------------------------------------------------------------
# S2 — delimiter normalization total on 1-char outputs
# ---------------------------------------------------------------------------


@given(
    st.text(min_size=1, max_size=1).filter(
        lambda c: not c.isspace() and c not in "'\""
    )
)
@settings(max_examples=100, deadline=None)
def test_normalize_delimiter_single_char_fixpoint(d):
    # literal whitespace strips to the default (reference behavior: the
    # tab delimiter arrives as the two-char sequence backslash-t); quote
    # chars are wrapper syntax — both excluded from the fixpoint set
    assert normalize_delimiter(d) == d
    # repeated identical chars collapse
    assert normalize_delimiter(d * 3) == d


@given(st.integers(min_value=1, max_value=0x10FFFF - 1))
@settings(max_examples=100, deadline=None)
def test_normalize_delimiter_entity_forms(cp):
    ch = chr(cp)
    try:
        assert normalize_delimiter(f"&#{cp};") == ch
        assert normalize_delimiter(f"&#x{cp:x};") == ch
    except ValueError:
        pass  # chars the strip() removes (whitespace) legitimately reject


# ---------------------------------------------------------------------------
# F7 — grid geocoder: lookup agrees with brute-force box scan
# ---------------------------------------------------------------------------

boxes = st.tuples(
    st.floats(min_value=-179, max_value=170, allow_nan=False),
    st.floats(min_value=-89, max_value=80, allow_nan=False),
    st.floats(min_value=0.5, max_value=9),
    st.floats(min_value=0.5, max_value=9),
)


@given(
    st.dictionaries(st.sampled_from(["AA", "BB", "CC"]), st.lists(boxes, min_size=1, max_size=3), min_size=1),
    st.floats(min_value=-180, max_value=180, allow_nan=False),
    st.floats(min_value=-90, max_value=90, allow_nan=False),
)
@settings(max_examples=150, deadline=None)
def test_grid_geocoder_matches_bruteforce(region_spec, lon, lat):
    regions = {
        code: [(x, y, x + w, y + h) for (x, y, w, h) in bs]
        for code, bs in region_spec.items()
    }
    g = GridGeocoder(regions)
    got = g.lookup(lon, lat)
    brute = None
    for code in regions:  # insertion order, same as geocoder scan order
        if any(x1 <= lon <= x2 and y1 <= lat <= y2 for (x1, y1, x2, y2) in regions[code]):
            brute = code
            break
    assert got == brute


# ---------------------------------------------------------------------------
# Spark-side: uuid5 expression vs Python uuid5, batched into ONE DataFrame
# ---------------------------------------------------------------------------


def test_uuid5_expr_property_batch(spark):
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.enrichment import (
        IDIGBIO_NAMESPACE,
        uuid5_expr,
    )

    import random

    rng = random.Random(7)
    alphabet = "abcXYZ0189 _-:/üé漢字🦜'\"\\"
    names = list(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
            for _ in range(200)
        }
    )
    df = spark.createDataFrame([(n,) for n in names], "n string")
    got = {
        r["n"]: r["u"]
        for r in df.select("n", uuid5_expr(F.col("n")).alias("u")).collect()
    }
    for n in names:
        assert got[n] == str(uuid.uuid5(IDIGBIO_NAMESPACE, n)), repr(n)


def test_point_in_polygon_property_batch(spark):
    """Native unrolled ray-cast vs a pure-Python reference implementation
    over generated convex/concave polygons and probe points."""
    import random

    from pyspark.sql import functions as F

    from idb_backend_spark.query.shim import point_in_polygon

    rng = random.Random(42)

    def py_raycast(lat, lon, poly):
        inside = False
        n = len(poly)
        for i in range(n):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % n]
            if y1 == y2:
                continue
            if ((y1 > lat) != (y2 > lat)) and lon < (lat - y1) * (x2 - x1) / (
                y2 - y1
            ) + x1:
                inside = not inside
        return inside

    for trial in range(5):
        k = rng.randint(3, 8)
        poly = [
            [rng.uniform(-170, 170), rng.uniform(-80, 80)] for _ in range(k)
        ]
        probes = [
            (rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(200)
        ]
        df = spark.createDataFrame(probes, "lat double, lon double")
        got = {
            (r["lat"], r["lon"]): r["hit"]
            for r in df.select(
                "lat", "lon",
                point_in_polygon(F.col("lat"), F.col("lon"), poly).alias("hit"),
            ).collect()
        }
        for lat, lon in probes:
            assert got[(lat, lon)] == py_raycast(lat, lon, poly), (
                trial, lat, lon,
            )


def test_split_assignment_validation_and_cutpoints(spark):
    import pytest as _pytest

    from idb_backend_spark.operators.sampling import split_assignment

    with _pytest.raises(ValueError):
        split_assignment("k", weights=(0.5,), labels=("a", "b", "c"))
    with _pytest.raises(ValueError):
        split_assignment("k", weights=(0.7, 0.3), labels=("a", "b", "c"))
    # a NEGATIVE weight passes the sum check but makes the cut points
    # non-monotonic (an unreachable when-branch -> a silently empty
    # split); it must refuse loudly
    with _pytest.raises(ValueError):
        split_assignment("k", weights=(0.8, -0.1), labels=("a", "b", "c"))
    with _pytest.raises(ValueError):
        split_assignment("k", weights=(0.0, 0.1), labels=("a", "b", "c"))
    # valid spec builds a Column without touching a SparkSession
    col = split_assignment("k", weights=(0.8, 0.1))
    assert col is not None


def test_chunks_from_tokens_rejects_degenerate_overlap(spark):
    import pytest as _pytest

    from pyspark.sql import functions as F

    from idb_backend_spark.functions.text import chunks_from_tokens

    with _pytest.raises(ValueError):
        chunks_from_tokens(F.col("t"), chunk=32, overlap=32)


def test_chunks_cover_tokens_exactly(spark):
    """Reconstruction property: trimming the first `overlap` tokens from
    every chunk after the first and concatenating reproduces the token
    stream exactly — no token lost, none duplicated, for lengths around
    every boundary (empty, < chunk, == chunk, stride multiples, long)."""
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.text import chunks_from_tokens

    lengths = [0, 1, 7, 8, 9, 23, 24, 25, 31, 32, 33, 55, 96, 97, 200]
    rows = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, n in enumerate(lengths)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    staged = df.select("doc_id", F.split("text", " ").alias("__t"))
    for chunk, overlap in [(32, 8), (8, 0), (5, 4)]:
        out = staged.select(
            "doc_id",
            F.explode(chunks_from_tokens(F.col("__t"), chunk, overlap)).alias("c"),
        ).select("doc_id", "c.chunk_id", "c.chunk_text").collect()
        by_doc: dict[int, list] = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_id"], r["chunk_text"])
            )
        for i, n in enumerate(lengths):
            chunks = [t for _, t in sorted(by_doc[i])]
            assert chunks, (chunk, overlap, n)  # >= 1 chunk per doc
            rebuilt: list[str] = []
            for ci, ctext in enumerate(chunks):
                toks = ctext.split(" ") if ctext else [""]
                assert len(toks) <= chunk
                rebuilt.extend(toks if ci == 0 else toks[overlap:])
            expected = [f"w{j}" for j in range(n)] if n else [""]
            assert rebuilt == expected, (chunk, overlap, n, chunks)


def test_deterministic_split_distribution_and_stability(spark):
    """The md5-prefix split is (a) close to the requested fractions over
    many keys and (b) bit-stable under repartitioning — the property
    randomSplit lacks."""
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import deterministic_split

    df = spark.range(10_000).withColumnRenamed("id", "k")
    out = deterministic_split(df, "k")
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["train"] / 10_000 - 0.80) < 0.02
    assert abs(counts["val"] / 10_000 - 0.10) < 0.015
    assert abs(counts["test"] / 10_000 - 0.10) < 0.015

    a = {(r["k"], r["split"]) for r in out.collect()}
    b = {
        (r["k"], r["split"])
        for r in deterministic_split(df.repartition(7), "k").collect()
    }
    assert a == b


def test_split_and_sample_edge_cutpoints(spark):
    """Cut points that round past the byte range must become always/
    never branches, not 3-char hex literals: '100' compares
    lexicographically against a 2-char md5 prefix and matched only ~7%
    of rows where ~99.9% was asked for (the bug this pins)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import (
        deterministic_sample,
        deterministic_split,
    )

    df = spark.range(0, 4096).select(F.col("id"))
    # cumulative weight 0.999 rounds to 256 -> train gets everything
    out = (
        deterministic_split(df, "id", weights=(0.999,), labels=("train", "test"))
        .groupBy("split")
        .count()
        .collect()
    )
    counts = {r["split"]: r["count"] for r in out}
    assert counts.get("train", 0) == 4096, counts
    # a weight below the 1/512 floor labels nothing (never-branch), and
    # the remainder label absorbs those rows
    out2 = (
        deterministic_split(df, "id", weights=(0.0005,), labels=("tiny", "rest"))
        .groupBy("split")
        .count()
        .collect()
    )
    counts2 = {r["split"]: r["count"] for r in out2}
    assert counts2.get("tiny", 0) == 0 and counts2["rest"] == 4096

    # fraction ~1 keeps every row; below-granularity fraction refuses
    assert deterministic_sample(df, "id", 0.999).count() == 4096
    with _pytest.raises(ValueError):
        deterministic_sample(df, "id", 0.001)


def test_mixture_sample_determinism_and_domains(spark):
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import (
        deterministic_sample,
        mixture_sample,
    )

    rows = [(i, ["web", "books", "code"][i % 3]) for i in range(3000)]
    rows += [(9000 + i, None) for i in range(30)]  # null domain bucket
    df = spark.createDataFrame(rows, "id long, domain string")
    frac = {"web": 0.25, "books": 1.0, "code": 0.0}
    out = mixture_sample(df, "domain", "id", frac, default_fraction=1.0)
    got = out.groupBy("domain").count().collect()
    counts = {r["domain"]: r["count"] for r in got}
    assert counts.get("books") == 1000            # fraction 1.0 keeps all
    assert "code" not in counts                   # fraction 0.0 drops all
    assert 150 < counts.get("web", 0) < 350       # ~25% of 1000
    assert counts.get(None) == 30                 # null domain -> default 1.0
    # stable under reruns and equal to the single-domain primitive
    again = mixture_sample(df, "domain", "id", frac, default_fraction=1.0)
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in again.collect()
    )
    web = df.filter(F.col("domain") == "web")
    assert sorted(
        r["id"] for r in out.filter(F.col("domain") == "web").collect()
    ) == sorted(
        r["id"]
        for r in deterministic_sample(web, "id", 0.25).collect()
    )
    with _pytest_raises_value_error():
        mixture_sample(df, "domain", "id", {"web": 1.5})


def _pytest_raises_value_error():
    import pytest as _pytest

    return _pytest.raises(ValueError)


def test_cap_per_domain_matches_single_window_and_twin(spark, sf_dir):
    """The two-level (salted) rank must equal BOTH the plain
    single-window Spark formulation and the DuckDB twin on the real
    documents table — the physical rewrite may not change the kept
    set."""
    import duckdb
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import (
        cap_per_domain,
        cap_per_domain_sql,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        (r["source"], r["doc_id"])
        for r in cap_per_domain(docs, "source", "doc_id", 7).collect()
    )

    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    plain = sorted(
        (r["source"], r["doc_id"])
        for r in docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    )
    assert got == plain

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = sorted(
        (r[0], r[1])
        for r in con.sql(
            "SELECT source, doc_id FROM ("
            + cap_per_domain_sql("documents", "source", "doc_id", 7)
            + ")"
        ).fetchall()
    )
    assert got == want
    # every domain is at its cap (uniform 25-docs-per-source corpus)
    per = {}
    for s, _ in got:
        per[s] = per.get(s, 0) + 1
    assert set(per.values()) == {7}


def test_cap_per_domain_null_domain_and_stability(spark):
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import cap_per_domain

    rows = [(i, "web" if i % 3 else None) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, domain string")
    out = cap_per_domain(df, "domain", "id", 5)
    counts = {
        r["domain"]: r["count"]
        for r in out.groupBy("domain").count().collect()
    }
    # the NULL domain is capped like any other, never dropped
    assert counts == {"web": 5, None: 5}
    # kept set is a pure function of the keys: repartitioning the input
    # must not move the cap boundary
    again = cap_per_domain(df.repartition(17, "id"), "domain", "id", 5)
    assert sorted(r["id"] for r in out.collect()) == sorted(
        r["id"] for r in again.collect()
    )
    with _pytest_raises_value_error():
        cap_per_domain(df, "domain", "id", 0)


def test_pack_sequences_capacity_and_determinism(spark):
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.text import pack_sequences

    # 40 docs x 8 chunks of 10-60 tokens (deterministic sizes)
    rows = [
        (d, c, 10 + (d * 7 + c * 13) % 51)
        for d in range(40)
        for c in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, chunk_id int, n_tok int")
    out = pack_sequences(
        df, "n_tok", ["doc_id", "chunk_id"], seq_len=512, n_shards=4
    )
    assert "bin_id" in out.columns
    rows1 = sorted(tuple(r) for r in out.collect())
    rows2 = sorted(tuple(r) for r in pack_sequences(
        df.repartition(13), "n_tok", ["doc_id", "chunk_id"],
        seq_len=512, n_shards=4,
    ).collect())
    assert rows1 == rows2  # partitioning-independent assignment

    # capacity contract: every bin total in (seq_len - max_chunk,
    # seq_len + max_chunk); boundary (last-per-shard) bins only under
    per_bin = (
        out.groupBy("bin_id").agg(F.sum("n_tok").alias("tot")).collect()
    )
    max_chunk = 60
    shard_last = {}
    for r in per_bin:
        shard = r["bin_id"] >> 40
        shard_last[shard] = max(shard_last.get(shard, -1), r["bin_id"])
    for r in per_bin:
        assert r["tot"] < 512 + max_chunk, r
        if r["bin_id"] != shard_last[r["bin_id"] >> 40]:
            assert r["tot"] > 512 - max_chunk, r

    # a document's chunks never split across shards
    n_shards_per_doc = (
        out.withColumn("shard", (F.col("bin_id") / (1 << 40)).cast("long"))
        .groupBy("doc_id")
        .agg(F.countDistinct("shard").alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    assert n_shards_per_doc == 1


def test_bpe_ish_token_count_goldens(spark):
    # the library's BPE-ish counter: case-folded, digit runs split from
    # letter runs, standalone punctuation counts once
    from idb_backend_spark.functions.text import bpe_ish_token_count

    cases = [
        ("hello world", 2),
        ("don't stop", 4),          # don / ' / t / stop
        ("a1b2", 4),                # a / 1 / b / 2
        ("R2-D2, go!", 8),          # r / 2 / - / d / 2 / , / go / !
        ("  spaced   out  ", 2),
        ("", 0),
        ("...", 3),
        ("Mixed CASE Words", 3),    # case-folded before splitting
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = [
        r[0]
        for r in df.select(bpe_ish_token_count("text")).collect()
    ]
    assert got == [n for _, n in cases]


def test_retired_bpe_entry_regex_goldens(spark):
    # pins the tokenization of the `bpe_token_count` catalog entry
    # retired in round 6 (an inline expression, NOT bpe_ish_token_count:
    # no case fold, alnum runs stay whole) so its semantics — recorded
    # in every prior CORRECTNESS artifact — stay reconstructible
    from pyspark.sql import functions as F

    cases = [
        ("hello world", 2),
        ("don't stop", 4),          # don / ' / t / stop
        ("a1b2", 1),                # one alnum run
        ("R2-D2, go!", 6),          # R2 / - / D2 / , / go / !
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    expr = F.size(
        F.regexp_extract_all("text", F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0)
    )
    got = [r[0] for r in df.select(expr).collect()]
    assert got == [n for _, n in cases]


def test_oracle_builders_escape_and_empty_text():
    # mixture_keep_sql must quote-double domain literals; TOKCNT_SQL
    # must count empty/whitespace-only text as 0 like token_count does
    import duckdb

    from idb_backend_spark.plans import synth

    sql = synth.mixture_keep_sql("d", "k", {"o'reilly": 0.5}, 0.1)
    con = duckdb.connect()
    got = con.sql(
        "SELECT count(*) FROM (VALUES ('o''reilly', 1)) t(d, k) "
        f"WHERE {sql}"
    ).fetchone()[0]
    assert got in (0, 1)  # parses and evaluates; no malformed literal

    for text, want in [("", 0), ("   ", 0), ("a b", 2)]:
        n = con.sql(
            f"SELECT {synth.TOKCNT_SQL} FROM (VALUES ($${text}$$)) t(text)"
        ).fetchone()[0]
        assert n == want, (text, n)


def test_epoch_shuffle_permutation_properties(spark):
    # deterministic across reruns and partitionings; different epochs
    # give different (and near-uncorrelated) orders of the SAME row set
    from idb_backend_spark.operators.sampling import epoch_shuffle

    import pytest as _pytest

    df = spark.createDataFrame([(i,) for i in range(500)], "k long")

    def order(d, epoch):
        return [r[0] for r in epoch_shuffle(d, "k", epoch).collect()]

    e0 = order(df, 0)
    assert order(df, 0) == e0                      # rerun-stable
    assert order(df.repartition(17), 0) == e0      # partitioning-free
    e1 = order(df, 1)
    assert sorted(e0) == sorted(e1) == list(range(500))  # permutations
    assert e0 != e1
    # near-uncorrelated: few fixed points between epochs (expected ~1;
    # allow generous slack), and neither epoch is the identity order
    fixed = sum(a == b for a, b in zip(e0, e1))
    assert fixed < 25
    assert e0 != list(range(500)) and e1 != list(range(500))

    with _pytest.raises(ValueError):
        epoch_shuffle(df, "k", -1)


def test_sampling_builders_match_spark_over_random_fractions(spark):
    """Cross-engine parity sweep: for randomized weights/fractions, the
    generated DuckDB SQL (split_case_sql / mixture_keep_sql) must assign
    every key exactly as the Spark expressions do — including cut points
    that round to the always/never edges."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from idb_backend_spark.operators.sampling import (
        mixture_sample,
        split_assignment,
    )
    from idb_backend_spark.plans import synth

    rng = random.Random(20260814)
    keys = [rng.randrange(10**9) for _ in range(300)]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest($1::BIGINT[]) AS k", [keys]
    )

    for _ in range(8):
        # weights that sum < 1, including near-edge values
        w1 = rng.choice([0.001, 0.2, 0.5, 0.799, 0.996])
        w2 = rng.uniform(0.001, 0.999 - w1)
        weights, labels = (w1, w2), ("train", "val", "test")
        got = {
            r["k"]: r["s"]
            for r in df.select(
                "k", split_assignment("k", weights, labels).alias("s")
            ).collect()
        }
        sql = synth.split_case_sql("k", weights, labels)
        want = dict(con.sql(f"SELECT k, {sql} FROM t").fetchall())
        assert got == want, (weights,)

    for _ in range(8):
        fracs = {
            f"d{i}": rng.choice([0.0, 0.001, 0.25, 0.5, 0.999, 1.0])
            for i in range(rng.randint(1, 4))
        }
        default = rng.choice([0.0, 0.1, 1.0])
        dom = (F.col("k") % 6).cast("string")
        mdf = df.withColumn("dom", F.concat(F.lit("d"), dom))
        kept = {
            r["k"]
            for r in mixture_sample(mdf, "dom", "k", fracs, default).collect()
        }
        pred = synth.mixture_keep_sql("'d' || CAST(k % 6 AS VARCHAR)", "k", fracs, default)
        want = {r[0] for r in con.sql(f"SELECT k FROM t WHERE {pred}").fetchall()}
        assert kept == want, (fracs, default)


def test_marker_hits_matches_hof_filter(spark):
    """The native whole-token marker counter must equal the higher-order
    size(filter(tokens, isin)) form it replaced — over edge texts (empty,
    whitespace, nulls, adjacent markers) and marker words containing
    regex metacharacters (the escaping path)."""
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.text import (
        marker_hits_from_norm,
        normalize_text,
        tokens,
    )

    texts = [
        "the cat and the dog", "THE the The", "", "   ", None,
        "a a a a", "word", "the. and, of", "x the y and z",
        "a.b literal a.b", "c++ c++ d", "don't don't stop",
        "the\tand\nof", "  the  and  ", "ab the", "the",
    ]
    marker_sets = [
        ["the", "and", "of", "a"],
        ["a.b", "c++", "don't"],
        ["the"],
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for words in marker_sets:
        hof = F.size(F.filter(tokens("text"), lambda x: x.isin(words)))
        got = df.select(
            F.coalesce(
                marker_hits_from_norm(normalize_text("text"), words),
                F.lit(-1),
            ).alias("n"),
            F.coalesce(hof, F.lit(-1)).alias("h"),
        ).collect()
        for r, t in zip(got, texts):
            assert r["n"] == r["h"], (words, t, r["n"], r["h"])


def test_batch_topk_equals_per_query_brute_force(spark, sf_dir):
    """ann.batch_topk (broadcast query set + window top-k, one corpus
    scan for the whole batch) must equal the exact per-query brute-force
    ranking — the value contract behind the retired ann_batch_topk
    catalog entry (its plan contract lives in test_plan_properties)."""
    from pyspark.sql import functions as F

    from idb_backend_spark.functions.similarity import cosine_similarity
    from idb_backend_spark.operators.ann import batch_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        (r["query_id"], r["rank"], r["vec_id"], r["cosine"])
        for r in batch_topk(emb, qs, query_id_col="query_id", k=5).collect()
    )
    want = []
    for q in qs.collect():
        rows = (
            emb.select(
                "vec_id",
                F.round(
                    cosine_similarity(
                        F.col("embedding"), F.lit(q["embedding"])
                    ),
                    6,
                ).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), "vec_id")
            .limit(5)
            .collect()
        )
        want.extend(
            (q["query_id"], i + 1, r["vec_id"], r["cosine"])
            for i, r in enumerate(rows)
        )
    assert got == sorted(want) and len(got) == 15


# ---------------------------------------------------------------------------
# r8 kernels — perceptual-hash bit math and the Molodensky shift
# ---------------------------------------------------------------------------


@given(st.lists(st.integers(min_value=0, max_value=255), min_size=72, max_size=72))
@settings(max_examples=200, deadline=None)
def test_phash_dhash_bits_are_the_row_gradient(pixels):
    from idb_backend_spark.functions.multimodal import phash_bits_from_pixels

    v = phash_bits_from_pixels(pixels, "dhash")
    u = v + (1 << 64) if v < 0 else v  # undo the signed-64 fold
    for r in range(8):
        for c in range(8):
            want = pixels[r * 9 + c] > pixels[r * 9 + c + 1]
            assert bool((u >> (r * 8 + c)) & 1) == want, (r, c)


@given(st.lists(st.integers(min_value=0, max_value=255), min_size=64, max_size=64))
@settings(max_examples=200, deadline=None)
def test_phash_ahash_bits_are_the_mean_threshold(pixels):
    from idb_backend_spark.functions.multimodal import phash_bits_from_pixels

    v = phash_bits_from_pixels(pixels, "ahash")
    u = v + (1 << 64) if v < 0 else v
    mean = sum(pixels) / 64.0
    for i, px in enumerate(pixels):
        assert bool((u >> i) & 1) == (px > mean), i
    # a constant grid has NO pixel above its mean: hash is exactly 0
    assert phash_bits_from_pixels([7] * 64, "ahash") == 0


from idb_backend_spark.functions.geo import MOLODENSKY_PARAMS


@given(
    st.sampled_from(sorted(MOLODENSKY_PARAMS)),
    st.floats(min_value=-80.0, max_value=80.0),
    st.floats(min_value=-179.0, max_value=179.0),
)
@settings(max_examples=300, deadline=None)
def test_molodensky_shift_is_bounded_everywhere(datum, lat, lon):
    """Every datum's 3-parameter shift moves any mid-latitude point by a
    physically plausible amount: never more than ~0.05 deg (~5.5 km —
    the largest published mean shifts are hundreds of meters, and the
    1/cos(phi) longitude growth stays bounded below |80| deg). A wrong
    unit (radians for degrees, meters for arcsec) fails by orders of
    magnitude."""
    import math

    from idb_backend_spark.functions.geo import molodensky_shift_py

    glat, glon = molodensky_shift_py(lat, lon, datum)
    assert abs(glat - lat) < 0.05, (datum, lat, lon, glat)
    lon_cap = 0.05 / max(0.17, abs(math.cos(math.radians(lat))))
    assert abs(glon - lon) < lon_cap, (datum, lat, lon, glon)
