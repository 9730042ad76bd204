"""Deduplication operators for training-data pipelines.

Four tiers, increasing recall / cost:
  exact          — hash groupBy on a content fingerprint (one shuffle)
  ngram_jaccard  — exact Jaccard on shingle sets via an inverted-index
                   self-join (no pairwise cross product: pairs only form
                   when they share a shingle)
  minhash_lsh    — MinHash signatures + banded LSH bucketing; candidate
                   pairs only within buckets, verified by signature
                   similarity. The 100 TB path: cost is O(n · sig) + bucket
                   joins, never O(n²).
  simhash        — 64-bit fingerprints; near-dups = small Hamming distance,
                   bucketed by fingerprint chunks (pigeonhole: two fingerprints
                   within distance d share at least one of d+1 chunks).

The MinHash contract is defined once here and shared by the in-frame
tiers and the persistent index (operators/neardup_index.py), so an
incremental probe scores exactly like the batch pass:
  _shingle_df           (id, sh) word shingles off staged tokens
  _band_structs         the band geometry check and the (band, key) hash
  _band_rows            (id, band, key, ...) rows, one per document band
  _lanes                the m0..m{n-1} signature lanes as one array
  _estimate_verified    lane-agreement estimate, rounded and thresholded
  _exact_verified       exact shingle-set Jaccard verify of candidates
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from idb_backend_spark.functions.similarity import (
    hamming64,
    simhash64,
)
from idb_backend_spark.functions.text import (
    fingerprint,
    normalize_text,
    shingles_from_tokens,
    tokens,
)
from idb_backend_spark.session import spread_for_compute


def _shingle_df(
    df: DataFrame, text_col: str, id_col: str, k: int, distinct: bool = True
) -> DataFrame:
    """(id, sh) with tokenization staged through projection boundaries so
    the shingle window reads attributes, not re-evaluated expressions."""
    staged = spread_for_compute(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id"),
        tokens(text_col).alias("__t"),
        normalize_text(text_col).alias("__norm"),
    )
    return staged.select(
        "id",
        shingles_from_tokens(F.col("__t"), F.col("__norm"), k, distinct).alias(
            "sh"
        ),
    )


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup groups: one row per distinct content fingerprint with
    the keeper (min id) and the duplicate count."""
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup_keep_first(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_cols: list[str] | None = None,
    norm_col: str | None = None,
) -> DataFrame:
    """The filtered corpus: keep the min-id representative of each group.

    Single pass: a whole-partition window min over the content
    fingerprint marks each group's keeper — ONE exchange on the
    fingerprint and one scan of ``df``, where the former
    aggregate-then-semi-join formulation scanned (and re-evaluated any
    upstream enrichment expressions of) ``df`` twice.

    ``keep_cols`` (project before the exchange): the
    output columns the CALLER actually consumes downstream. When given,
    the fingerprint is computed map-side and only ``keep_cols`` cross
    the dedup exchange — in particular the document text itself stays
    out of the shuffle, which at corpus scale is the dominant byte
    saving (the text is only needed to COMPUTE the fingerprint, never
    to pick or carry the keeper). sf0.1 A/B on the curation pipeline:
    1.521 s -> 1.290 s min-of-3, identical rows. Default None keeps
    every column (the generic contract).

    ``norm_col``: a caller that already staged
    ``normalize_text(text_col)`` as a column passes it here so the
    fingerprint md5 reads it instead of re-running the normalize chain
    (fingerprint == md5(normalize_text) by construction, and
    normalize_text is idempotent, so the two spellings are
    value-identical)."""
    from pyspark.sql import Window

    from idb_backend_spark.functions.text import fingerprint_from_norm

    out_cols = list(df.columns) if keep_cols is None else list(keep_cols)
    if id_col not in out_cols:
        raise ValueError(f"keep_cols must include id_col {id_col!r}")
    # fail loudly up front: a keep_cols entry absent from the frame
    # would be silently dropped by the staged select and only surface
    # as an opaque AnalysisException at the final select; a missing
    # norm_col would likewise fail far from its cause
    missing = [c for c in out_cols if c not in df.columns]
    if missing:
        raise ValueError(f"keep_cols not in df.columns: {missing}")
    if norm_col is not None and norm_col not in df.columns:
        raise ValueError(f"norm_col {norm_col!r} not in df.columns")
    fp = (
        fingerprint_from_norm(F.col(norm_col))
        if norm_col is not None
        else fingerprint(text_col)
    )
    staged = df.select(
        *[c for c in df.columns if c in out_cols],
        fp.alias("__fp"),
    )
    w = Window.partitionBy("__fp")
    return (
        staged.withColumn("__keep", F.min(id_col).over(w))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
        .select(*out_cols)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Inverted-index pattern: explode distinct shingles, self-join on the
    shingle (pairs form only via shared shingles), count shared, then
    |A∪B| = |A| + |B| - shared. Output: (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.
    """
    sh = _shingle_df(df, text_col, id_col, k)
    # explode_outer, not explode: InferFiltersFromGenerate would add a
    # size(sh) > 0 filter and push it below the projection boundaries,
    # re-inlining the whole shingle expression per row (measured 7x cost).
    # Shingle arrays are never empty (whole-text fallback), so they are
    # semantically identical here.
    inv = sh.select("id", F.explode_outer("sh").alias("g"))
    # sizes DERIVED from the inverted index (shingles are distinct per
    # id, so count == set size): deriving from `sh` directly would make
    # the unmaterialized shingle computation a second full-corpus scan
    sizes = inv.groupBy("id").agg(F.count(F.col("g")).alias("sz"))
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), on="g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("shared")
            / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, m0..m{n-1}) MinHash signature lanes.

    Signature as ONE hash aggregation: explode the shingles to an inverted
    index, hash each shingle once, then take per-lane min() aggregates.
    Map-side partial aggregation makes this a single bounded shuffle keyed
    by doc id — the formulation that survives 100 TB (the nested 64-lane
    array-expression alternative falls out of codegen and runs interpreted,
    ~20x slower measured at sf0.1).

    explode_outer: see ngram_jaccard_pairs — avoids the inferred size()>0
    filter that re-inlines the shingle expression. distinct=False: lane
    mins are duplicate-insensitive, so array_distinct is pure overhead.
    """
    from idb_backend_spark.functions.similarity import MERSENNE_P, _hash_params

    params = _hash_params(num_hashes, seed)
    inv = (
        _shingle_df(df, text_col, id_col, shingle_k, distinct=False)
        .select("id", F.explode_outer("sh").alias("g"))
        .select("id", F.pmod(F.xxhash64("g"), F.lit(MERSENNE_P)).alias("h"))
    )
    lane_aggs = [
        F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(MERSENNE_P))).alias(
            f"m{j}"
        )
        for j, (a, b) in enumerate(params)
    ]
    return inv.groupBy("id").agg(*lane_aggs)


def _band_structs(num_hashes: int, bands: int) -> list[Column]:
    """(band, key) struct columns off a signature frame's lane columns —
    the ONE band-key definition, shared by the in-frame candidate kernel
    below and the persistent index (operators/neardup_index.py), so an
    index built today and a probe compiled tomorrow hash identically.

    Raises on a geometry where ``bands`` does not evenly divide
    ``num_hashes``: bands > num_hashes makes every band key empty (a
    silent O(n^2) cross product); a non-divisor silently drops trailing
    lanes and quietly lowers recall below the configured width."""
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    return [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{bi * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                )
            ).alias("key"),
        )
        for bi in range(bands)
    ]


def _band_rows(
    sig: DataFrame, num_hashes: int, bands: int, *carry: Column
) -> DataFrame:
    """(id, band, key, *carry) off a signature frame: one row per
    (document, band). The in-frame candidate self-join, the index rows
    and the probe's batch keys are all this projection."""
    rows = sig.select(
        "id",
        F.explode(F.array(*_band_structs(num_hashes, bands))).alias("bk"),
        *carry,
    )
    return rows.select("id", "bk.*", *rows.columns[2:])


def _lanes(num_hashes: int) -> Column:
    """A signature frame's m0..m{n-1} lane columns as one array."""
    return F.array(*[F.col(f"m{j}") for j in range(num_hashes)])


def _estimate_verified(
    pairs: DataFrame, a: str, b: str, num_hashes: int, threshold: float
) -> DataFrame:
    """(a, b, est_jaccard) for the pairs whose signatures, carried as
    lane arrays ``sig_a``/``sig_b``, agree on at least ``threshold`` of
    their lanes. The estimate is rounded to 6 dp and the threshold
    applies to the rounded value."""
    agree = F.zip_with("sig_a", "sig_b", lambda x, y: x == y)
    est = F.size(F.filter(agree, lambda m: m)) / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select(a, b, "est_jaccard")
    )


def _exact_verified(
    pairs: DataFrame,
    a: str,
    sh_a: DataFrame,
    b: str,
    sh_b: DataFrame,
    threshold: float,
    hint: str | None = None,
) -> DataFrame:
    """(a, b, jaccard) for the candidate ``pairs`` whose true shingle-set
    Jaccard reaches ``threshold``; ``sh_a``/``sh_b`` are (id, sh) frames
    for the ids in column ``a``/``b``.

    The filter is on the EXACT ratio and the rounding is for display
    only — matching ngram_jaccard_pairs and the shared exact-Jaccard SQL
    oracle (synth.EXACT_JACCARD_SQL); thresholding the rounded value
    admits pairs in [threshold - 5e-7, threshold) the oracle drops.

    The in-frame tiers pass ``hint="shuffle_hash"``: broadcasting a
    shingle side re-evaluates the shingle pass once PER SIDE; as shuffle
    joins the two sh subplans share one Exchange (the second is a
    ReusedExchange), so the corpus is shingled once. At scale the
    shingle table is corpus-sized — never broadcastable."""

    def side(sh: DataFrame, key: str, col: str) -> DataFrame:
        renamed = sh.withColumnsRenamed({"id": key, "sh": col})
        return renamed.hint(hint) if hint else renamed

    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        pairs.join(side(sh_a, a, "sh_a"), a)
        .join(side(sh_b, b, "sh_b"), b)
        .filter(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select(a, b, "jaccard")
    )


def _minhash_candidate_pairs(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Banded LSH candidate generation from a signature frame — the ONE
    candidate kernel both the signature-verified (`minhash_lsh_pairs`)
    and exact-verified (`minhash_exact_verified_pairs`) tiers use. Band
    keys straight off the lane columns; candidates carry only ids, and
    the self-join keys on (band, key) so the shuffle is bounded by
    bucket sizes, not n²."""
    banded = _band_rows(sig, num_hashes, bands)
    # SHUFFLE_HASH (the hamming_pairs rationale): the default
    # broadcast of one banded side re-executes the ENTIRE signature
    # subtree (a full shingle+minhash pass over the corpus) to build the
    # broadcast — exchange reuse only fires when both sides plan the
    # identical Exchange(band, key). With the hint the second side is a
    # ReusedExchange; at scale the banded side IS the corpus and was
    # never broadcastable anyway.
    return (
        banded.alias("a")
        .join(banded.alias("b").hint("shuffle_hash"), on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH candidate generation + signature-similarity verification.

    Returns (id_a, id_b, est_jaccard) for candidate pairs whose estimated
    Jaccard (fraction of matching signature lanes) >= threshold. Candidates
    only form inside LSH buckets: the self-join key is (band, band_hash), so
    the shuffle is bounded by bucket sizes, not n².
    """
    # Materialize the signature once: it feeds the banded self-join AND both
    # verification joins; without this the shingle+agg subtree re-runs per
    # consumer when exchange reuse misses. 5k-row/64-col signatures are tiny
    # relative to the corpus, and at scale this is the natural
    # persist-the-sketch point anyway.
    sig = minhash_signatures(
        df, text_col, id_col, shingle_k, num_hashes, seed
    ).localCheckpoint(eager=False)

    cand = _minhash_candidate_pairs(sig, num_hashes, bands)

    # Verify candidates by signature-lane agreement (only candidate pairs
    # rejoin the signatures — a tiny fraction of n²).
    sig_arr = sig.select("id", _lanes(num_hashes).alias("sig"))
    fetched = cand.join(
        sig_arr.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a"
    ).join(sig_arr.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
    return _estimate_verified(fetched, "id_a", "id_b", num_hashes, threshold)


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Pigeonhole bucketing: split the 64-bit fingerprint into max_hamming+1
    chunks; any pair within the radius agrees on >=1 chunk, so the
    self-join runs per chunk value — no cross product.
    """
    # coalesce marks fp non-nullable (the UDF never returns null — an
    # empty/None token list already fingerprints to 0), so the radius
    # term in hamming_pairs' join condition cannot infer an
    # isnotnull(fp) filter: that inferred filter pushes through the
    # banded projection and the spread exchange and re-evaluates the
    # whole hashing UDF a second time below it (observed as 2x
    # ArrowEvalPython when the radius
    # filter moved ahead of the dedup).
    fp = spread_for_compute(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id"),
        F.coalesce(simhash64(tokens(text_col)), F.lit(0)).alias("fp"),
    )
    return hamming_pairs(fp, max_hamming)


def hamming_pairs(fp: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pigeonhole Hamming self-join over ANY (id, fp) 64-bit fingerprint
    frame — the bucketing kernel simhash_pairs (text) and the image
    perceptual-hash tier (functions/multimodal.image_neardup_pairs)
    share, so one fingerprint family's fix cannot drift from the
    other's. Output (id_a, id_b, hamming) with id_a < id_b and
    hamming <= max_hamming."""
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    if max_hamming < 0 or chunk_bits < 1:
        # chunk_bits=0 (radius >= 64) makes every bucket key the
        # constant 0 — a silent replicated O(n^2) cross product. Refuse
        # loudly, the same misconfiguration guard the minhash twin
        # applies to its bands. (Radii 16-31 leave 2-3 bit keys — 4-8
        # buckets: functional, but the self-join degrades toward
        # O(n^2/buckets); prefer minhash for wide radii at scale.)
        raise ValueError(
            f"max_hamming={max_hamming} leaves {chunk_bits}-bit chunk "
            "keys (64 // (max_hamming+1)); radii above 63 are "
            "unsatisfiable with a 64-bit fingerprint"
        )
    keys = []
    for i in range(n_chunks):
        if chunk_bits >= 64:
            keys.append(F.col("fp"))  # radius 0: whole fingerprint
        else:
            keys.append(
                F.shiftrightunsigned(
                    F.col("fp"), i * chunk_bits
                ).bitwiseAND(F.lit((1 << chunk_bits) - 1))
            )
    # ONE evaluation of the fingerprint column, then posexplode the
    # chunk keys. The former union-of-n_chunks selects re-evaluated the
    # upstream fp plan once PER BRANCH per join side — with a pandas-UDF
    # fingerprint (simhash64 / image_phash) that was 2x(max_hamming+1)
    # full hashing passes over the corpus; this shape does one per side
    # (and AQE's ReusedExchange collapses the identical sides):
    # simhash_pairs wall at sf0.1 dropped ~3x.
    banded = fp.select(
        "id", "fp", F.posexplode(F.array(*keys)).alias("chunk", "ckey")
    )
    # SHUFFLE_HASH hint: the planner's default for
    # this self-join is a BroadcastHashJoin of one banded side — which
    # re-executes the ENTIRE fingerprint subtree (the pandas-UDF hashing
    # pass over the whole corpus) a second time to build the broadcast,
    # because exchange reuse can only fire on identical Exchange nodes
    # and the broadcast side has none. Forcing a shuffled hash join puts
    # the SAME Exchange(hashpartitioning(chunk, ckey)) on both sides, so
    # the second side becomes a ReusedExchange and the fingerprint UDF
    # runs ONCE per materialization (2x ArrowEvalPython -> 1x +
    # ReusedExchange, pinned by tests/test_plan_properties.py::
    # test_hamming_pairs_single_fingerprint_evaluation; sf0.1 A/B
    # min-of-3 1.445 s -> 1.046 s). At scale the broadcast was wrong
    # anyway: the banded side IS the corpus, far over any broadcast
    # cap, and the bucketed equi-join is exactly the shape AQE
    # skew-split handles.
    # Hot-key evidence (SCALING.md, "Hot-key skew evidence for the
    # SHUFFLE_HASH self-joins"): measured at 4x the bench corpus with
    # ONE chunk key holding 10%/30% of all rows — completes, wall
    # tracks the inherent n^2 pair output, build memory is the hot
    # group's (id, fp) rows; a group large enough to break the build
    # is an exact-duplicate flood the upstream exact dedup tier removes
    # (and its pair OUTPUT would be the real failure under any
    # strategy). Salting fallback documented there.
    return (
        banded.alias("a")
        .join(banded.alias("b").hint("shuffle_hash"), on=["chunk", "ckey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        # Radius filter BEFORE the dedup exchange:
        # hamming is a pure function of the pair, so filter-then-dedup
        # == dedup-then-filter — but chunk collisions are overwhelmingly
        # FAR pairs (sf0.1: 250,557 collision rows vs 902 within radius,
        # 278x), and dedup-first would shuffle all of them into the
        # dropDuplicates aggregation just to discard them after.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_bands: int = 16,
    band_bits: int | None = None,
    target_bucket_rows: int = 1024,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup via BANDED random-hyperplane LSH
    (AND-OR construction, same shape as `minhash_lsh_pairs`).

    Each of ``n_bands`` bands hashes the vector to the sign pattern of
    ``band_bits`` seeded random projections; a pair becomes a candidate
    when it agrees on ALL bits of ANY band (AND within band raises
    precision, OR across bands raises recall). Exact cosine runs on
    candidates only.

    Scale sizing: a band partitions the corpus into ~2^band_bits buckets,
    so the within-band self-join cost is n_bands · Σ(bucket²) with
    expected bucket width n/2^band_bits. ``band_bits=None`` auto-sizes to
    keep that width ≈ ``target_bucket_rows`` (one count() job); pass it
    explicitly to pin the layout. This replaces the single-band variant
    whose fixed 2^n_planes buckets degraded toward O(n²/buckets) as the
    corpus grew.
    """
    import math

    import numpy as np

    from idb_backend_spark.functions.similarity import cosine_similarity

    # null vectors cannot hash or score — drop them up front, so a
    # single stray null row can never disable dedup for the corpus (the
    # old unfiltered .first() probe read whatever row the plan surfaced
    # first: a null-vector head made dim None and the empty-input
    # early-return fired, silently returning ZERO pairs)
    vec_rows = df.filter(F.col(vec_col).isNotNull())
    first = vec_rows.select(F.size(vec_col).alias("d")).first()
    if first is None or first["d"] is None:
        # genuinely empty input: the empty pair frame must carry the
        # SAME id type as the non-empty output or a downstream union of
        # per-slice results fails only on the empty slice
        id_t = df.schema[id_col].dataType.simpleString()
        return df.sparkSession.createDataFrame(
            [], f"id_a {id_t}, id_b {id_t}, cosine double"
        )
    dim = first["d"]
    if band_bits is None:
        n = vec_rows.count()
        band_bits = max(2, math.ceil(math.log2(max(2.0, n / target_bucket_rows))))
    rng = np.random.RandomState(seed)
    planes = rng.standard_normal((n_bands * band_bits, dim))

    base = vec_rows.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))

    def _sign(p: int) -> Column:
        dot = F.aggregate(
            F.zip_with(
                F.col("v"),
                F.array(*[F.lit(float(x)) for x in planes[p]]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (dot >= 0).cast("int")

    band_cols = []
    for bi in range(n_bands):
        bits = [
            _sign(bi * band_bits + j) * (2 ** j) for j in range(band_bits)
        ]
        band_cols.append(sum(bits[1:], bits[0]).alias(f"__band_{bi}"))
    # one projection pass; the exploded frame carries (id, band, bucket)
    # only — vectors do NOT replicate across bands
    sigs = base.select("id", *band_cols)
    slim = sigs.select(
        "id",
        F.posexplode(
            F.array(*[F.col(f"__band_{i}") for i in range(n_bands)])
        ).alias("band", "bucket"),
    )
    cand = (
        slim.alias("a")
        .join(slim.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def minhash_exact_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidate generation with EXACT-Jaccard verification.

    The sketch prunes the pair space (bounded banded self-join, no n²);
    the surviving candidates are verified against the true shingle-set
    Jaccard, so the output is a SUBSET of `ngram_jaccard_pairs` at the
    same (k, threshold) — equal to it exactly when the LSH bands recall
    every true pair. That containment is what makes this operator
    oracle-checkable: an exact-SQL oracle computes the true pair set, and
    any hash mismatch is a real recall loss in the sketch tier.
    """
    # candidate generation ONLY, not minhash_lsh_pairs at threshold=0.0:
    # that would pay two signature-array joins and a per-pair
    # lane-agreement computation whose filter passes everything; the
    # exact-Jaccard verify below re-joins shingles anyway
    sig = minhash_signatures(df, text_col, id_col, shingle_k, num_hashes, seed)
    cand = _minhash_candidate_pairs(sig, num_hashes, bands)
    sh = _shingle_df(df, text_col, id_col, shingle_k)
    return _exact_verified(
        cand, "id_a", sh, "id_b", sh, threshold, hint="shuffle_hash"
    )


def simhash_exact_verified_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 10,
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """SimHash candidate generation with EXACT-Jaccard verification — the
    simhash mirror of `minhash_exact_verified_pairs`.

    The pigeonhole-bucketed simhash radius prunes the pair space; the
    surviving candidates are verified against the true shingle-set
    Jaccard, so the output is a SUBSET of `ngram_jaccard_pairs` at the
    same (k, threshold) — equal to it exactly when every true pair lies
    within ``max_hamming`` of the 64-bit fingerprints. That containment
    makes the simhash tier oracle-checkable: an exact-SQL oracle computes
    the true pair set, and any hash mismatch is a genuine radius/recall
    loss in the sketch (true near-dups landing farther than
    ``max_hamming`` apart in simhash space).
    """
    cand = simhash_pairs(
        df, text_col, id_col, max_hamming=max_hamming
    ).select("id_a", "id_b")
    sh = _shingle_df(df, text_col, id_col, shingle_k)
    return _exact_verified(
        cand, "id_a", sh, "id_b", sh, threshold, hint="shuffle_hash"
    )


def duplicate_clusters(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    vertex_col: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs -> (id, cluster) where
    ``cluster`` is the minimum member id — the step that turns pairwise
    LSH/SimHash output into dedup groups.

    Iterative min-label propagation: each round every vertex takes the min
    of its own label and its neighbors' labels; converged when no label
    changes. Rounds needed = graph diameter (near-dup graphs are shallow —
    dup clusters are cliques or short chains, so 3-5 rounds typical).

    Scale notes: each round is one shuffle (join on vertex) + one
    aggregation; ``localCheckpoint`` truncates the lineage so round N's
    plan doesn't replay rounds 1..N-1 (without it the plan doubles per
    round and the job dies at ~15 iterations). The convergence probe is a
    count over changed labels only.

    Raises ``RuntimeError`` if labels are still changing after
    ``max_iterations`` rounds — silently returning unconverged labels
    would split one duplicate cluster into several "canonical" copies.
    Raise ``max_iterations`` (rounds needed = graph diameter) if a
    legitimate long-chain graph trips this.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    if vertices is not None:
        if vertex_col is None:
            if len(vertices.columns) != 1:
                # a silent positional columns[0] guess over a wide frame
                # would propagate labels over the WRONG column (e.g. the
                # text body) and return garbage clusters with no error
                raise ValueError(
                    "vertices has multiple columns "
                    f"({vertices.columns}); pass vertex_col to name the "
                    "id column"
                )
            vertex_col = vertices.columns[0]
        verts = vertices.select(F.col(vertex_col).alias("id")).distinct()
    else:
        verts = sym.select(F.col("src").alias("id")).distinct()
    labels = verts.select("id", F.col("id").alias("cluster"))
    sym = sym.localCheckpoint()

    changed = 0  # max_iterations=0 must raise the documented RuntimeError
    for _ in range(max_iterations):
        neighbor_min = (
            labels.join(sym, labels["id"] == sym["src"])
            .groupBy("dst")
            .agg(F.min("cluster").alias("nmin"))
            .withColumnRenamed("dst", "id")
        )
        updated = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nmin"), F.col("cluster"))
                ).alias("new_cluster"),
                F.col("cluster"),
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("new_cluster") != F.col("cluster")).count()
        labels = updated.select("id", F.col("new_cluster").alias("cluster"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iterations} rounds "
        f"({changed} labels still changing); the component diameter "
        "exceeds max_iterations — raise it"
    )


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates: keep one row per cluster (the minimum id — a
    deterministic canonical choice). Rows not in any pair survive
    untouched; only clustered non-canonical rows are removed."""
    clusters = duplicate_clusters(pairs, id_a=id_a, id_b=id_b)
    losers = clusters.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def benchmark_contamination(
    train: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Decontamination check: training docs sharing >= ``min_shared``
    distinct word-``k``-shingles with ANY benchmark document — the
    train-eval overlap audit every LLM data pipeline runs before
    training (no counterpart in the reference; training-data extension
    tier).

    Returns (id, n_shared) for flagged training docs. Scale shape: the
    benchmark side is orders of magnitude smaller than the corpus, so
    its distinct shingle set is BROADCAST — the training side streams
    through a broadcast hash join with no shuffle of the corpus; the
    only exchange aggregates (id, shingle) hits, bounded by matches,
    not corpus size.
    """
    bsh = (
        _shingle_df(bench, text_col, id_col, k)
        .select(F.explode("sh").alias("sh"))
        .distinct()
    )
    tsh = _shingle_df(train, text_col, id_col, k).select(
        "id", F.explode("sh").alias("sh")
    )
    return (
        tsh.join(F.broadcast(bsh), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 8,
) -> DataFrame:
    """Exact substring-level dedup — remove REPEATED SPANS, not whole
    documents (the within-corpus repetition the document tiers cannot
    touch: boilerplate headers, license blocks, templated paragraphs
    pasted across otherwise-distinct documents; cf. the suffix-array
    substring dedup literature — this is the windowed approximation a
    distributed engine can run).

    Rule: hash every ``window``-token span (stride 1). The GLOBAL first
    occurrence of each distinct span — ordered by (doc, position) — is
    canonical; tokens covered by any OTHER occurrence are removed,
    EXCEPT tokens that a canonical span also covers (self-overlapping
    repeats like 'a a a a ...' would otherwise eat the canonical copy
    back to a single token). Overlapping duplicate spans merge through
    the position set. Documents shorter than ``window`` have no spans
    and keep all their tokens.

    Output: (id, clean_text, n_removed) for EVERY input document; a
    fully-boilerplate document comes back with clean_text '' rather
    than vanishing, and NULL text is treated as '' (clean_text '',
    n_removed 0) so every row stays usable downstream. clean_text is
    the kept tokens of the NORMALIZED stream re-joined (lowercased,
    whitespace-collapsed — `tokens()`, the same canonical form every
    dedup tier hashes); span hashing and text rebuild MUST share one
    token stream or removal offsets would point into the wrong string.
    Callers needing the original casing keep it in a sibling column
    and treat clean_text as the dedup view.

    Plan shape (this operator is intrinsically the heaviest dedup
    tier; stride-1 windows mean O(n·window) hash work): one window-min
    exchange keyed by span hash marks canonical occurrences; ONE
    groupBy folds each doc's duplicate/canonical span starts into two
    bounded arrays; one id-keyed join brings the token array back; the
    kept-token rebuild is a per-row array expression (position sets
    are flatten/except of sequences — no per-position shuffle, the
    alternative position-explode formulation shuffles |corpus tokens|
    rows twice). Span hashes are md5 over the space-joined window
    (engine-portable — the SQL twin reproduces them bit-for-bit).
    """
    from pyspark.sql import Window

    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    staged = spread_for_compute(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col).alias("id"),
        # NULL text folds to '' BEFORE tokenizing: split('') yields ['']
        # on both engines, so the (clean_text, n_removed) contract stays
        # ('', 0) instead of (NULL-propagated) NULL — and matches the
        # twin's coalesce
        tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("t"),
    )
    # the token arrays feed BOTH the span stream (posexplode -> window
    # min) and the rebuild join below; pin them so the scan + repartition
    # + tokenization run once, not once per consumer (same hazard the
    # classifier/minhash pins document)
    base = staged.select(
        "id", "t", F.size("t").alias("n")
    ).localCheckpoint(eager=True)
    # (id, pos, h): stride-1 span hashes; sequence() on n < window would
    # yield a DESCENDING range (the lm.py hazard), hence the guard
    spans = base.select(
        "id",
        F.posexplode(
            F.when(
                F.col("n") >= window,
                F.transform(
                    F.sequence(F.lit(0), F.col("n") - window),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("t"), i + 1, window)
                        )
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "h"),
    )
    wh = Window.partitionBy("h")
    marked = spans.withColumn(
        "__first", F.min(F.struct("id", "pos")).over(wh)
    ).select(
        "id",
        "pos",
        (
            (F.col("__first.id") == F.col("id"))
            & (F.col("__first.pos") == F.col("pos"))
        ).alias("is_first"),
    )
    starts = marked.groupBy("id").agg(
        F.sort_array(
            F.collect_list(F.when(~F.col("is_first"), F.col("pos")))
        ).alias("dup_starts"),
        F.sort_array(
            F.collect_list(F.when(F.col("is_first"), F.col("pos")))
        ).alias("first_starts"),
    )
    cover = lambda col: F.array_distinct(  # noqa: E731
        F.flatten(
            F.transform(
                F.col(col),
                lambda s: F.sequence(s, s + F.lit(window - 1)),
            )
        )
    )
    joined = base.join(starts, "id", "left").select(
        "id",
        "t",
        "n",
        F.array_except(
            cover("dup_starts"), cover("first_starts")
        ).alias("__rm"),
    )
    kept = F.filter(
        F.col("t"),
        lambda x, i: F.coalesce(
            ~F.array_contains(F.col("__rm"), i), F.lit(True)
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        (F.col("n") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def remove_repeated_spans_sql(
    table: str, text_col: str, id_col: str, window: int = 8
) -> str:
    """DuckDB twin of ``remove_repeated_spans`` — single-window
    semantics over the same md5 span hashes and the same
    canonical-span protection rule; kept HERE so the span definition
    lives in one place (pattern: lm.bigram_lm_score_sql). The twin
    rebuilds text by position join (the per-row array rewrite is the
    engine's physical choice, not the semantics)."""
    from idb_backend_spark.functions.text import norm_sql

    w = int(window)
    norm = norm_sql(f"coalesce({text_col}, '')")
    return (
        f"WITH __rs_t AS (SELECT {id_col} AS id, "
        f"  string_split_regex({norm}, ' ') AS tk FROM {table}), "
        "__rs_n AS (SELECT id, tk, len(tk) AS n FROM __rs_t), "
        "__rs_w AS (SELECT id, tk, n, unnest(generate_series(0, n - "
        f"{w})) AS pos FROM __rs_n WHERE n >= {w}), "
        "__rs_h AS (SELECT id, pos, md5(array_to_string("
        f"  list_slice(tk, pos + 1, pos + {w}), ' ')) AS h FROM __rs_w), "
        "__rs_m AS (SELECT id, pos, row_number() OVER ("
        "  PARTITION BY h ORDER BY id, pos) AS rn FROM __rs_h), "
        "__rs_dup AS (SELECT DISTINCT id, p FROM (SELECT id, "
        f"  unnest(generate_series(pos, pos + {w} - 1)) AS p "
        "  FROM __rs_m WHERE rn > 1)), "
        "__rs_fst AS (SELECT DISTINCT id, p FROM (SELECT id, "
        f"  unnest(generate_series(pos, pos + {w} - 1)) AS p "
        "  FROM __rs_m WHERE rn = 1)), "
        "__rs_rem AS (SELECT id, p FROM __rs_dup EXCEPT SELECT id, p FROM __rs_fst), "
        "__rs_ts AS (SELECT id, i, tk[i + 1] AS tok FROM (SELECT id, tk, "
        "  unnest(generate_series(0, n - 1)) AS i FROM __rs_n)), "
        "__rs_kept AS (SELECT __rs_ts.id, __rs_ts.i, __rs_ts.tok FROM __rs_ts LEFT JOIN __rs_rem "
        "  ON __rs_ts.id = __rs_rem.id AND __rs_ts.i = __rs_rem.p WHERE __rs_rem.p IS NULL) "
        f"SELECT __rs_n.id AS {id_col}, "
        "coalesce(string_agg(__rs_kept.tok, ' ' ORDER BY __rs_kept.i), '') "
        "AS clean_text, "
        "CAST(__rs_n.n - count(__rs_kept.tok) AS BIGINT) AS n_removed "
        "FROM __rs_n LEFT JOIN __rs_kept ON __rs_n.id = __rs_kept.id GROUP BY __rs_n.id, __rs_n.n"
    )
