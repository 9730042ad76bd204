"""Shared synthetic-input SQL builders (identical literal arithmetic on
the Spark and DuckDB sides; the TPC-H-ish tables carry no coordinates)."""

GEO_LAT = "CAST((c_custkey * 7) % 160 - 80 AS DOUBLE) + 0.5"
GEO_LON = "CAST((c_custkey * 13) % 360 - 180 AS DOUBLE) + 0.5"


def molodensky_cte_chain(prev: str, p: str = "mg") -> str:
    """DuckDB CTE chain for the abridged Molodensky shift, constants
    inlined from geo.MOLODENSKY_PARAMS via exact round-trip literals.

    Expects CTE ``prev`` to expose columns (…, lat, lon, datum_raw);
    emits CTEs ``{p}n … {p}s`` where ``{p}s`` carries every input column
    plus datum, p_a and dphi/dlam. Compose the final values with
    MOLODENSKY_LAT_SQL / MOLODENSKY_LON_SQL / molodensky_flag_sql().
    Both the datum_shift_molodensky oracle and the full-ETL oracle build
    on this, so the SQL replica stays in lockstep with the Spark tables.
    """
    import math as _math

    from idb_backend_spark.functions import geo as GEO

    def dbl(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    def case_const(idx: int) -> str:
        arms = []
        for d in sorted(GEO.MOLODENSKY_PARAMS):
            t = GEO._molodensky_terms(d)
            vals = (t[0], t[1], t[2], t[3], t[4], t[5],
                    _math.radians(t[6] / 3600.0))
            arms.append(f"WHEN '{d}' THEN {dbl(vals[idx])}")
        return "CASE datum " + " ".join(arms) + " END"

    alias_arms = " ".join(
        f"WHEN '{verbose}' THEN '{short}'"
        for verbose, short in sorted(GEO.DATUM_ALIASES.items())
    )
    return (
        f"{p}n AS (SELECT *, upper(regexp_replace(datum_raw, "
        f"'[^A-Za-z0-9]', '', 'g')) AS mangled FROM {prev}), "
        f"{p}d AS (SELECT *, CASE mangled {alias_arms} ELSE mangled END "
        f"AS datum FROM {p}n), "
        f"{p}p AS (SELECT *, {case_const(0)} AS p_a, {case_const(1)} AS p_e2, "
        f"{case_const(2)} AS p_dx, {case_const(3)} AS p_dy, "
        f"{case_const(4)} AS p_dz, {case_const(5)} AS p_adf, "
        f"{case_const(6)} AS p_dlam FROM {p}d), "
        f"{p}t AS (SELECT *, sin(radians(lat)) AS sp, cos(radians(lat)) AS cp, "
        "sin(radians(lon)) AS sl, cos(radians(lon)) AS cl, "
        f"1 - p_e2 * sin(radians(lat)) * sin(radians(lat)) AS w2 FROM {p}p), "
        f"{p}s AS (SELECT *, "
        "(-p_dx * sp * cl - p_dy * sp * sl + p_dz * cp "
        " + p_adf * 2 * sp * cp) / (p_a * (1 - p_e2) / (w2 * sqrt(w2))) "
        "AS dphi, "
        f"(-p_dx * sl + p_dy * cl) / ((p_a / sqrt(w2)) * cp) + p_dlam AS dlam "
        f"FROM {p}t)"
    )


MOLODENSKY_LAT_SQL = (
    "CASE WHEN p_a IS NOT NULL AND abs(lat) < 90 "
    "THEN lat + degrees(dphi) ELSE lat END"
)
MOLODENSKY_LON_SQL = (
    "CASE WHEN p_a IS NOT NULL AND abs(lat) < 90 "
    "THEN lon + degrees(dlam) ELSE lon END"
)


def molodensky_flag_sql() -> str:
    from idb_backend_spark.functions import geo as GEO

    identity_list = ", ".join(f"'{d}'" for d in sorted(GEO.IDENTITY_DATUMS))
    shift_list = ", ".join(f"'{d}'" for d in sorted(GEO.MOLODENSKY_PARAMS))
    return (
        "CASE WHEN datum IS NULL OR trim(datum) = '' "
        "THEN 'geopoint_datum_missing' "
        f"WHEN datum NOT IN ({identity_list}) AND datum NOT IN ({shift_list}) "
        "THEN 'geopoint_datum_error' END"
    )


def cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine similarity between two float-list expressions, both
    cast element-wise to DOUBLE (list_dot_product on FLOAT accumulates in
    single precision and diverges from Spark's double-side arithmetic).
    The single shared builder for every ANN/near-dup oracle — the
    rounding/casting semantics live in exactly one place."""
    ca = f"list_transform({a}, x -> CAST(x AS DOUBLE))"
    cb = f"list_transform({b}, x -> CAST(x AS DOUBLE))"
    return (
        f"list_dot_product({ca}, {cb})"
        f" / (sqrt(list_dot_product({ca}, {ca}))"
        f" * sqrt(list_dot_product({cb}, {cb})))"
    )


#: DuckDB-side whitespace normalization / tokenization of the documents
#: table's `text` column — the oracle mirror of functions.text.tokens().
#: Shared by every oracle that tokenizes (chunking, contamination, the
#: composed corpus pipelines) so the SQL replica cannot drift per module.
#: The literals LIVE next to the engine expressions they mirror
#: (functions/text.py) and are re-exported here for the oracle builders.
from idb_backend_spark.functions.text import NORM_SQL, TOKS_SQL  # noqa: E402,F401

#: the oracle twin of functions.text.token_count: splitting an EMPTY
#: string yields one empty token in both engines, but token_count guards
#: that case to 0 — a bare len(TOKS_SQL) silently over-counts
#: empty/whitespace-only documents by one, which a per-shard cumulative
#: sum (sequence_packing) then propagates to every later row in the
#: shard. Any oracle mirroring token_count must use THIS expression.
TOKCNT_SQL = f"CASE WHEN {NORM_SQL} = '' THEN 0 ELSE len({TOKS_SQL}) END"

#: token-window chunking parameters — ONE definition for the Spark side
#: (chunks_from_tokens args) and the oracle window arithmetic, so the
#: composed training_corpus_e2e entry can never desynchronize from the
#: component document_chunking entry.
CHUNK, OVERLAP = 32, 8
STRIDE = CHUNK - OVERLAP


#: exact word-3-gram Jaccard pair SQL at threshold 0.8 — the ONE true-
#: pair-set oracle that grades ngram_jaccard_pairs, minhash_exact_verified
#: (q_textsim) AND simhash_exact_verified (q_parity). Filter on the EXACT
#: ratio, round only for display — matching the engine twins in
#: operators/dedup.py. (regexp_split_to_array == string_split_regex, the
#: TOKS_SQL spelling.)
EXACT_JACCARD_SQL = (
    "WITH sh AS (SELECT doc_id AS id, sz, g FROM ("
    "  SELECT doc_id, toks, len(toks) AS n FROM ("
    f"    SELECT doc_id, {TOKS_SQL} AS toks"
    "    FROM documents)) t, "
    "  LATERAL (SELECT list_distinct(CASE WHEN n >= 3 THEN "
    "    [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, n - 1)] "
    "    ELSE [array_to_string(toks, ' ')] END) AS grams) gr, "
    "  LATERAL (SELECT len(gr.grams) AS sz) z, "
    "  LATERAL unnest(gr.grams) AS u(g)), "
    "pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS shared,"
    "  any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b "
    "  FROM sh a JOIN sh b USING (g) WHERE a.id < b.id GROUP BY a.id, b.id) "
    "SELECT id_a, id_b, round(shared / (sz_a + sz_b - shared), 6) AS jaccard "
    "FROM pairs WHERE shared / (sz_a + sz_b - shared) >= 0.8 "
    "ORDER BY id_a, id_b"
)


def sql_word_list(words) -> str:
    """Render a word list as quote-escaped SQL literals for an IN (…)
    — the ONE rendering of marker/stopword lexicons into oracle SQL
    (an apostrophe-bearing word like \"l'\" must escape identically
    everywhere it appears)."""
    return ",".join("'" + w.replace("'", "''") + "'" for w in words)


def lang_score_cols_sql(toks: str = "toks") -> str:
    """Per-language marker-hit score columns (``s_de, s_en, …``) built
    FROM functions.text.LANG_MARKERS — adding or changing a marker word
    updates engine and oracle together, instead of going red with no
    code-local hint."""
    from idb_backend_spark.functions.text import LANG_MARKERS

    cols = []
    for lang in sorted(LANG_MARKERS):
        words = sql_word_list(LANG_MARKERS[lang])
        cols.append(
            f"len(list_filter({toks}, x -> x IN ({words}))) AS s_{lang}"
        )
    return ", ".join(cols)


def lang_case_sql() -> str:
    """Argmax over the marker scores, ties broken by language code
    ascending, zero hits -> 'und' — the oracle twin of
    functions.text.lang_id_from_norm, generated from the same
    LANG_MARKERS keys."""
    from idb_backend_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    all_scores = ",".join(f"s_{l}" for l in langs)
    arms = [f"CASE WHEN greatest({all_scores}) = 0 THEN 'und'"]
    for i, l in enumerate(langs[:-1]):
        conds = " AND ".join(f"s_{l} >= s_{m}" for m in langs[i + 1:])
        arms.append(f"WHEN {conds} THEN '{l}'")
    arms.append(f"ELSE '{langs[-1]}' END")
    return " ".join(arms)


def md5_keep_sql(key_sql: str, fraction: float) -> str:
    """DuckDB predicate keeping ~``fraction`` of rows by md5-prefix —
    the oracle twin of the keep decision in operators/sampling.py
    (deterministic_sample / mixture_sample). The cut point comes from
    the SAME ``md5_cut`` the Spark expressions use, so the two sides
    cannot round differently."""
    from idb_backend_spark.operators.sampling import md5_cut

    cut = md5_cut(fraction)
    if cut >= 256:
        return "TRUE"
    if cut <= 0:
        return "FALSE"
    return f"substr(md5(CAST({key_sql} AS VARCHAR)), 1, 2) < '{cut:02x}'"


def mixture_keep_sql(
    domain_sql: str,
    key_sql: str,
    fractions: dict,
    default_fraction: float,
) -> str:
    """The oracle twin of operators.sampling.mixture_sample's CASE: a
    per-domain md5-prefix keep predicate, unknown (including NULL)
    domains taking the default fraction. Generated from the same
    fractions dict the Spark entry passes, so mixture changes update
    engine and oracle together."""
    arms = [
        # quote-double the domain literal (same escaping as
        # sql_word_list) — a domain like "o'reilly" must not render as
        # malformed SQL
        f"WHEN {domain_sql} = '{d.replace(chr(39), chr(39) * 2)}' "
        f"THEN {md5_keep_sql(key_sql, f)}"
        for d, f in fractions.items()
    ]
    arms.append(f"ELSE {md5_keep_sql(key_sql, default_fraction)}")
    return "CASE " + " ".join(arms) + " END"


def md5_shard_sql(key_sql: str, n_shards: int) -> str:
    """DuckDB twin of pack_sequences' shard hash: first 8 hex chars of
    md5 parsed as an integer, mod ``n_shards`` (functions/text.py
    pack_sequences uses conv(substring(md5(k),1,8),16,10) — verified
    value-identical across both engines)."""
    return (
        f"CAST('0x' || substr(md5(CAST({key_sql} AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {n_shards}"
    )


def split_case_sql(
    key_sql: str,
    weights: tuple = (0.8, 0.1),
    labels: tuple = ("train", "val", "test"),
) -> str:
    """The oracle twin of operators.sampling.split_assignment: the same
    cumulative md5_cut points rendered as a DuckDB CASE, so the split
    oracles can never hand-copy ('cd', 'e6', …) thresholds that drift
    from the engine's rounding. Mirrors split_assignment's always/never
    branches for cuts that round past the byte range."""
    from idb_backend_spark.operators.sampling import md5_cut

    h = f"substr(md5(CAST({key_sql} AS VARCHAR)), 1, 2)"
    arms = []
    acc = 0.0
    for w, label in zip(weights, labels[:-1]):
        acc += w
        cut = md5_cut(acc)
        lbl = label.replace("'", "''")
        if cut >= 256:
            arms.append(f"WHEN TRUE THEN '{lbl}'")
        elif cut <= 0:
            arms.append(f"WHEN FALSE THEN '{lbl}'")
        else:
            arms.append(f"WHEN {h} < '{cut:02x}' THEN '{lbl}'")
    final = labels[-1].replace("'", "''")
    return "CASE " + " ".join(arms) + f" ELSE '{final}' END"


def decimal_exponent_sql(col: str) -> str:
    """DuckDB twin of grabbers.decimal_exponent — the reference's
    ``-1 * Decimal(s).as_tuple().exponent`` (conversions.py:246-251):
    fractional-digit count minus any scientific exponent; 0 for
    anything Decimal() would reject; NULL for NaN/Infinity spellings
    (a reference-differential finding — Decimal PARSES them, the exponent
    is a string and ``-1 * 'n'`` is the empty string, which the py2
    ``<= 2`` consumer reads as not-low-precision). Kept here so every
    oracle that replicates the low-precision flag derives the exponent
    the same way the engine does."""
    t = f"trim({col})"
    return (
        f"CASE WHEN regexp_matches({t}, "
        "'(?i)^[+-]?(s?nan|inf(inity)?)$') THEN NULL "
        f"WHEN regexp_matches({t}, "
        "'^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?$') THEN "
        f"length(regexp_extract({t}, '\\.([0-9]+)', 1)) - "
        f"coalesce(try_cast(regexp_extract({t}, '[eE]([+-]?[0-9]+)$', 1) "
        "AS INT), 0) ELSE 0 END"
    )
