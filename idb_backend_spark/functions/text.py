"""Text-analysis functions for large-scale training-data pipelines.

All native Column expressions (JVM-side, codegen-friendly): token counting,
quality scoring, language-ID heuristic, and document fingerprinting. These
are the per-document operators a 100 TB corpus pipeline runs before dedup
and filtering — keeping them out of Python is the difference between a
CPU-bound scan and an Arrow-serialization bottleneck.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column
from pyspark.sql import functions as F

WS_RE = r"\s+"

#: tiny per-language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Real deployments swap in fastText/CLD3 via mapInPandas; the
#: heuristic is the native-expression fallback that needs no model file.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}


#: Post-lowercase case fold closing the full-vs-simple Unicode mapping
#: gap between the three engines. Java (Spark's `lower`) and Python
#: lowercase via the FULL Unicode mapping: U+0130 'İ' -> 'i' + combining
#: dot U+0307, and word-final 'Σ' -> final sigma 'ς' (the context rule);
#: DuckDB's utf8proc `lower()` applies the SIMPLE 1:1 map ('İ' -> bare
#: 'i', 'Σ' -> 'σ' always). Unfolded, 'İ0' tokenizes as ['i','0'] on
#: Spark (the mark breaks the \p{L} run) but ['i0'] on DuckDB — found by
#: tests/test_fulltext_prop.py's hypothesis sweep. Folding AFTER lower —
#: ς -> σ, delete U+0307 — lands all three on one form. U+0130 is the
#: only unconditional one-to-many lowercase mapping in Unicode
#: SpecialCasing.txt and final sigma the only default-locale conditional
#: one, so this two-entry fold closes the whole class. Applied by BOTH
#: text canonicalizers (normalize_text/tokens and the fulltext analyzer)
#: and their SQL twins, so every engine/oracle pair built on them folds
#: identically. Field-level lowercasers OUTSIDE the canonicalizers (an
#: operator's own F.lower ↔ oracle lower() pair over controlled
#: vocabulary terms — license ids, basis-of-record, taxon ranks) are
#: left unfolded deliberately: both sides are plain lower, the compared
#: values are Latin-script registry terms, and folding them would touch
#: every vocabulary table for a class their domain cannot produce.
_FOLD_FROM = "\u03c2\u0307"  # final sigma, combining dot above
_FOLD_TO = "\u03c3"  # sigma (U+0307 has no counterpart -> deleted)


def _fold_lower(c: Column) -> Column:
    """`lower` + the cross-engine case fold (translate deletes chars in
    the from-set with no to-counterpart, same as Postgres/DuckDB)."""
    return F.translate(F.lower(c), _FOLD_FROM, _FOLD_TO)


def fold_lower_sql(col_expr: str) -> str:
    """DuckDB twin of `_fold_lower` (chr(962)/chr(775)/chr(963) = final
    sigma / U+0307 / sigma, kept out of the source literal so the
    combining mark can't be lost by an editor)."""
    return f"translate(lower({col_expr}), chr(962) || chr(775), chr(963))"


def normalize_text(c: Column | str) -> Column:
    """Canonical text form: lowercase, collapse whitespace, trim."""
    c = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(_fold_lower(c), WS_RE, " "))


def tokens(c: Column | str) -> Column:
    """Whitespace tokenization of normalized text -> array<string>."""
    return F.split(normalize_text(c), " ")


def tokens_from_norm(norm: Column) -> Column:
    """tokens over an ALREADY-normalized string (normalize_text output);
    tokens == from_norm(normalize_text) by construction."""
    return F.split(norm, " ")


#: DuckDB-SQL twins of normalize_text / tokens over a `text` column —
#: defined HERE, next to the engine expressions they mirror, so any
#: tokenizer change updates both renderings in one diff. plans.synth
#: re-exports them for the oracle builders; operators needing a SQL twin
#: (operators/lm.py) import from here to avoid an operators->plans
#: dependency.
def norm_sql(col_expr: str) -> str:
    """DuckDB twin of `normalize_text` over an arbitrary column
    expression (NORM_SQL below is the fixed `text`-column rendering the
    oracle builders splice; operators over other columns — e.g.
    operators/dedup.remove_repeated_spans_sql — call this instead of
    inlining a copy that could drift)."""
    return (
        f"trim(regexp_replace({fold_lower_sql(col_expr)}, '\\s+', ' ', 'g'))"
    )


NORM_SQL = norm_sql("text")
TOKS_SQL = f"string_split_regex({NORM_SQL}, ' ')"


#: letter/digit/underscore runs — the fulltext analyzer's token shape.
#: Same pattern class in Java regex (Spark), RE2 (DuckDB), and Python `\w`
#: so all three engines tokenize identically. Underscore joins words as in
#: UAX#29 (ExtendNumLet), matching the ES standard tokenizer; the known
#: divergence is mid-word apostrophes ("don't" -> ["don", "t"] here, one
#: token in ES) — documented in SURVEY §7.7.
ANALYZER_TOKEN_RE = r"[\p{L}\p{N}_]+"


def analyzer_tokens(c: Column | str) -> Column:
    """ES-standard-analyzer-style tokenization -> array<string>.

    Lowercases, then extracts letter/digit/underscore runs, so punctuation
    never glues to a token: a document containing 'florida,' yields token
    'florida' and matches query token 'florida' (which plain whitespace
    `tokens()` would miss — reference query_shim.py:123-133 matches via the
    analyzed `_all` field where punctuation is stripped at index time).
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(_fold_lower(c), F.lit(ANALYZER_TOKEN_RE), 0)


def analyzer_tokenize(s: str) -> list[str]:
    """Pure-Python approximation of `analyzer_tokens` — the NO-ENGINE
    fallback only. CPython's unicodedata and the JVM's tables track
    different Unicode versions (CPython 3.11 = Unicode 14, JDK 17 =
    Unicode 13), so for code points assigned in between (Vithkuqi
    U+10570.., Toto, Cypro-Minoan, ...) this function produces tokens
    the JVM document side can never emit. Query compilation therefore
    goes through `query_tokens` below, which evaluates the engine's OWN
    expression; this fallback is used only when no SparkContext is live
    (and the two agree on every code point both Unicode versions assign
    identically — tests/test_fulltext_prop.py pins that over the curated
    pool).
    """
    import re

    folded = (
        s.lower().replace(_FOLD_FROM[0], _FOLD_TO).replace(_FOLD_FROM[1], "")
    )
    return re.findall(r"\w+", folded, re.UNICODE)


#: engine-evaluated query-token cache. Keyed by the raw query string;
#: values are the token tuples the JVM itself produced, so a repeated shim
#: compile of the same query skips even the planning round trip. Bounded:
#: past 4096 distinct fulltext strings new ones are tokenized per call
#: (still no Spark job); it never grows without limit on a long-lived
#: driver.
_ENGINE_TOKENS_CACHE: dict[str, tuple[str, ...]] = {}
_ENGINE_TOKENS_CACHE_MAX = 4096


def query_tokens_batch(strings: list[str]) -> list[list[str]]:
    """Analyzer tokens for QUERY strings, derived through the engine.

    The document side tokenizes with `analyzer_tokens` evaluated by the
    JVM; a Python re-implementation can silently disagree wherever the
    two runtimes ship different Unicode tables (found by the repo's own
    hypothesis sweep: U+10570 VITHKUQI CAPITAL, assigned in Unicode 14,
    tokenizes under CPython 3.11 but is unassigned to JDK 17 — a query
    containing it matched nothing, and the token-skipping index pruned
    every file). So the query side asks the engine itself: evaluate
    `analyzer_tokens` over the strings as a local ``VALUES`` relation
    (bound as named parameters, so no string is spliced into SQL text).
    The optimizer folds that projection into a local relation, so the
    collect runs no Spark job, and agreement with the stored token arrays
    is still true by construction, whatever Unicode version the JVM has.
    Results are cached per query string.

    Falls back to the pure-Python `analyzer_tokenize` twin only when no
    SparkContext is live (e.g. oracle-SQL rendering after the session
    stopped) — identical output for any string both Unicode versions
    treat alike, which covers every catalog query. With a live context
    an engine error propagates: falling back there would bring back the
    Unicode skew this function exists to prevent.
    """
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    live = SparkContext._active_spark_context is not None
    missing = sorted({s for s in strings if s not in _ENGINE_TOKENS_CACHE})
    fresh: dict[str, tuple[str, ...]] = {}
    if live and missing:
        spark = SparkSession.builder.getOrCreate()
        values = ", ".join(f"({i}, :s{i})" for i in range(len(missing)))
        rows = (
            spark.sql(
                f"SELECT * FROM VALUES {values} AS v(i, s)",
                args={f"s{i}": s for i, s in enumerate(missing)},
            )
            .select("i", analyzer_tokens("s").alias("t"))
            .collect()
        )
        fresh = {missing[r["i"]]: tuple(r["t"]) for r in rows}
    out: list[list[str]] = []
    for s in strings:
        t = _ENGINE_TOKENS_CACHE.get(s)
        if t is None:
            if not live:
                out.append(analyzer_tokenize(s))
                continue
            t = fresh[s]
            if len(_ENGINE_TOKENS_CACHE) < _ENGINE_TOKENS_CACHE_MAX:
                _ENGINE_TOKENS_CACHE[s] = t
        out.append(list(t))
    return out


def query_tokens(s: str) -> list[str]:
    """`query_tokens_batch` for one string — the shim/index entry point."""
    return query_tokens_batch([s])[0]


#: a maximal run of this class separates two analyzer tokens — the
#: complement of ANALYZER_TOKEN_RE's class
_NON_TOKEN_RE = r"[^\p{L}\p{N}_]+"


def whole_token_match(c: Column | str, query: str) -> Column:
    """ES `_all` operator:and semantics: every analyzer token of
    ``query`` must appear as a WHOLE analyzer token of column ``c``
    (reference query_shim.py:123-133).

    The single source of truth for whole-token matching — the shim's P7
    compiler (query/shim.compile_shim) and the token-index residual filter
    (plans/skipping.fulltext_scan) both call this, so index pruning can
    never diverge from shim filtering. Query tokens come from the
    ENGINE (`query_tokens`), so they always agree with what
    `analyzer_tokens` emits for documents on this JVM.

    No row is tokenized into an array. Each distinct query token ``t``
    is tested twice, cheap test first:

    - guard: ``lower(c)`` contains ``t``. A whole token of the folded
      text is a substring of it, and the folded text equals ``lower(c)``
      unless ``lower(c)`` holds a fold character (ς, U+0307) — such rows
      bypass the guard;
    - boundary, behind the guards: the folded text, each maximal
      non-token run replaced by one space and padded with spaces,
      contains `` t ``. The space-free runs between two spaces of that
      string are exactly the analyzer tokens, so this is the
      tokenizer's own answer.

    The boundary regex is a constant and the tokens are string literals,
    which generated code holds as references, so every query with the
    same token count reuses one compiled filter.
    """
    toks = sorted(set(query_tokens(query)))
    if not toks:
        return F.lit(True)
    c = F.col(c) if isinstance(c, str) else c
    low = F.lower(c)
    guard = reduce(and_, [low.contains(t) for t in toks]) | reduce(
        or_, [low.contains(ch) for ch in _FOLD_FROM]
    )
    spaced = F.concat(
        F.lit(" "),
        F.regexp_replace(_fold_lower(c), _NON_TOKEN_RE, " "),
        F.lit(" "),
    )
    return guard & reduce(and_, [spaced.contains(f" {t} ") for t in toks])


def analyzer_contains_sql(col_expr: str, token_sql_lit: str) -> str:
    """DuckDB-SQL twin of one `whole_token_match` conjunct: does the
    analyzer token array of ``col_expr`` contain the token literal?

    Lives HERE (next to ANALYZER_TOKEN_RE) so every oracle emitting the
    predicate shares the one regex — the pattern class is identical in
    Java regex and RE2, which is what makes the twin exact.
    """
    return (
        f"list_contains(regexp_extract_all({fold_lower_sql(col_expr)}, "
        f"'{ANALYZER_TOKEN_RE}'), {token_sql_lit})"
    )


def whole_token_match_sql(col_expr: str, query: str) -> str:
    """DuckDB-SQL twin of `whole_token_match`: the AND-conjunction of
    `analyzer_contains_sql` over the query's analyzer tokens. Token
    literals are escaped by quote-doubling. Uses the same engine-derived
    `query_tokens` as the Spark predicate (cached — both renderings of
    one query embed the identical token list)."""
    toks = sorted(set(query_tokens(query)))
    if not toks:
        return "TRUE"
    def lit(t: str) -> str:
        return "'" + t.replace("'", "''") + "'"
    return (
        "("
        + " AND ".join(analyzer_contains_sql(col_expr, lit(t)) for t in toks)
        + ")"
    )


def token_count(c: Column | str) -> Column:
    """Whitespace token count (the `wc -w` definition)."""
    return token_count_from_norm(normalize_text(c))


def token_count_from_norm(norm: Column) -> Column:
    """token_count over an ALREADY-normalized string — the expression
    form evaluates the normalize chain twice (empty guard + split);
    token_count == from_norm(normalize_text) by construction."""
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.size(F.split(norm, " "))
    )


def bpe_ish_token_count(c: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/number/punct boundaries,
    approximating a BPE tokenizer's granularity without a vocab file."""
    c = F.col(c) if isinstance(c, str) else c
    pieces = F.regexp_extract_all(
        F.lower(c), F.lit(r"([a-z]+|\d+|[^\sa-z\d])"), 1
    )
    return F.size(pieces)


def punct_ratio(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    n = F.length(c)
    npunct = F.length(F.regexp_replace(c, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(n > 0, npunct.cast("double") / n).otherwise(F.lit(0.0))


def marker_hits_from_norm(norm: Column, words: list[str]) -> Column:
    """Occurrences of any of ``words`` as whole tokens of an
    ALREADY-normalized string (normalize_text output) — value-identical
    to ``size(filter(split(norm, ' '), isin(words)))`` (whole-token
    matches only, duplicates counted), but fully native: the
    higher-order ArrayFilter is a CodegenFallback whose per-element
    lambda evaluates interpreted — measured ~2x slower than this padded
    regexp_count on the lang-ID scan at sf0.1. NULL text yields NULL.

    Callers stage normalize_text once as a column and pass it here:
    language ID runs one marker scan per language and the quality score
    another, and an expression form that normalized inside re-inlined
    the whole normalize chain (case fold + whitespace-collapse regexp
    over the full document) per scan (the py_double_norm rationale)."""
    if not words:
        return F.lit(0)
    import re as _re

    pat = "[ ](" + "|".join(_re.escape(w) for w in words) + ")(?=[ ])"
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    return F.regexp_count(padded, F.lit(pat))


def quality_score_from_norm(
    c: Column | str, norm: Column, stopwords: list[str] | None = None,
    hits: Column | None = None,
) -> Column:
    """Composite document-quality heuristic in [0, 1] (C4/Gopher-style
    rules): rewards reasonable length and stopword presence, penalizes
    punctuation soup.

    The NORMALIZED text is staged by the caller: the tokens are
    split(norm, ' ') == tokens(c) and the stopword scan counts on the
    same norm, so the normalize chain (case fold + whitespace-collapse
    regexp) is paid once per row instead of per consumer. Raw ``c``
    feeds the length/punct signals, which the heuristic defines over
    the verbatim text. NULL text scores
    NULL (least() skips null operands in both Spark and DuckDB, so an
    unguarded formula would score a null document 0.5 — above most
    keep-thresholds); the punctuation penalty is floored at 0 so the
    [0, 1] range holds for punctuation soup.

    ``hits``: a pre-computed stopword-occurrence count — pass
    ``marker_hits_from_norm(staged_lang_marker_hits_string, sw)`` when a
    lang_marker_hits_string column is already staged for language ID
    (the default stopword list IS the en marker list, so the tally
    comes free off the same single document scan). Caller's
    responsibility: hits must equal marker_hits_from_norm(norm, sw)."""
    col = F.col(c) if isinstance(c, str) else c
    sw = stopwords or LANG_MARKERS["en"]
    if hits is None:
        hits = marker_hits_from_norm(norm, sw)
    t = F.split(norm, " ")
    n = F.length(col)
    len_score = F.least(n.cast("double") / F.lit(500.0), F.lit(1.0))
    sw_ratio = F.when(
        F.size(t) > 0, hits.cast("double") / F.size(t)
    ).otherwise(F.lit(0.0))
    sw_score = F.least(sw_ratio * 5.0, F.lit(1.0))
    p_penalty = F.least(punct_ratio(col) * 4.0, F.lit(1.0))
    raw = 0.5 * len_score + 0.5 * sw_score - 0.25 * p_penalty
    return F.when(
        col.isNotNull(), F.round(F.greatest(raw, F.lit(0.0)), 6)
    )


def _lang_argmax(hits_by_lang: dict[str, Column]) -> Column:
    """Argmax over per-language hit counts; deterministic tie-break by
    language code ascending; 'und' when no marker matches.

    Single array_max over (hits, priority, lang) structs — a when-chain
    argmax embeds the previous best twice per step (condition + otherwise),
    duplicating the hit subtree 2^langs times; array_max keeps the
    expression linear in the number of languages.

    The no-match fallback is a SENTINEL ENTRY in the same array
    (hits=0, priority above every language, lang='und'), not a
    ``when(best.hits > 0, ...)`` wrapper: the wrapper referenced
    ``best`` twice — condition and value — and CaseWhen branch contexts
    defeat codegen CSE, so the whole tally array (5 document scans in
    the pre-fusion form) was built TWICE per row. Equivalence: a
    language only beats the sentinel with hits >= 1 (ties at 0 lose on
    the sentinel's higher priority); NULL tallies (NULL text) sort
    below the non-null sentinel in struct order, and the legacy -1
    sizeOfNull sentinel loses to 0 — all exactly the cases the old
    ``hits > 0`` guard sent to 'und'."""
    langs = sorted(hits_by_lang)
    entries = [
        F.struct(
            F.lit(0).alias("hits"),
            F.lit(len(langs)).alias("pri"),
            F.lit("und").alias("lang"),
        )
    ] + [
        F.struct(
            hits_by_lang[lang].alias("hits"),
            # higher priority = earlier language code, so struct-max
            # tie-breaks toward the ascending-order winner
            F.lit(len(langs) - 1 - i).alias("pri"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    return F.array_max(F.array(*entries))["lang"]


def lang_marker_hits_string(
    norm: Column, markers: dict[str, list[str]] | None = None
) -> Column:
    """EVERY language's marker-token occurrences extracted in ONE
    document scan, re-joined as a short space-separated string:
    regexp_extract_all over the union alternation of all marker words,
    array_join ' '. Per-language tallies and lang_id_from_norm then run
    their usual regexp_count / argmax over THIS string
    (it satisfies the from_norm contract: single-space-separated
    tokens), so the 5 per-language full-document scans — plus the
    quality stopword scan when its list is the en markers — collapse to
    one document scan + scans of a string that only holds the matched
    tokens. Interleaved A/B sf0.1: language-ID median ratio 0.89 (9/10
    pairs); the corpus enrichment stage is locally neutral (median
    1.01 — its documents are ~120 bytes) and strictly better in
    document-scan count (6 -> 1), which is what scales with document
    length. Deliberately HOF-free: tallying the extracted ARRAY with
    size(filter(isin)) was measured WORSE on the corpus stage (median
    1.25) because ArrayFilter is CodegenFallback and drops the whole
    wide enrichment Project out of codegen — the media-serving-table
    lesson in reverse.

    Value equivalence to the per-language scans: marker words are
    single tokens (no marker contains a space — pinned in the fusion
    test), so every per-language match position matches the union
    pattern too; Java regex backtracks through alternatives, so a
    shorter alternative whose token-boundary lookahead fails cannot
    shadow a longer one ('de' vs 'der' both count correctly); a word
    shared by two languages appears once in the string and is counted
    by each language's own tally. Callers MUST stage the result as a
    column (consumers reference it once per language). NULL norm ->
    NULL string -> NULL tallies, the same NULLs the per-language
    regexp_count forms produce."""
    markers = markers or LANG_MARKERS
    import re as _re

    words = sorted({w for ws in markers.values() for w in ws})
    pat = "[ ](" + "|".join(_re.escape(w) for w in words) + ")(?=[ ])"
    return F.array_join(
        F.regexp_extract_all(
            F.concat(F.lit(" "), norm, F.lit(" ")), F.lit(pat), F.lit(1)
        ),
        " ",
    )


def lang_id_from_norm(
    norm: Column, markers: dict[str, list[str]] | None = None
) -> Column:
    """Argmax language by native whole-token marker hits
    (marker_hits_from_norm) over an ALREADY-normalized string; 'und'
    when no marker matches, ties break by language code. Callers stage
    normalize_text as a column once — a form that normalized inside
    would re-inline the normalize chain once PER LANGUAGE (5 case-fold
    + whitespace-collapse passes over the document per row)."""
    markers = markers or LANG_MARKERS
    return _lang_argmax(
        {lang: marker_hits_from_norm(norm, markers[lang]) for lang in markers}
    )


def fulltext_column(*cols: Column | str) -> Column:
    """P7 write-time precompute — the engine's `_all` analog: lowercased
    space-joined concatenation of every text column
    (SURVEY §2.2 P7; query side is compile_shim's token conjunction).
    concat_ws skips nulls, so sparse records don't produce 'null' tokens."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.lower(F.concat_ws(" ", *cs))


def fingerprint(c: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text. Content-addressed
    identity for exact dedup (the text analog of the record etag, F19)."""
    return fingerprint_from_norm(normalize_text(c))


def fingerprint_from_norm(norm: Column) -> Column:
    """fingerprint over an ALREADY-normalized string (normalize_text
    output); fingerprint == from_norm(normalize_text) by construction."""
    return F.md5(norm.cast("binary"))


def shingles_from_tokens(t: Column, norm: Column, k: int = 3) -> Column:
    """Distinct word k-shingles from a token-array *attribute* column —
    the one shingle definition: the exact-Jaccard tiers count its set
    sizes and the MinHash signature folds its lane minima (which a
    repeated shingle would not change).

    ``t`` and ``norm`` MUST be attribute references (pass them through a
    select/withColumn boundary first): the windowing lambda evaluates
    ``element_at(t, ...)`` k times per position, so an inlined tokenization
    expression would be re-executed O(k·n) times per row — measured 20x
    slowdown at sf0.1. Rows with < k tokens yield the whole-text singleton
    so short docs still participate in similarity."""
    n = F.size(t)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    win = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    return F.array_distinct(F.when(n >= k, win).otherwise(F.array(norm)))


def dup_token_fraction(t: Column) -> Column:
    """Repetition signal: fraction of tokens that are repeats of an
    earlier token (Gopher-style duplicate-fraction filter family).
    0.0 = all distinct; high values flag boilerplate/spam."""
    n = F.size(t)
    return F.when(
        n > 0,
        1.0 - F.size(F.array_distinct(t)).cast("double") / n,
    ).otherwise(F.lit(0.0))


def top_bigram_fraction(t: Column) -> Column:
    """Repetition signal: the most frequent word bigram's share of all
    bigrams (Gopher's top-n-gram fraction). Pure native expressions;
    the distinct×occurrences counting inside the row is O(G²) per doc —
    fine for the short-to-medium documents of a curation pass (a 50k-
    token outlier belongs to an explode+groupBy variant instead).

    ``t`` must be an attribute reference (same re-evaluation hazard as
    `shingles_from_tokens`).
    """
    n = F.size(t)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(t, (i + 1).cast("int")),
                F.element_at(t, (i + 2).cast("int")),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda x: F.size(F.filter(grams, lambda y: y == x)),
        )
    )
    return F.when(
        F.size(grams) > 0, top.cast("double") / F.size(grams)
    ).otherwise(F.lit(0.0))


#: PII patterns — the conservative, engine-portable subset (identical
#: semantics in Java regex and RE2, so the DuckDB oracle can run the
#: same literals). Redaction order: emails, then phones, then IPs.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
}


def redact_pii(c: Column | str) -> Column:
    """Scrub emails / phone numbers / IPv4 addresses to typed
    placeholders — the pre-training privacy pass. Chained native
    regexp_replace, zero Python."""
    out = F.col(c) if isinstance(c, str) else c
    for pat, rep in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, rep)
    return out


def chunks_from_tokens(t: Column, chunk: int, overlap: int) -> Column:
    """Token-window document chunking -> array<struct<chunk_id,
    chunk_text>> (the training-data op that turns documents into
    fixed-size overlapping model inputs).

    Windows of ``chunk`` tokens advance by ``chunk - overlap``; the last
    window may be short; every document yields >= 1 chunk (an empty doc
    yields one empty chunk, so corpus joins never drop rows). Native
    expressions only — the explode of the returned array is the single
    row-multiplying step, there is no shuffle and no Python.

    ``t`` must be an attribute reference (stage `tokens()` through a
    projection first — same O(k·n) re-evaluation hazard as
    `shingles_from_tokens`).
    """
    if overlap >= chunk:
        raise ValueError(f"overlap {overlap} must be < chunk {chunk}")
    stride = chunk - overlap
    n = F.size(t)
    n_chunks = F.ceil(
        F.greatest(n - F.lit(overlap), F.lit(1)) / F.lit(float(stride))
    ).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            F.array_join(
                F.slice(t, (i * stride + 1).cast("int"), chunk), " "
            ).alias("chunk_text"),
        ),
    )


def pack_sequences(
    df,
    token_count_col: str,
    order_cols: list[str],
    seq_len: int,
    n_shards: int = 256,
    out_col: str = "bin_id",
):
    """Approximate sequence packing — assign chunks to fixed-capacity
    training sequences (the step after chunking that fills each model
    context window instead of padding per document).

    Deterministic and distributed: chunks shard by hash of the FIRST
    order column (so one document's chunks pack together), a per-shard
    window computes the running token count in (order_cols) order, and
    ``bin = cumulative_before // seq_len``; the global bin id is
    (shard, bin) packed into one bigint. One exchange (the shard
    window), stable under reruns and repartitioning. The shard hash is
    the first 8 hex chars of md5 parsed as an integer — like the
    md5-prefix split in operators/sampling.py, it computes identically
    in any SQL engine (``CAST('0x' || substr(md5(k),1,8) AS BIGINT)``
    in DuckDB), so the whole assignment is auditable from SQL.

    Approximation contract: greedy first-fit is inherently sequential,
    so this uses cumulative-sum binning instead — a chunk straddling a
    capacity boundary stays in the bin where it starts, so a bin's
    token total lands in (seq_len - max_chunk, seq_len + max_chunk)
    rather than exactly seq_len. At corpus scale every shard still
    packs thousands of near-full sequences; bins never cross shards
    (boundary bins are the only under-full ones).
    """
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    shard = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(order_cols[0]).cast("string")), 1, 8),
            16,
            10,
        ).cast("long"),
        F.lit(n_shards),
    )
    with_shard = df.withColumn("__shard", shard)
    # explicit ROWS frame: the default RANGE frame makes every row TIED
    # on order_cols share one cumulative sum, so tied chunks would all
    # land in the same over-capacity bin. order_cols should be a unique
    # key (e.g. doc_id, chunk_id) — with ties the per-row running sum is
    # partition-order-dependent and determinism degrades to per-run.
    w = (
        Window.partitionBy("__shard")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(token_count_col).over(w) - F.col(token_count_col)
    local_bin = F.floor(cum_before / F.lit(seq_len))
    # pack (shard, local_bin) into one bigint: shard in the high bits
    return with_shard.withColumn(
        out_col, (F.col("__shard") * F.lit(1 << 40) + local_bin)
    ).drop("__shard")
