"""J10 — the corrections engine: data-driven rewrite rules
(reference idb/corrections/record_corrector.py:186-255).

The reference's model: a ``corrections`` table of (key-tuple values →
replacement values) rules. For each record, each key tuple (e.g.
``(dwc:genus,)`` or ``(dwc:country, dwc:stateprovince)``) is probed with
the record's lowercased values; a hit rewrites the replacement fields and
raises ``flag_<field>_replaced`` / ``_added`` / ``_removed`` flags. Key
tuples apply in ``sorted(keytups, key=len)`` order — later (longer) rules
see earlier rewrites (record_corrector.py:210).

Spark formulation: one **broadcast left join per key tuple** against that
tuple's rule partition, then when/otherwise column rewrites. The rules
table is a dimension (thousands of rows vs 10^9 records): broadcasting it
keeps the fact table's partitioning untouched through the whole chain —
zero shuffles added at any scale.

The protected-kingdom guard (record_corrector.py:221-228): a correction
that would overwrite one of the protected kingdom values applies a
``dwc_kingdom_suspect`` flag instead of rewriting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

#: record_corrector.py:14 — the full six-kingdom protected set
PROTECTED_KINGDOMS = {
    "animalia", "plantae", "fungi", "chromista", "protista", "protozoa"
}


def apply_correction_rules(
    df: DataFrame,
    rules: DataFrame,
    key_fields: list[str],
    set_field: str,
    flag_prefix: str | None = None,
    protect_kingdom: bool = False,
    probe_cols: dict[str, Column] | None = None,
    skip_when: Column | None = None,
    emit_guard: str | None = None,
) -> DataFrame:
    """Apply one key-tuple's rules: ``rules`` has columns ``key_fields``
    (already lowercased match values) and ``__set`` (replacement for
    ``set_field``; null = removal).

    Returns df with ``set_field`` rewritten and a ``flag_<set_field>_*``
    string column (null when no rule hit / no change).

    ``dwc:scientificName`` is REFUSED as a set_field: the reference's
    apply loop unconditionally skips that key
    (record_corrector.py:231-232 ``if k == "dwc:scientificname":
    continue``) — scientific names are corrected only through the
    gs_sn_crossfill path, never by the rules table. Refusing loudly
    beats silently applying a rule class the reference never applies.

    ``probe_cols`` overrides the probe expression per key field (the
    chaining API uses it to probe ORIGINAL record values — see
    apply_corrections). ``skip_when`` suppresses this rule set's rewrite
    and flags row-wise (the whole-tuple kingdom-guard ``continue``);
    ``emit_guard`` keeps the protected-kingdom condition as a boolean
    column of that name so later sets of the same correction family can
    gate on it.

    Probe normalization is lower+TRIM — one documented half-step beyond
    the reference's literal ``d[f].lower()`` (record_corrector.py:196-203
    never strips): the engine's fixtures follow the store convention of
    lowercased+trimmed equality values, and a padded value failing to
    probe would be invisible there. Pinned in
    tests/test_corrections.py::test_case_insensitive_probe_and_removal.

    Flags are a comma-joined provenance STRING column per set field
    (the reference injects ``flag_*`` BOOLEAN keys into the record dict,
    record_corrector.py:236-247 — same information, relational shape).
    Two reference quirks intentionally NOT reproduced, pinned in
    tests/test_corrections.py::test_reference_literal_quirks: a
    list-valued field is ``.extend``-ed with the correction and NO flag
    is raised (a plain-string correction extends CHAR BY CHAR there);
    and the kingdom guard tests the record's ``dwc:kingdom`` key
    case-SENSITIVELY while the apply path resolves keys
    case-insensitively, so a record spelling it ``dwc:Kingdom`` slips
    past the guard and gets rewritten.
    """
    if set_field.lower().replace(":", "").replace("_", "") in (
        "dwcscientificname",
        "scientificname",
    ):
        raise ValueError(
            "corrections never rewrite dwc:scientificName — the reference "
            "skips that key unconditionally (record_corrector.py:231-232); "
            "scientific names flow through gs_sn_crossfill instead"
        )
    flag_base = (flag_prefix or set_field).replace(":", "_").lower()
    probe = [
        (
            probe_cols[k]
            if probe_cols is not None and k in probe_cols
            else F.lower(F.trim(F.col(k)))
        ).alias(f"__k_{i}")
        for i, k in enumerate(key_fields)
    ]
    rule_side = rules.select(
        *[F.col(k).alias(f"__k_{i}") for i, k in enumerate(key_fields)],
        F.col("__set"),
        F.lit(True).alias("__hit"),
    ).dropDuplicates()
    # CONFLICTING rules for one key tuple would fan out every matching
    # record through the left join (the reference's dict-of-rules holds
    # one rule per key structurally; a DataFrame does not). The rules
    # table is a tiny dimension, so an eager uniqueness check is cheap —
    # and a loud error beats silently duplicated records.
    key_cols = [f"__k_{i}" for i in range(len(key_fields))]
    conflicted = (
        rule_side.groupBy(*key_cols).count().filter(F.col("count") > 1)
    )
    if conflicted.limit(1).count():
        raise ValueError(
            f"conflicting correction rules for key tuple {key_fields}: "
            "multiple distinct replacements share a key"
        )
    joined = df.select("*", *probe).join(
        broadcast(rule_side), on=[f"__k_{i}" for i in range(len(key_fields))],
        how="left",
    )

    cur = F.col(set_field)
    new = F.col("__set")
    hit = F.col("__hit").isNotNull()
    # lower(cur) vs the RAW replacement — exact reference parity
    # (record_corrector.py:232 compares corrected_dict[k].lower() to the
    # stored correction verbatim; replacements are stored lowercased, and
    # a mixed-case __set's re-flagging on reruns is the reference's
    # behavior too, bug-compatible by choice). A hit on an ABSENT field
    # always "differs": the reference's added branch
    # (record_corrector.py:243-247) fires unconditionally for a key the
    # record lacks — even a None correction value lands flag_<k>_added
    # (differential finding, test_corrections_vs_reference; the old
    # null-vs-null coalesce read that as a no-op and dropped the flag)
    differs = hit & (
        cur.isNull() | (F.lower(cur) != F.coalesce(new, F.lit("\0")))
    )
    if skip_when is not None:
        # an earlier kingdom guard in this correction family tripped for
        # the row: the reference's `continue` skips EVERY field of the
        # correction (record_corrector.py:221-229), not just kingdom
        differs = differs & ~F.coalesce(skip_when, F.lit(False))

    if protect_kingdom and set_field.lower().endswith("kingdom"):
        # trim to match the PROBE's normalization: the probe matches
        # ' Plantae ' to a kingdom rule (lower+trim), so the guard must
        # see the same value or a padded protected kingdom slips through
        # and gets overwritten instead of flagged suspect
        protected = differs & F.lower(F.trim(cur)).isin(
            list(PROTECTED_KINGDOMS)
        )
        # added BEFORE removed: an absent field is always the reference's
        # added branch, even when the correction value is None (:243-247)
        flag = F.when(protected, F.lit("dwc_kingdom_suspect")).when(
            differs & cur.isNull(), F.lit(f"{flag_base}_added")
        ).when(
            differs & new.isNull(), F.lit(f"{flag_base}_removed")
        ).when(differs, F.lit(f"{flag_base}_replaced"))
        value = F.when(protected | ~differs, cur).otherwise(new)
    else:
        flag = F.when(
            differs & cur.isNull(), F.lit(f"{flag_base}_added")
        ).when(
            differs & new.isNull(), F.lit(f"{flag_base}_removed")
        ).when(differs, F.lit(f"{flag_base}_replaced"))
        value = F.when(differs, new).otherwise(cur)

    # withColumns resolves BOTH expressions against the pre-rewrite row —
    # sequential withColumn would make the flag expression read the already
    # rewritten value and never fire.
    flag_col = f"flag_{flag_base}"
    if flag_col in df.columns:
        # chained rule sets on the same set_field ACCUMULATE provenance
        # (record_corrector.py keeps every flag as its own dict key): a
        # no-hit pass must not null an earlier flag, and a DOUBLE hit
        # (added by pass 1, replaced by pass 2) keeps both, comma-joined
        # — coalesce alone would discard the earlier provenance
        old_flag = F.col(flag_col)
        # SET-union of the comma-joined tokens (sorted for determinism):
        # the reference keeps flags as dict keys, so a third pass
        # re-raising 'x_replaced' must not append a duplicate token
        merged_flags = F.array_join(
            F.array_sort(
                F.array_union(F.split(old_flag, ","), F.split(flag, ","))
            ),
            ",",
        )
        flag = F.when(
            old_flag.isNotNull() & flag.isNotNull() & (old_flag != flag),
            merged_flags,
        ).otherwise(F.coalesce(flag, old_flag))
    new_cols = {set_field: value, flag_col: flag}
    if emit_guard is not None:
        guard_expr = (
            F.coalesce(protected, F.lit(False))
            if protect_kingdom and set_field.lower().endswith("kingdom")
            else F.lit(False)
        )
        new_cols[emit_guard] = guard_expr
    out = joined.withColumns(new_cols)
    drop = [f"__k_{i}" for i in range(len(key_fields))] + ["__set", "__hit"]
    return out.drop(*drop)


def apply_corrections(
    df: DataFrame,
    rule_sets: list[tuple[list[str], str, DataFrame]],
) -> DataFrame:
    """Chain rule sets in the reference's order: sorted by key-tuple length
    (record_corrector.py:210 ``sorted(self.keytups, key=len)``; the
    reference's length-tie order is SET iteration — nondeterministic
    across processes — this API keeps the caller's order within a
    length, the only deterministic reading).

    Probing matches the reference's get_etag exactly
    (record_corrector.py:192-207): each key field probes the ORIGINAL
    record value whenever the record carried one — a later tuple does
    NOT see earlier rewrites of fields the record already had — and
    falls back to the corrected value only for fields a prior correction
    ADDED (original null). Any key field still null skips the tuple for
    that row (get_etag returns None; here a null join key matches
    nothing).

    The protected-kingdom guard (record_corrector.py:221-228) is always
    armed for kingdom-valued set fields — the reference applies it
    unconditionally, so the chaining API does too. Rule sets sharing one
    key tuple form a correction FAMILY (the reference's single
    correction dict): a tripped guard skips the family's every field
    for that row (the reference's ``continue``), with the kingdom set
    applied first to surface the guard."""
    ordered = sorted(rule_sets, key=lambda t: len(t[0]))

    # snapshot the pre-chain values of every probed key field
    probed = list(dict.fromkeys(k for kf, _, _ in ordered for k in kf))
    snap = {
        f"__orig_{i}": F.col(k)
        for i, k in enumerate(probed)
        if k in df.columns
    }
    orig_name = {
        k: f"__orig_{i}" for i, k in enumerate(probed) if k in df.columns
    }
    df = df.withColumns(snap)
    probe_cols = {
        k: F.lower(
            F.trim(
                F.coalesce(F.col(orig_name[k]), F.col(k))
                if k in orig_name
                else F.col(k)
            )
        )
        for k in probed
        if k in orig_name or k in df.columns
    }

    # group into correction families by key tuple, preserving len order
    families: dict[tuple, list] = {}
    for rs in ordered:
        families.setdefault(tuple(rs[0]), []).append(rs)

    guard_seq = 0
    for kt, sets in families.items():
        is_kingdom = [s[1].lower().endswith("kingdom") for s in sets]
        # kingdom set first so its guard gates the rest of the family
        sets = [s for s, k in zip(sets, is_kingdom) if k] + [
            s for s, k in zip(sets, is_kingdom) if not k
        ]
        guard_col = None
        if any(is_kingdom) and len(sets) > 1:
            guard_col = f"__kguard_{guard_seq}"
            guard_seq += 1
        for key_fields, set_field, rules in sets:
            kingdom = set_field.lower().endswith("kingdom")
            df = apply_correction_rules(
                df, rules, key_fields, set_field,
                protect_kingdom=kingdom,
                probe_cols=probe_cols,
                skip_when=(
                    F.col(guard_col)
                    if guard_col is not None and not kingdom
                    else None
                ),
                emit_guard=guard_col if kingdom else None,
            )
        if guard_col is not None:
            df = df.drop(guard_col)
    return df.drop(*snap.keys())


def normalize_correction_rule(k: dict, v: dict) -> tuple[str, str]:
    """The corrections WRITE-side case fold (idb/corrections/loader.py:
    28-40, both add paths): a rule lands in the table as
    ``json.dumps(...).lower()`` — the WHOLE serialized document
    lowercased in one stroke, folding keys AND values. Two
    consequences the apply side (apply_correction_rules) relies on:
    probe keys are already lowercase (matching getfield's read-side
    fold, X12), and replacement VALUES are lowercase too — a correction
    can never introduce mixed case, which is why the corrected-output
    oracles plant lowercase replacements. The fold is BLUNT: any
    uppercase inside a value the curator meant literally (a URL path, an
    accession code) is folded as well — preserved, not repaired."""
    import json as _json

    return _json.dumps(k).lower(), _json.dumps(v).lower()


def annotation_identity(v: dict) -> tuple[str, str, str]:
    """AnnotationsLoader's identity extraction (idb/annotations/
    loader.py:35-38): ``(uuids_id, source_id, source)`` from an OA-ish
    annotation document — the LAST colon segment of ``hasTarget.@id``
    and ``@id`` (an ``urn:uuid:xxxx`` curie loses its scheme; an id
    with no colon passes through whole), and ``annotatedBy.name`` as
    the source. The stored body is the same whole-JSON lowercase fold
    as corrections; upsert is keyed on source_id (replay-safe
    re-fetches replace the body and timestamp, loader.py:18-28)."""
    return (
        v["hasTarget"]["@id"].split(":")[-1],
        v["@id"].split(":")[-1],
        v["annotatedBy"]["name"],
    )
