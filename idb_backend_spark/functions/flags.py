"""Data-quality flags and score (reference conversions.py:227-271, :955-962).

Flags are declarative QA markers folded into a ``flags array<string>``
column; the data-quality score ``dqs`` is
``(Σ include_in_score over non-null typed fields − #flags) / maxscore``
(A8, conversions.py:264-271). Everything is native expressions.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


class FlagSpec(NamedTuple):
    """One conditional flag: ``name`` is raised on the rows where
    ``cond`` holds."""

    name: str
    cond: Column


def flag_when(name: str, cond: Column) -> FlagSpec:
    """A single conditional flag, kept as its explicit (name, cond) spec
    so ``fold_flags`` can fold it with one evaluation of ``cond``; use
    ``flag_column`` where a string column is needed."""
    return FlagSpec(name, cond)


def flag_column(spec: FlagSpec) -> Column:
    """The spec as a string column: ``name`` where ``cond`` holds, else
    NULL."""
    return F.when(spec.cond, F.lit(spec.name))


def fold_flags(*flags: FlagSpec | Column) -> Column:
    """F17 — collect raised flags into a compact array (conversions.py:955-962).

    Deliberately NOT ``array_compact(array(...))``: array_compact
    rewrites to the higher-order ArrayFilter, a CodegenFallback that
    knocks the entire enclosing Project out of whole-stage codegen —
    measured 2x on the full enrichment pipeline (the flags fold sits in
    its widest select). Concat of per-flag 0/1-element arrays computes
    the identical value inside codegen.

    Each argument is either a ``FlagSpec``, folded as
    ``when(cond, array(name))`` — one evaluation of ``cond`` per row —
    or a staged string flag column (NULL = not raised), folded as
    ``when(c.isNotNull(), array(c))``. Only pass a staged column there:
    an unstaged conditional column would be evaluated twice per row,
    because CaseWhen branch contexts defeat codegen subexpression
    elimination.
    """
    empty = F.array().cast("array<string>")
    if not flags:
        return empty

    def one(f: FlagSpec | Column) -> Column:
        if isinstance(f, Column):
            return F.when(f.isNotNull(), F.array(f)).otherwise(empty)
        name, cond = f
        return F.when(cond, F.array(F.lit(name))).otherwise(empty)

    return F.concat(*[one(f) for f in flags])


def raw_data_flags(data: Column) -> Column:
    """F17's third flag source — grabAll's RAW-DATA flag fold
    (conversions.py:960-962): every key of
    the raw record map that starts with ``flag_`` appends its suffix to
    the flags array, prefix stripped via the reference's
    ``"_".join(k.split("_")[1:])`` — which for a ``flag_``-prefixed key
    is exactly the substring after the first underscore (``flag__x`` →
    ``_x``, bare ``flag_`` → ``""``; both pinned). Presence of the KEY
    is the trigger — the value is never consulted. Keys fold in map
    order, matching the reference's dict-insertion iteration; callers
    concat this AFTER the computed flags, the reference's append order
    (setFlags, then grabber flag_ keys, then raw-data flag_ keys).

    A NULL raw map yields [] (not NULL): callers F.concat this with the
    computed flags, and concat null-propagates — without the coalesce a
    null map would silently drop EVERY computed flag for the row. The
    reference has no such row (a missing raw dict cannot occur there),
    so [] is the only concat-safe parity choice."""
    return F.coalesce(
        F.transform(
            F.filter(F.map_keys(data), lambda k: k.startswith("flag_")),
            lambda k: F.regexp_replace(k, "^flag_", ""),
        ),
        F.array().cast("array<string>"),
    )


def standard_coord_flags(lat: Column, lon: Column) -> list[FlagSpec]:
    """The declarative geopoint flags of the reference's setFlags table
    (conversions.py:235-246, emitted as ``<key>_<flag>`` by :255-261):
    ``geopoint_0_coord`` when EITHER coordinate is zero (x[0] == 0 OR
    x[1] == 0 — a lone zero is the classic missing-value sentinel) and
    ``geopoint_similar_coord`` when |lat| == |lon| (sign-flip /
    transposition suspects). setFlags runs on the FINAL geopoint, so
    callers pass the post-datum-shift coordinates; NULL coordinates
    yield no flag, matching the reference's None guard (:257)."""
    return [
        flag_when("geopoint_0_coord", (lat == 0) | (lon == 0)),
        flag_when("geopoint_similar_coord", F.abs(lat) == F.abs(lon)),
    ]


def dqs_score(
    scored_fields: dict[str, int], flags_col: Column, maxscore: float
) -> Column:
    """A8/F18 — data-quality score (conversions.py:264-271).

    scored_fields maps column name -> include_in_score weight (0/1 in the
    reference's schema table, conversions.py:35-188). NOT clamped at
    zero: the reference returns the raw (present-weights - n_flags) /
    maxscore, so a sparse record with many flags scores NEGATIVE — a
    real, rankable signal the consumers sort on.
    """
    present = [
        F.col(name).isNotNull().cast("int") * F.lit(w)
        for name, w in scored_fields.items()
        if w
    ]
    total = sum(present[1:], present[0]) if present else F.lit(0)
    return (total - F.size(flags_col)) / F.lit(float(maxscore))


def dqs_score_for(
    record_type: str, flags_col: Column, columns: list[str] | None = None
) -> Column:
    """A8/F18 schema-driven — weights and maxscore read from the §1.4
    typed-schema table (data.typed_schema, mirroring conversions.py:218-224
    + :264-271) instead of a per-call-site dict. Pass ``columns``
    (e.g. ``df.columns``) to score only fields present in the frame — the
    reference's ``f[0] in d`` presence check; absent fields contribute 0
    either way, but referencing a non-existent column would not resolve."""
    from idb_backend_spark.data.typed_schema import maxscore, scored_weights

    weights = scored_weights(record_type)
    if columns is not None:
        cols = set(columns)  # hoisted: not one set build per weight
        weights = {k: w for k, w in weights.items() if k in cols}
    return dqs_score(weights, flags_col, maxscore(record_type))

