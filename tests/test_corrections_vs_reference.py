"""Differential execution of the corrections engine (J10) against the
reference's ``idb/corrections/record_corrector.py`` — the real
``RecordCorrector.correct_record`` loop run as the oracle.

The module loads under the same auto-stub import hook the harness uses
for db_check (bsddb3 / psycopg2 / gevent fabricated — ``reload=False``
construction touches none of them); the bdb etag lookup is replaced by
an in-memory dict keyed with the reference's OWN ``objectHasher`` so
``get_etag`` (record_corrector.py:192-207), the protected-kingdom guard
(:221-229), the skip-scientificname rule (:231-232), the flag taxonomy
(:236-252), and the original-value probe order all execute for real.

Engine divergences documented at the kernel
(operators/corrections.py) and pinned here by machine:

- flags are a comma-joined provenance STRING column per set field vs
  the reference's boolean dict keys — compared as token sets;
- probe normalization is lower+TRIM (reference: lower only) — the
  randomized battery uses untrimmed values; the trim half-step keeps
  its pin in tests/test_corrections.py;
- a list-valued field ``.extend``-ed char-by-char (:239-240) and the
  dwc:Kingdom guard case asymmetry (:221-229 exact-key test vs the
  case-insensitive apply fold) are NOT reproduced relationally — both
  executed against the reference below so the quirk pins are
  machine-derived, not transcribed.
"""

from __future__ import annotations

import random
import sys
import types
from unittest import mock

import pytest


@pytest.fixture(scope="module")
def ref_corrector(requires_reference):
    """record_corrector loads under an auto-stub import hook; the
    RecordCorrector is built with reload=False (no postgres, no bdb)
    and its etag lookup is patched to an in-memory dict per test."""
    import importlib.abc
    import importlib.util

    roots = {
        "gevent", "psycopg2", "boto3", "botocore", "requests",
        "elasticsearch", "celery", "redis", "lxml", "pyproj", "shapely",
        "fiona", "atomicfile", "magic", "bsddb3",
    }

    class AutoStub(importlib.abc.MetaPathFinder, importlib.abc.Loader):
        def find_spec(self, name, path=None, target=None):
            if name.split(".")[0] in roots and name not in sys.modules:
                return importlib.util.spec_from_loader(
                    name, self, is_package=True
                )
            return None

        def create_module(self, spec):
            m = mock.MagicMock()
            m.__name__ = spec.name
            m.__path__ = []
            m.__spec__ = spec
            return m

        def exec_module(self, module):
            pass

    sys.meta_path.insert(0, AutoStub())
    import pandas  # noqa: F401 — pandas must initialize against the
    # REAL pytz; a fake seeded first poisons its import in subset runs
    fake_pytz = types.ModuleType("pytz")
    import datetime

    fake_pytz.utc = datetime.timezone.utc
    sys.modules.setdefault("pytz", fake_pytz)
    sys.path.insert(0, "/root/reference")
    from idb.corrections import record_corrector as RC
    from idb.helpers.etags import objectHasher

    return RC, objectHasher


def _make_corrector(RC, objectHasher, corrections: dict):
    """A RecordCorrector wired to an in-memory corrections table.

    ``corrections``: {keytup: {probe-value-tuple: correction-dict}} —
    probe values LOWERCASE (the write side stores the whole rule
    lowercased, loader.py:28-40 / operators/corrections.py
    normalize_correction_rule)."""
    rc = RC.RecordCorrector(reload=False)
    rc.keytups = set(corrections.keys())
    by_etag = {}
    for kt, rules in corrections.items():
        for vals, corr in rules.items():
            etag = objectHasher("sha256", dict(zip(kt, vals)))
            assert etag not in by_etag, "etag collision in fixture"
            by_etag[etag] = corr
    rc.corrections_etag_bdb = (
        lambda etag: {etag: by_etag[etag]} if etag in by_etag else None
    )
    return rc


FIELDS = [
    "dwc:genus",
    "dwc:specificepithet",
    "dwc:country",
    "dwc:stateprovince",
    "dwc:kingdom",
    "dwc:continent",
]

#: the shared correction table — three families (two 1-tuples, one
#: 2-tuple) hitting every branch: replace, remove, add, None-add,
#: self-referential rewrite (brasil -> brazil), the protected-kingdom
#: guard (canis+lupus kingdom rewrite vs an animalia record), and the
#: original-value probe (the 2-tuple keys on the ORIGINAL country even
#: after the 1-tuple rewrote it)
CORRECTIONS = {
    ("dwc:genus",): {
        ("rosa",): {"dwc:kingdom": "plantae",
                    "dwc:stateprovince": "florida"},
        ("canis",): {"dwc:kingdom": "animalia"},
        ("quercus",): {"dwc:kingdom": None},
        ("betula",): {"dwc:stateprovince": None},
    },
    ("dwc:country",): {
        ("us",): {"dwc:continent": "north america"},
        ("brasil",): {"dwc:country": "brazil",
                      "dwc:continent": "south america"},
        ("narnia",): {"dwc:country": None},
    },
    ("dwc:genus", "dwc:specificepithet"): {
        ("rosa", "alba"): {"dwc:country": "france",
                           "dwc:kingdom": "plantae"},
        ("canis", "lupus"): {"dwc:kingdom": "chordata"},
    },
}

ABSENT = object()
_POOLS = {
    "dwc:genus": ["Rosa", "canis", "QUERCUS", "betula", "acer", ABSENT],
    "dwc:specificepithet": ["alba", "Lupus", "rubra", ABSENT],
    "dwc:country": ["US", "Brasil", "narnia", "france", ABSENT],
    "dwc:stateprovince": ["georgia", "Florida", ABSENT],
    "dwc:kingdom": ["Plantae", "Animalia", "Viruses", "fungi", "", ABSENT],
    "dwc:continent": ["europe", ABSENT],
}


def _gen_records(n, seed):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        d = {}
        for f, pool in _POOLS.items():
            v = rng.choice(pool)
            if v is not ABSENT:
                d[f] = v
        out.append(d)
    return out


def _engine_rule_sets(spark):
    """The engine-side rendering of CORRECTIONS: one rule set per
    (key tuple, set field), rows only for the corrections that set
    that field."""
    sets = []
    for kt, rules in CORRECTIONS.items():
        set_fields = sorted({f for corr in rules.values() for f in corr})
        for sf in set_fields:
            rows = [
                vals + (corr[sf],)
                for vals, corr in rules.items()
                if sf in corr
            ]
            schema = ", ".join(
                f"`{k}` string" for k in kt
            ) + ", `__set` string"
            sets.append((list(kt), sf, spark.createDataFrame(rows, schema)))
    return sets


def _ref_flags(corrected: dict) -> set:
    return {k for k, v in corrected.items() if k.startswith("flag_") and v}


def _engine_flags(row: dict) -> set:
    toks = set()
    for col, v in row.items():
        if col.startswith("flag_") and v:
            for t in v.split(","):
                # the engine keeps the suspect token bare in the kingdom
                # flag column; the reference spells the full dict key
                toks.add("flag_" + t if not t.startswith("flag_") else t)
    return toks


def test_correct_record_vs_reference(ref_corrector, spark):
    """400 randomized records through the reference's correct_record and
    the engine's apply_corrections chain over the same rules — values
    AND flag sets must agree field for field."""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(RC, objectHasher, CORRECTIONS)

    from conftest import soak_seeds

    for seed in soak_seeds(111):
        _run_correct_record(rc, spark, seed)


def _run_correct_record(rc, spark, seed):
    records = _gen_records(400, seed=seed)

    expected, kept = [], []
    for d in records:
        try:
            corrected, _keys = rc.correct_record(dict(d))
        except AttributeError:
            # the r14-pinned removed-then-recorrected reference crash
            # (test_removed_then_recorrected_field_crashes_reference):
            # the reference DESTROYS such records, so the equality
            # differential is only defined on the survivors. The pinned
            # CI seed (111) never draws the combo; fresh-seed soaks hit
            # it almost surely (~400 × 1/120 per record), which is how
            # the r15 soak rediscovered it loop-side.
            continue
        kept.append(d)
        expected.append(corrected)
    assert len(kept) > 350, (seed, len(kept))  # crash arm stays rare
    records = kept

    rows = [tuple(d.get(f) for f in FIELDS) for d in records]
    df = spark.createDataFrame(
        [r + (i,) for i, r in enumerate(rows)],
        ", ".join(f"`{f}` string" for f in FIELDS) + ", `__i` long",
    )

    from idb_backend_spark.operators.corrections import apply_corrections

    out = apply_corrections(df, _engine_rule_sets(spark))
    got = {r["__i"]: r.asDict() for r in out.collect()}

    for i, (d, exp) in enumerate(zip(records, expected)):
        g = got[i]
        for f in FIELDS:
            assert g[f] == exp.get(f), (i, f, d, g[f], exp)
        assert _engine_flags(g) == _ref_flags(exp), (
            i, d, _engine_flags(g), _ref_flags(exp), exp,
        )


def test_none_add_flag_vs_reference(ref_corrector, spark):
    """r11 differential finding, machine-pinned as FIXED: a correction
    that sets a field the record LACKS to None still raises
    flag_<field>_added in the reference (record_corrector.py:243-247 —
    the added branch fires before any value comparison). The engine's
    old null-vs-null coalesce read it as a no-op; both sides now
    agree."""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(RC, objectHasher, CORRECTIONS)

    d = {"dwc:genus": "Betula"}  # betula rule: stateprovince -> None
    corrected, _ = rc.correct_record(dict(d))
    assert corrected.get("flag_dwc_stateprovince_added") is True
    assert corrected["dwc:stateprovince"] is None

    from idb_backend_spark.operators.corrections import apply_corrections

    df = spark.createDataFrame(
        [("betula", None)], "`dwc:genus` string, `dwc:stateprovince` string"
    )
    rules = spark.createDataFrame(
        [("betula", None)], "`dwc:genus` string, `__set` string"
    )
    row = apply_corrections(
        df, [(["dwc:genus"], "dwc:stateprovince", rules)]
    ).collect()[0]
    assert row["flag_dwc_stateprovince"] == "dwc_stateprovince_added"
    assert row["dwc:stateprovince"] is None


def test_scientificname_skip_executed(ref_corrector):
    """The unconditional dwc:scientificname skip (:231-232) executed:
    a correction dict carrying scientificname + country applies the
    country and leaves the name untouched — no flag, no rewrite. (The
    engine REFUSES scientificname as a set_field at the API level;
    tests/test_corrections.py pins that refusal.)"""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(
        RC, objectHasher,
        {("dwc:genus",): {("rosa",): {
            "dwc:scientificname": "rosa corrected",
            "dwc:country": "france",
        }}},
    )
    d = {"dwc:genus": "Rosa", "dwc:scientificname": "Rosa alba L.",
         "dwc:country": "spain"}
    corrected, _ = rc.correct_record(dict(d))
    assert corrected["dwc:scientificname"] == "Rosa alba L."
    assert "flag_dwc_scientificname_replaced" not in corrected
    assert corrected["dwc:country"] == "france"
    assert corrected["flag_dwc_country_replaced"] is True


def test_list_extend_quirk_executed(ref_corrector):
    """The list-extend quirk (:238-240) executed for real: a list-valued
    field is .extend()-ed with the correction STRING — char by char —
    and no flag is raised. The engine's relational columns are scalar
    strings; divergence documented at operators/corrections.py and
    pinned in tests/test_corrections.py::test_reference_literal_quirks —
    this run derives the pin from the reference itself."""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(
        RC, objectHasher,
        {("dwc:genus",): {("rosa",): {"dwc:stateprovince": "fl"}}},
    )
    d = {"dwc:genus": "rosa", "dwc:stateprovince": ["a", "b"]}
    corrected, _ = rc.correct_record(dict(d))
    assert corrected["dwc:stateprovince"] == ["a", "b", "f", "l"]
    assert not _ref_flags(corrected)


def test_kingdom_guard_case_asymmetry_executed(ref_corrector):
    """The guard's exact-key test vs the apply path's case-insensitive
    key fold (:221-229 vs :190 cd_keys), executed: a record spelling
    the key dwc:Kingdom with a protected value slips past the guard
    and gets REWRITTEN (flag_dwc_kingdom_replaced, no suspect flag).
    The engine's fixed column name cannot express the spelling split;
    its guard always fires for protected values — divergence documented
    at operators/corrections.py, here machine-derived."""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(
        RC, objectHasher,
        {("dwc:genus",): {("canis",): {"dwc:kingdom": "fungi-wrong"}}},
    )
    # exact-key spelling: guard fires, whole correction skipped
    d1 = {"dwc:genus": "canis", "dwc:kingdom": "Animalia"}
    c1, _ = rc.correct_record(dict(d1))
    assert c1["flag_dwc_kingdom_suspect"] is True
    assert c1["dwc:kingdom"] == "Animalia"
    # capital-K spelling: guard misses, apply path still resolves the
    # key case-insensitively and rewrites the protected value
    d2 = {"dwc:genus": "canis", "dwc:Kingdom": "Animalia"}
    c2, _ = rc.correct_record(dict(d2))
    assert "flag_dwc_kingdom_suspect" not in c2
    assert c2["dwc:Kingdom"] == "fungi-wrong"
    assert c2["flag_dwc_kingdom_replaced"] is True


def test_guard_skips_whole_family_vs_reference(ref_corrector, spark):
    """The guard's `continue` skips EVERY field of the correction, not
    just kingdom (:229) — executed on a 2-field correction and matched
    against the engine's family gating."""
    RC, objectHasher = ref_corrector
    table = {("dwc:genus",): {("canis",): {
        "dwc:kingdom": "fungi-wrong", "dwc:country": "atlantis",
    }}}
    rc = _make_corrector(RC, objectHasher, table)
    d = {"dwc:genus": "canis", "dwc:kingdom": "Animalia",
         "dwc:country": "US"}
    corrected, _ = rc.correct_record(dict(d))
    assert corrected["flag_dwc_kingdom_suspect"] is True
    assert corrected["dwc:kingdom"] == "Animalia"
    assert corrected["dwc:country"] == "US"  # sibling field skipped too

    from idb_backend_spark.operators.corrections import apply_corrections

    df = spark.createDataFrame(
        [("canis", "Animalia", "US")],
        "`dwc:genus` string, `dwc:kingdom` string, `dwc:country` string",
    )
    k_rules = spark.createDataFrame(
        [("canis", "fungi-wrong")], "`dwc:genus` string, `__set` string"
    )
    c_rules = spark.createDataFrame(
        [("canis", "atlantis")], "`dwc:genus` string, `__set` string"
    )
    row = apply_corrections(
        df,
        [(["dwc:genus"], "dwc:kingdom", k_rules),
         (["dwc:genus"], "dwc:country", c_rules)],
    ).collect()[0]
    assert row["flag_dwc_kingdom"] == "dwc_kingdom_suspect"
    assert row["dwc:kingdom"] == "Animalia"
    assert row["dwc:country"] == "US"
    assert row["flag_dwc_country"] is None


def test_removed_then_recorrected_field_crashes_reference(ref_corrector,
                                                          spark):
    """r14 soak finding (5,000-record soak of the 400-record CI
    differential, fresh seed): when one rule REMOVES a field (correction
    value None -> ``corrected_dict[cdk] = None``,
    record_corrector.py:240-245) and a LATER key tuple carries a
    correction for that same field, the reference calls
    ``corrected_dict[cdk].lower()`` on the None (:239) and
    ``correct_record`` raises AttributeError. At both production call
    sites the record is LOST: index_helper.index_record has no local
    catch, the full-reindex generators (index_from_postgres.py:65/164/
    215) poison their stream, and index_specific_uuids' batch-level
    catch (:278-280) aborts the whole 200k-record batch. The minimal
    shape with the shared fixture table: {genus: Rosa, epithet: alba,
    country: narnia} — narnia removes dwc:country, then (rosa, alba)
    re-corrects it. The seeded CI pool happens to never draw the combo
    (~1/120 per record); this pin keeps the oracle construction honest
    about why.

    The engine's chain is vectorized and cannot crash row-wise; its
    pinned semantic is the evident intent: the removed field is ABSENT
    for the later rule, which re-ADDS its value — both provenance flags
    accumulate on the field's flag column. DOCUMENTED DIVERGENCE: the
    engine keeps (and re-corrects) a record the reference destroys."""
    RC, objectHasher = ref_corrector
    rc = _make_corrector(RC, objectHasher, CORRECTIONS)

    rec = {"dwc:genus": "Rosa", "dwc:specificepithet": "alba",
           "dwc:country": "narnia"}
    with pytest.raises(AttributeError):
        rc.correct_record(dict(rec))

    df = spark.createDataFrame(
        [tuple(rec.get(f) for f in FIELDS) + (0,)],
        ", ".join(f"`{f}` string" for f in FIELDS) + ", `__i` long",
    )
    from idb_backend_spark.operators.corrections import apply_corrections

    out = apply_corrections(df, _engine_rule_sets(spark)).collect()[0]
    assert out["dwc:country"] == "france"          # re-added by (rosa, alba)
    assert out["dwc:kingdom"] == "plantae"
    assert set(out["flag_dwc_country"].split(",")) == {
        "dwc_country_removed", "dwc_country_added",
    }
