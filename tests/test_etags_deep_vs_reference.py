"""r14 pool class (VERDICT r13 task 4): duplicate-key and
deep-structure edges through the canonical hashers, EXECUTED against
the reference's own ``idb/helpers/etags.py``.

Three surfaces:

* ``object_hash`` vs ``objectHasher`` — a seeded fuzz pool of deeply
  nested structures (7 levels, unicode keys, empty containers, mixed
  numerics, bools, None) across both hash types and both sort_arrays
  modes, plus the typed corners the recursion branches on;
* the unknown-type boundary — the reference PRINTS the type and hashes
  the empty string; the engine raises (machine-pinned divergence: a
  silent empty-string hash would collide unrelated unhashable inputs);
* the duplicate-key pair-array contract — ``etag_pairs_expr`` hashes
  every pair (duplicates ordered by value by array_sort), while the
  reference's calcEtag input is a DICT and can never carry one; the
  wire guarantee (readers fold duplicates, operators/ingest._field)
  is what keeps the two equal, so the divergence outside the
  guarantee is pinned here, not hidden.
"""

from __future__ import annotations

import importlib.util
import random
import sys

import pytest

from idb_backend_spark.functions.etags import calc_etag, object_hash


@pytest.fixture(scope="module")
def ref_etags(requires_reference):
    sys.path.insert(0, "/root/reference")
    spec = importlib.util.spec_from_file_location(
        "ref_etags_mod", "/root/reference/idb/helpers/etags.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_KEYS = ["a", "A", "", "ключ", "né", "0", "dwc:genus", "z" * 40, "\t",
         "k.1", "idigbio:data"]
_SCALARS = [
    "", "x", "  padded  ", "ünïcode✓", "😀𐐷🦕", "𝔘𝔫𝔦", "line\nbreak", 'q"uote',
    "back\\slash", "\x00nul", 0, -1, 2 ** 63, 1.0, -0.0, 0.1, 1e20,
    3.14159, True, False, None, "True", "None", "1.0",
    # newly-assigned-in-Unicode-14 code points (r15 skew sweep): hashing
    # is byte-level, so chars the JVM's Unicode-13 tables call
    # unassigned must hash identically to the reference anyway
    "\U00010570vithkuqi", "\U00016AC0\U00016AC1", "\U00000870\U0001E290",
]


def _gen(rng: random.Random, depth: int):
    """One random JSON-ish value; containers shrink with depth."""
    if depth <= 0 or rng.random() < 0.35:
        return rng.choice(_SCALARS)
    if rng.random() < 0.5:
        return [
            _gen(rng, depth - 1) for _ in range(rng.randrange(0, 4))
        ]
    return {
        rng.choice(_KEYS) + str(i) if rng.random() < 0.5
        else rng.choice(_KEYS): _gen(rng, depth - 1)
        for i in range(rng.randrange(0, 4))
    }


def test_object_hash_deep_fuzz_vs_reference(ref_etags):
    """400 seeded deep structures × {sha1, sha256} × {sort_arrays
    on/off}: digest equality with the executed reference recursion."""
    from conftest import soak_seeds

    for seed in soak_seeds(0xE7A65):
        rng = random.Random(seed)
        for i in range(400):
            data = _gen(rng, 7)
            for hash_type in ("sha1", "sha256"):
                for sa in (False, True):
                    assert object_hash(
                        data, hash_type, sort_arrays=sa
                    ) == ref_etags.objectHasher(
                        hash_type, data, sort_arrays=sa
                    ), (seed, i, sa, hash_type, data)


def test_object_hash_typed_corners_vs_reference(ref_etags):
    """The recursion's branch points, explicitly: digest-of-digests for
    lists (empty list = sha of empty string), key+digest concatenation
    for dicts (empty dict likewise), bool-as-int str(), float repr,
    None-as-empty, and nesting that alternates container types."""
    corners = [
        [], {}, [[]], [{}], {"": []}, {"": {}}, [None], {"k": None},
        [[[[["deep"]]]]],
        {"a": {"b": {"c": {"d": {"e": "f"}}}}},
        [True, False, 1, 0],            # bool vs int collide by design
        {"n": 1.0, "m": "1.0"},         # str(1.0) == "1.0" collision
        [0.1, 1e20, -0.0, 2 ** 63],
        [{"x": [1, {"y": [[], {}]}]}],
        ["a", ["a"], [["a"]]],          # nesting changes the digest
        {"a": "bc", "ab": "c"},         # key+digest concat ambiguity
    ]
    for data in corners:
        for sa in (False, True):
            assert object_hash(data, "sha1", sort_arrays=sa) == (
                ref_etags.objectHasher("sha1", data, sort_arrays=sa)
            ), (sa, data)
    # bool/int and float/str collisions are REAL in the reference —
    # pin that the oracle itself collides, so nobody "fixes" the engine
    assert ref_etags.objectHasher("sha1", [True]) == (
        ref_etags.objectHasher("sha1", ["True"])
    )
    assert object_hash([True]) == object_hash(["True"])


def test_object_hash_unknown_type_divergence_pinned(ref_etags, capsys):
    """Unknown types: the reference prints the type and hashes the
    EMPTY STRING (etags.py:72-74 — so ANY two unknown values collide,
    and collide with "" and None); the engine raises TypeError. Both
    behaviors executed and pinned."""
    import hashlib

    ref = ref_etags.objectHasher("sha1", (1, 2))  # a tuple is unknown
    assert ref == hashlib.sha1(b"").hexdigest()
    assert ref == ref_etags.objectHasher("sha1", None)  # the collision
    with pytest.raises(TypeError):
        object_hash((1, 2))


def test_calc_etag_deep_values_vs_reference(ref_etags):
    """calcEtag with non-string values (the unconsumed-extension merge
    and flag bools put non-strings into the record dict): compact-JSON
    byte equality on nested values, executed."""
    from conftest import soak_seeds

    for seed in soak_seeds(0xCA1C):
        rng = random.Random(seed)
        for _ in range(200):
            rec = {
                rng.choice(_KEYS) + str(i): _gen(rng, 4)
                for i in range(rng.randrange(1, 6))
            }
            rec["flag_encoding_error"] = rng.random() < 0.5
            assert calc_etag(rec) == ref_etags.calcEtag(rec), (seed, rec)


def test_pair_array_duplicate_key_contract(spark, ref_etags):
    """The wire contract, pinned from both sides: with UNIQUE keys the
    native pair etag equals calcEtag of the folded dict; with DUPLICATE
    keys it hashes BOTH pairs (array_sort orders the tie by value —
    deterministically) and therefore CANNOT equal calcEtag of any
    single fold. The readers' duplicate-canonical folds (r14) are what
    keep duplicates off the wire — if a new source ever leaks them,
    this is the divergence it buys."""
    import pyspark.sql.functions as F

    from idb_backend_spark.functions.etags import etag_pairs_expr

    rows = [
        # unique keys: parity with the dict fold
        ([("a", "1"), ("b", "2")], True),
        # duplicate key, distinct values: diverges from EVERY dict fold
        ([("a", "1"), ("a", "2"), ("b", "3")], False),
        # duplicate key, IDENTICAL values: json bytes repeat the pair —
        # still no dict fold equals it
        ([("a", "1"), ("a", "1")], False),
    ]
    df = spark.createDataFrame(
        [(i, r) for i, (r, _) in enumerate(rows)],
        "i int, rec array<struct<k string, v string>>",
    )
    got = {
        r["i"]: r["e"]
        for r in df.select(
            "i", etag_pairs_expr(F.col("rec")).alias("e")
        ).collect()
    }
    for i, (pairs, parity) in enumerate(rows):
        first_wins = {}
        for k, v in pairs:
            first_wins.setdefault(k, v)
        folds = {
            ref_etags.calcEtag(dict(pairs)),       # last wins
            ref_etags.calcEtag(first_wins),        # first wins
        }
        if parity:
            assert got[i] in folds and len(folds) == 1
        else:
            assert got[i] not in folds, (i, pairs)
    # determinism of the duplicate ordering (sorted by value, not by
    # input position): reversed input, same hash
    rev = spark.createDataFrame(
        [(0, [("a", "2"), ("a", "1"), ("b", "3")])],
        "i int, rec array<struct<k string, v string>>",
    ).select(etag_pairs_expr(F.col("rec")).alias("e")).collect()[0]["e"]
    assert rev == got[1]
