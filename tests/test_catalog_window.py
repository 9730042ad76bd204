"""Catalog registration invariants.

Q and ORACLE hold plain module registration order, and importing the
catalog reads nothing outside the package: no entry's position depends
on which files sit in the repo root.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_keeps_registration_order():
    from idb_backend_spark.plans.catalog import Q

    # each topic module's entries are contiguous and in source order
    keys = [(f.__module__, f.__code__.co_firstlineno) for f in Q.values()]
    mods = list(dict.fromkeys(m for m, _ in keys))
    assert keys == sorted(keys, key=lambda k: (mods.index(k[0]), k[1]))


_IMPORT_PROBE = """
import os, sys
root, seen = sys.argv[1], []

def hook(ev, args):
    if ev == "open" and isinstance(args[0], str):
        p = os.path.abspath(args[0])
        if os.path.dirname(p) == root:
            seen.append(p)

sys.addaudithook(hook)
sys.path.insert(0, root)
import idb_backend_spark.plans.catalog
print(seen)
"""


def test_catalog_import_reads_no_repo_root_file():
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE, REPO],
        capture_output=True, text=True, check=True,
    ).stdout
    assert out.strip() == "[]", out


def test_oracle_keys_subset_and_ungraded_disjoint():
    from idb_backend_spark.plans.catalog import ORACLE, Q, UNGRADED

    assert set(ORACLE) <= set(Q)
    assert not (set(UNGRADED) & set(Q))
    # The two rows-only sketches stay runnable outside the graded set.
    assert {"minhash_lsh_pairs", "simhash_pairs"} <= set(UNGRADED)


def test_readme_count_matches_catalog():
    """README's graded-entry count is a tested assertion, not prose —
    round-5 verdict flagged it stale at '92' when the catalog held 100."""
    from idb_backend_spark.plans.catalog import ORACLE, Q, UNGRADED

    assert len(ORACLE) == len(Q)
    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    m = re.search(r"(\d+) graded demonstration queries", readme)
    assert m, "README no longer states the graded-entry count"
    assert int(m.group(1)) == len(Q), (
        f"README says {m.group(1)} graded queries; catalog has {len(Q)}"
    )
    m2 = re.search(r"\+(\d+) ungraded", readme)
    assert m2 and int(m2.group(1)) == len(UNGRADED)
