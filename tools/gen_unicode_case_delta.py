"""Generate idb_backend_spark/data/unicode_case_delta.py.

Empirically diffs the ENGINE's case mapping (Spark `lower`/`upper`,
whatever Unicode version this JVM ships — JDK 17 = Unicode 13) against
the host CPython's (3.11 = Unicode 14) over every assigned code point,
and writes the 1:1 correctable delta as translate() source/target
strings. The engine twins that mirror a reference `.lower()` (F1
getfield, the fulltext `_fold_lower`) append this translate so their
output matches CPython — and DuckDB's utf8proc, which also tracks a
NEWER Unicode than the JVM — on code points whose case pair was
assigned after the JVM's tables (the U+10570 Vithkuqi class, which
once made a fulltext query match nothing).

Derivation is pure public data: the Unicode Character Database as
shipped by CPython and by this JDK. Re-run after a JDK or CPython
upgrade; tests/test_unicode_skew_sweep.py fails loudly if the committed
table no longer matches the live pair of runtimes.

Usage: python tools/gen_unicode_case_delta.py [out_path]
"""

from __future__ import annotations

import os
import sys
import unicodedata

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from idb_backend_spark.session import get_spark  # noqa: E402

OUT = (
    sys.argv[1]
    if len(sys.argv) > 1
    else "idb_backend_spark/data/unicode_case_delta.py"
)


def assigned_chars() -> list[str]:
    out = []
    for cp in range(0x110000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ch = chr(cp)
        if unicodedata.category(ch) == "Cn":
            continue
        out.append(ch)
    return out


def jvm_case(spark, chars: list[str]) -> dict[str, tuple[str, str]]:
    """One job: every assigned char -> (jvm_lower, jvm_upper)."""
    df = spark.createDataFrame([(c,) for c in chars], "ch string")
    rows = df.select(
        "ch", F.lower("ch").alias("lo"), F.upper("ch").alias("up")
    ).collect()
    return {r["ch"]: (r["lo"], r["up"]) for r in rows}


def main() -> None:
    spark = get_spark("gen_unicode_case_delta")
    chars = assigned_chars()
    jvm = jvm_case(spark, chars)
    lower_src, lower_dst, upper_src, upper_dst = [], [], [], []
    unfixable: list[str] = []
    for ch in chars:
        py_lo, py_up = ch.lower(), ch.upper()
        jvm_lo, jvm_up = jvm[ch]
        if py_lo != jvm_lo:
            # translate() is strictly 1:1 — a one-to-many divergence
            # (none exist in the 13->14 delta; new case pairs are
            # simple mappings) would need a different mechanism
            if len(py_lo) == 1 and len(jvm_lo) == 1:
                lower_src.append(jvm_lo)
                lower_dst.append(py_lo)
            else:
                unfixable.append(f"lower {ch!r}: {jvm_lo!r} -> {py_lo!r}")
        if py_up != jvm_up:
            if len(py_up) == 1 and len(jvm_up) == 1:
                upper_src.append(jvm_up)
                upper_dst.append(py_up)
            else:
                unfixable.append(f"upper {ch!r}: {jvm_up!r} -> {py_up!r}")
    if unfixable:
        raise SystemExit(
            "one-to-many case divergences cannot be expressed as a "
            "translate map:\n" + "\n".join(unfixable)
        )
    # dedupe while preserving pairing (an uncased JVM char may be the
    # jvm_lo of several inputs — e.g. the capital and the small letter
    # both lower to the capital on the JVM when the pair is unassigned
    # there; all such pairs agree on the target by construction)
    seen: dict[str, str] = {}
    for s, d in zip(lower_src, lower_dst):
        if s in seen:
            assert seen[s] == d, (s, seen[s], d)
        seen[s] = d
    lo_pairs = sorted(seen.items())
    seen = {}
    for s, d in zip(upper_src, upper_dst):
        if s in seen:
            assert seen[s] == d, (s, seen[s], d)
        seen[s] = d
    up_pairs = sorted(seen.items())

    def esc(s: str) -> str:
        return "".join(f"\\U{ord(c):08X}" for c in s)

    body = f'''"""JVM->CPython case-mapping delta (GENERATED — do not edit).

Generated by tools/gen_unicode_case_delta.py from the live runtime
pair: it diffs Spark's `lower`/`upper` (this JVM's Unicode tables)
against CPython's `str.lower`/`str.upper` over every assigned code
point and records the 1:1 corrections as translate() src/dst strings.
On this JDK 17 (Unicode 13) / CPython 3.11 (Unicode 14) pair the delta
is exactly the case pairs Unicode assigned in version 14 — the
Vithkuqi block and friends (the class of the U+10570 fulltext skew).

`py_lower_delta`/`py_upper_delta`: append after F.lower/F.upper where
the expression mirrors a reference-Python `.lower()`/`.upper()`.
Pinned live by tests/test_unicode_skew_sweep.py (regenerate on
JDK/CPython upgrade).
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

#: chars the JVM's lower() leaves as-is but CPython maps (src -> dst)
LOWER_DELTA_SRC = "{"".join(esc(s) for s, _ in lo_pairs)}"
LOWER_DELTA_DST = "{"".join(esc(d) for _, d in lo_pairs)}"

#: same for upper()
UPPER_DELTA_SRC = "{"".join(esc(s) for s, _ in up_pairs)}"
UPPER_DELTA_DST = "{"".join(esc(d) for _, d in up_pairs)}"


def py_lower_delta(c: Column) -> Column:
    """Correct an already-F.lower()-ed column to CPython semantics."""
    return F.translate(c, LOWER_DELTA_SRC, LOWER_DELTA_DST)


def py_upper_delta(c: Column) -> Column:
    """Correct an already-F.upper()-ed column to CPython semantics."""
    return F.translate(c, UPPER_DELTA_SRC, UPPER_DELTA_DST)
'''
    with open(OUT, "w") as f:
        f.write(body)
    print(
        f"wrote {OUT}: {len(lo_pairs)} lower pairs, "
        f"{len(up_pairs)} upper pairs"
    )
    spark.stop()


if __name__ == "__main__":
    main()
