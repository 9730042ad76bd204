"""JVM->CPython case-mapping delta (GENERATED — do not edit).

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
LOWER_DELTA_SRC = ""
LOWER_DELTA_DST = ""

#: same for upper()
UPPER_DELTA_SRC = "\U0000A7CB\U0000A7DC"
UPPER_DELTA_DST = "\U00000264\U0000019B"


def py_lower_delta(c: Column) -> Column:
    """Correct an already-F.lower()-ed column to CPython semantics."""
    return F.translate(c, LOWER_DELTA_SRC, LOWER_DELTA_DST)


def py_upper_delta(c: Column) -> Column:
    """Correct an already-F.upper()-ed column to CPython semantics."""
    return F.translate(c, UPPER_DELTA_SRC, UPPER_DELTA_DST)
