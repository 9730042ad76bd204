"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, comparing row count, sorted column names, and
an order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


import datetime as _dt
import math as _m


def norm_cell(v):
    if v is None:
        return "\0"
    # Spark collects struct cells as Row (a tuple subclass with fields);
    # DuckDB returns dicts — normalize Rows through the dict branch or
    # struct columns could never hash equal across engines
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, float):
        if _m.isnan(v):
            return "nan"
        if _m.isinf(v):  # int(inf) raises; one Infinity cell must not
            return "inf" if v > 0 else "-inf"  # abort the whole gate
        if v == int(v) and abs(v) < 1e15:
            return repr(int(v))
        # ABSOLUTE 9-decimal rounding — deliberately NOT a relative
        # tolerance. The repo contract (enforced per-oracle): every float
        # aggregate is round()-ed identically in Spark and oracle SQL
        # before comparison, so the gate sees pre-rounded values and this
        # normalization only absorbs repr noise. Unrounded large-
        # magnitude sums would flap on summation order with ANY fixed
        # tolerance — the discipline belongs in the oracles, which
        # tests/test_oracle_dtypes.py partially enforces.
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        # PySpark collects binary as bytearray, DuckDB as bytes — str()
        # renders them differently, so identical blobs could never match
        return bytes(v).hex()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        # json-escape elements so ["a","b"] and ["a,b"] cannot collide
        return json.dumps([norm_cell(x) for x in v])
    if isinstance(v, dict):
        return json.dumps({k: norm_cell(x) for k, x in sorted(v.items())})
    return str(v).replace("\x01", "\\x01")  # keep the cell separator safe


def value_hash(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf8"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from idb_backend_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently matching nothing would exit 0 with
        # '0 failed of 0' — a false pass for anyone using the exit code
        print(f"unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        return 2
    results = {}
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:
            results[name] = {"status": "SPARK_ERROR", "error": str(e)[:500]}
            failed.append(name)
            print(f"✗ {name}: SPARK_ERROR {str(e)[:200]}")
            continue
        if name not in oracles:
            results[name] = {
                "status": "rows_only",
                "rows": len(srows),
                "sec": round(time.time() - t0, 2),
            }
            print(f"~ {name}: rows-only, {len(srows)} rows")
            continue
        try:
            rel = con.execute(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
        except Exception as e:
            results[name] = {"status": "ORACLE_ERROR", "error": str(e)[:500]}
            failed.append(name)
            print(f"✗ {name}: ORACLE_ERROR {str(e)[:200]}")
            continue
        count_ok = len(srows) == len(orows)
        schema_ok = sorted(scols) == sorted(ocols)
        try:
            hash_ok = (
                value_hash(srows, scols) == value_hash(orows, ocols)
                if count_ok and schema_ok
                else False
            )
        except Exception as e:
            # a cell type the normalizer mishandles fails ONE query, not
            # the whole gate (same isolation the per-query run has)
            results[name] = {"status": "HASH_ERROR", "error": str(e)[:500]}
            failed.append(name)
            print(f"✗ {name}: HASH_ERROR {str(e)[:200]}")
            continue
        status = "MATCH" if (count_ok and schema_ok and hash_ok) else "MISMATCH"
        results[name] = {
            "status": status,
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            "spark_cols": sorted(scols),
            "oracle_cols": sorted(ocols),
            "sec": round(time.time() - t0, 2),
        }
        mark = "✓" if status == "MATCH" else "✗"
        print(f"{mark} {name}: {status} ({len(srows)} vs {len(orows)} rows)")
        if status != "MATCH":
            failed.append(name)
            if count_ok and schema_ok:
                # print first differing rows to debug
                sset = {
                    tuple(norm_cell(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                }
                oset = {
                    tuple(norm_cell(r[i]) for i in sorted(range(len(ocols)), key=lambda i: ocols[i]))
                    for r in orows
                }
                print("  spark-only:", list(sset - oset)[:3])
                print("  oracle-only:", list(oset - sset)[:3])
            else:
                print(f"  cols spark={sorted(scols)} oracle={sorted(ocols)}")

    with open("/tmp/correctness_local.json", "w") as f:
        json.dump(results, f, indent=1)
    n_match = sum(1 for r in results.values() if r["status"] == "MATCH")
    n_rows_only = sum(1 for r in results.values() if r["status"] == "rows_only")
    print(
        f"\n{n_match} MATCH, {n_rows_only} rows-only, {len(failed)} failed "
        f"of {len(results)}"
    )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
