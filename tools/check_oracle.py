"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark at sf0.01, run its oracle_sql() in DuckDB on the same parquet,
compare row count + schema-sorted order-insensitive value hash.

Usage: python tools/check_oracle.py [name ...]
Env: PQ_ORACLE_SF_DIR overrides the sf directory (default /root/testdata/sf0.01).
"""

from __future__ import annotations

import hashlib
import os as _os
import sys

sys.path.insert(0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))))

SF_DIR = _os.environ.get("PQ_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def table_hash(rows, colnames) -> tuple[int, str]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def main(names=None):
    import duckdb

    import __spark_entry__ as entrymod
    from pq_engine.spark.session import get_spark

    spark = get_spark(cores=8, app="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results = {}
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            sn, sh = table_hash(srows, scols)
        except Exception as e:
            results[name] = f"SPARK ERROR: {e}"
            print(f"{name:24s} SPARK ERROR: {str(e)[:200]}")
            continue
        if name not in oracles:
            results[name] = f"rows-only: {sn} rows"
            print(f"{name:24s} rows-only        n={sn}")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            on, oh = table_hash(orows, ocols)
        except Exception as e:
            results[name] = f"ORACLE ERROR: {e}"
            print(f"{name:24s} ORACLE ERROR: {str(e)[:200]}")
            continue
        ok_schema = sorted(scols) == sorted(ocols)
        ok = (sn == on) and (sh == oh) and ok_schema
        results[name] = "OK" if ok else "MISMATCH"
        print(
            f"{name:24s} {'OK ' if ok else 'MISMATCH'}  rows {sn}/{on}  "
            f"hash {sh[:8]}/{oh[:8]}  cols {scols if not ok_schema else 'match'}"
        )
    spark.stop()
    bad = [k for k, v in results.items() if v not in ("OK",) and not v.startswith("rows-only")]
    print(f"\n{len(results) - len(bad)}/{len(results)} ok; failing: {bad}")
    out_json = _os.environ.get("PQ_ORACLE_JSON")
    if out_json:
        import json as _json

        with open(out_json, "w") as f:
            _json.dump({"sf_dir": SF_DIR, "results": results,
                        "ok": len(results) - len(bad), "total": len(results),
                        "failing": bad}, f, indent=1)
        print(f"wrote {out_json}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(set(sys.argv[1:]) or None))
