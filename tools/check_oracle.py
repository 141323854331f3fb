"""Local replica of the driver's correctness gate: run each Spark
query and its DuckDB oracle side-by-side, compare row count + column
names + order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dstream_spark.queries import ALL_TABLES, QUERIES  # noqa: E402
from dstream_spark.session import get_spark  # noqa: E402


def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}".rstrip("0").rstrip(".") or "0"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def hash_rows(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(QUERIES)
    spark = get_spark()
    con = duckdb.connect()
    for t in ALL_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            continue
        if q.oracle is None:
            print(f"SKIP {name}: no oracle ({len(s_rows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.sql(q.oracle)
            d_cols = [c for c in res.columns]
            d_rows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(s_cols) == sorted(d_cols)
        ok_count = len(s_rows) == len(d_rows)
        sh = hash_rows(s_cols, s_rows)
        dh = hash_rows(d_cols, d_rows)
        ok_hash = sh == dh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        print(
            f"{status} {name}: rows {len(s_rows)}/{len(d_rows)} cols={ok_cols} hash={ok_hash} ({time.time()-t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"     spark cols: {sorted(s_cols)}\n     duck  cols: {sorted(d_cols)}")
            if ok_cols and not ok_hash and s_rows and d_rows:
                order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                dorder = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                s_set = sorted("|".join(norm_cell(r[i]) for i in order) for r in s_rows)
                d_set = sorted("|".join(norm_cell(r[i]) for i in dorder) for r in d_rows)
                import itertools

                shown = 0
                for a, b in itertools.zip_longest(s_set, d_set):
                    if a != b and shown < 3:
                        print(f"     spark: {a}\n     duck : {b}")
                        shown += 1
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
