"""Write ``expected.json``: for every batch input variant, each headline
query's row count and value hash from its DuckDB oracle, plus the
tables each query reads. Run once, after a change to the generator or
to the headline list:

    python3 perfbench/make_expected.py

The oracle SQL texts come from the query registry; the benchmark
itself only reads the stored counts and hashes.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from checks import hash_rows  # noqa: E402
from gen import make_dataset  # noqa: E402
from workloads import BATCH_SF, HEADLINE, VARIANTS  # noqa: E402


def main() -> None:
    from dstream_spark.queries import ALL_TABLES, QUERIES

    out = {
        "sf": BATCH_SF,
        "tables": {
            q: sorted(t for t in ALL_TABLES if re.search(rf"\b{t}\b", QUERIES[q].oracle))
            for q in HEADLINE
        },
        "variants": {},
    }
    with tempfile.TemporaryDirectory() as tmp:
        for v in range(VARIANTS):
            sf_dir = os.path.join(tmp, f"v{v}")
            make_dataset(sf_dir, BATCH_SF, v)
            con = duckdb.connect()
            for t in ALL_TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            exp = {}
            for q in HEADLINE:
                res = con.sql(QUERIES[q].oracle)
                rows = res.fetchall()
                exp[q] = [len(rows), hash_rows(list(res.columns), rows)]
            out["variants"][str(v)] = exp
            print(f"variant {v}: {sum(n for n, _ in exp.values())} rows", file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
