"""Expected output fingerprints for the benchmark's check pass.

A fingerprint is a query result's row count plus a SHA-256 over its
sorted column names and ``tools/check_oracle.norm_rows`` of its rows:
exact, type-tagged and order-insensitive, so it matches the Spark
result exactly when the oracle gate would pass it.

    python3 perfbench/fingerprints.py

rewrites ``perfbench/expected.json`` from each workload query's DuckDB
oracle at ``TINY_SCALE``, the scale of the checked cold pass. Run it
from the repo root.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def fingerprint(cols: list[str], rows: list[tuple]) -> dict:
    from tools.check_oracle import norm_rows

    body = json.dumps([sorted(cols), norm_rows(cols, rows)], ensure_ascii=False)
    return {"rows": len(rows), "sha256": hashlib.sha256(body.encode()).hexdigest()}


def main() -> int:
    import duckdb

    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    from tools.check_oracle import TABLES
    from etl_gov_spark.queries.catalog import all_oracles
    from workloads import DATA_DIR, TINY_SCALE, WORKLOADS

    oracles = all_oracles()
    out: dict[str, dict[str, dict]] = {}
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{TINY_SCALE}/{t}.parquet'"
        )
    for wl in WORKLOADS.values():
        for name in wl.queries:
            rel = con.sql(oracles[name])
            out.setdefault(TINY_SCALE, {})[name] = fingerprint(rel.columns, rel.fetchall())
    con.close()
    with open(EXPECTED, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {sum(map(len, out.values()))} fingerprints to {EXPECTED}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
