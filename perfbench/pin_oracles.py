"""Pin the expected result hash of every benchmarked registry query:
run the registry's DuckDB oracle SQL on the fixture copies under
``perfbench/fixtures/`` and write ``fixtures/oracle_hashes.json``.

    python3 perfbench/pin_oracles.py

Run it again only when a query, its oracle or the fixture changes; the
benchmark itself reads the pinned file and never runs DuckDB oracles.
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import checks  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    from bow_hunter_pipeline_spark import registry

    sql = registry.oracle_sql()
    pinned: dict[str, dict[str, str]] = {}
    for size in workloads.SIZES:
        sf_dir = workloads.fixture_dir(size)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        pinned[size] = {}
        for name in workloads.SERVE_QUERIES:
            res = con.execute(sql[name]).fetch_arrow_table()
            tbl = res.read_all() if hasattr(res, "read_all") else res
            pinned[size][name] = checks.arrow_hash(tbl)
            print(f"{size} {name} {tbl.num_rows} rows {pinned[size][name][:12]}", flush=True)
        con.close()
    with open(checks.PINNED, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
