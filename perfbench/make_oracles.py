"""Write ``oracles.json``: the DuckDB oracle's result hash for every
query in the mix, over the benchmark's own copy of the sf0.01 tables.

    python3 perfbench/make_oracles.py

The oracles are the package's ``oracle_sql()`` statements run by
DuckDB, hashed the way ``scripts/exact_gate.py`` compares results.
They depend only on the data, not on the code under test, so the file
is committed; rerun this only when the data or the mix changes.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, HERE)


def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from workloads import DATA_DIR, ORACLES, QUERY_MIX, data_digest, result_hash

    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(DATA_DIR, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    sql = entry.oracle_sql()
    hashes = {q: result_hash(con.sql(sql[q]).df()) for q in QUERY_MIX}
    with open(ORACLES, "w") as fh:
        json.dump({"data_sha256": data_digest(), "queries": hashes}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
