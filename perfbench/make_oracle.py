#!/usr/bin/env python3
"""Records the DuckDB oracle answers for the catalog_batch entries.

    python3 perfbench/make_oracle.py <oracle_sql.json> [fixture dir]

The oracle SQL of d08/d12 takes minutes in DuckDB, far longer than one
benchmark run may take, while its answer depends only on the SQL text and
the fixture. So each answer is computed once, here, and stored as
`oracle/<entry>.parquet`, keyed in `oracle/keys.json` by a hash of the SQL
and the fixture files. A run compares its results with the stored answer
through `scripts/check.py`, unchanged; an entry whose key no longer
matches is answered by its live oracle SQL instead (see run.py).
`oracle_sql.json` is the file a catalog_batch run writes next to its
results (perfbench/work/catalog_batch/oracle_out/).
"""
import json
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402  (shares the key function and fixture tables)


def rows_eq(a, b):
    """scripts/check.py's value rule: exact, NaN equal to NaN."""
    def same(x, y):
        both_nan = isinstance(x, float) and isinstance(y, float) and x != x and y != y
        return both_nan or x == y
    return all(same(x, y) for x, y in zip(a, b))


def main():
    sql = json.loads(Path(sys.argv[1]).read_text())
    data = Path(sys.argv[2]) if len(sys.argv) > 2 else run.DATA
    con = run.duck(data)
    keys_file = run.ORACLE / "keys.json"
    keys = json.loads(keys_file.read_text()) if keys_file.exists() else {}
    run.ORACLE.mkdir(exist_ok=True)
    for name, q in sorted(sql.items()):
        k = run.oracle_key(q, data)
        if keys.get(name) == k and (run.ORACLE / f"{name}.parquet").exists():
            continue
        print(f"oracle {name} ...", flush=True)
        dst = run.ORACLE / f"{name}.parquet"
        want = con.sql(q)
        cols, rows = want.columns, want.fetchall()
        con.execute(f"COPY ({q}) TO '{dst}' (FORMAT PARQUET)")
        back = con.sql(f"SELECT * FROM '{dst}'")
        if back.columns != cols or len(back.fetchall()) != len(rows) or not all(
                rows_eq(a, b) for a, b in zip(con.sql(f"SELECT * FROM '{dst}'").fetchall(), rows)):
            sys.exit(f"{name}: the stored answer does not read back equal to the SQL's")
        keys[name] = k
        keys_file.write_text(json.dumps(keys, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
