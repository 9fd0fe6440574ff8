"""Regenerate ``expected.json``: the row count and order-insensitive value
digest of every benchmark query over ``data/sf0.01``.

    python3 perfbench/make_expected.py

The digest comes from the query's DuckDB oracle
(``__spark_entry__.oracle_sql()``) over the same parquet files, and the
engine's own answer must digest identically or the script fails.  Queries
without an oracle, or whose oracle is pinned to one scale factor
(``SF_PINNED_ORACLES``), get a row-count check only.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main() -> int:
    import duckdb

    import __spark_entry__
    import engine
    from advanced_etl_pipelines_spark.operators.caching import release_tracked_caches
    from advanced_etl_pipelines_spark.plans.registry import SF_PINNED_ORACLES
    from registry_load import BI_SCAN, CURATION, DATA_DIR, EXPECTED
    from scripts.check_oracle import TABLES
    from stats import result_digest

    queries = __spark_entry__.queries()
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(DATA_DIR, t)}.parquet'")

    work = os.path.join(engine.package_root(), ".perfbench-work", f"expected-{os.getpid()}")
    eng = engine.Engine(work, os.cpu_count() or 1)
    out, bad = {}, []
    try:
        spark = eng.start()
        for name in BI_SCAN + CURATION:
            df = queries[name](spark, DATA_DIR)
            rows = df.collect()
            got = result_digest(rows, df.columns)
            release_tracked_caches()
            if name not in oracles or name in SF_PINNED_ORACLES:
                out[name] = {"rows": len(rows), "digest": None}
                print(f"rows-only {name}: {len(rows)}")
                continue
            res = con.execute(oracles[name])
            drows = res.fetchall()
            want = result_digest(drows, [d[0] for d in res.description])
            if (len(drows), want) != (len(rows), got):
                bad.append(name)
                print(f"MISMATCH {name}: spark {len(rows)} rows, oracle {len(drows)}")
                continue
            out[name] = {"rows": len(rows), "digest": want}
            print(f"ok {name}: {len(rows)} rows")
    finally:
        eng.close()
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"engine and oracle disagree on {bad}; expected.json not written")
        return 1
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
