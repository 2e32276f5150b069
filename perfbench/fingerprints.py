"""Record the expected result fingerprints of the benchmark's queries.

Run from the repository root:

  python3 perfbench/fingerprints.py

Each query of the two query workloads runs on Spark and its
``oracle_sql()`` twin runs on DuckDB, both over the fixture tables in
``perfbench/data``. A fingerprint is written only when the two agree,
so ``fingerprints.json`` holds oracle-checked results; the script
exits 1 without writing when any query disagrees.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402


def main() -> int:
    root = Path.cwd()
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = str(root)
    import duckdb

    import __spark_entry__ as entry
    from publicationsretriever_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench-fingerprints", cores=2, shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for p in sorted(workloads.FIXTURES.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    declared, oracles = entry.queries(), entry.oracle_sql()
    out, bad = {}, []
    for name in workloads.FRONTIER + workloads.CURATION:
        df = declared[name](spark, str(workloads.FIXTURES))
        got = workloads.fingerprint(df.columns, df.collect())
        res = con.execute(oracles[name])
        want = workloads.fingerprint([d[0] for d in res.description], res.fetchall())
        print(f"{'OK  ' if got == want else 'FAIL'} {name}: {got['rows']} rows")
        if got != want:
            bad.append(name)
        out[name] = got
    spark.stop()
    if bad:
        print(f"spark and duckdb disagree on {bad}; nothing written", file=sys.stderr)
        return 1
    workloads.FINGERPRINTS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
