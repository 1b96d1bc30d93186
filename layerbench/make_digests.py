#!/usr/bin/env python3
"""Regenerates layerbench/digests.json: the order-insensitive digest of
each hot-set query's oracle SQL, run in DuckDB over the tables in
layerbench/data. Run from the repository root after changing the tables
or the hot set:

    python3 layerbench/make_digests.py
"""
import glob
import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    import duckdb
    cp = run.build()
    with tempfile.TemporaryDirectory(dir=run.BENCH) as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, "layerbench.Oracle", out],
                       check=True, stdin=subprocess.DEVNULL)
        with open(out) as f:
            oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(run.BENCH, "data", "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    digests = {q: {"digest": run.digest(con, sql)}
               for q, sql in sorted(oracle.items())}
    with open(os.path.join(run.BENCH, "digests.json"), "w") as f:
        json.dump(digests, f, indent=2)
        f.write("\n")
    for q, d in digests.items():
        print(q, d["digest"])


if __name__ == "__main__":
    main()
