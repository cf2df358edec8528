"""Checks each curation query's Spark output with the program's own DuckDB
differential check, tools/check_oracle.py: same column names, same row
count, same hash over the sorted canonical rows as the query's oracle
(`SparkEntry.oracleSql`, dumped next to the outputs as oracle_sql.json)."""
import contextlib
import io
import json
import os
import sys


def check(root, data_dir, out_dir):
    """query -> None when tools/check_oracle.py passes it, else the reason."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    printed = io.StringIO()
    with contextlib.redirect_stdout(printed):
        check_oracle.main(data_dir, out_dir)
    # it prints "PASS <query> (<n> rows)" or "FAIL <query>: <reason>" per query
    result = {name: "not checked" for name in names}
    for line in printed.getvalue().splitlines():
        status, _, rest = line.partition(" ")
        name = rest.split(" ")[0].rstrip(":")
        if name in result:
            result[name] = None if status == "PASS" else rest
    return result
