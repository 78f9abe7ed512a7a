"""Re-derives perfbench/expected/ops_mix.json, the outputs the ops_mix
workload checks against: runs each ops_mix query once on the generated
tables, records its row count and content hash, and confirms the output
against the query's DuckDB oracle (graft.SparkEntry.oracleSql) with
tools/oracle_check.py. Needs the duckdb Python module.

    python3 perfbench/confirm_ops.py
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402

EXPECTED = "perfbench/expected/ops_mix.json"


def main():
    import duckdb

    jar, _ = build.build()
    work = os.path.abspath(os.path.join(".bench_work", "confirm"))
    out = os.path.join(work, "out")
    flat = os.path.join(work, "tables")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(flat)
    code = run.run_jvm(jar, ["dump-ops", work, out], work, time.monotonic() + 900)
    if code != 0:
        sys.exit(f"perfbench: dump-ops exited {code}")
    # the oracle reads one parquet file per table
    con = duckdb.connect()
    tables = os.path.join(work, "inputs", "ops")
    for d in sorted(os.listdir(tables)):
        con.execute(f"COPY (SELECT * FROM read_parquet('{tables}/{d}/*.parquet')) "
                    f"TO '{flat}/{d}' (FORMAT parquet)")
    check = subprocess.run([sys.executable, "tools/oracle_check.py", out, flat],
                           capture_output=True, text=True)
    print(check.stdout, end="")
    confirmed = sorted(re.findall(r"^\[OK\]\s+(\S+):", check.stdout, re.M))
    with open(os.path.join(out, "observed.json")) as f:
        observed = json.load(f)
    expected = {
        "queries": observed,
        "oracle_confirmed": confirmed,
        "not_confirmed": sorted(set(observed) - set(confirmed)),
    }
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=2, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
