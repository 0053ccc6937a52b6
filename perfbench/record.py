#!/usr/bin/env python3
"""Re-record the query workload's expected results.

Run from the root of a checkout, after a change that is meant to alter a
query's result or the generated tables:

    python3 perfbench/record.py

It builds as run.py does, then
 1. graft.perfbench.Record writes the generated tables the query pass
    reads and a candidate file of per-query rows and hashes;
 2. graft.Verify dumps the same queries over the same tables;
 3. tools/check_oracle.py compares that dump with the DuckDB oracle.
The candidate replaces perfbench/expected/ only when step 3 passes.
Needs the duckdb Python module (for step 3).
"""
import os
import shutil
import subprocess
import sys

import run

EXPECTED = os.path.join(run.HERE, "expected")


def main():
    run.prepare()
    work = os.path.join(run.BUILD, "work")
    scratch = os.path.join(run.BUILD, "record")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    candidate = os.path.join(scratch, "query_mix.json")
    r = subprocess.run(run.java_cmd("graft.perfbench.Record",
                                    ["--work", work, "--out", candidate]),
                       stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        run.fail("recording run failed")
    tables = r.stdout.strip().splitlines()[-1]
    names = [l.split('"')[1] for l in open(candidate) if '"rows"' in l]
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(names))
    dump = os.path.join(scratch, "verify")
    if subprocess.run(run.java_cmd("graft.Verify", [tables, dump]),
                      env=env).returncode != 0:
        run.fail("graft.Verify failed")
    if subprocess.run([sys.executable, os.path.join("tools", "check_oracle.py"),
                       tables, dump]).returncode != 0:
        run.fail("the oracle check failed; expected results left unchanged")
    with open(candidate) as fh:
        sf = fh.read().split('"sf": ')[1].split(",")[0]
    shutil.copy(candidate, os.path.join(EXPECTED, f"query_mix-sf{sf}.json"))
    print(f"recorded {len(names)} queries at sf{sf}")


if __name__ == "__main__":
    main()
