"""Provenance check for perfbench/expected.tsv.

For each workload in expected.tsv, runs the library's own `graft.Verify` over the
benchmark's input tables (perfbench/data/sf0.1) for the queries in expected.tsv, diffs its
output against the DuckDB oracle with `tools/check_oracle.py`, and checks
that the Verify row counts equal the recorded expectations. Run it after
`run.py --record-expected`:

    python3 perfbench/crosscheck.py
"""
import glob
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

import run

ORACLE = os.path.join(run.ROOT, "tools", "check_oracle.py")


def main():
    classes = run.build.build()
    expected = {}
    with open(run.EXPECTED) as f:
        for line in f:
            w, q, rows, _, _ = line.rstrip("\n").split("\t")
            expected.setdefault(w, {})[q] = int(rows)
    ok = True
    for workload, queries in expected.items():
        data = run.base_data()
        work = os.path.join(run.WORK, f"crosscheck-{os.getpid()}")
        out = os.path.join(work, "verify")
        os.makedirs(work, exist_ok=True)
        try:
            rc = run.java(classes, ["--verify", data, "--verify-out", out,
                                    "--queries", ",".join(sorted(queries)),
                                    "--cores", str(run.nproc())], work, 900)
            if rc != 0:
                run.die(f"graft.Verify failed (exit {rc})", 1)
            print(f"== {workload}: tools/check_oracle.py")
            r = subprocess.run([sys.executable, ORACLE, data, out],
                               capture_output=True, text=True)
            print(r.stdout.strip())
            if r.returncode != 0:
                print(r.stderr.strip()[-2000:])
            ok &= r.returncode == 0 and "FAIL" not in r.stdout
            for q, rows in sorted(queries.items()):
                got = sum(pq.ParquetFile(p).metadata.num_rows
                          for p in glob.glob(os.path.join(out, q, "*.parquet")))
                same = got == rows
                ok &= same
                print(f"{'rows-match' if same else 'ROWS-DIFFER'} {q}: "
                      f"verify {got}, expected.tsv {rows}")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print("crosscheck", "PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
