#!/usr/bin/env python3
"""Record the relational workload's goldens: each query's row count and digest.

Usage, from the repository root:

    python3 perfbench/record_goldens.py

Runs perfbench.Record twice in separate JVMs and requires identical
results, so a golden never pins a nondeterministic digest. Then checks
the recorded results against the catalog's DuckDB oracle SQL with
tools/check_oracle.py, and the golden row counts against the written
results. Only when every check passes does it write
perfbench/src/main/resources/goldens.json.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

DATA = os.path.join(run.HERE, "data", "sf0.1")
GOLDENS = os.path.join(run.HERE, "src", "main", "resources", "goldens.json")


def record(cp, tag):
    work = os.path.join(run.TARGET, "record", tag)
    out = os.path.join(work, "out")
    rc, _ = run.run_bounded(run.java_cmd(cp, work, "perfbench.Record", [DATA, out]),
                            1800, cwd=work)
    if rc != 0:
        sys.exit(f"record {tag} failed")
    with open(os.path.join(out, "goldens.json")) as fh:
        return out, json.load(fh)


def main():
    cp = run.classpath()
    out, first = record(cp, "a")
    _, second = record(cp, "b")
    unstable = sorted(n for n in first if first[n] != second.get(n))
    if unstable:
        sys.exit(f"nondeterministic results: {unstable}")
    import pyarrow.parquet as pq
    for name, g in first.items():
        rows = pq.read_table(os.path.join(out, name)).num_rows
        if rows != g["rows"]:
            sys.exit(f"{name}: golden rows {g['rows']} but {rows} written")
    oracle = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
                             DATA, out] + sorted(first), capture_output=True, text=True)
    print(oracle.stdout)
    if oracle.returncode != 0:
        sys.exit("oracle check failed")
    with open(GOLDENS, "w") as fh:
        json.dump(first, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(first)} goldens to {os.path.relpath(GOLDENS, run.ROOT)}")


if __name__ == "__main__":
    main()
