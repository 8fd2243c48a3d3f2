#!/usr/bin/env python3
"""Record catalog-floor's output digests, oracle-checked first.

    python3 bench/goldens.py

The harness writes every query's output as parquet, its digest and its
oracle SQL (`graftbench.Main dump`); the repository's DuckDB oracle
(`tools/check_oracle.py`) then compares each output with the oracle SQL.
Only a query whose per-query line reads `OK` or `OK~` gets its digest
recorded, in bench/goldens/sf0.001.json. The oracle's summary line is
not used: it counts every query it was given.

A DuckDB check on every benchmark run would take too long; runs compare
digests against these goldens instead. The corpus is the repository's
fixed test data, so the goldens do not depend on the run's seed.
"""
import json
import os
import re
import subprocess
import sys

import run


def record(cp, testdata):
    corpus = os.path.join(testdata, "sf0.001")
    out = os.path.join(run.WORK, "goldens", "catalog-floor")
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "dump.log")
    rc = run.run_logged(run.java_cmd(cp, ["dump", corpus, out]),
                        run.WORK, run.java_env(), log, 1800)
    if rc != 0:
        sys.exit(f"dump failed (see {log})")
    with open(os.path.join(out, "digests.json")) as f:
        digests = json.load(f)
    oracle = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"), corpus, out]
        + list(digests), capture_output=True, text=True)
    passed = set()
    for line in oracle.stdout.splitlines():
        m = re.match(r"^(OK~?|FAIL)\s+([A-Za-z0-9_]+)", line)
        if m and m.group(1).startswith("OK"):
            passed.add(m.group(2))
        if m:
            print(line)
    kept = {n: d for n, d in digests.items() if n in passed}
    dest = os.path.join(run.HERE, "goldens", "sf0.001.json")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        json.dump(kept, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(kept)}/{len(digests)} digests recorded in {dest}")


def main():
    testdata = run.testdata_dir()
    os.makedirs(run.WORK, exist_ok=True)
    record(run.ensure_built(run.source_stamp()), testdata)


if __name__ == "__main__":
    main()
