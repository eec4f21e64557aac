#!/usr/bin/env python3
"""Record the batch_heavy fingerprints, once, from a run the oracle matched.

    python3 perfbench/record_fingerprints.py

Runs every batch_heavy query on the generated x1 and x20 tables, writes the
results as parquet with their DuckDB oracle SQL, and runs
`tools/check_oracle.py` on each scale. Only if every query matches the
oracle exactly does it write perfbench/fingerprints.json (row count plus
order-insensitive hash per scale/query), which every batch_heavy run then
checks against.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # nothing written beside the sources
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402


def main():
    cp = build.build()
    data = datagen.ensure(run.log)
    work = os.path.join(build.build_dir(), "run", "batch_record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    class Args:
        workload, seed, seconds, trace = "batch_record", 0, 0, 0
    if run.run_jvm(run.jvm_command(cp, work, data, Args), work) != 0:
        return 1
    with open(os.path.join(work, "out.json")) as fh:
        rec = json.load(fh)
    ok = True
    for tag in datagen.SCALES:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                            os.path.join(work, "record", tag), os.path.join(data, tag)],
                           capture_output=True, text=True)
        print(r.stdout, end="")
        ok = ok and r.returncode == 0 and "✗" not in r.stdout
    if not ok:
        run.log("oracle mismatch: fingerprints not recorded")
        return 1
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump(rec["fingerprints"], fh, indent=1, sort_keys=True)
        fh.write("\n")
    run.log(f"recorded {len(rec['fingerprints'])} fingerprints")
    return 0


if __name__ == "__main__":
    sys.exit(main())
