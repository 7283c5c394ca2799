#!/usr/bin/env python3
"""Re-pin perfbench/hashes.json, the expected result of every batch row.

    python3 perfbench/pin_hashes.py

Run from the repository root.  Builds the program, generates the batch
tables, dumps every batch row with graft.Verify, and requires
tools/check_oracle.py to pass on all of them before hashing each result in
tools/hash_audit.py's canonical form.  Run it only when the tables or the
rows' intended results change, never to make a failing run pass.
"""
import json
import os
import shutil
import subprocess
import sys

import run
from bench import checks, workloads


def main():
    classpath = run.build()
    pinned = {}
    for name, spec in workloads.WORKLOADS.items():
        if not spec["rows"]:
            continue
        data = run.data_dir(spec["sf"])
        out = os.path.abspath(os.path.join(run.STATE, "pin", name))
        shutil.rmtree(out, ignore_errors=True)
        opens = [a for p in run.ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        subprocess.run(["java"] + opens + ["-Xmx3g", "-cp", classpath,
                        "graft.Verify", data, out] + spec["rows"], check=True)
        # Compare only the rows dumped here.
        with open(os.path.join(out, "oracle_sql.json")) as f:
            oracles = json.load(f)
        missing = [r for r in spec["rows"] if r not in oracles]
        if missing:
            sys.exit(f"rows without an oracle: {missing}")
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({r: oracles[r] for r in spec["rows"]}, f)
        subprocess.run([sys.executable, "tools/check_oracle.py", data, out],
                       check=True)
        hashes = checks.row_hashes(".", out, spec["rows"])
        pinned.setdefault(f"sf{spec['sf']}", {}).update(hashes)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "hashes.json")
    with open(path, "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
