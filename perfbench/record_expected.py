#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the output fingerprints the gate
compares against (every gated registry query and the curated corpus).

    python3 perfbench/record_expected.py

Run from the repository root, only after an intended change of query or
curation semantics, and check the new outputs against the DuckDB oracle
first (see README.md, "Expected outputs").
"""

import os
import shutil
import subprocess
import sys

import run


def main():
    root = os.getcwd()
    jars = run.spark_jars(root)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    classes = run.build(root, out, jars)
    data_dir = run.data(out)
    run_root = os.path.join(out, "runs", f"record-{os.getpid()}")
    os.makedirs(os.path.join(run_root, "tmp"))
    try:
        target = os.path.join(run.HERE, "expected.json")
        cmd = run.jvm_command(classes, jars, run_root) + [
            "perfbench.Main", "record", data_dir, run_root, target]
        subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)


if __name__ == "__main__":
    main()
