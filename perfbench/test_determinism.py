#!/usr/bin/env python3
"""Seed determinism of the benchmark inputs and of the Table 1 outputs.

    python3 perfbench/test_determinism.py

Checks that the same seed gives byte-identical input files and a
byte-identical Table 1 result (the verified rows as dumped, and their
hash), and that a different seed gives different inputs. Runs the
cohort_1m workload twice (about two minutes).
"""
import filecmp
import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

SEED, OTHER = 7, 8


def same_files(a, b):
    fa = sorted(os.path.relpath(p, a) for p in glob.glob(os.path.join(a, "**", "*.parquet"),
                                                         recursive=True))
    fb = sorted(os.path.relpath(p, b) for p in glob.glob(os.path.join(b, "**", "*.parquet"),
                                                         recursive=True))
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
                            for f in fa)


def table1_run(seed):
    """One short cohort_1m run; returns the verified hash and the dumped
    result rows."""
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "cohort_1m",
                    "--seed", str(seed), "--seconds", "1", "--trace", "0"],
                   check=True, stdout=subprocess.DEVNULL)
    out = os.path.join(HERE, "target", "out", f"cohort_1m-seed{seed}-trace0")
    with open(os.path.join(out, "result.json")) as fh:
        verified = json.load(fh)["verified"]["cohort_1m"]
    with open(verified["path"], "rb") as fh:
        return verified["hash"], fh.read()


def main():
    tmp = tempfile.mkdtemp(dir=os.path.join(HERE, "target"))
    try:
        for workload in ("cohort_1m", "ops_mix"):
            gen.generate(os.path.join(tmp, "a"), SEED, workload)
            gen.generate(os.path.join(tmp, "b"), SEED, workload)
            gen.generate(os.path.join(tmp, "c"), OTHER, workload)
        assert same_files(os.path.join(tmp, "a"), os.path.join(tmp, "b")), \
            "same seed gave different input bytes"
        for f in ("cohort_1m.parquet", "ops/lineitem.parquet", "ops/documents.parquet"):
            assert not filecmp.cmp(os.path.join(tmp, "a", f), os.path.join(tmp, "c", f),
                                   shallow=False), f"a different seed left {f} unchanged"
    finally:
        shutil.rmtree(tmp)
    first = table1_run(SEED)
    second = table1_run(SEED)
    assert first == second, "same seed gave a different Table 1 result (hash or bytes)"
    print("ok: inputs byte-identical per seed, differ across seeds; Table 1 output identical")


if __name__ == "__main__":
    main()
