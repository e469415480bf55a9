#!/usr/bin/env python3
"""Per-stage view of a traced perfbench run.

Usage: python3 tools/spans.py <perfbench out dir> [--op N]

Reads <out dir>/result.json of a `perfbench/run.py ... --trace 1` run
(e.g. perfbench/target/out/cohort_1m-seed1-trace1) and prints each measured
operation's span tree, op -> build | exec -> Spark job -> stage, with wall
time, and for each stage its task CPU time, input records and task count.
Jobs are named by their call site (`collect at TableOne.scala:410`) and
tagged `exact` when they run inside `exactQuartiles` (the perfbench
trace also has a `sketch` tag, which no current code path produces).
`--op N` prints only the N-th operation (0-based).
"""
import argparse
import json
import os
import sys
from collections import defaultdict


def load_spans(out_dir):
    with open(os.path.join(out_dir, "result.json")) as f:
        spans = json.load(f).get("spans")
    if not spans:
        sys.exit(f"{out_dir}: result.json has no spans (run perfbench with --trace 1)")
    return spans


def render(spans, only=None):
    """Lines of the op -> build|exec -> job -> stage tree."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    for v in kids.values():
        v.sort(key=lambda s: (s["start_ms"], s["id"]))

    def ms(s):
        return s["end_ms"] - s["start_ms"]

    lines = []
    ops = [s for s in kids[0] if s["kind"] == "op"]
    for i, op in enumerate(ops):
        if only is not None and i != only:
            continue
        t = op["tags"]
        err = f"  ERROR {t['error']}" if t.get("error") else ""
        lines.append(f"op {i} {op['name']}  pass {t.get('pass')}  {ms(op):.0f} ms{err}")
        for ph in (c for c in kids[op["id"]] if c["kind"] in ("build", "exec", "job")):
            depth = "  "
            if ph["kind"] != "job":
                lines.append(f"  {ph['kind']}  {ms(ph):.0f} ms")
                jobs = [j for j in kids[ph["id"]] if j["kind"] == "job"]
                depth = "    "
            else:  # a job started outside build and exec hangs under the op
                jobs = [ph]
            for j in jobs:
                jt = j["tags"]
                path = f"  [{jt['quartile_path']}]" if jt.get("quartile_path") else ""
                lines.append(f"{depth}job {jt.get('job_id')}  {j['name']}  {ms(j):.0f} ms{path}")
                for st in (c for c in kids[j["id"]] if c["kind"] == "stage"):
                    tg = st["tags"]
                    lines.append(
                        f"{depth}  {st['name']}  {ms(st):.0f} ms  cpu {tg['task_cpu_ms']:.0f} ms"
                        f"  in {tg['input_records']:,} rec  {tg['tasks']} tasks")
    return lines


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--op", type=int, default=None)
    a = ap.parse_args(argv)
    print("\n".join(render(load_spans(a.out_dir), a.op)))


if __name__ == "__main__":
    main()
