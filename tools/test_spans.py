#!/usr/bin/env python3
"""Self-test for spans.py's span-tree rendering.

Usage: python3 tools/test_spans.py

Renders a small synthetic span list (two ops; op -> build/exec -> job ->
stage, a job started outside build and exec, an exact-quartile job and a
failed op) and checks the lines against the fixed text below, so the
format that perf write-ups quote stays stable.
"""
import sys
import spans


def span(id, parent, kind, name, start, end, **tags):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start_ms": start, "end_ms": end, "tags": tags}


def stage(id, parent, name, start, end, cpu, rec, tasks):
    return span(id, parent, "stage", name, start, end,
                task_cpu_ms=cpu, input_records=rec, tasks=tasks)


# listed out of start order: render() sorts siblings by (start_ms, id)
SPANS = [
    span(2, 1, "build", "build", 0, 640),
    span(1, 0, "op", "cohort_1m", 0, 700, **{"pass": 1}),
    stage(5, 3, "stage 14", 20, 480, 1337.4, 1000000, 4),
    span(3, 2, "job", "collect at TableOne.scala:207", 10, 500, job_id=7),
    span(4, 2, "job", "collect at OrderStatistics.scala:88", 510, 600,
         job_id=8, quartile_path="exact"),
    stage(6, 4, "stage 15", 515, 590, 60.0, 0, 1),
    span(7, 1, "exec", "exec", 640, 700),
    span(8, 1, "job", "count at Workloads.scala:83", 690, 699, job_id=9),
    span(10, 0, "op", "cohort_1m", 800, 850, **{"pass": 2, "error": "boom"}),
    span(11, 0, "setup", "setup", 0, 5),
]

WANT = [
    "op 0 cohort_1m  pass 1  700 ms",
    "  build  640 ms",
    "    job 7  collect at TableOne.scala:207  490 ms",
    "      stage 14  460 ms  cpu 1337 ms  in 1,000,000 rec  4 tasks",
    "    job 8  collect at OrderStatistics.scala:88  90 ms  [exact]",
    "      stage 15  75 ms  cpu 60 ms  in 0 rec  1 tasks",
    "  exec  60 ms",
    "  job 9  count at Workloads.scala:83  9 ms",
    "op 1 cohort_1m  pass 2  50 ms  ERROR boom",
]


def run():
    fails = 0
    for label, got, want in (("all ops", spans.render(SPANS), WANT),
                             ("--op 1", spans.render(SPANS, only=1), WANT[-1:])):
        if got != want:
            fails += 1
            print(f"FAIL {label}:")
            print("\n".join(f"  got  {g!r}" for g in got))
            print("\n".join(f"  want {w!r}" for w in want))
        else:
            print(f"ok   {label}")
    return fails


if __name__ == "__main__":
    sys.exit(1 if run() else 0)
