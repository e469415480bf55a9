"""Per-layer metrics of a traced run, computed from the harness's spans.

Span tree per measured operation (see Trace.scala):
  op -> build | exec -> job (named by call site) -> stage | catalyst.*
Times are per-operation medians; counts and bytes are per-operation means
(run total / operations), so runs of different length compare.
"""
import statistics
from collections import defaultdict

# the ops_mix queries (Workloads.OpsQueries): every run reports each one
OPS_QUERIES = [
    "a13_grouped_quantiles_dist", "d6_minhash_dedup_cc", "m6_phash_neardup", "g2_pagerank",
    "g6_kcore", "x14_bm25", "o15_jsonl_export", "j1_outer_join", "k1_salted_agg"]


def _covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_records(spans, ok_groups):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    recs = []
    for root in (s for s in spans if s["kind"] == "op" and s["tags"]["group"] in ok_groups):
        phase = {c["kind"]: c for c in kids[root["id"]] if c["kind"] in ("build", "exec")}
        jobs = {k: [j for j in kids[phase[k]["id"]] if j["kind"] == "job"] for k in phase}
        all_jobs = jobs["build"] + jobs["exec"] + [j for j in kids[root["id"]] if j["kind"] == "job"]
        stages = [s["tags"] for j in all_jobs for s in kids[j["id"]] if s["kind"] == "stage"]
        catalyst = [c for j in all_jobs for c in kids[j["id"]] if c["kind"] == "catalyst"] + \
                   [c for c in kids[root["id"]] if c["kind"] == "catalyst"]
        b = phase["build"]
        t = root["tags"]

        def ssum(field):
            return sum(s[field] for s in stages)

        recs.append({
            "key": root["name"], "layer": t["layer"], "pass": t["pass"],
            "wall_s": t["build_s"] + t["exec_s"], "build_s": t["build_s"], "exec_s": t["exec_s"],
            "build_jobs": len(jobs["build"]), "exec_jobs": len(jobs["exec"]),
            "driver_self_s": (b["end_ms"] - b["start_ms"] - _covered(
                b["start_ms"], b["end_ms"],
                [(j["start_ms"], j["end_ms"]) for j in jobs["build"]])) / 1000.0,
            "exact_jobs": sum(j["tags"]["quartile_path"] == "exact" for j in all_jobs),
            "sketch_jobs": sum(j["tags"]["quartile_path"] == "sketch" for j in all_jobs),
            "tableone_jobs": sum(bool(j["tags"]["tableone_frame"]) for j in all_jobs),
            "jobs": len(all_jobs), "stages": len(stages), "tasks": ssum("tasks"),
            "analysis_ms": sum(c["end_ms"] - c["start_ms"] for c in catalyst
                               if c["name"] == "catalyst.analysis"),
            "optimizer_ms": sum(c["end_ms"] - c["start_ms"] for c in catalyst
                                if c["name"] == "catalyst.optimization"),
            "planning_ms": sum(c["end_ms"] - c["start_ms"] for c in catalyst
                               if c["name"] == "catalyst.planning"),
            "executions": len({c["tags"]["qe_id"] for c in catalyst}),
            "task_run_s": ssum("task_run_ms") / 1000.0, "task_cpu_s": ssum("task_cpu_ms") / 1000.0,
            "peak_mem": max([s["peak_exec_mem_bytes"] for s in stages], default=0),
            "input_bytes": ssum("input_bytes"), "input_records": ssum("input_records"),
            "shuffle_write": ssum("shuffle_write_bytes"), "shuffle_read": ssum("shuffle_read_bytes"),
            "spill": ssum("spill_bytes"), "output_bytes": ssum("output_bytes"),
            "result_bytes": ssum("result_bytes"),
            "codegen_ms": t["codegen_compile_ms"], "codegen_classes": t["codegen_classes"],
            "codegen_kb": t["codegen_bytecode_kb"], "gc_ms": t["gc_ms"], "jit_ms": t["jit_ms"],
        })
    return recs


def per_layer(record, ok_runs, rows_of, cores):
    recs = op_records(record["spans"], {r["group"] for r in ok_runs})
    t1 = [r for r in recs if r["layer"] == "tableone"]
    ops = [r for r in recs if r["layer"] == "ops"]

    def med(rs, f):
        return _med([r[f] for r in rs])

    def mean(rs, f):
        return _mean([r[f] for r in rs])

    wall = sum(r["wall_s"] for r in recs)
    by_pass = defaultdict(list)
    for r in recs:
        by_pass[r["pass"]].append(r["wall_s"])
    pass_means = [sum(v) / len(v) for v in by_pass.values()]
    m = {
        "tableone.build_s": (med(t1, "build_s"), "s"),
        "tableone.build_jobs": (mean(t1, "build_jobs"), "count"),
        "tableone.driver_self_s": (med(t1, "driver_self_s"), "s"),
        "tableone.exec_s": (med(t1, "exec_s"), "s"),
        "tableone.exec_jobs": (mean(t1, "exec_jobs"), "count"),
        "tableone.exact_quartile_jobs": (mean(t1, "exact_jobs"), "count"),
        "tableone.sketch_quartile_jobs": (mean(t1, "sketch_jobs"), "count"),
        "tableone.scala_jobs": (mean(recs, "tableone_jobs"), "count"),
        "ops.build_s": (med(ops, "build_s"), "s"),
        "ops.exec_s": (med(ops, "exec_s"), "s"),
    }
    for q in OPS_QUERIES:
        m[f"ops.{q}_s"] = (med([r for r in ops if r["key"] == q], "wall_s"), "s")
    m.update({
        "catalyst.analysis_ms": (med(recs, "analysis_ms"), "ms"),
        "catalyst.optimizer_ms": (med(recs, "optimizer_ms"), "ms"),
        "catalyst.planning_ms": (med(recs, "planning_ms"), "ms"),
        "catalyst.executions": (mean(recs, "executions"), "count"),
        "codegen.compile_ms": (med(recs, "codegen_ms"), "ms"),
        "codegen.classes": (mean(recs, "codegen_classes"), "count"),
        "codegen.bytecode_kb": (mean(recs, "codegen_kb"), "KB"),
        "scheduler.jobs": (mean(recs, "jobs"), "count"),
        "scheduler.stages": (mean(recs, "stages"), "count"),
        "scheduler.tasks": (mean(recs, "tasks"), "count"),
        "exec.task_run_s": (med(recs, "task_run_s"), "s"),
        "exec.task_cpu_s": (med(recs, "task_cpu_s"), "s"),
        "exec.core_util": (sum(r["task_run_s"] for r in recs) / (wall * cores) if wall else 0.0,
                           "ratio"),
        "exec.peak_mem_mb": (max([r["peak_mem"] for r in recs], default=0) / 1048576.0, "MB"),
        "scan.input_bytes": (mean(recs, "input_bytes"), "bytes"),
        "scan.input_records": (mean(recs, "input_records"), "count"),
        "scan.passes": (_mean([r["input_records"] / rows_of(r["key"]) for r in recs]), "count"),
        "shuffle.write_bytes": (mean(recs, "shuffle_write"), "bytes"),
        "shuffle.read_bytes": (mean(recs, "shuffle_read"), "bytes"),
        "shuffle.spill_bytes": (mean(recs, "spill"), "bytes"),
        "sources.output_bytes": (mean(recs, "output_bytes"), "bytes"),
        "driver.result_kb": (mean(recs, "result_bytes") / 1024.0, "KB"),
        "jvm.gc_ms": (med(recs, "gc_ms"), "ms"),
        "jvm.jit_ms": (med(recs, "jit_ms"), "ms"),
        "trace.op_p50_s": (_med(pass_means), "s"),
    })
    return m
