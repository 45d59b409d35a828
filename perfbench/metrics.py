"""Reduce one run's op records and spans to the benchmark's metrics."""
import math
import statistics
from collections import defaultdict

# The highest percentile each workload can report with at least ten
# samples beyond it in one pass, which is what a run at the length
# BENCHMARK.json fixes measures; None where a pass holds too few ops for
# any (the query workload).
TAIL_PERCENTILE = {"registry-queries": None, "coding-session": 55}

MIB = 1048576.0


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def geomean(xs):
    xs = [x for x in xs if x is not None and x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None


def percentile(values, p):
    """Nearest-rank `p`th percentile, or None unless at least ten samples
    lie beyond it."""
    if p is None or not values:
        return None
    ordered = sorted(values)
    rank = max(math.ceil(p / 100.0 * len(ordered)), 1)
    if len(ordered) - rank < 10:
        return None
    return ordered[rank - 1]


def covered_ms(start, end, intervals):
    """Length of the union of `intervals`, clipped to [start, end]."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if s is not None and e is not None and min(e, end) > max(s, start))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times_ms(spans):
    """{span id: its duration minus the part its child spans cover}."""
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        if s["start_ms"] is None or s["end_ms"] is None:
            continue
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - covered_ms(s["start_ms"], s["end_ms"], children[s["id"]])
    return out


def end_to_end(results, correct_ops):
    """The untraced run's metrics. `correct_ops` is the set of op indices
    whose answers checked out."""
    ops = [o for o in results["ops"] if not o["warm"]]
    lat = [o["latency_s"] for o in ops]
    by_kind = defaultdict(list)
    for o in ops:
        by_kind[o["kind"]].append(o["latency_s"])
    return {
        "setup_s": results["setup_s"],
        "throughput_ops_s": sum(1 for o in ops if o["i"] in correct_ops) / sum(lat),
        "latency_p50_s": median(lat),
        "geomean_query_s": geomean([median(v) for v in by_kind.values()]),
    }


def details(results, workload):
    """End-to-end figures that only some workloads have, with sample counts."""
    ops = [o for o in results["ops"] if not o["warm"]]
    lat = [o["latency_s"] for o in ops]
    p = TAIL_PERCENTILE.get(workload)
    out = {
        "session_start_s": results["session_s"],
        "samples": len(lat),
        "passes": results["passes"],
        "timed_s": results["timed_s"],
        "tail_percentile": p,
        "latency_tail_s": percentile(lat, p),
        "heap_peak_mb": results["heap_peak_mb"],
        "per_kind_p50_s": {k: median([o["latency_s"] for o in ops if o["kind"] == k])
                           for k in sorted({o["kind"] for o in ops})},
        "per_kind_samples": {k: sum(1 for o in ops if o["kind"] == k)
                             for k in sorted({o["kind"] for o in ops})},
    }
    for cls in ("commit", "read", "persist"):
        xs = [o["latency_s"] for o in ops if o["cls"] == cls]
        if xs:
            out[f"{cls}_p50_s"] = median(xs)
    out["sizes"] = {k: v for k, v in results["workload"].items() if k != "oracle"}
    return out


def per_layer(results, trace, cores):
    """(generic, specific): the per-layer metrics every workload reports,
    and the ones only some workloads exercise. Only the traced passes
    count; the untraced passes of the same run give the overhead."""
    timed = [o for o in results["ops"] if not o["warm"]]
    traced = [o for o in timed if o["traced"]]
    ids = {o["i"] for o in traced}
    n = len(traced)
    spans = trace["spans"]
    jobs = defaultdict(list)
    stages = defaultdict(list)
    named = defaultdict(list)
    for s in spans:
        if s["name"] == "spark.job" and s["op"] in ids:
            jobs[s["op"]].append(s)
        elif s["name"] == "spark.stage" and s["op"] in ids:
            stages[s["op"]].append(s)
        elif s["op"] in ids or s["name"] == "sources.graph_build":
            named[s["name"]].append(s)
    all_stages = [st for v in stages.values() for st in v]
    job_wall = {o["i"]: covered_ms(o["start_ms"], o["end_ms"],
                                   [(j["start_ms"], j["end_ms"]) for j in jobs[o["i"]]])
                for o in traced}
    actions = [a for a in trace["actions"] if a["op"] in ids]
    op_ms = sum(o["latency_s"] for o in traced) * 1000.0

    def pass_median(p, kind):
        return median([o["latency_s"] for o in timed if o["pass"] == p and o["kind"] == kind])

    # Passes run untraced, traced, traced, untraced. The overhead compares
    # the second traced pass with the untraced pass right after it: the
    # first untraced pass still sits on the steep part of JIT warm-up.
    passes = {o["pass"] for o in timed}
    ratios = [pass_median(p, k) / pass_median(p + 1, k)
              for p in passes if p % 4 == 2 and p + 1 in passes
              for k in {o["kind"] for o in timed if o["pass"] == p}]

    generic = {
        "driver.self_s": median([o["latency_s"] - job_wall[o["i"]] / 1000.0 for o in traced]),
        "spark.job_wall_s": median([job_wall[o["i"]] / 1000.0 for o in traced]),
        "spark.jobs_per_op": sum(len(v) for v in jobs.values()) / n,
        "spark.stages_per_op": len(all_stages) / n,
        "spark.tasks_per_op": sum(st["tasks"] for st in all_stages) / n,
        "spark.task_busy_share": sum(st["run_ms"] for st in all_stages) / (cores * op_ms),
        "spark.task_cpu_s": sum(st["cpu_ns"] for st in all_stages) / 1e9 / n,
        "spark.stage_wait_s": sum((st["first_launch_ms"] - st["start_ms"]) / 1000.0
                                  for st in all_stages if st["first_launch_ms"] is not None) / n,
        "spark.failed_tasks": sum(st["failed_tasks"] for st in all_stages),
        "spark.shuffle_write_mb": sum(st["shuffle_write_bytes"] for st in all_stages) / MIB / n,
        "spark.shuffle_read_mb": sum(st["shuffle_read_bytes"] for st in all_stages) / MIB / n,
        "catalyst.plan_s": sum(a["plan_ms"] for a in actions) / 1000.0 / n,
        "catalyst.actions_per_op": len(actions) / n,
        "jvm.gc_pause_s": sum(o["gc_ms"] for o in traced) / 1000.0 / n,
        "jvm.heap_peak_mb": results["heap_peak_mb"],
        "trace.overhead_ratio": geomean(ratios) - 1.0,
    }

    specific = {
        "spark.gc_s": sum(st["gc_ms"] for st in all_stages) / 1000.0 / n,
        "spark.spill_mb": sum(st["spill_bytes"] for st in all_stages) / MIB / n,
        "spark.unattributed_jobs": trace["unattributed_jobs"],
        "traced_ops": n,
    }
    queries = [o for o in traced if o["cls"] == "query"]
    if queries:
        specific["operators.build_s"] = median([o["build_s"] for o in queries])
        specific["operators.exec_s"] = median([o["exec_s"] for o in queries])
        for kind in sorted({o["kind"] for o in queries}):
            qid = kind.split("_")[0]
            mine = [o for o in queries if o["kind"] == kind]
            specific[f"query.{qid}_s"] = median([o["latency_s"] for o in mine])
            counts = sorted({len(jobs[o["i"]]) for o in mine})
            specific[f"query.{qid}_jobs"] = counts[0] if len(counts) == 1 else counts
    batches = [b for b in trace["batches"] if b["op"] in ids]
    if batches:
        specific["streaming.batches_per_op"] = len(batches) / n
        specific["streaming.batch_s"] = median([b["duration_ms"] / 1000.0 for b in batches])
    self_ms = self_times_ms(spans)
    for name, ss in sorted(named.items()):
        if name in ("op", "check", "setup", "finish"):
            continue
        specific[f"{name}_s"] = median([(s["end_ms"] - s["start_ms"]) / 1000.0 for s in ss])
        specific[f"{name}.self_s"] = median([self_ms.get(s["id"], 0.0) / 1000.0 for s in ss])
    persists = [o for o in traced if o["kind"] == "persist"]
    if persists:
        specific["core.plan_nodes"] = median([o["plan_nodes"] for o in persists])
        specific["core.bytes_written_mb"] = median([o["bytes_written"] / MIB for o in persists])
    return generic, specific
