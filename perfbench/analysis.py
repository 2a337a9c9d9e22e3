"""Turns the harness's result file and span sidecar into metrics.

Pure functions only, so the arithmetic is unit-tested
(test_perfbench.py) without a JVM.
"""
import statistics

MB = 1e6

# per-layer metric names, in the order BENCHMARK.json lists them
KERNELS = ("BloomContains", "DotProduct", "L2Norm", "PackStr8",
           "ShingleHashSet", "SignBandCodesBcast")
PER_LAYER = (
    "operators.build_s", "operators.build_jobs", "operators.build_task_s",
    "planner.analysis_s", "planner.optimization_s", "planner.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.floor_s",
    "execution.task_s", "execution.cpu_s", "execution.gc_s",
    "execution.max_task_s", "execution.peak_task_mem_mb",
    "execution.spill_mb", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.max_task_read_mb",
) + tuple(f"plans.{k}.ns_per_row" for k in KERNELS) + (
    "codegen.compile_s", "codegen.classes", "caches.resident_mb",
    "sources.introspect_s", "sources.fetch_s", "sources.write_s",
    "sources.rows_read", "sources.rows_written", "sources.batches",
    "sources.chunks", "sources.max_chunk_s",
    "pipeline.ddl_s", "pipeline.load_s", "pipeline.validate_count_s",
    "pipeline.validate_digest_s", "pipeline.post_ddl_s",
    "pipeline.index_pool_s", "pipeline.orphan_cleanup_s",
    "pipeline.statements",
    "trace.overhead_share", "trace.unaccounted_share", "host.telltale_ms",
)
UNITS = {"_s": "s", "_mb": "MB", "_ms": "ms", "ns_per_row": "ns",
         "_share": "share"}

# A query's parts must add up to its wall within this share of the wall,
# or within this many seconds, whichever is larger.
ACCOUNT_SHARE = 0.10
ACCOUNT_ABS_S = 0.025


def unit(name):
    if name == "rows_per_s":
        return "1/s"
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def union_s(intervals):
    """Total length (s) of the union of [start_ns, end_ns) intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total / 1e9


def self_times(spans):
    """Self time (s) of each span: its duration minus the union of its
    children's intervals clipped to it. Children of one parent may
    overlap (pool threads), so they are unioned, not summed."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        inner = [(max(a, c["start_ns"]), min(b, c["end_ns"]))
                 for c in kids.get(s["id"], ())
                 if c["end_ns"] > a and c["start_ns"] < b]
        out[s["id"]] = (b - a) / 1e9 - union_s(inner)
    return out


def reportable_percentile(n, ladder=(50, 75, 90, 95, 99, 99.9)):
    """The highest percentile of `ladder` with at least ten of `n`
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in ladder:
        if round(n * (100 - p) / 100, 6) >= 10:
            best = p
    return best


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def top_self_times(spans, passes, k=5):
    """The k span names with the largest self time, each as the median
    over `passes` of the per-pass sum."""
    st = self_times(spans)
    per = {}
    for p in passes:
        sums = {}
        for s in spans:
            if s["pass"] == p:
                sums[s["name"]] = sums.get(s["name"], 0.0) + st[s["id"]]
        for name, v in sums.items():
            per.setdefault(name, []).append(v)
    meds = {n: statistics.median(v + [0.0] * (len(passes) - len(v)))
            for n, v in per.items()}
    return sorted(meds.items(), key=lambda x: -x[1])[:k]


def _subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def _sum(spans, key, names=None):
    return sum(s["stats"].get(key, 0.0) for s in spans
               if names is None or s["name"] in names)


def _max(spans, key, names=None):
    return max((s["stats"].get(key, 0.0) for s in spans
                if names is None or s["name"] in names), default=0.0)


def query_accounting(spans):
    """Per catalog query of one pass: wall, and its parts — build, the
    count's analysis, optimization and planning, the count's run time as
    the QueryExecutionListener reports it, and the tracer's own waits."""
    by_id = {s["id"]: s for s in spans}
    rows = []
    for q in spans:
        parent = by_id.get(q["parent"])
        if parent is None or parent["name"] != "pass":
            continue
        kids = [s for s in spans if s["parent"] == q["id"]]
        build = [s for s in kids if s["name"] == "build"]
        execute = [s for s in kids if s["name"] == "execute"]
        if not build or not execute:
            continue
        st = execute[0]["stats"]
        parts = {
            "build": (build[0]["end_ns"] - build[0]["start_ns"]) / 1e9,
            "trace": sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in kids
                         if s["name"] == "trace.drain"),
            "analysis": st.get("planner.analysis_s", 0.0),
            "optimization": st.get("planner.optimization_s", 0.0),
            "planning": st.get("planner.planning_s", 0.0),
            "run": st.get("planner.run_s", 0.0),
        }
        wall = (q["end_ns"] - q["start_ns"]) / 1e9
        rows.append({"query": q["name"], "wall": wall, "parts": parts,
                     "residual": wall - sum(parts.values())})
    return rows


def within_tolerance(row):
    return abs(row["residual"]) <= max(ACCOUNT_SHARE * row["wall"],
                                       ACCOUNT_ABS_S)


def pass_layers(spans, cores):
    """Per-layer totals of one traced pass (spans of that pass only)."""
    m = {}
    build = {"build"}
    m["operators.build_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9
                                 for s in spans if s["name"] == "build")
    m["operators.build_jobs"] = _sum(spans, "jobs", build)
    m["operators.build_task_s"] = _sum(spans, "task_s", build)
    for ph in ("analysis", "optimization", "planning"):
        m[f"planner.{ph}_s"] = _sum(spans, f"planner.{ph}_s", {"execute"})
    m["scheduler.jobs"] = _sum(spans, "jobs")
    m["scheduler.stages"] = _sum(spans, "stages")
    m["scheduler.tasks"] = _sum(spans, "tasks")
    floor = 0.0
    by_id = {s["id"]: s for s in spans}
    for q in spans:
        parent = by_id.get(q["parent"])
        if parent is not None and parent["name"] == "pass" and \
                any(c["parent"] == q["id"] and c["name"] == "build"
                    for c in spans):
            wall = (q["end_ns"] - q["start_ns"]) / 1e9
            task = _sum(_subtree(spans, q), "task_s")
            floor += max(0.0, wall - task / cores)
    m["scheduler.floor_s"] = floor
    m["execution.task_s"] = _sum(spans, "task_s")
    m["execution.cpu_s"] = _sum(spans, "cpu_s")
    m["execution.gc_s"] = _sum(spans, "gc_s")
    m["execution.max_task_s"] = _max(spans, "max_task_s")
    m["execution.peak_task_mem_mb"] = _max(spans, "peak_task_mem_b") / MB
    m["execution.spill_mb"] = _sum(spans, "spill_b") / MB
    m["shuffle.write_mb"] = _sum(spans, "shuffle_write_b") / MB
    m["shuffle.read_mb"] = _sum(spans, "shuffle_read_b") / MB
    m["shuffle.max_task_read_mb"] = _max(spans, "max_task_read_b") / MB
    load = {"pipeline.load"}
    m["sources.introspect_s"] = sum(
        (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
        if s["name"] == "sources.introspect")
    m["sources.fetch_s"] = _sum(spans, "jdbc.fetch_s", load)
    m["sources.write_s"] = _sum(spans, "jdbc.write_s", load)
    m["sources.rows_read"] = _sum(spans, "jdbc.rows_read", load)
    m["sources.rows_written"] = _sum(spans, "jdbc.rows_written", load)
    m["sources.batches"] = _sum(spans, "jdbc.batches", load)
    # a load is a one-task key-bounds job, then a write job with a task
    # per chunk
    m["sources.chunks"] = _sum(spans, "max_job_tasks", load)
    m["sources.max_chunk_s"] = _max(spans, "max_task_s", load)
    for ph in ("ddl", "load", "validate_count", "validate_digest",
               "post_ddl", "index_pool", "orphan_cleanup"):
        m[f"pipeline.{ph}_s"] = union_s(
            [(s["start_ns"], s["end_ns"]) for s in spans
             if s["name"] == f"pipeline.{ph}"])
    return m


def per_layer(result, spans):
    """Per-layer metrics of a traced run: medians over its traced warm
    passes; codegen from its cold pass; kernel ns/row from the kernel
    timing; the trace overhead from its untraced warm passes."""
    passes = result["passes"]
    traced = [p for p in passes if p["kind"] == "traced"]
    plain = [p for p in passes if p["kind"] == "warm"]
    per_pass = {p["pass"]: pass_layers(
        [s for s in spans if s["pass"] == p["pass"]], result["cores"])
        for p in traced}
    out = {}
    for name in PER_LAYER:
        vals = [v[name] for v in per_pass.values() if name in v]
        if vals:
            out[name] = median(vals)
    cold = passes[0]
    out["codegen.compile_s"] = cold["codegen_compile_s"]
    out["codegen.classes"] = cold["codegen_classes"]
    out["caches.resident_mb"] = median(
        [p.get("caches_resident_mb", 0.0) for p in traced])
    out["pipeline.statements"] = median(
        [p.get("statements", 0) for p in traced])
    for k in KERNELS:
        out[f"plans.{k}.ns_per_row"] = result["kernels_ns_per_row"].get(k,
                                                                        0.0)
    out["trace.overhead_share"] = (
        median([p["wall_s"] for p in traced]) /
        median([p["wall_s"] for p in plain]) - 1)
    rows = [r for p in traced for r in query_accounting(
        [s for s in spans if s["pass"] == p["pass"]])]
    walls = sum(r["wall"] for r in rows)
    out["trace.unaccounted_share"] = (
        sum(abs(r["residual"]) for r in rows) / walls if walls else 0.0)
    out["host.telltale_ms"] = result["telltale_ms"]
    return out, rows


def end_to_end(result, input_rows):
    """End-to-end metrics of an untraced run."""
    warm = [p["wall_s"] for p in result["passes"] if p["kind"] == "warm"]
    pass_s = median(warm)
    return {
        "setup_s": median(result["setup_s"]),
        "pass_s": pass_s,
        "cold_pass_s": result["passes"][0]["wall_s"],
        "rows_per_s": input_rows / pass_s,
        "peak_heap_mb": median([p["peak_heap_mb"] for p in result["passes"]
                                if p["kind"] == "warm"]),
    }
