#!/usr/bin/env python3
"""The repo's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. The first run builds the program and the
JVM harness with sbt (perfbench/build.sbt compiles against the root
build) and caches the classpath under .bench_build/; later runs rebuild
only when a source or build file changed. Each run then

1. generates the workload's inputs from --seed (gen.py) and prints their
   fingerprint;
2. starts one JVM (perfbench.Main) on local[<cores>] that times set-up
   several times and a cold pass, runs a fixed number of unmeasured
   warm-up passes, and times warm passes for --seconds;
3. checks the outputs (correct.py) — a run that fails prints no timings
   and exits 1;
4. prints a summary and, as the last line, one JSON object with the
   end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import correct  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(ROOT, "fixtures")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_S = 700     # the first run in a checkout builds
DEADLINE_S = 170  # every run after the build
JVM_HEAP = "3g"

WORKLOADS = {
    # end-to-end cost of fresh build + plan + count: DSL build (q217's
    # eager k-center rounds), planning and the scheduler floor
    "catalog_unprepared": {
        "kind": "catalog",
        "gen": {"scale": 0.01, "tables": gen.ALL},
        "queries": [
            "q01_scan_filter", "q04_join3", "q05_anti_join",
            "q11_window_topk", "q14_tumbling", "q20_dedup_keyed",
            "q37_asof_join", "q139_semantic_dedup",
            "q166_quality_classifier", "q217_kcenter_coreset"],
        # built (untimed) in traced runs so their kernels get timed too
        "kernel_queries": ["q147_training_pipeline", "q207_oneshot_neardup"],
        "setup_reps": 5,
        # passes get ~30% faster over the first half-dozen in the JVM
        "warmup_passes": 5,
    },
    # the reference's own job: Derby -> Derby through the pipeline; order
    # keys every 32nd integer span ~480k, so orders loads as five
    # 100,000-key chunks and the key gap falls inside the chunk plan
    "migrate_tpch": {
        "kind": "migrate",
        "gen": {"scale": 0.01, "tables": gen.TPCH, "gap_share": 0.03,
                "order_key_stride": 32, "shuffle": True, "csv": True},
        "setup_reps": 3,
        "warmup_passes": 2,
    },
}

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file that goes into the build."""
    h = hashlib.sha256()
    picks = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        picks += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for r, _, fs in sorted(os.walk(d)):
            picks += [os.path.join(r, f) for f in sorted(fs)]
    for p in picks:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, deadline, **kw):
    """Run `cmd` in its own process group; on the deadline kill the whole
    group and wait for it. Returns (exit code, captured stdout or None)."""
    proc = subprocess.Popen(cmd, start_new_session=True, text=True, **kw)
    try:
        out, _ = proc.communicate(
            timeout=max(1, deadline - time.monotonic()))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish in time")


def build(deadline):
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(WORK, exist_ok=True)
    stamp = sources_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        code, stdout = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            deadline, cwd=HERE, stdout=subprocess.PIPE, stderr=out)
    lines = [ln for ln in (stdout or "").splitlines() if ln.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        with open(log, "a") as out:
            out.write(stdout or "")
        fail(f"build failed (exit {code}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, work, inputs, spec, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-cp", cp, "perfbench.Main",
            "--workload", spec["kind"], "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--work", work]
    cmd += ["--setup-reps", str(spec["setup_reps"]),
            "--warmup-passes", str(spec["warmup_passes"])]
    for k in ("queries", "kernel_queries"):
        if spec.get(k):
            cmd += ["--" + k.replace("_", "-"), ",".join(spec[k])]
    # the catalog queries' trained fixtures (centroids, classifier) come
    # from this checkout, for the program and its oracle SQL alike
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp, GRAFT_FIXTURES_DIR=FIXTURES)
    env.pop("SPARK_GRAFT_CPUS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code, _ = run_group(cmd, deadline, cwd=ROOT, env=env, stdout=out,
                            stderr=subprocess.STDOUT)
    if code != 0:
        fail(f"the JVM exited with {code}; see {log}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def summary(name, result, metrics, attempted, failed):
    print(f"workload {name}: {result['cores']} cores, "
          f"{len(result['passes'])} passes, host telltale "
          f"{result['telltale_ms']:.1f} ms (bare 1-task job)")
    for k, v in metrics.items():
        print(f"  {k:34s} {v:14.4f} {analysis.unit(k)}")
    print(f"  {'failed_share':34s} {failed / attempted:14.4f} share "
          f"({failed} of {attempted} queries, chunks and statements)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not "
             "next to perfbench/; run from a full checkout")
    spec = WORKLOADS[args.workload]

    cp = build(time.monotonic() + BUILD_S)
    t_start = time.monotonic()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    rows = gen.generate(spec["gen"], args.seed, inputs)
    print(f"inputs: seed {args.seed}, {sum(rows.values())} rows, "
          f"sha256 {gen.fingerprint(inputs)}")
    if spec["kind"] == "catalog":
        print(f"fixtures: sha256 {gen.fingerprint(FIXTURES)}")

    t_jvm = time.monotonic()
    result = run_jvm(cp, args, work, inputs, spec, deadline)
    t_check = time.monotonic()

    if spec["kind"] == "catalog":
        problems = correct.catalog(ROOT, inputs, os.path.join(work, "verify"),
                                   result["verify"])
    else:
        problems = correct.migration(inputs, result["verify"])
    attempted = result["attempted"]
    failed = len(result["failures"])
    print(f"times: inputs {t_jvm - t_start:.1f} s, jvm {t_check - t_jvm:.1f} "
          f"s, check {time.monotonic() - t_check:.1f} s", file=sys.stderr)
    problems += [f"{f['op']} failed: {f['error']}: {f['message'][:200]}"
                 for f in result["failures"]]

    if problems:
        # no timings; inputs and outputs stay for a look at what went wrong
        for pr in problems:
            print(f"INCORRECT: {pr}")
        print(json.dumps({"correct": False, "attempted": attempted,
                          "failed": failed, "metrics": {}}))
        sys.exit(1)

    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f]
        metrics, rows_acc = analysis.per_layer(result, spans)
        traced = [p["pass"] for p in result["passes"] if p["kind"] == "traced"]
        print(f"spans: {os.path.join(work, 'spans.jsonl')}; largest self "
              "times (median over traced passes): " + ", ".join(
                  f"{n} {v:.3f} s"
                  for n, v in analysis.top_self_times(spans, traced)))
        if rows_acc:
            bad = [r for r in rows_acc if not analysis.within_tolerance(r)]
            print(f"{len(rows_acc) - len(bad)} of {len(rows_acc)} query "
                  f"walls within max({analysis.ACCOUNT_SHARE:.0%}, "
                  f"{analysis.ACCOUNT_ABS_S * 1e3:.0f} ms) of build + "
                  f"planner phases + run + tracer waits")
            for r in bad:
                print(f"  unaccounted: {r['query']} wall {r['wall']:.3f} s, "
                      f"residual {r['residual']:.3f} s")
            walls = [r["wall"] for r in rows_acc]
            pct = analysis.reportable_percentile(len(walls))
            tail = (f", p{pct} {analysis.percentile(walls, pct):.3f} s"
                    if pct and pct > 50 else "")
            print(f"query wall over {len(walls)} samples: median "
                  f"{analysis.median(walls):.3f} s{tail}")
    else:
        metrics = analysis.end_to_end(result, sum(rows.values()))
    summary(args.workload, result, metrics, attempted, failed)

    for d in ("inputs", "verify", "tmp", "warehouse", "derby"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({
        "correct": True, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": analysis.unit(k)}
                    for k, v in metrics.items()}}))

if __name__ == "__main__":
    main()
