"""One-command benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the benchmark's
measurement classes from source (sbt, offline; skipped while the sources
are unchanged), generates the inputs, runs the workload in one
`local[<nproc>]` JVM launched from the compiled classes, checks the
outputs, writes a run artifact under `perfbench/.work/runs/` and prints
one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "2g"
TABLE_SCALE = 0.01
# Seconds of `--seconds` per pass: on sweep a warm pass after the cold
# one, on monthly_batch a batch (at least one). The count is fixed, not
# timed, so every run of a workload does the same work: a count that grew
# with speed would also give a faster program more JIT warm-up.
PASS_SECONDS = {"sweep": 20, "monthly_batch": 10}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Per-layer metrics of the traced run; 0 where a workload does not reach
# the layer. Module metrics are added per module in workloads.json.
LAYER_METRICS = [
    ("Harness.session_s", "s"), ("SparkEntry.build_s", "s"),
    ("catalyst.plan_s", "s"), ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.gap_s", "s"), ("executor.run_s", "s"),
    ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"), ("Tables.scan_bytes", "bytes"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.spill_bytes", "bytes"),
    ("Materialize.seams", "count"), ("Materialize.bytes", "bytes"),
    ("Materialize.ratchet_n", "count"), ("Materialize.release_s", "s"),
    ("joins.smj", "count"), ("joins.shj", "count"), ("joins.bhj", "count"),
    ("LogSink.wall_s", "s"), ("LogSink.bytes", "bytes"), ("Upsert.insert_ratio", "ratio"),
    ("Enrich.match_frac", "ratio"), ("monthly.write_amp", "ratio"),
    ("trace.wall_s", "s"), ("trace.overhead_s", "s")]
MODULE_METRICS = [("wall_s", "s"), ("stages", "count"),
                  ("shuffle_bytes", "bytes")]
HIGHER_IS_BETTER = {"executor.busy_frac", "Enrich.match_frac"}
MONTHLY_STAGES = ("Ingest", "Enrich", "Clean", "Upsert", "Staging")


def pass_count(workload, seconds):
    if workload == "sweep":
        return int(seconds // PASS_SECONDS["sweep"])
    return max(1, round(seconds / PASS_SECONDS[workload]))


def per_layer_spec(workloads):
    """The `per_layer` entries of BENCHMARK.json, in order."""
    names = list(LAYER_METRICS)
    for m in sorted(set(workloads["modules"].values()) | set(MONTHLY_STAGES)):
        names += [(f"{m}.{k}", u) for k, u in MODULE_METRICS]
    out, seen = [], set()
    for n, u in names:
        if n not in seen:
            seen.add(n)
            out.append({"name": n, "unit": u,
                        "better": "higher" if n in HIGHER_IS_BETTER else "lower"})
    return out


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def box_stamp():
    mem = next((line.split()[1] for line in open("/proc/meminfo")
                if line.startswith("MemTotal:")), None)
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem) if mem else None,
            "loadavg": [float(x) for x in load], "time": time.time()}


def run_process(cmd, cwd, env, log, deadline, what):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{what} ran past the time limit")


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the measurement classes; return the runtime
    classpath. sbt runs only when a source changed since the last build."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export perfbench/Runtime/fullClasspath"],
                         HERE, env, log, time.time() + BUILD_LIMIT_S, "the build")
    with open(log_path) as fh:
        output = fh.read()
    lines = [ln for ln in output.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(output[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


# ---- inputs ----------------------------------------------------------------

def tables_dir():
    import gen_tables
    out = os.path.join(WORK, f"tables-{TABLE_SCALE}-{gen_tables.DATA_SEED}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(tmp, TABLE_SCALE)
        os.rename(tmp, out)
    return out


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


# ---- the JVM ---------------------------------------------------------------

def launch(classpath, args, run_dir, deadline):
    java = shutil.which("java") or fail("java not found")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={local}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = run_process(cmd, run_dir, None, log, deadline, "the JVM")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM exited with code {rc}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# ---- metrics ---------------------------------------------------------------

def setup_metrics(records):
    setup = next(r for r in records if r["kind"] == "setup")
    return setup["setup_s"], setup["session_s"]


def op_latency(r):
    if "wall_s" in r:
        return r["wall_s"]
    return r["build_s"] + r["exec_s"]


def sweep_result(records, spans, workloads):
    ops = [r for r in records if r["kind"] == "op"]
    failures = [{"pass": r["pass"], "name": r["name"], "error": r["error"]}
                for r in ops if not r["ok"]]
    leaks = [r["name"] for r in ops if r["leaked"]]
    recorded = {r["name"]: r["check"].split(":", 1)[1] for r in ops
                if r["check"].startswith("recorded:")}
    unchecked = [r["name"] for r in ops if r["pass"] == 0
                 and r["check"] == "none" and r["ok"]]
    passes = sorted({r["pass"] for r in ops})
    warm = [p for p in passes if p > 0]
    # layers are read from the warm passes, or the cold one if none ran
    measured = warm or passes
    ok = [r for r in ops if r["ok"]]

    setup_s, session_s = setup_metrics(records)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": sum(op_latency(r) for r in ok if r["pass"] == 0),
        "wall_s": sum(op_latency(r) for r in ok),
    }
    layers = layer_metrics(ok, spans, workloads["modules"], measured)
    layers["Harness.session_s"] = session_s
    layers["trace.wall_s"] = e2e["wall_s"]
    checks = {"failures": failures, "leaks": leaks, "recorded": recorded,
              "unchecked": unchecked,
              "check_pass": sum(1 for r in ops if r["check"] == "pass"),
              "warm_passes": len(warm)}
    return ops, e2e, layers, checks


def counters_sum(rows, key):
    return sum(r.get("counters", {}).get(key, 0.0) for r in rows)


def counter_metrics(per_pass):
    """Metrics from the listener's per-operation counters."""
    def total(key, scale=1.0):
        return per_pass(lambda rs: counters_sum(rs, key) / scale)
    return {
        "catalyst.plan_s": total("plan_ms", 1e3),
        "scheduler.jobs": total("jobs"),
        "scheduler.stages": total("stages"),
        "scheduler.tasks": total("tasks"),
        "executor.run_s": total("run_ms", 1e3),
        "executor.cpu_s": total("cpu_ns", 1e9),
        "executor.gc_s": total("gc_ms", 1e3),
        "Tables.scan_bytes": total("input_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": total("fetch_wait_ms", 1e3),
        "shuffle.spill_bytes": total("spill_bytes"),
        "joins.smj": total("smj"),
        "joins.shj": total("shj"),
        "joins.bhj": total("bhj"),
    }


def materialize_metrics(per_pass):
    """Metrics from what each operation left persisted before release."""
    return {
        "Materialize.seams": per_pass(lambda rs: sum(r.get("seams", 0) for r in rs)),
        "Materialize.bytes": per_pass(lambda rs: sum(r.get("seam_bytes", 0) for r in rs)),
        "Materialize.ratchet_n": per_pass(lambda rs: sum(1 for r in rs if r.get("ratchet"))),
        "Materialize.release_s": per_pass(lambda rs: sum(r.get("release_s", 0.0) for r in rs)),
    }


def layer_metrics(ok, spans, modules, passes):
    """Per-layer figures, each the median over `passes` of the pass
    total."""
    def per_pass(fn):
        return stats.median([fn([r for r in ok if r["pass"] == p]) for p in passes]) or 0.0

    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)

    def gap_s(rows):
        total = 0.0
        for r in rows:
            sp = by_op.get(f"{r['pass']}/{r['name']}", [])
            window = [s for s in sp if s["name"] == "operation"]
            jobs = [(s["start"], s["end"]) for s in sp if s["name"] == "job"
                    and s["end"] is not None]
            for w in window:
                total += stats.gap((w["start"], w["end"]), jobs)
        return total

    out = counter_metrics(per_pass)
    out.update(materialize_metrics(per_pass))
    out.update({
        "SparkEntry.build_s": per_pass(lambda rs: sum(r.get("build_s") or 0.0 for r in rs)),
        "scheduler.gap_s": per_pass(gap_s),
    })
    wall = per_pass(lambda rs: sum(op_latency(r) for r in rs))
    cores = os.cpu_count() or 1
    out["executor.busy_frac"] = out["executor.run_s"] / (wall * cores) if wall else 0.0
    for m in sorted(set(modules.values())):
        def mine(rs, m=m):
            return [r for r in rs if modules.get(r["name"]) == m]
        out[f"{m}.wall_s"] = per_pass(lambda rs: sum(op_latency(r) for r in mine(rs)))
        out[f"{m}.stages"] = per_pass(lambda rs: counters_sum(mine(rs), "stages"))
        out[f"{m}.shuffle_bytes"] = per_pass(
            lambda rs: counters_sum(mine(rs), "shuffle_write_bytes"))
    return out


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith(".") and not f.endswith(".log"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def monthly_result(records, spans, expected):
    ops = [r for r in records if r["kind"] == "op"]
    for r in ops:  # an operation's counters are the sum over its stages
        total = {}
        for counters in r["stage_counters"].values():
            for k, v in counters.items():
                total[k] = total.get(k, 0.0) + v
        r["counters"] = total
    batches = [r for r in records if r["kind"] == "batch"]
    failures = [{"pass": r["pass"], "name": r["name"], "error": r["error"]}
                for r in ops if not r["ok"]]
    leaks = [r["name"] for r in ops if r["leaked"]]
    mismatches = []
    for b in batches:
        got = {k: b.get(k) for k in ("keys_n", "keys_sum", "keys_xor")}
        want = {k: expected[k] for k in got}
        if got != want:
            mismatches.append({"pass": b["pass"], "check": "keys", "got": got,
                               "want": want})
        if b.get("countries") != expected["countries"]:
            mismatches.append({"pass": b["pass"], "check": "countries"})
    for r in ops:
        if r["ok"] and r["inserted"] != expected["inserted"][r["name"]]:
            mismatches.append({"pass": r["pass"], "check": "inserted",
                               "name": r["name"], "got": r["inserted"],
                               "want": expected["inserted"][r["name"]]})
    bad_ops = {(m["pass"], m.get("name")) for m in mismatches}
    ok = [r for r in ops if r["ok"] and (r["pass"], r["name"]) not in bad_ops
          and (r["pass"], None) not in bad_ops]
    warm = sorted({b["pass"] for b in batches})
    setup_s, session_s = setup_metrics(records)
    e2e = {
        "setup_s": setup_s,
        "cold_pass_s": next((b["wall_s"] for b in batches if b["pass"] == 0), None),
        "wall_s": sum(b["wall_s"] for b in batches),
    }

    def per_pass(fn):
        return stats.median([fn([r for r in ok if r["pass"] == p]) for p in warm]) or 0.0

    written = stats.median([dir_bytes(b["dir"]) for b in batches]) or 0
    layers = counter_metrics(per_pass)
    layers.update(materialize_metrics(per_pass))
    layers.update({
        "Harness.session_s": session_s,
        "LogSink.wall_s": per_pass(lambda rs: sum(r["sink_s"] for r in rs)),
        "LogSink.bytes": written,
        "monthly.write_amp": written / expected["raw_bytes"],
        "trace.wall_s": e2e["wall_s"],
    })
    for stage in MONTHLY_STAGES:
        layers[f"{stage}.wall_s"] = per_pass(
            lambda rs: sum(r["stages"].get(stage, 0.0) for r in rs))
        for name, key in (("stages", "stages"), ("shuffle_bytes", "shuffle_write_bytes")):
            layers[f"{stage}.{name}"] = per_pass(lambda rs: sum(
                r["stage_counters"].get(stage, {}).get(key, 0.0) for r in rs))
    offered = sum(r["offered"] for r in ok)
    layers["Upsert.insert_ratio"] = (sum(r["inserted"] for r in ok) / offered
                                     if offered else 0.0)
    raw = sum(r["raw_rows"] for r in ok)
    layers["Enrich.match_frac"] = sum(r["matched"] for r in ok) / raw if raw else 0.0
    # executor.run_s is a per-batch median, so divide by one batch's wall
    wall = stats.median([b["wall_s"] for b in batches]) or 0.0
    cores = os.cpu_count() or 1
    layers["executor.busy_frac"] = layers["executor.run_s"] / (wall * cores) if wall else 0.0
    jobs_gap = []
    for b in batches:
        root = [s for s in spans if s["name"] == "workload pass" and s["op"] == str(b["pass"])]
        jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "job"
                and s["op"].startswith(f"{b['pass']}/") and s["end"] is not None]
        for w in root:
            jobs_gap.append(stats.gap((w["start"], w["end"]), jobs))
    layers["scheduler.gap_s"] = stats.median(jobs_gap) or 0.0
    checks = {"failures": failures, "leaks": leaks, "mismatches": mismatches,
              "batches": len(batches), "expected": {k: expected[k] for k in
                                                    ("inserted", "keys_n")}}
    return ops, e2e, layers, checks


# ---- main ------------------------------------------------------------------

def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    deadline = started + RUN_LIMIT_S

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources are not next to the benchmark; "
             "run from a full checkout")
    spec = load_spec()
    workloads = load_workloads()
    if a.workload not in PASS_SECONDS:
        fail(f"unknown workload {a.workload}")
    os.makedirs(WORK, exist_ok=True)
    stamp_start = box_stamp()
    before_build = time.time()
    classpath = build()
    # a (re)build does not count against the run's own time limit
    deadline += time.time() - before_build

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    passes = pass_count(a.workload, a.seconds)
    jvm_args = ["--out", run_dir, "--passes", str(passes),
                "--trace", str(a.trace)]
    if a.workload == "monthly_batch":
        import gen_monthly
        data = os.path.join(run_dir, "input")
        expected = gen_monthly.write(data, a.seed)
        jvm_args += ["--mode", "monthly", "--data", data]
    else:
        data = tables_dir()
        order = list(workloads[a.workload])
        random.Random(a.seed).shuffle(order)
        with open(os.path.join(run_dir, "queries.txt"), "w") as fh:
            fh.write("\n".join(order) + "\n")
        digests = os.path.join(HERE, "digests.tsv")
        jvm_args += ["--mode", "sweep", "--data", data,
                     "--queries", os.path.join(run_dir, "queries.txt"),
                     "--digests", digests]
    launch(classpath, jvm_args, run_dir, deadline)

    records = read_jsonl(os.path.join(run_dir, "records.jsonl"))
    spans = read_jsonl(os.path.join(run_dir, "spans.jsonl"))
    rss = next((r["peak_rss_mb"] for r in records if r["kind"] == "end"), None)
    if a.workload == "monthly_batch":
        ops, e2e, layers, checks = monthly_result(records, spans, expected)
        correct = (not checks["failures"] and not checks["leaks"]
                   and not checks["mismatches"])
        failed = len({(f["pass"], f["name"]) for f in checks["failures"]}
                     | {(m["pass"], m.get("name")) for m in checks["mismatches"]})
    else:
        ops, e2e, layers, checks = sweep_result(records, spans, workloads)
        correct = (not checks["failures"] and not checks["leaks"]
                   and not checks["unchecked"] and not checks["recorded"])
        failed = len(checks["failures"])
    e2e["peak_rss_mb"] = rss
    attempted = len(ops)
    if a.trace:
        untraced = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t0", "artifact.json")
        layers["trace.overhead_s"] = 0.0
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"].get("wall_s")
            if base is not None:
                layers["trace.overhead_s"] = layers["trace.wall_s"] - base
        wanted = [(p["name"], p["unit"]) for p in spec["per_layer"]]
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u} for n, u in wanted}
    else:
        wanted = [(p["name"], p["unit"]) for p in spec["end_to_end"]]
        metrics = {n: {"value": e2e.get(n), "unit": u} for n, u in wanted}
        if any(v["value"] is None for v in metrics.values()):
            correct = False
    # traced runs: total self time per span name, over all passes
    closed = [s for s in spans if s["end"] is not None]
    names = {s["id"]: s["name"] for s in closed}
    self_time = {}
    for sid, t in stats.self_times(closed).items():
        self_time[names[sid]] = self_time.get(names[sid], 0.0) + t
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "passes": passes,
        "trace": a.trace, "box_start": stamp_start, "box_end": box_stamp(),
        "correct": correct, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "per_layer": layers, "self_time_s": self_time,
        "checks": checks,
        "elapsed_s": time.time() - started}
    with open(os.path.join(run_dir, "artifact.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    if a.workload == "monthly_batch":
        shutil.rmtree(os.path.join(run_dir, "input"), ignore_errors=True)
        for b in range(checks["batches"]):
            shutil.rmtree(os.path.join(run_dir, f"batch-{b}"), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "spark-local"), ignore_errors=True)
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
