#!/usr/bin/env python3
"""graft benchmark: one command that builds graft from source, generates
seeded inputs, runs one workload closed-loop (one client, one process,
local[nproc]), checks the outputs and prints every metric by name and
unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.

Usage (from the repository root):
  python3 perfbench/run.py --workload query-mix --seed 1 --seconds 15 --trace 0

Workloads, op lists, sizes and the metric map: perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {
    # 1-2 oracle-checked gates per non-fuzz family; no fz, no heavy
    # dd/llm gates, no iterative cc gates
    "query-mix": {"family": "tables", "ops": [
        "q_a2_conditional_agg", "q_j1_join_multiway",
        "q_j5_semi_join", "q_w2_partitioned_rank", "q_o3_topk_ranking",
        "q_m3_change_kinds", "q_u2_union_distinct", "q_g1_explode_words",
        "q_d6_strain_parse", "q_sp1_kmv_distinct", "q_ann1_bruteforce_topk",
        "q_tx3_token_count", "q_ev2_sessionize", "q_p4_string_funcs",
        "q_fz27_signed_zero", "q_fz19_error_fuzz"]},
    # differential-fuzz gates: pool-style harnesses plus the two that
    # keep a per-query error path (ErrorFuzz, IntervalFuzz)
    "fuzz-burst": {"family": "tables", "ops": [
        "q_fz3_string_fuzz", "q_fz21_window_nulls_fuzz", "q_fz27_signed_zero",
        "q_fz30_timestamp_ntz", "q_fz19_error_fuzz", "q_fz29_interval"]},
    "import-refresh": {"family": "feed", "chain": "import"},
    "curation-train": {"family": "corpus", "chain": "curation"},
}

BUILD_DIR = os.path.join(".bench_build", "perfbench")
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 150


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark jars graft builds against: `unmanagedBase` in build.sbt,
    else $SPARK_HOME/jars."""
    cands = []
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
        cands.append(m and m.group(1))
    except OSError:
        pass
    cands.append(os.environ.get("SPARK_HOME") and os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in cands:
        if d and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jars found (build.sbt's unmanagedBase, or set SPARK_HOME)")


def build(jars):
    """Compile graft's main sources plus the harness with scalac from
    the Spark distribution; cached by a hash of every source file."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs:
        fail("no program sources under src/main/scala (run from the repository root)")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD_DIR, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".done")):
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log(f"built {len(srcs)} sources in {time.time() - t0:.1f} s")
    return out, key


# -------------------------------------------------------------- host facts

def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Tier-1's formula: MemTotal / 2 GiB, clamped to 2..8 GiB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def loadavg():
    try:
        return [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """The host-wide `cpu` line of /proc/stat: (steal, total) ticks."""
    try:
        t = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return t[7] if len(t) > 7 else 0, sum(t[:8])
    except (OSError, ValueError):
        return None


def source_id(key):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"source-hash:{key}"


# -------------------------------------------------------------------- run

def run_jvm(classes, jars, workload, inputs, work, seconds, trace, cpus, hp):
    out = os.path.join(work, "record.json")
    for d in ("local", "tmp", "warehouse", "artifacts"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    a = os.path.abspath
    cmd = ["java"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a 2g initial heap: G1 starts at the size these workloads settle
    # at, so peak RSS reads the same unless a change needs more heap;
    # no perf-data file outside the checkout
    cmd += ["-Xms2g", f"-Xmx{hp}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.hadoop.hadoop.tmp.dir={a(work)}/tmp",
            f"-Dspark.local.dir={a(work)}/local", f"-Djava.io.tmpdir={a(work)}/tmp",
            f"-Dspark.sql.warehouse.dir={a(work)}/warehouse",
            "-cp", f"{a(classes)}:{os.path.join(jars, '*')}", "perfbench.Harness",
            f"workload={workload}", f"inputs={a(inputs)}", f"work={a(work)}", f"out={a(out)}",
            f"seconds={seconds}", f"trace={trace}", f"cpus={cpus}"]
    wl = WORKLOADS[workload]
    cmd.append(f"ops={','.join(wl['ops'])}" if "ops" in wl else f"chain={wl['chain']}")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=f"{a(work)}/local",
               SPARK_GRAFT_ARTIFACT_DIR=f"{a(work)}/artifacts")
    logf = open(os.path.join(work, "jvm.log"), "w")
    cmd.append(f"launch_ms={time.time() * 1000:.3f}")
    p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    logf.close()
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-3000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM exited with {rc}")
    return json.load(open(out))


def spark_env():
    return {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}


# ---------------------------------------------------------------- metrics

def e2e_metrics(rec):
    """End-to-end metrics from the untraced samples of a run."""
    ops = [s for s in rec["samples"] if not s["traced"]]
    if not ops:
        ops = rec["samples"]
    lat = [s["endMs"] - s["startMs"] for s in ops]
    # closed-loop wall time: each op plus the gap to the next op when
    # that one is in the set too (traced runs interleave traced passes)
    ops = sorted(ops, key=lambda s: s["op"])
    span_ms = sum((b["startMs"] if b is not None and b["op"] == a["op"] + 1 else a["endMs"])
                  - a["startMs"] for a, b in zip(ops, ops[1:] + [None]))
    m = {
        "setup_s": ((rec["setup_end_ms"] - rec["launch_ms"]) / 1000.0, "s"),
        "op_p50_ms": (stats.median(lat), "ms"),
        "op_p90_ms": (stats.percentile(lat, 90), "ms"),
        "ops_per_s": (len(lat) / (span_ms / 1000.0), "1/s"),
    }
    p, v, n = stats.tail_percentile(lat)
    # peak RSS follows G1's heap-expansion timing (0.11-0.22 spread
    # across seeds), too wide to gate, so it is printed only
    extra = {"op_samples": (n, "count"), "peak_rss_mb": (rec["peak_rss_kb"] / 1024.0, "MB")}
    if p is not None:
        extra[f"op_tail_p{p:g}_ms"] = (v, "ms")
    chains = rec.get("chains") or []
    if chains:
        for kind, name in (("cold", "chain_s"), ("delta", "delta_s"), ("poll", "poll_s")):
            runs = [c for c in chains if c["kind"] == kind]
            d = [c["endMs"] - c["startMs"] for c in runs if not c["traced"]] or \
                [c["endMs"] - c["startMs"] for c in runs]
            extra[name] = (stats.median(d) / 1000.0, "s")
    return m, extra


def layer_metrics(rec, cpus):
    """Per-layer metrics of a traced run: scheduler and plan events are
    attributed to the traced op whose window contains their start.
    "Per op" on chain workloads means per delta: the cold chain's
    events are left out."""
    spans = rec["spans"]
    traced_ops = [s for s in rec["samples"] if s["traced"] and s["name"] != "cold"]
    op_ids = {s["op"] for s in traced_ops}
    windows = [(s["startMs"], s["endMs"], s["op"]) for s in traced_ops]
    att = stats.Attributor(windows)
    n_ops = max(1, len(traced_ops))
    wall = sum(s["endMs"] - s["startMs"] for s in traced_ops)

    jobs = [j for j in rec["exec_jobs"] if att.find(j["startMs"]) is not None]
    stages = [s for s in rec["exec_stages"] if att.find(s["submitMs"]) is not None]
    execs = [e for e in rec["plan_execs"] if att.find(e["endMs"]) is not None]
    sqls = [t for t in rec["sql_starts"] if att.find(t) is not None]
    tasks = sum(s["tasks"] for s in stages)
    per_op = lambda xs: sum(xs) / n_ops
    fp = [s["endMs"] - s["startMs"] for s in spans if s["name"] == "jobs.fingerprint"]
    session = [s["endMs"] - s["startMs"] for s in spans if s["name"] == "session.build"]
    chains = rec.get("chains") or []
    outcomes = [t for c in chains for t in c["outcomes"].values()]
    m = {
        "session.build_ms": (session[0], "ms"),
        "plans.analyze_ms": (per_op(e["analyzeMs"] for e in execs), "ms"),
        "plans.optimize_ms": (per_op(e["optimizeMs"] for e in execs), "ms"),
        "plans.physical_ms": (per_op(e["physicalMs"] for e in execs), "ms"),
        "exec.sql_executions": (len(sqls) / n_ops, "count"),
        "exec.jobs": (len(jobs) / n_ops, "count"),
        "exec.stages": (len(stages) / n_ops, "count"),
        "exec.tasks": (tasks / n_ops, "count"),
        "exec.sched_delay_ms": (sum(s["schedDelayMs"] for s in stages) / max(1, tasks), "ms"),
        "exec.job_wall_ms": (stats.median([j["endMs"] - j["startMs"] for j in jobs
                                           if j["endMs"] >= 0]) or 0.0, "ms"),
        "exec.task_run_ms": (per_op(s["runMs"] for s in stages), "ms"),
        "exec.task_cpu_ms": (per_op(s["cpuMs"] for s in stages), "ms"),
        "exec.task_gc_ms": (per_op(s["gcMs"] for s in stages), "ms"),
        "exec.slot_busy_ratio": (sum(s["runMs"] for s in stages) / max(1.0, wall * cpus),
                                 "ratio"),
        "exec.shuffle_read_bytes": (per_op(s["shuffleRead"] for s in stages), "B"),
        "exec.shuffle_write_bytes": (per_op(s["shuffleWrite"] for s in stages), "B"),
        "exec.spill_bytes": (per_op(s["spill"] for s in stages), "B"),
        "exec.input_rows": (per_op(s["inputRows"] for s in stages), "count"),
        "exec.input_bytes": (per_op(s["inputBytes"] for s in stages), "B"),
        "tableio.bytes_written": (per_op(s["outputBytes"] for s in stages), "B"),
        "tableio.files_written": (per_op(s["outputFiles"] for s in stages), "count"),
        "jobs.ran": (outcomes.count("ran"), "count"),
        "jobs.skipped": (outcomes.count("skipped"), "count"),
        "jobs.fingerprint_ms": (stats.median(fp) if fp else 0.0, "ms"),
        "plans.fanout_violations": (len(rec["fanout"]), "count"),
    }
    # workload-specific layers, printed and recorded but not in the
    # result line (they do not exist on every workload)
    extra = {}
    by_name = {}
    for s in spans:
        if s["op"] in op_ids or s["name"].startswith("tables."):
            by_name.setdefault(s["name"], []).append(s["endMs"] - s["startMs"])
    for name in ("tables.resolve_cold", "tables.resolve_warm", "entry.construct", "exec"):
        if name in by_name:
            extra[f"{name}_ms"] = (stats.median(by_name[name]), "ms")
    for name, v in sorted(by_name.items()):
        if name.startswith("jobs.") and name != "jobs.fingerprint":
            extra[f"{name}_ms"] = (stats.median(v), "ms")
    selfs = stats.self_times([s for s in spans if s["op"] in op_ids])
    op_self = [selfs[s["id"]] for s in spans if s["op"] in op_ids and s["name"] == "op"]
    if op_self:
        extra["harness.op_self_ms"] = (stats.median(op_self), "ms")
    # jobs.* spans against the cold chain they tile
    cold = [c for c in chains if c["kind"] == "cold"]
    if cold:
        c = cold[0]
        inside = [s for s in spans if s["name"].startswith("jobs.") and
                  s["name"] != "jobs.fingerprint" and
                  c["startMs"] <= s["startMs"] and s["endMs"] <= c["endMs"]]
        cover = stats.covered([(s["startMs"], s["endMs"]) for s in inside],
                              c["startMs"], c["endMs"])
        extra["jobs.cold_cover_ratio"] = (cover / (c["endMs"] - c["startMs"]), "ratio")
    # tracing overhead: traced vs untraced samples of the same ops
    med = {}
    for s in rec["samples"]:
        med.setdefault((s["name"], s["traced"]), []).append(s["endMs"] - s["startMs"])
    med = {k: stats.median(v) for k, v in med.items()}
    pairs = [(med[(n, True)], med[(n, False)]) for (n, t) in med if t and (n, False) in med]
    if pairs:
        extra["trace.overhead_pct"] = (
            100.0 * (sum(p[0] for p in pairs) / sum(p[1] for p in pairs) - 1.0), "%")
    return m, extra


def fmt(metrics):
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


# ------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    jars = spark_jars()
    classes, key = build(jars)
    inputs, planted = gen.ensure(wl["family"], args.seed, os.path.join(BUILD_DIR, "inputs"))
    work = os.path.join(BUILD_DIR, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus, hp = nproc(), heap()
    load_before, ticks_before = loadavg(), cpu_ticks()
    rec = run_jvm(classes, jars, args.workload, inputs, work, args.seconds, args.trace,
                  cpus, hp)
    load_after, ticks_after = loadavg(), cpu_ticks()
    # share of CPU time the hypervisor gave to other guests while the
    # JVM ran: a slow run on a shared host shows here
    steal = None
    if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
        steal = (ticks_after[0] - ticks_before[0]) / (ticks_after[1] - ticks_before[1])

    # output checks, outside every timed window
    results = [(f"op:{s['name']}#{s['op']}", s["ok"], s["error"] or "ok")
               for s in rec["samples"]]
    stored = None
    if "ops" in wl:
        results += checks.check_queries(inputs, work, wl["ops"], cpus)
        in_bytes = checks.dir_bytes(inputs)
    else:
        dirs = rec["chain_dirs"]
        if wl["chain"] == "import":
            res, digest, last = checks.check_import(rec["chains"], dirs, planted, cpus)
            in_bytes = os.path.getsize(os.path.join(inputs, f"feed_{last}.json")) + \
                checks.dir_bytes(os.path.join(inputs, "fixtures"))
        else:
            res, digest, last = checks.check_curation(rec["chains"], dirs, planted, cpus)
            in_bytes = checks.dir_bytes(dirs["docs"])
        # keyed by the generated inputs and the last invocation reached
        results += res + checks.check_digest(os.path.join(BUILD_DIR, "first_run"),
                                             f"{os.path.basename(inputs)}-{last}", digest)
        stored = sum(checks.dir_bytes(d) for n, d in dirs.items() if n != "docs")
    failed = [r for r in results if not r[1]]
    for name, ok, detail in results:
        if not ok or not name.startswith("op:"):
            log(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}")

    e2e, extra = e2e_metrics(rec)
    extra["op_fail_ratio"] = (len(failed) / len(results), "ratio")
    if stored is not None:
        extra["stored_bytes_ratio"] = (stored / in_bytes, "ratio")
    results_dir = os.path.join(BUILD_DIR, "results")
    if args.trace:
        layers, lextra = layer_metrics(rec, cpus)
        metrics = layers
        extra.update(lextra)
        shown = {**e2e, **extra, **layers}
    else:
        metrics = e2e
        shown = {**e2e, **extra}
    for k, (v, u) in shown.items():
        log(f"metric {args.workload} {k} = {v:.6g} {u}")
    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "source": source_id(key), "nproc": cpus, "heap": hp, "master": f"local[{cpus}]",
        "shuffle_partitions": cpus, "spark_conf": rec["spark_conf"],
        "spark_graft_env": spark_env(),
        "loadavg_before": load_before, "loadavg_after": load_after, "cpu_steal_share": steal,
        "input_bytes": in_bytes, "input_sizes": planted.get("sizes"),
        "seconds": args.seconds, "passes": rec.get("passes"),
        "fanout": rec["fanout"], "notes": rec["notes"],
    }
    log("meta " + json.dumps(meta, sort_keys=True))
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir,
                           f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"meta": meta, "metrics": fmt(shown),
                   "checks": [list(r) for r in results]}, f, indent=1)
    if not failed:  # keep a failing run's outputs for inspection
        shutil.rmtree(os.path.join(work, "chain"), ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(results),
                      "failed": len(failed), "metrics": fmt(metrics)}))


if __name__ == "__main__":
    main()
