#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and
the benchmark's JVM sources (`perfbench/src`) with sbt, offline, adding
the benchmark's source directory on the command line; later runs reuse
the classpath while the sources are unchanged. Everything the benchmark
writes goes under `.perfbench/` in the checkout.

The workloads, their queries or topologies, and the fixed rates and
caps are in `perfbench/workloads.json`. A batch workload reads a
row-order permutation of the bundled sf0.1 tables (`perfbench/data`)
made from the seed; the stream workload offsets its generated sequence
by the seed. Each run checks its outputs, untimed: batch, the results
of a check pass after the timed passes against their DuckDB oracles;
stream, the committed rows and each stateful topology's final state.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). A run whose JVM fails reports every
operation failed, with zeroed metrics. A traced run also writes its spans, each with
its self time, to `.perfbench/trace/<workload>-<seed>.spans.json`.

End-to-end metrics (batch / stream):
  setup_s           bench main start to the first timed operation
  warm_s            sum of each query's median warm wall time /
                    sum of the wall times to drain each topology's backlog
  cold_s            sum of each query's first invocation in the JVM /
                    sum of each topology query's first (priming) trigger
  latency_p50_ms    geometric mean over queries of the median warm wall /
                    over topologies of the median paced-trigger latency
                    (trigger end minus the due time of its oldest row)
  retained_heap_mb  largest used heap after a full GC between operations
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine plus the benchmark sources; return the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no engine sources (build.sbt, src/main/scala) "
                 "in this checkout; nothing to build")
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == digest:
        cp = open(cp_file).read()
        # another sbt build in this checkout drops the benchmark's classes
        if os.path.isfile(os.path.join(cp.split(os.pathsep)[0], "perfbench", "Main.class")):
            return cp
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += '
           'baseDirectory.value / "perfbench" / "src"',
           "compile", "export Runtime / fullClasspath"]
    log("building the engine and the benchmark (sbt, offline)")
    r = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True,
                       text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        log((r.stdout + r.stderr)[-3000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(digest)
    return cp


def permuted_tables(seed):
    """A row-order permutation of every bundled table, drawn from the
    seed, written once per seed under .perfbench/data."""
    import numpy as np
    import pyarrow.parquet as pq
    base = os.path.join(WORK, "data")
    dst = os.path.join(base, f"seed-{seed}")
    done = os.path.join(dst, "_done")
    if os.path.isfile(done):
        return dst
    if os.path.isdir(base):  # keep one seed's tables at a time
        shutil.rmtree(base)
    os.makedirs(dst)
    src = os.path.join(HERE, "data", CONFIG["batch_data"])
    rng = np.random.default_rng(seed)
    for name in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, name))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(dst, name))
    open(done, "w").close()
    return dst


def run_jvm(cp, args, out_dir):
    """One benchmark JVM; returns its record (jvm.json) or None."""
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main", f"out={out_dir}", *args]
    with open(os.path.join(out_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=WORK, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log("benchmark JVM timed out; killing it")
            p.kill()
            p.wait()
    rec = os.path.join(out_dir, "jvm.json")
    if p.returncode != 0 or not os.path.isfile(rec):
        log(f"benchmark JVM exited with {p.returncode}; log tail:")
        log(open(os.path.join(out_dir, "jvm.log")).read()[-3000:])
        return None
    with open(rec) as f:
        return json.load(f)


# ---- batch -----------------------------------------------------------

def batch_results(rec, data_dir, out_dir):
    """End-to-end metrics, attempts and failures of a batch record."""
    import oracle
    ops = rec["ops"]
    warm = {}
    for o in ops:
        if o["pass"] > 0 and o["ok"]:
            warm.setdefault(o["query"], []).append(o["wall_s"])
    cold = {o["query"]: o["wall_s"] for o in ops if o["pass"] == 0 and o["ok"]}
    checks = oracle.check_all(data_dir, os.path.join(out_dir, "check"), rec["check"])
    for q, why in sorted(checks.items()):
        log(f"check {q}: {'PASS' if why is None else 'FAIL ' + why}")
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for v in checks.values() if v)
    attempted = len(ops) + len(checks)
    return {
        "setup_s": rec["setup_s"],
        "warm_s": sum(M.median(v) for v in warm.values()),
        "cold_s": sum(cold.values()),
        "latency_p50_ms": 1000.0 * M.geomean(M.median(v) for v in warm.values())
        if warm else float("nan"),
        "retained_heap_mb": rec["retained_heap_mb"],
    }, attempted, failed


def tail(samples):
    """The pooled tail: the highest percentile (at most p95) that has at
    least ten samples beyond it, with that percentile and the count."""
    q = M.tail_percentile(len(samples))
    return {"latency.tail_ms": M.percentile(samples, q) if q else 0.0,
            "latency.tail_pct": q or 0, "latency.samples": len(samples)}


def batch_layers(rec, spans, cores, classes):
    """Per-layer metrics of a traced batch record: per pass sums, the
    median over traced warm passes, and the cold pass for the `_cold`
    ones."""
    by_id = {s["id"]: s for s in spans}

    def ancestor(s, pred):
        while s is not None:
            if pred(s):
                return s
            s = by_id.get(s["parent"])
        return None

    passes = {}
    for s in spans:
        if s["layer"] == "bench" and s["name"].startswith("pass "):
            passes[s["id"]] = int(s["name"].split()[1])
    acc = {}

    def add(p, k, v):
        acc.setdefault(p, {}).setdefault(k, 0.0)
        acc[p][k] += v

    query_jobs = {}
    for s in spans:
        ps = ancestor(s, lambda x: x["id"] in passes)
        if ps is None:
            continue
        p = passes[ps["id"]]
        dur = (s["end_us"] - s["start_us"]) / 1e6
        if s["layer"] == "queries":
            add(p, "queries.build_s", dur)
        elif s["name"] == "write":
            add(p, "exec.exec_s", dur)
        elif s["layer"] == "planner":
            add(p, "planner.plan_s", dur)
        elif s["name"].startswith("job "):
            add(p, "exec.jobs", 1)
            if ancestor(s, lambda x: x["layer"] == "queries"):
                add(p, "queries.build_jobs", 1)
            q = ancestor(s, lambda x: x["parent"] in passes)
            query_jobs.setdefault(q["id"], []).append((s["start_us"], s["end_us"]))
        elif s["name"].startswith("stage "):
            a = s["attrs"]
            add(p, "exec.stages", 1)
            add(p, "exec.tasks", a["tasks"])
            add(p, "empty_tasks", a["empty_tasks"])
            add(p, "exec.task_run_s", a["task_run_ms"] / 1e3)
            add(p, "exec.task_cpu_s", a["task_cpu_ns"] / 1e9)
            add(p, "shuffle.read_mb", a["shuffle_read_b"] / 2**20)
            add(p, "shuffle.write_mb", a["shuffle_write_b"] / 2**20)
            add(p, "shuffle.spill_mb", a["spill_b"] / 2**20)
            add(p, "driver.result_mb", a["result_b"] / 2**20)
        elif s["parent"] in passes:  # a query span
            add(p, "wall_s", dur)
            add(p, "driver.outside_jobs_s", dur)
    for qid, iv in query_jobs.items():
        p = passes[by_id[qid]["parent"]]
        add(p, "driver.outside_jobs_s", -M.union_ms(iv) / 1e6)
    traced = set(passes.values())
    for o in rec["ops"]:
        if o["pass"] in traced:
            add(o["pass"], "jvm.gc_s", o["gc_ms"] / 1e3)
    for p, a in acc.items():
        a["exec.empty_task_share"] = a.get("empty_tasks", 0) / max(a.get("exec.tasks", 0), 1)
        a["exec.core_util"] = a.get("exec.task_run_s", 0) / max(a.get("wall_s", 0) * cores, 1e-9)
    warm = [a for p, a in acc.items() if p > 0]
    out = {n: M.median(a.get(n, 0.0) for a in warm) for n in set().union(*warm)}
    cold = acc.get(0, {})
    out["planner.plan_cold_s"] = cold.get("planner.plan_s", 0.0)
    out["queries.build_cold_s"] = cold.get("queries.build_s", 0.0)
    out.update(tail([1000.0 * o["wall_s"] for o in rec["ops"] if o["pass"] > 0 and o["ok"]]))
    for name, c in classes.items():
        out[f"{name}.warm_s"] = sum(
            M.median(o["wall_s"] for o in rec["ops"] if o["query"] == q and o["pass"] > 0 and o["ok"])
            for q in c["build_share_at_placement"])
    shares = {}
    for o in rec["ops"]:
        if o["pass"] > 0 and o["ok"]:
            shares.setdefault(o["query"], []).append(M.build_share(o["build_s"], o["wall_s"]))
    shares = {q: M.median(v) for q, v in shares.items()}
    driver, execb = M.split_by_build_share(shares)
    log("warm build share: " + json.dumps({q: round(v, 2) for q, v in sorted(shares.items())}))
    log(f"driver-bound (>= 0.6): {driver}; exec-bound (<= 0.3): {execb}")
    # warm passes alternate untraced and traced; the first warm pass
    # still warms up, so it is left out of the comparison
    walls = {}
    for o in rec["ops"]:
        if o["pass"] > 1:
            walls.setdefault((o["traced"], o["pass"]), 0.0)
            walls[(o["traced"], o["pass"])] += o["wall_s"]
    on = [v for (t, _), v in walls.items() if t]
    off = [v for (t, _), v in walls.items() if not t]
    out["trace.overhead_share"] = M.median(on) / M.median(off) - 1
    return out


# ---- stream ----------------------------------------------------------

def stream_results(rec):
    medians, drain, cold = [], [], []
    attempted = failed = 0
    for t in rec["topologies"]:
        name = t["topology"]
        offered = t["prime_rows"] + t["paced_rows"] + t["backlog_rows"]
        attempted += 1
        ok = t["error"] is None and t["rows_committed"] == offered
        log(f"check {name}: committed {t['rows_committed']} of {offered} rows")
        sc = t.get("state_check")
        if sc is not None:
            attempted += 1
            log(f"check {name} state: {sc}")
            if not sc.get("ok"):
                failed += 1
        samples = M.paced_samples(t) if ok else []
        if not ok or not samples or M.drain_seconds(t) is None:
            failed += 1
            continue
        medians.append(M.median(samples))
        drain.append(M.drain_seconds(t))
        cold.append(M.cold_trigger_s(t))
    return {
        "setup_s": rec["setup_s"],
        "warm_s": sum(drain),
        "cold_s": sum(cold),
        "latency_p50_ms": M.geomean(medians) if medians else float("nan"),
        "retained_heap_mb": rec["retained_heap_mb"],
    }, attempted, failed


def stream_layers(rec):
    """Per-topology medians over triggers: the paced phase for the fixed
    per-trigger costs, the saturated phase for the per-row costs."""
    out = {}
    rates = []
    for t in rec["topologies"]:
        n = t["topology"]
        paced = M.paced_triggers(t)
        sat = M.saturated_triggers(t)

        def med(trs, f):
            v = [f(tr) for tr in trs]
            return M.median(v) if v else 0.0

        def dur(k):
            return lambda tr: tr["durations"].get(k, 0)

        out[f"{n}.planner.query_planning_ms"] = med(paced, dur("queryPlanning"))
        out[f"{n}.checkpoint.wal_commit_ms"] = med(paced, dur("walCommit"))
        out[f"{n}.checkpoint.commit_offsets_ms"] = med(paced, dur("commitOffsets"))
        out[f"{n}.sources.latest_offset_ms"] = med(paced, dur("latestOffset"))
        out[f"{n}.stream.overhead_share"] = med(paced, lambda tr: 1 - tr["durations"].get(
            "addBatch", 0) / max(tr["durations"].get("triggerExecution", 0), 1))
        out[f"{n}.exec.add_batch_ms"] = med(sat, dur("addBatch"))
        out[f"{n}.sources.get_batch_ms"] = med(sat, dur("getBatch"))
        out[f"{n}.stream.rows_per_trigger"] = med(sat, lambda tr: tr["rows"])
        r = M.drain_rows_per_s(t)
        out[f"{n}.stream.drain_rows_per_s"] = r or 0.0
        if r:
            rates.append(r)
        out[f"{n}.stream.latency_p50_ms"] = M.median(M.paced_samples(t)) \
            if M.paced_samples(t) else 0.0
        if t.get("state_check") is not None:
            def st(k, scale=1.0):
                return lambda tr: (tr["state"] or {}).get(k, 0) * scale
            out[f"{n}.state.rows_total"] = med(sat, st("rows_total"))
            out[f"{n}.state.memory_mb"] = med(sat, st("memory_b", 1 / 2**20))
            out[f"{n}.state.commit_ms"] = med(paced + sat, st("commit_ms"))
            out[f"{n}.state.update_ms"] = med(sat, st("update_ms"))
            out[f"{n}.state.removal_ms"] = med(sat, st("removal_ms"))
            out[f"{n}.sources.backlog_rows"] = med(sat, lambda tr: (
                tr["latest_off"] or tr["end_off"]) - tr["end_off"])
    out["stream.drain_rows_per_s"] = M.geomean(rates) if rates else 0.0
    out.update(tail([x for t in rec["topologies"] for x in M.paced_samples(t)]))
    out["jvm.gc_s"] = sum(t["gc_ms"] for t in rec["topologies"]) / 1e3
    return out


# ---- main ------------------------------------------------------------

def measure(cp, wl, seed, seconds, trace, out_dir):
    """One JVM run of a workload: (record, end-to-end metrics,
    attempted, failed), or None when the JVM failed."""
    kind = wl["kind"]
    args = [f"mode={kind}", f"seconds={seconds}", f"trace={trace}"]
    if kind == "batch":
        data = permuted_tables(seed)
        args += [f"data={data}", "queries=" + ",".join(wl["queries"]),
                 f"warmup={wl['warmup']}", f"min_warm={wl['min_warm_passes']}"]
    else:
        pacing = wl["pacing"]
        args += [f"seed={seed}", f"warm_s={pacing['warm_s']}", f"gap_ms={pacing['gap_ms']}",
                 f"prime_rows={pacing['prime_rows']}", "topologies=" + ",".join(
                     f"{t['name']}:{t['paced_rate']}:{t['backlog_rows']}:{t['cap_rows']}:"
                     f"{t['paced_share']}"
                     for t in wl["topologies"])]
    rec = run_jvm(cp, args, out_dir)
    if rec is None:
        return None
    if kind == "batch":
        res = batch_results(rec, data, out_dir)
    else:
        res = stream_results(rec)
    return (rec,) + res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    wl = CONFIG["workloads"][a.workload]
    cp = build()
    out_dir = os.path.join(WORK, "run", a.workload)

    got = measure(cp, wl, a.seed, a.seconds, a.trace, out_dir)
    if got is None:  # the JVM failed: every operation of the run failed
        n = len(wl.get("queries") or wl["topologies"])
        kind = "per_layer" if a.trace else "end_to_end"
        print(json.dumps({"correct": False, "attempted": n, "failed": n, "metrics": {
            m["name"]: {"value": 0.0, "unit": m["unit"]} for m in BENCH[kind]}}))
        return
    rec, e2e, attempted, failed = got
    if not a.trace:
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k in units}
    else:
        with open(os.path.join(out_dir, "spans.json")) as f:
            spans = json.load(f)
        selfs = M.self_times(spans)
        for s in spans:
            s["self_us"] = selfs[s["id"]]
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{a.workload}-{a.seed}.spans.json"), "w") as f:
            json.dump(spans, f)
        by_layer = {}
        for s in spans:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + s["self_us"] / 1e6
        log("self time by layer (s): " + json.dumps(
            {k: round(v, 3) for k, v in sorted(by_layer.items())}))
        if wl["kind"] == "batch":
            layers = batch_layers(rec, spans, rec["cores"], wl["classes"])
        else:
            # rebuilt after the run from progress records: no hook runs
            # inside the measured queries, so tracing costs them nothing
            layers = stream_layers(rec)
            layers["trace.overhead_share"] = 0.0
        log(f"tracing overhead: {layers['trace.overhead_share']:+.3f} of the untraced warm time")
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in units.items()}
    for m in metrics.values():  # nothing measured (a failed run): strict JSON
        if m["value"] != m["value"]:
            m["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
