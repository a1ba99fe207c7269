#!/usr/bin/env python3
"""Fresh-JVM, layer-by-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script

1. compiles the engine (`src/main/scala`) and the harness
   (`perfbench/src`) with the Scala compiler among the Spark jars
   (`$SPARK_HOME/jars`, else build.sbt's `unmanagedBase`)
   into `.bench_build/` (`$CARGO_TARGET_DIR` if set), reused while the
   sources are unchanged;
2. generates the workload's inputs from the seed (`perfbench/gen.py`),
   cached on disk by (generator, workload, seed), so generation is not
   set-up time; row and byte counts go to stderr;
3. starts one JVM (`perfbench.Harness`) with `Sessions.local(nproc)`, the
   JVM flags of `tools/run.sh` and a 4 GiB heap, and drives it for at
   least `--seconds` seconds of measured work; after every pass the
   harness stops its clock and this script checks the pass's outputs
   with DuckDB against the engine's own oracle SQL (`perfbench/check.py`);
4. prints one JSON line: `correct`, `attempted`, `failed`, `metrics`.

A pass whose outputs fail their checks counts its calls as failed and is
run once more on a fresh session; the pass's time is the time until it
produced checked outputs. `correct` is false when a retried pass still
fails, when a metric has no sample, or when the open-loop generator fell
behind its schedule or the stream did not drain.

The workloads, the calls each pass makes, the metric definitions and
which end-to-end metric each per-layer metric should move are in
`perfbench/LAYERS.md`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["testgen_quickstart", "obs_stream_monitor"]
LAYERS = ["profile", "quality", "events", "streaming", "sources", "text",
          "sim"]
FAMILIES = ["calls", "failed", "build_s", "plan_s", "exec_s", "jobs", "tasks",
            "task_s", "shuffle_mb", "spill_mb", "codegen_compiles",
            "codegen_s", "jit_s", "gc_s"]
DEADLINE_S = 170
HEAP = "4g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles
    against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def sources(rel):
    out = []
    for d, _, fs in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def scalac(srcs, out, classpath):
    os.makedirs(out, exist_ok=True)
    lst = out + ".srcs"
    with open(lst, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_jars() + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + lst]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        log(r.stdout[-4000:], r.stderr[-4000:])
        raise SystemExit("scalac failed")


def build(bdir):
    """Compile engine + harness once per source hash; returns classpath."""
    eng, har = sources("src/main/scala"), sources("perfbench/src")
    h = hashlib.sha256()
    for p in eng + har:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(bdir, "classes", h.hexdigest()[:16])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "done")):
            shutil.rmtree(out, ignore_errors=True)
            t = time.time()
            jars = spark_jars() + "/*"
            scalac(eng, os.path.join(out, "engine"), jars)
            scalac(har, os.path.join(out, "harness"),
                   os.path.join(out, "engine") + ":" + jars)
            open(os.path.join(out, "done"), "w").close()
            log(f"built engine + harness in {time.time() - t:.1f} s")
    return ":".join([os.path.join(out, "harness"), os.path.join(out, "engine"),
                     os.path.join(ROOT, "fixtures"), spark_jars() + "/*"])


def java_cmd(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-cp", cp, "perfbench.Harness", *args]


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return None
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def drive(args, cp, data_dir, run_dir, oracle_dir):
    """Run the harness JVM, answering its check requests."""
    checker = check.Checker(oracle_dir)
    t0 = time.time()
    cmd = java_cmd(cp, run_dir, [args.workload, data_dir, run_dir,
                                 str(args.seconds), str(args.trace)])
    err = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.PIPE,
                         stdout=subprocess.PIPE, stderr=err, text=True)
    ready = report = None
    passes = []
    watchdog = threading.Timer(DEADLINE_S, p.kill)
    watchdog.start()
    try:
        for line in p.stdout:
            if line.startswith("@@READY "):
                ready = int(line.split()[1]) / 1e6
            elif line.startswith("@@CHECK "):
                with open(line.split(" ", 1)[1].strip()) as f:
                    man = json.load(f)
                tc = time.time()
                failed, notes = checker.run(man)
                log(f"pass {man['id']}.{man['attempt']} ({man['kind']}) "
                    f"{man['end'] - man['start']:.3f}s, checked in "
                    f"{time.time() - tc:.2f}s, {failed} failed calls")
                for n in notes:
                    log(f"pass {man['id']}.{man['attempt']} ({man['kind']}): {n}")
                man["failed"] = failed
                passes.append(man)
                p.stdin.write("OK\n" if failed == 0 else f"FAIL {failed}\n")
                p.stdin.flush()
            elif line.startswith("@@DONE "):
                with open(line.split(" ", 1)[1].strip()) as f:
                    report = json.load(f)
        p.wait(timeout=60)
    finally:
        watchdog.cancel()
        if p.poll() is None:
            p.kill()
            p.wait()
        err.close()
    if p.returncode != 0 or report is None or ready is None:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise SystemExit(f"harness exited with {p.returncode}")
    return ready - t0, passes, report, checker


def pass_times(passes):
    """Per pass id: kind, time until checked output (all attempts), and
    whether the last attempt was checked correct."""
    by_id = {}
    for m in passes:
        by_id.setdefault(m["id"], []).append(m)
    return [{"kind": atts[0]["kind"],
             "seconds": sum(m["end"] - m["start"] for m in atts),
             "ok": max(atts, key=lambda m: m["attempt"])["failed"] == 0}
            for _, atts in sorted(by_id.items())]


def median_of(ps, kind):
    """Median time of the passes of one kind that ended correct. If none
    did, the time they took: the run then reports `correct` false."""
    xs = [p["seconds"] for p in ps if p["kind"] == kind]
    ok = [p["seconds"] for p in ps if p["kind"] == kind and p["ok"]]
    return statistics.median(ok or xs) if xs else None


def end_to_end(setup, ps, passes, report, stream_fail):
    attempted = sum(m["planned"] for m in passes) + stream_fail[0]
    failed = sum(m["failed"] for m in passes) + stream_fail[1]
    cold = [p for p in ps if p["kind"] == "cold"]
    m = {"setup_s": (setup, "s"),
         "first_run_s": (cold[0]["seconds"], "s"),
         "refresh_run_s": (median_of(ps, "refresh"), "s"),
         "rerun_s": (median_of(ps, "rerun"), "s"),
         "live_heap_mb": (report["live_heap_mb"], "MB"),
         "ok_frac": (1.0 - failed / attempted, "ratio")}
    return attempted, failed, m


def stream_metrics(report):
    """Open-loop ingest lag (due time to sink commit, per slice of the
    ingest phase) and burst drain rate."""
    st = report["extra"].get("stream")
    if not st or not st["phases"]:
        return {"ingest_lag_p50_s": 0.0, "ingest_lag_p90_s": 0.0,
                "drain_eps": 0.0}
    sl = st["slices"]
    lags, burst = [], 0.0
    for ph in st["phases"]:
        idx = range(ph["from"], ph["from"] + ph["count"])
        done = [sl[i]["committed"] for i in idx]
        if ph["kind"] == "burst":
            burst = ph["events"] / (max(done) - ph["start"])
        else:
            lags += [d - sl[i]["due"] for d, i in zip(done, idx)]
    log(f"ingest lag over {len(lags)} slices: p50 {pct(lags, 0.5):.3f}s, "
        f"p90 {pct(lags, 0.9):.3f}s; burst drain {burst:.1f} events/s; "
        "phases: " + "; ".join(
        f"{ph['kind']} n={ph['count']} backlog={ph['backlog_at_schedule_end']}"
        f" generator_late_max={ph['generator_late_max_s']:.4f}s"
        for ph in st["phases"]))
    return {"ingest_lag_p50_s": pct(lags, 0.5), "ingest_lag_p90_s": pct(lags, 0.9),
            "drain_eps": burst}


def per_layer(report, passes, stream):
    spans = report["spans"]
    op_ok = {}
    for man in passes:
        for op in man["ops"]:
            op_ok[(man["id"], man["attempt"], op["name"])] = op["ok"]
    by_id = {s["id"]: s for s in spans}
    # attempt of a span = order of its pass span among equal pass ids
    attempt = {}
    seen = {}
    for s in spans:
        if s["layer"] == "bench":
            seen[s["pass"]] = seen.get(s["pass"], 0) + 1
            attempt[s["id"]] = seen[s["pass"]]
    m = {}
    for L in LAYERS:
        for fam in FAMILIES:
            m[f"{L}.{fam}"] = 0.0
    for s in spans:
        L = s["layer"]
        if L not in LAYERS:
            continue
        par = by_id.get(s["parent"])
        att = attempt.get(par["id"], 1) if par else 1
        ok = s["error"] is None and op_ok.get((s["pass"], att, s["name"]), True)
        m[f"{L}.calls"] += 1
        m[f"{L}.failed"] += 0 if ok else 1
        for fam in ["build_s", "plan_s", "exec_s", "task_s", "jit_s", "gc_s",
                    "codegen_s"]:
            m[f"{L}.{fam}"] += s[fam]
        m[f"{L}.jobs"] += s["jobs"]
        m[f"{L}.tasks"] += s["tasks"]
        m[f"{L}.codegen_compiles"] += s["codegen_compiles"]
        m[f"{L}.shuffle_mb"] += s["shuffle_bytes"] / 1048576
        m[f"{L}.spill_mb"] += s["spill_bytes"] / 1048576
    trig = report["stream_triggers"]
    m["streaming.triggers"] = float(len(trig))
    m["streaming.trigger_p50_s"] = pct([t.get("triggerExecution", 0.0)
                                        for t in trig], 0.5) if trig else 0.0
    for name, key in [("planning_s", "queryPlanning"),
                      ("wal_commit_s", "walCommit"),
                      ("state_commit_s", "state_commit")]:
        m[f"streaming.{name}"] = sum(t.get(key, 0.0) for t in trig)
    m["streaming.state_rows"] = max([t.get("state_rows", 0.0) for t in trig],
                                    default=0.0)
    st = report["extra"].get("stream")
    tr = st["triggers"] if st else []
    m["streaming.sink_merge_s"] = sum(t["merge_s"] for t in tr)
    m["streaming.sink_compact_s"] = sum(t["compact_s"] for t in tr)
    m["streaming.sink_written_mb"] = max(
        [t["sink_bytes"] for t in tr], default=0) / 1048576
    # wasted work, from the checked outputs
    cand = agree = 0
    rec = []
    for man in passes:
        for op in man["ops"]:
            for c in op["checks"]:
                if op["name"] == "semantic_dedup_pairs_ann":
                    rows = check.load_jsonl(c["out"])
                    cand += len(rows)
                    agree += sum(1 for r in rows if r["agree"])
                if "recall" in c:
                    rec.append(c["recall"])
    m["text.lsh_confirm_ratio"] = agree / cand if cand else 0.0
    m["sim.ann_recall"] = statistics.mean(rec) if rec else 0.0
    for k, v in stream.items():
        m[f"streaming.{k}"] = v
    m["trace.overhead_s"] = report["trace_hook_s"]
    units = {"calls": "count", "failed": "count", "jobs": "count",
             "tasks": "count", "codegen_compiles": "count",
             "shuffle_mb": "MB", "spill_mb": "MB", "triggers": "count",
             "state_rows": "count", "sink_written_mb": "MB",
             "lsh_confirm_ratio": "ratio", "ann_recall": "ratio",
             "drain_eps": "1/s"}
    return {k: (v, units.get(k.split(".", 1)[1], "s")) for k, v in m.items()}


def self_times(spans):
    """Span duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        s["self_s"] = (s["end"] - s["start"]) - covered


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources (src/main/scala/graft) not found "
                         "next to perfbench/; run from a full checkout")
    bdir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(bdir)
    with open(gen.__file__, "rb") as f:
        gen_version = hashlib.sha256(f.read()).hexdigest()[:12]
    data_dir, manifest = gen.ensure(os.path.join(bdir, "data", gen_version),
                                    args.workload, args.seed)
    log(f"inputs {args.workload} seed {args.seed}: " + ", ".join(
        f"{k} {v['rows']} rows {v['bytes']} B"
        for k, v in sorted(manifest["files"].items())[:8]) +
        (f", ... ({len(manifest['files'])} files, "
         f"{sum(v['rows'] for v in manifest['files'].values())} rows, "
         f"{sum(v['bytes'] for v in manifest['files'].values())} B)"))
    run_dir = os.path.join(bdir, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        setup, passes, report, checker = drive(
            args, cp, data_dir, run_dir, os.path.join(bdir, "oracle"))
        stream_fail = (0, 0)
        valid = True
        if args.workload == "obs_stream_monitor":
            st = report["extra"]["stream"]
            valid = st["valid"]
            a, f, notes = checker.stream_profiles(
                report["extra"]["stream_profiles"], report["extra"]["slice_files"])
            stream_fail = (a, f)
            for n in notes:
                log(n)
        stream = stream_metrics(report)
        ps = pass_times(passes)
        log(f"passes: " + ", ".join(
            f"{p['kind']} {p['seconds']:.3f}s{'' if p['ok'] else ' FAILED'}"
            for p in ps))
        attempted, failed, metrics = end_to_end(
            setup, ps, passes, report, stream_fail)
        correct = valid and stream_fail[1] == 0 and all(p["ok"] for p in ps)
        if args.trace:
            self_times(report["spans"])
            tdir = os.path.join(bdir, "traces")
            os.makedirs(tdir, exist_ok=True)
            with open(os.path.join(
                    tdir, f"{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": report["spans"],
                           "stream_triggers": report["stream_triggers"]}, f)
            metrics = per_layer(report, passes, stream)
        for k, (v, u) in metrics.items():
            if v is None:
                correct = False
                log(f"metric {k} has no sample")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": (v if v is not None else -1.0), "unit": u}
                        for k, (v, u) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
