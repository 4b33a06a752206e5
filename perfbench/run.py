#!/usr/bin/env python3
"""Benchmark of the daily pipeline and the analytics registry on all the
cores of the machine it runs on.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (into target/, perfbench/target/ and
.bench_build/) and generates the analytics tables; later runs reuse both
while the sources are unchanged. Each run starts one JVM, which sets up,
measures, checks its outputs and writes its samples; this script turns
them into metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1) of BENCHMARK.json. The
lines before it print every metric by name and unit, with the run's stamp
(nproc, loadavg before and after, seed, commit, sample counts). The full
record, spans included, is kept under .bench_build/results/.

    python3 perfbench/run.py --workload analytics_sf001 --seed 1 --seconds 1 \\
        --trace 0 --record-fingerprints

records the analytics answers' fingerprints into perfbench/fingerprints.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
TABLES = os.path.join(BUILD, "tables")
WORKLOADS = ("daily_batch", "analytics_sf001")
# The span that times the workload's timed operation.
OP_SPAN = {"daily_batch": "daily", "analytics_sf001": "pass"}
DAILY_LAYERS = ("ingest", "geocode", "clean", "split", "train", "predict",
                "serve_join", "sink")
HEAP = "3g"
RUN_LIMIT_S = 175  # a run must end within 180 s once built
BUILD_LIMIT_S = 780
TABLES_LIMIT_S = 60
MB = 1024.0 * 1024.0


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    project = os.path.join(ROOT, "project")
    if os.path.isdir(project):
        files += [os.path.join(project, f) for f in os.listdir(project)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_bounded(cmd, cwd, limit_s, log_path, env=None):
    """Runs cmd in its own process group, output to log_path; kills the
    group at limit_s. Returns the exit code (None on timeout)."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(sha):
    """Builds and generates the analytics tables when the sources changed
    since the last build (`sha`); returns the JVM launch line (classpath,
    JVM options)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_path = os.path.join(BUILD, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp_path):
        with open(stamp_path) as f:
            if f.read().strip() == sha:
                return read_launch(launch)
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(launch):
        os.remove(launch)
    log("building the program and the benchmark with sbt (first run only)")
    t0 = time.time()
    # sbt's global state and temporary files stay inside the checkout too
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
                       + " -Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")
                       + " -Djava.io.tmpdir=" + tmp)
    code = run_bounded(["sbt", "-batch", "writeLaunch"], HERE, BUILD_LIMIT_S,
                       os.path.join(BUILD, "build.log"), env)
    if code != 0 or not os.path.exists(launch):
        log("build failed (exit %s); see .bench_build/build.log" % code)
        sys.exit(2)
    log("built in %.0f s" % (time.time() - t0))
    # The analytics tables are fixed data, so they are made here, once per
    # build, and no run's set-up includes making them.
    t0 = time.time()
    classpath, jvm_opts = read_launch(launch)
    shutil.rmtree(TABLES, ignore_errors=True)
    code = run_bounded(["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + tmp] + jvm_opts
                       + ["-cp", classpath, "perfbench.AnalyticsInputs", TABLES],
                       ROOT, TABLES_LIMIT_S, os.path.join(BUILD, "tables.log"))
    if code != 0:
        log("table generation failed (exit %s); see .bench_build/tables.log" % code)
        sys.exit(2)
    log("generated the analytics tables in %.0f s" % (time.time() - t0))
    with open(stamp_path, "w") as f:
        f.write(sha + "\n")
    return classpath, jvm_opts


def read_launch(path):
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l]
    return lines[0], lines[1:]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_jvm(args, launch, cores, deadline):
    classpath, jvm_opts = launch
    tag = "%s-s%d-t%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
           + jvm_opts + ["-cp", classpath, "perfbench.Main",
                         "--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--work", work, "--cores", str(cores),
                         "--tables", TABLES])
    jvm_log = os.path.join(BUILD, "work", tag + ".log")
    code = run_bounded(cmd, ROOT, deadline - time.time(), jvm_log)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        log("benchmark JVM %s; see %s"
            % ("timed out" if code is None else "exited with %s" % code,
               os.path.relpath(jvm_log, ROOT)))
        sys.exit(1)
    with open(result_path) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result


def fingerprint_checks(result, record):
    """Each analytics answer against the fingerprint recorded in
    fingerprints.json (or, with `record`, recorded now)."""
    path = os.path.join(HERE, "fingerprints.json")
    got = {k[len("fingerprint."):]: v for k, v in result["values"].items()
           if k.startswith("fingerprint.")}
    if record:
        doc = {"sf": result["values"]["sf"], "cores": result["cores"], "answers": got}
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True, ensure_ascii=False)
            f.write("\n")
        log("recorded %d fingerprints" % len(got))
    with open(path) as f:
        want = json.load(f)
    checks = []
    for q, fp in sorted(want["answers"].items()):
        have = got.get(q)
        ok = have == fp
        checks.append({"name": "answer." + q, "ok": ok,
                       "detail": "" if ok else "got %s, recorded %s" % (have, fp)})
    return checks


def setup_ms(result):
    """JVM start to the first timed operation, with set-up's repeated input
    generation counted once, at its median."""
    inputs = result["inputs_ms"]
    extra = sum(inputs) - stats.median(inputs) if inputs else 0.0
    return result["setup_wall_ms"] - extra


def end_to_end(result):
    return {
        "setup_s": (setup_ms(result) / 1000.0, "s"),
        "op_p50_ms": (stats.median(result["ops_ms"]), "ms"),
        "success_ratio": ((result["attempted"] - result["failed"])
                          / float(result["attempted"]), "ratio"),
    }


def named_end_to_end(result, e2e):
    """The workload's own end-to-end metrics, by the names the layer map
    uses (the JSON line carries the workload-independent ones)."""
    ops = result["ops_ms"]
    s = result["series"]
    out = {"setup_s": e2e["setup_s"],
           "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
           "fail_ratio": (result["failed"] / float(result["attempted"]), "ratio")}
    if result["workload"] == "daily_batch":
        out["daily_s"] = (stats.median(ops) / 1000.0, "s")
        out["test_mae_jpy"] = (result["values"]["test_mae_jpy"], "JPY")
    else:
        out["headline_s"] = (stats.median(s["headline_s"]), "s")
        out["scale_s"] = (stats.median(s["scale_s"]), "s")
    return out


def span_work(spans, names):
    """Per root span named in `names`: its subtree's summed work."""
    out = []
    for s in spans:
        if s["name"] not in names:
            continue
        w = {}
        for t in stats.subtree(spans, s["id"]):
            for k, v in t["work"].items():
                w[k] = w.get(k, 0) + v
        w["ms"] = (s["end_ns"] - s["start_ns"]) / 1e6
        out.append(w)
    return out


def per_layer(result):
    spans = result["spans"]
    eng = result["engine"]
    ops = span_work(spans, {OP_SPAN[result["workload"]]})
    med = lambda key, scale=1.0: stats.median([o[key] * scale for o in ops])
    return {
        "plan_ms": (med("plan_ms"), "ms"),
        "jobs": (med("jobs"), "count"),
        "stages": (med("stages"), "count"),
        "tasks": (med("tasks"), "count"),
        "task_s": (med("task_ms", 1e-3), "s"),
        "shuffle_mb": (med("shuffle_write_bytes", 1 / MB), "MB"),
        "spill_mb": (med("spill_bytes", 1 / MB), "MB"),
        "codegen_compiles": (eng["codegen_compiles"], "count"),
        "codegen_fallbacks": (eng["codegen_fallbacks"], "count"),
        "gc_s": (eng["gc_ms"] / 1000.0, "s"),
        "traced_op_ms": (med("ms"), "ms"),
        # JVM heap growth is timing-dependent: peak RSS varied by a quarter
        # between runs of one workload, too much for an end-to-end bound
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
    }


def named_layers(result):
    """The per-layer metrics of the layer map, by workload."""
    spans = result["spans"]
    selfs = stats.self_times(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    med = stats.median
    out = {}

    def span_metrics(name, prefix):
        ss = by_name.get(name, [])
        if not ss:
            return
        out[prefix + ".s"] = (med([selfs[s["id"]] / 1e9 for s in ss]), "s")
        for key, scale, unit, label in (
                ("jobs", 1, "count", "jobs"), ("stages", 1, "count", "stages"),
                ("tasks", 1, "count", "tasks"), ("task_ms", 1e-3, "s", "task_s"),
                ("shuffle_write_bytes", 1 / MB, "MB", "shuffle_mb"),
                ("spill_bytes", 1 / MB, "MB", "spill_mb"),
                ("plan_ms", 1, "ms", "plan_ms")):
            out[prefix + "." + label] = (med([s["work"][key] * scale for s in ss]), unit)

    w = result["workload"]
    series = result["series"]
    if w == "daily_batch":
        for name in DAILY_LAYERS:
            span_metrics(name, name)
        if "ingest" in by_name:
            out["ingest.pages_per_s"] = (result["values"]["pages"] / out["ingest.s"][0], "1/s")
            out["sink.mb_written"] = (med([s["work"]["output_bytes"] / MB
                                           for s in by_name["sink"]]), "MB")
        for k in ("ingest.valid_ratio", "geocode.match_ratio", "clean.keep_ratio"):
            if k in series:
                out[k] = (med(series[k]), "ratio")
        daily = span_work(spans, {"daily"})
        out["daily.plan_ms"] = (med([d["plan_ms"] for d in daily]), "ms")
        # the gap compares the stages with a call made after them, both warm
        warm = span_work(spans, {"daily_warm"})
        if warm and "ingest" in by_name:
            warm_s = med([d["ms"] for d in warm]) / 1000.0
            layer_sum = sum(out[n + ".s"][0] for n in DAILY_LAYERS if n + ".s" in out)
            out["daily.warm_s"] = (warm_s, "s")
            out["daily.layers_sum_s"] = (layer_sum, "s")
            out["daily.gap_s"] = (warm_s - layer_sum, "s")
    else:
        for name in sorted(n for n in by_name if n.startswith("q")):
            ss = by_name[name]
            out[name + ".s"] = (med([(s["end_ns"] - s["start_ns"]) / 1e9 for s in ss]), "s")
            out[name + ".plan_ms"] = (med([s["work"]["plan_ms"] for s in ss]), "ms")
            out[name + ".stages"] = (med([s["work"]["stages"] for s in ss]), "count")
            out[name + ".shuffle_mb"] = (med([s["work"]["shuffle_write_bytes"] / MB
                                              for s in ss]), "MB")
    eng = result["engine"]
    out["codegen.compiles"] = (eng["codegen_compiles"], "count")
    out["codegen.fallbacks"] = (eng["codegen_fallbacks"], "count")
    out["gc_s"] = (eng["gc_ms"] / 1000.0, "s")
    return out


def tracing_overhead(result, sha, traced_op_ms):
    """Traced minus untraced op median, against the latest untraced run of
    the same workload and seed, when one was kept."""
    runs = sorted(glob.glob(os.path.join(BUILD, "results", "%s-s%d-t0-*.json"
                                         % (result["workload"], result["seed"]))))
    if not runs:
        return None
    with open(runs[-1]) as f:
        untraced = json.load(f)
    if untraced["source_sha"] != sha:
        return None
    return traced_op_ms - untraced["metrics"]["op_p50_ms"]["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record-fingerprints", action="store_true")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no program sources next to perfbench/ (build.sbt, src/main/scala/graft)")
        sys.exit(3)

    sha = source_sha()
    launch = build(sha)
    deadline = time.time() + RUN_LIMIT_S
    cores = len(os.sched_getaffinity(0))
    load_before = loadavg()
    result = run_jvm(args, launch, cores, deadline)
    load_after = loadavg()

    checks = result["checks"]
    if args.workload == "analytics_sf001":
        extra = fingerprint_checks(result, args.record_fingerprints)
        checks = checks + extra
        result["attempted"] += len(extra)
        result["failed"] += sum(1 for c in extra if not c["ok"])
    for c in checks:
        if not c["ok"]:
            print("MISMATCH %s: %s" % (c["name"], c["detail"]), flush=True)
    if not result["ops_ms"]:
        log("no timed operation succeeded; see the failures above")
        sys.exit(1)

    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "seconds": args.seconds, "nproc": cores,
             "loadavg_before": load_before, "loadavg_after": load_after,
             "commit": commit(), "source_sha": sha,
             "steal_pct": result["engine"]["steal_pct"],
             "ops": len(result["ops_ms"]), "ops_label": result["values"].get("ops_label"),
             "checks": len(checks), "spark": result["spark_version"]}
    if args.trace:
        metrics = per_layer(result)
        named = named_layers(result)
        overhead = tracing_overhead(result, sha, metrics["traced_op_ms"][0])
        if overhead is not None:
            named["tracing_overhead_ms"] = (overhead, "ms")
    else:
        metrics = end_to_end(result)
        named = named_end_to_end(result, metrics)
    print("stamp " + json.dumps(stamp, ensure_ascii=False), flush=True)
    for k, (v, unit) in named.items():
        print("metric %-28s %14.6g %s" % (k, v, unit))
    ops = result["ops_ms"]
    if len(ops) >= 2:
        q1, q2, q3 = stats.quartiles(ops)
        print("samples %d %s: quartiles %.3f %.3f %.3f ms, spread %.4f"
              % (len(ops), stamp["ops_label"], q1, q2, q3, stats.spread(ops)))
    else:
        print("samples %d %s" % (len(ops), stamp["ops_label"]))

    correct = result["failed"] == 0 and all(c["ok"] for c in checks)
    line = {"correct": correct, "attempted": int(result["attempted"]),
            "failed": int(result["failed"]),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    kept = dict(stamp, metrics=line["metrics"],
                named={k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                result=result)
    # every run is kept, never only the best one
    with open(os.path.join(BUILD, "results", "%s-s%d-t%d-%s.json"
                           % (args.workload, args.seed, args.trace,
                              time.strftime("%Y%m%dT%H%M%S"))), "w") as f:
        json.dump(kept, f, ensure_ascii=False)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
