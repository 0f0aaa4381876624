#!/usr/bin/env python3
"""MemFuse service benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program from source
together with the harness (perfbench/build.sbt; rebuilt only when a
source changed), generates the input tables once per checkout, runs one
JVM with Spark as local[<cpus>], prints every metric with its unit,
percentile level and sample count, writes the full record under
perfbench/results/, and ends stdout with one compact JSON summary line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the summary holds the end-to-end metrics of
BENCHMARK.json; with --trace 1 it holds the per-layer metrics, and the
run also reports the tracing overhead against the untraced record of the
same workload, seed, scale factor, length and build, when there is one
(run the same arguments with --trace 0 first to get it).

Extra options: --sf <scale factor> (default 0.1), --max-ops <n> (cap the
measured phase at n cycles), --timeout <s> (JVM time limit, default 170),
--write-digests 1 (record the analytics result digests instead of
checking them).
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
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(BENCH, "results")
RUN_TIMEOUT_S = 170
# runnable by hand and by the self-test, but too slow for the timed set
# in BENCHMARK.json (see perfbench/README.md)
EXTRA_WORKLOADS = ("stream_ingest", "analytics")
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: the program's main sources and resources
    plus the harness and its build definition."""
    files = []
    for base in ("src/main", "perfbench/src/main"):
        for path in glob.glob(os.path.join(ROOT, base, "**", "*"), recursive=True):
            if os.path.isfile(path):
                files.append(path)
    files += [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for path in sources():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    one spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile once per source state; return the runtime classpath and
    the source state's stamp."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip(), want
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    print("[perfbench] building program + harness (sbt compile)", flush=True)
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={spark_jars()}",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log_path})")
        log.write(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or ":" not in cp:
        tail = "\n".join(out.splitlines()[-30:])
        die(f"build failed (exit {proc.returncode}); log: {log_path}\n{tail}")
    cp = package(cp)
    archive_classes(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"[perfbench] build done in {time.time() - t0:.1f}s", flush=True)
    return cp, want


def package(cp):
    """Put the compiled classes in a jar (the class-data archive only
    covers classes loaded from jars); return the classpath with the jar."""
    jar = os.path.join(BUILD, "perfbench.jar")
    entries = cp.split(":")
    classes = [e for e in entries if os.path.isdir(e)]
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in classes:
            for base, _, files in sorted(os.walk(d)):
                for name in sorted(files):
                    path = os.path.join(base, name)
                    z.write(path, os.path.relpath(path, d))
    return ":".join([jar] + [e for e in entries if e not in classes])


def archive_classes(cp):
    """Record the classes one short run loads into an application
    class-data archive, so every later JVM maps them instead of loading
    and verifying them again (about 5 s less start-up per run on a
    4-core host). A failed dump only means runs start without it."""
    jsa = os.path.join(BUILD, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(BUILD, "work", "archive")
    cmd = jvm_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={jsa}"], [
        "--workload", "conversation", "--seed", "1", "--seconds", "1", "--trace", "0",
        "--sf", "0.01", "--data", os.path.join(BUILD, "data", "sf0.01"), "--work", work,
        "--record", os.path.join(BUILD, "archive-run.json"), "--max-ops", "1"])
    with open(os.path.join(BUILD, "archive.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log, start_new_session=True)
        try:
            proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 and os.path.exists(jsa):
        os.remove(jsa)


def jvm_cmd(cp, work, jvm_flags, main_args):
    """The JVM command of one run; its temporary files go under `work`,
    which the caller deletes when the run has ended."""
    h = heap()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{h}", f"-Xms{h}", "-XX:+UseG1GC",
           # JVM warnings go to stderr: stdout carries only the report
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"] + jvm_flags
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + main_args


def heap():
    """Driver heap: a quarter of the machine's memory, within 2-6 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 3
    return f"{gb}g"


def run_jvm(cp, build_id, a, record, work):
    """Run one workload JVM; return its record, stamped with what a
    traced run matches its untraced twin on."""
    jsa = os.path.join(BUILD, "classes.jsa")
    cmd = jvm_cmd(cp, work, [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [], [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--sf", str(a.sf),
        "--data", os.path.join(BUILD, "data", f"sf{a.sf:g}"),
        "--work", work, "--record", record, "--max-ops", str(a.max_ops),
        "--digests", os.path.join(BENCH, "digests.json"),
        "--write-digests", "1" if a.write_digests else "0"])
    os.makedirs(os.path.dirname(record), exist_ok=True)
    err_path = record[:-len(".json")] + ".stderr.log"
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=a.timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            die(f"run timed out after {a.timeout:g}s (stderr: {err_path})")
    shutil.rmtree(work, ignore_errors=True)
    for line in out.splitlines():
        print(line)
    if proc.returncode != 0 or not os.path.exists(record):
        with open(err_path) as f:
            tail = f.read()[-3000:]
        die(f"run failed (exit {proc.returncode}); stderr tail:\n{tail}")
    with open(record) as f:
        rec = json.load(f)
    rec["build"], rec["max_ops"] = build_id, a.max_ops
    with open(record, "w") as f:
        json.dump(rec, f)
    return rec


def untraced_twin(a, build_id):
    """The newest untraced record of the same workload, seed, scale
    factor, length and build, or None."""
    paths = glob.glob(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace0-*.json"))
    for path in sorted(paths, key=os.path.getmtime, reverse=True):
        try:
            with open(path) as f:
                rec = json.load(f)
        except ValueError:
            continue
        if rec.get("build") == build_id and rec.get("max_ops") == a.max_ops \
                and rec["sf"] == a.sf and rec["seconds"] == a.seconds:
            return rec
    return None


def record_path(a):
    return os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}.json")


def describe(name, m):
    level = f" {m['level']}" if m.get("level") else ""
    return f"  {name:<34} {m['value']:>14.6g} {m['unit']:<6}{level:<6} n={m['n']}"


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--max-ops", type=int, default=0)
    p.add_argument("--write-digests", type=int, choices=(0, 1), default=0)
    p.add_argument("--timeout", type=float, default=RUN_TIMEOUT_S)
    a = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.exists(spec_path):
        die("run from the root of a MemFuse checkout (program sources not found)")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]] + list(EXTRA_WORKLOADS):
        die(f"unknown workload {a.workload}")

    cp, build_id = build()
    rec_path = record_path(a)
    rec = run_jvm(cp, build_id, a, rec_path,
                  os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}"))

    e2e, layers = rec["end_to_end"], rec["per_layer"]
    print(f"[perfbench] workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
          f"trace={a.trace} sf={a.sf:g} master={rec['spark_master']}")
    print("[perfbench] end-to-end metrics (value, unit, percentile level, sample count):")
    for name, m in e2e.items():
        print(describe(name, m))
    notes = rec.get("notes", {})
    if "tail" in notes:
        print(f"  (tail support: {notes['tail']})")
    for err in rec.get("errors", [])[:10]:
        print(f"[perfbench] failed: {err}")

    exercised = set(layers)
    if a.trace:
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                layers[m["name"]] = {"value": 0.0, "unit": m["unit"], "n": 0, "level": ""}
        rec["per_layer"] = layers
        rec["per_layer_not_exercised"] = sorted(set(layers) - exercised)
        print("[perfbench] per-layer metrics (layers this workload does not exercise read 0, n=0):")
        for name, m in layers.items():
            print(describe(name, m))
        self_times = notes.get("self_time_s", {})
        if self_times:
            print("[perfbench] self time per span (total s, median s, spans):")
            for name, s in sorted(self_times.items()):
                print(f"  {name:<40} {s['total']:>10.4f} {s['median']:>10.4f} {s['n']:>6}")
        if "query_split_sum_s" in notes:
            print(f"[perfbench] query.build_s + query.plan_s + query.exec_s = "
                  f"{notes['query_split_sum_s']:.4f} s vs traced query_p50_s = "
                  f"{notes['query_traced_p50_s']:.4f} s")
        untraced = untraced_twin(a, build_id)
        if untraced is None:
            rec["tracing_overhead_s"] = None
            print("[perfbench] tracing overhead: no untraced record of this workload, seed, sf, "
                  "length and build; run the same arguments with --trace 0 first")
        else:
            diffs = {name: m["value"] - untraced["end_to_end"][name]["value"]
                     for name, m in e2e.items()
                     if m["unit"] == "s" and name in untraced["end_to_end"]}
            rec["tracing_overhead_s"] = diffs
            line = ", ".join(f"{k} {v:+.4f} s" for k, v in diffs.items())
            print(f"[perfbench] tracing overhead (traced - untraced, same seed): {line}")
        with open(rec_path, "w") as f:
            json.dump(rec, f)
        wanted = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        source = layers
    else:
        wanted = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        source = e2e
    print(f"[perfbench] full record: {os.path.relpath(rec_path, ROOT)}")

    missing = [n for n, _ in wanted if n not in source]
    metrics = {n: {"value": source[n]["value"], "unit": u} for n, u in wanted if n in source}
    summary = {
        "correct": rec["failed"] == 0 and not missing,
        "attempted": max(1, int(rec["attempted"])),
        "failed": int(rec["failed"]),
        "metrics": metrics,
    }
    if missing:
        print(f"[perfbench] metrics not produced: {', '.join(missing)}")
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
