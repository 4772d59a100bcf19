#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload serve|ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The launcher sizes the host (cores from
nproc, of which Spark gets half; heap from MemTotal), records a preflight (load average, other
live JVMs, CPU steal over the run), builds the library and the
benchmark from source when the sources changed (perfbench/build.sbt,
outputs under .bench_build/), runs one workload in a bare JVM over the
compiled classes, and prints two JSON lines: a full report, then the
result line with `correct`, `attempted`, `failed` and `metrics`.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json;
`--trace 1` records spans and Spark listener counts and reports its
per-layer metrics, writing the span trace to .bench_build/trace/.
It exits non-zero when the run fails or any output check fails.
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

BUILD = ".bench_build"
# Spark 4 on JDK 17 outside spark-submit needs these (the list
# spark-submit injects, as the root build's forked runs use).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170  # a run must end within 180 s of its start
BUILD_DEADLINE_S = 850  # the first run in a checkout builds


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return int(subprocess.run(["nproc"], capture_output=True, text=True,
                                  env={k: v for k, v in os.environ.items()
                                       if k != "OMP_NUM_THREADS"}).stdout.strip())
    except (OSError, ValueError):
        return os.cpu_count() or 1


def spark_cores(n):
    """Spark's task slots: half the cores, so the driver, JIT and GC
    threads do not queue behind tasks on a shared host."""
    return max(1, n // 2)


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7] if len(xs) > 7 else 0, sum(xs)
    except (OSError, ValueError):
        return 0, 0


def load_avg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def live_jvms():
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def source_stamp():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            if "/target" in p or "/project/project" in p:
                continue
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the last build saw these exact sources;
    returns (runtime classpath, whether it compiled)."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        # classes deleted since the build invalidate it as well
        if saved.get("stamp") == stamp and all(
                os.path.exists(p) for p in saved["classpath"].split(os.pathsep)):
            return saved["classpath"], False
    env = dict(os.environ)
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "logs", "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             # sbt's own per-user state and temp files go under the checkout too
             f"-Dsbt.global.base={os.path.abspath(os.path.join(BUILD, 'sbt-global'))}",
             f"-Djava.io.tmpdir={os.path.abspath(os.path.join(BUILD, 'tmp'))}",
             "compile", "export Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"build timed out (log: {log})")
        out.write(stdout)
    if proc.returncode != 0:
        fail(f"build failed (log: {log})")
    lines = [ln for ln in stdout.splitlines() if "perfbench" in ln and os.pathsep in ln]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath, True


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    for need in ["BENCHMARK.json", "build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(need):
            fail(f"{need} not found: run from the root of a graft checkout")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    for d in ["logs", "trace", "tmp", "run"]:
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    n_cores = cores()
    preflight = {"cores": n_cores, "spark_cores": spark_cores(n_cores), "heap": heap(),
                 "load_avg_start": load_avg(),
                 "other_jvms": live_jvms()}
    steal0, ticks0 = cpu_ticks()

    classpath, built = build(t_start + BUILD_DEADLINE_S)
    deadline = (time.time() if built else t_start) + DEADLINE_S

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.abspath(os.path.join(BUILD, "run", f"{tag}-{os.getpid()}"))
    trace_out = os.path.abspath(os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}.json"))
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    cmd = (["java", f"-Xmx{preflight['heap']}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.abspath(os.path.join(BUILD, 'tmp'))}",
              "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(preflight["spark_cores"]), "--trace-out", trace_out])
    t_jvm0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded its deadline (log: {log})")
    t_jvm_end = time.time()
    shutil.rmtree(work, ignore_errors=True)
    results = [ln[len("RESULT "):] for ln in stdout.splitlines() if ln.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        fail(f"run failed with code {proc.returncode} (log: {log})")
    res = json.loads(results[-1])

    steal1, ticks1 = cpu_ticks()
    preflight["load_avg_end"] = load_avg()
    preflight["steal_pct_run"] = 100.0 * (steal1 - steal0) / max(1, ticks1 - ticks0)
    res["preflight"] = preflight
    res["launcher_s"] = {"build_check": t_jvm0 - t_start, "jvm": t_jvm_end - t_jvm0,
                         "total": time.time() - t_start}
    source = res["per_layer"] if args.trace else res["end_to_end"]
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = res["failed"] == 0 and res["attempted"] >= 1
    print(json.dumps(res))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
