#!/usr/bin/env python3
"""Engine benchmark: builds the engine and the benchmark from source, runs one
workload and prints one JSON result line.

    python3 perfbench/run.py --workload hot_cow --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --self-check

Run it from the repository root. Workloads, generator parameters, host
settings and the layer -> end-to-end metric map are in perfbench/spec.json.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK = os.path.join(ROOT, ".bench_work")
TAG = "PERFBENCH_RESULT "
DEADLINE_S = 170.0

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

# Inherited settings that would silently change what is measured: the
# engine's own A/B knobs, Spark's directory and memory overrides, and JVM
# option injection.
SCRUB_PREFIXES = ("SPARK_GRAFT_", "SPARK_DRIVER_MEM", "SPARK_LOCAL", "SPARK_CONF_DIR",
                  "SPARK_JAVA_OPTS", "SPARK_SUBMIT_OPTS", "JAVA_TOOL_OPTIONS",
                  "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS", "OMP_NUM_THREADS")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first spark-submit on PATH that has them."""
    path = os.environ.get("PATH", "").split(os.pathsep)
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in path if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    die("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        die(f"engine sources not found at {main}; run from the repository root")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def classpath(jars, jar):
    return os.pathsep.join([jar] + sorted(os.path.join(jars, j) for j in os.listdir(jars)
                                         if j.endswith(".jar")))


def build(jars, spec):
    """Compile engine + benchmark with the Scala compiler Spark ships, pack
    the classes into one jar, and record a class-data-sharing archive from a
    tiny training run (halves JVM + Spark start-up). Skipped when the
    sources and jars are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    t0 = time.time()
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD}",
                        "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env=clean_env())
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    work = os.path.join(WORK, f"train-{os.getpid()}")
    os.makedirs(work)
    try:
        tiny = dict(plan(spec, "stream_mor", 1), **spec["self_check"]["stream_mor"])
        tiny["read"] = dict(plan(spec, "stream_mor", 1)["read"], rounds=1)
        Launcher(jar, jars, work, [f"-XX:ArchiveClassesAtExit={os.path.join(BUILD, 'app.jsa')}"]).run(
            {"phase": "main", "cores": 2, "seed": 1, "trace": False, "work": work, "params": tiny},
            time.time() + 300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


def clean_env():
    return {k: v for k, v in os.environ.items() if not k.startswith(SCRUB_PREFIXES)}


def heap_gib():
    """-Xmx = -Xms = MemTotal/5, clamped to 1..4 GiB; no pre-touch."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1, min(4, kb // (5 * 1024 * 1024)))


def cpu_times():
    """(user+nice, system, steal) jiffies of the whole host."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1], v[2], v[7]


class Launcher:
    def __init__(self, jar, jars, work, jvm_opts=None):
        self.jar, self.jars, self.work = jar, jars, work
        self.proc = None
        jsa = os.path.join(BUILD, "app.jsa")
        self.jvm_opts = jvm_opts if jvm_opts is not None else (
            [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
            if os.path.exists(jsa) else [])

    def run(self, job, deadline):
        heap = heap_gib()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = (["java", "-XX:-UsePerfData", f"-Xms{heap}g", f"-Xmx{heap}g"] + self.jvm_opts
               + [f"-Djava.io.tmpdir={tmp}",
                  f"-Dspark.local.dir={os.path.join(self.work, 'spark-local')}"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", classpath(self.jars, self.jar),
                  "perfbench.Main", json.dumps(job)])
        log_path = os.path.join(self.work, f"{job['phase']}.log")
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                         env=clean_env(), cwd=ROOT, start_new_session=True)
            try:
                stdout, _ = self.proc.communicate(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                self.stop()
                tail(log_path)
                die(f"{job['phase']} phase exceeded the run deadline")
            finally:
                code = self.proc.returncode
                self.proc = None
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        lines = [l for l in stdout.splitlines() if l.startswith(TAG)]
        if not lines:
            tail(log_path)
            die(f"{job['phase']} phase ended (exit {code}) without a result")
        res = json.loads(lines[-1][len(TAG):])
        if res["failed"]:
            tail(log_path)
        return res

    def stop(self):
        p = self.proc
        if p is not None and p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
                p.wait(timeout=15)
            except (subprocess.TimeoutExpired, ProcessLookupError):
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        lines = f.readlines()
    sys.stderr.write("".join(lines[-n:]))


def plan(spec, workload, seconds):
    """Fixed work per run: the measured epoch count follows --seconds through
    the workload's nominal epoch time on a 4-core host (spec.json), so both
    commits of a comparison do identical work."""
    w = spec["workloads"][workload]
    p = json.loads(json.dumps(w["params"]))
    nom = w["nominal_s"]
    epochs = p["warmup_epochs"] + max(2, round(seconds / nom["epoch"]))
    k = p.get("maintain_every", 0)
    while k > 1 and (epochs - 1) % k == k - 1:
        epochs += 1  # the last commit is an epoch, not maintenance
    p["epochs"] = epochs
    p["read"]["rounds"] = max(2, round(seconds / nom["read_round"]))
    return p


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="all workloads at tiny size, oracle gates and traced run")
    a = ap.parse_args()
    t_start = time.time()
    spec_path = os.path.join(HERE, "spec.json")
    if not os.path.exists(spec_path):
        die("perfbench/spec.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if not a.self_check and a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload!r}; one of {sorted(spec['workloads'])}")
    jars = spark_jars()
    jar = build(jars, spec)
    deadline = time.time() + DEADLINE_S

    ncpu = os.cpu_count() or 1
    n = max(1, ncpu // 4)
    name = "self-check" if a.self_check else a.workload
    work = os.path.join(WORK, f"{name}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launcher = Launcher(jar, jars, work)

    def on_signal(sig, _frame):
        launcher.stop()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + sig)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    host0 = cpu_times()
    try:
        if a.self_check:
            return self_check(spec, launcher, a.seed, n, deadline, t_start)
        params = plan(spec, a.workload, a.seconds)
        job = {"workload": a.workload, "seed": a.seed, "work": work, "params": params}
        results = [launcher.run(dict(job, phase="main", cores=4 * n, trace=bool(a.trace)), deadline)]
        # The N-core ingest runs with the traced run only: its spread on a
        # shared 4-core host is wider than any bound an end-to-end metric
        # may carry, so the N/4N pair is reported, not gated.
        if a.trace and results[0]["failed"] == 0:
            results.append(launcher.run(dict(job, phase="n", cores=n, trace=True), deadline))
    finally:
        launcher.stop()
        shutil.rmtree(work, ignore_errors=True)

    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    host1 = cpu_times()
    hz = os.sysconf("SC_CLK_TCK")
    user = ru1.ru_utime - ru0.ru_utime
    sys_s = ru1.ru_stime - ru0.ru_stime
    noise = {
        "host.steal_core_s": (host1[2] - host0[2]) / hz,
        "host.sys_over_user": sys_s / user if user > 0 else 0.0,
        "host.jvm_gc_ms": sum(r["metrics"].get("jvm.gc_ms", 0.0) for r in results),
    }
    m = {}
    for r in results:
        m.update(r["metrics"])
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    correct = failed == 0
    if correct and a.trace:
        m["scaling.eff"] = m["scaling.events_per_s_4n"] / m["scaling.events_per_s_n"] / 4.0
    names = [x["name"] for x in spec_metrics(a.trace)]
    units = {x["name"]: x["unit"] for x in spec_metrics(a.trace)}
    m.update(noise)
    print(json.dumps({"host_noise": noise, "heap_gib": heap_gib(), "cores_4n": 4 * n, "cores_n": n,
                      "wall_s": round(time.time() - t_start, 1)}))
    metrics = {}
    if correct:
        missing = [k for k in names if k not in m]
        if missing:
            die(f"metrics not measured: {missing}")
        metrics = {k: {"value": m[k], "unit": units[k]} for k in names}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def self_check(spec, launcher, seed, n, deadline, t_start):
    """Both workloads, tiny, in one JVM: stream_mor first, so the streaming
    engine is warm when hot_cow's stream probe runs."""
    wl = {}
    for k in sorted(spec["workloads"], key=lambda k: k != "stream_mor"):
        base, tiny = plan(spec, k, 1), spec["self_check"][k]
        wl[k] = dict(base, **tiny)
        wl[k]["read"] = dict(base["read"], **tiny.get("read", {}))
    res = launcher.run({"phase": "self_check", "cores": 4 * n, "seed": seed,
                        "work": launcher.work, "workloads": wl}, deadline)
    want = [x["name"] for x in spec_metrics(0) + spec_metrics(1)
            if x["name"] != "scaling.eff" and not x["name"].startswith("host.")]
    missing = [f"{w}/{k}" for w in wl for k in want if f"{w}/{k}" not in res["metrics"]]
    ok = res["failed"] == 0 and not missing
    print(json.dumps({"self_check": "pass" if ok else "FAIL",
                      "seconds": round(time.time() - t_start, 1),
                      "attempted": res["attempted"], "failed": res["failed"],
                      "errors": res["errors"], "not_measured": missing}))
    return 0 if ok else 1


def spec_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["per_layer"] if trace else b["end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
