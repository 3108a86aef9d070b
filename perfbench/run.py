"""Product-path benchmark for graft: `graft.Main`'s sequence runner on
seeded workloads, with an optional traced run for per-layer numbers.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload curate_pack|fanout_export
      --seed N --seconds S --trace 0|1

The last stdout line is one JSON object: correct, attempted, failed and
metrics. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import queue
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import workloads  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD_STAMP = os.path.join(HERE, ".build", "stamp")
NPROC = os.cpu_count() or 1
MASTER = f"local[{NPROC}]"
# A fixed, pre-touched heap: G1 otherwise grows the heap on its own
# timing, and peak RSS then varied by 10-30% between identical runs
HEAP = "2g"
# the JVM flags graft's build gives forked runs (build.sbt javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Each timed sequence run is the first one in a fresh JVM, as a user of
# the CLI runs it. Later runs in one JVM keep speeding up for ten or more
# runs while the JIT compiles, so warm runs would not settle within a run.
MIN_TIMED_RUNS = 2
# a run must end within 180 s of starting, the build aside
RUN_DEADLINE_S = 170
MB = 1024 * 1024


DEADLINE = float("inf")  # set once the build is done


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_hash():
    """Hash of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HARNESS, "build.sbt")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def find_spark_jars():
    """The Spark jars graft's own build compiles against (its
    `unmanagedBase`); the harness compiles and runs against the same."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no Spark jars directory (unmanagedBase)")
    return m.group(1)


def build(spark_jars):
    """Compiles the checkout, then the harness against it. Skipped when
    the stamp says this exact source tree was built already."""
    digest = source_hash()
    classes = os.path.join(ROOT, "target", "scala-2.13", "classes")
    harness_classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == digest \
            and os.path.isdir(classes) and os.path.isdir(harness_classes):
        return digest, classes, harness_classes
    for cwd in (ROOT, HARNESS):
        log(f"sbt compile in {os.path.relpath(cwd, ROOT) or '.'}")
        p = subprocess.run(["sbt", "-batch", "compile"], cwd=cwd, stdin=subprocess.DEVNULL,
                           env=dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars),
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-4000:])
            raise BenchError(f"sbt compile failed in {cwd}")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        f.write(digest)
    return digest, classes, harness_classes


# ---------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- stub

class Stub:
    def __init__(self, items_path):
        self.proc = subprocess.Popen([sys.executable, os.path.join(HERE, "stub.py"), items_path],
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self.port = int(self.proc.stdout.readline())

    def get(self, path):
        with urllib.request.urlopen(f"http://127.0.0.1:{self.port}{path}", timeout=30) as r:
            return json.loads(r.read())

    def mark(self):
        self.get("/__mark")

    def epochs(self):
        return self.get("/__stats")

    def stop(self):
        self.proc.terminate()
        self.proc.wait()


# ---------------------------------------------------------------- JVM

class Jvm:
    """One fresh harness JVM: launched, set up, then one sequence run."""

    def __init__(self, classpath, config_path, work):
        self.spark_dir = os.path.join(work, "spark-local")
        os.makedirs(self.spark_dir, exist_ok=True)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *ADD_OPENS,
               f"-Djava.io.tmpdir={self.spark_dir}", f"-Dspark.local.dir={self.spark_dir}",
               "-cp", classpath, "perfbench.Harness", config_path, workloads.EXECUTION_ID, MASTER]
        self.log = open(os.path.join(work, "jvm.log"), "a")
        self.launched = time.time()
        env = dict(os.environ, SPARK_LOCAL_DIRS=self.spark_dir)
        self.proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self.log, text=True, bufsize=1)
        self.events = queue.Queue()
        threading.Thread(target=self._read, daemon=True).start()
        self.maxrss_mb = None
        ready = self.next_event()
        if ready.get("event") != "ready":
            self.close()
            raise BenchError(f"JVM did not start: {ready}")
        self.ready = ready
        self.setup_s = ready["ready_epoch_s"] - self.launched

    def _read(self):
        for line in self.proc.stdout:
            if line.startswith("@@bench "):
                self.events.put(json.loads(line[8:]))
            else:
                self.log.write(line)
        self.events.put({"event": "exit"})

    def next_event(self):
        try:
            return self.events.get(timeout=max(1.0, DEADLINE - time.time()))
        except queue.Empty:
            return {"event": "timeout"}

    def run(self, command):
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()
        ev = self.next_event()
        if ev.get("event") != command:
            raise BenchError(f"JVM answered {ev} to {command}")
        return ev

    def close(self):
        """Waits for the JVM to exit and records its peak RSS."""
        try:
            self.proc.stdin.close()  # a JVM still waiting for a command exits
        except OSError:
            pass
        deadline = time.time() + 30
        while True:
            pid, status, usage = os.wait4(self.proc.pid, os.WNOHANG)
            if pid:
                self.proc.returncode = os.waitstatus_to_exitcode(status)
                self.maxrss_mb = usage.ru_maxrss / 1024
                break
            if time.time() > deadline:
                self.proc.kill()
                deadline = float("inf")
            time.sleep(0.02)
        self.log.close()


# ---------------------------------------------------------------- runs

class Bench:
    """One benchmark run: the workload's inputs, stub and JVMs, and the
    results of every sequence run made."""

    def __init__(self, wl, classpath):
        self.wl = wl
        self.classpath = classpath
        self.stub = Stub(wl.items_path) if wl.http_calls else None
        cfg = wl.config(port=self.stub.port if self.stub else 0, nproc=NPROC)
        self.config_path = os.path.join(wl.work, "sequence.toml")
        with open(self.config_path, "w") as f:
            f.write(cfg)
        self.attempted = 0
        self.failed = 0
        self.problems = []
        self.reps = []  # every sequence run: dict of results
        self.jvms = []
        self.epochs = 0

    def run(self, command):
        """One sequence run in a fresh JVM, checked; its outputs are
        deleted afterwards."""
        shutil.rmtree(self.wl.out, ignore_errors=True)
        if self.stub:
            self.stub.mark()
            self.epochs += 1
        j = Jvm(self.classpath, self.config_path, self.wl.work)
        self.jvms.append(j)
        ev = j.run(command)
        j.close()
        rep = {**ev, "setup_s": j.setup_s, "peak_rss_mb": j.maxrss_mb,
               "jvm_s": time.time() - j.launched}
        epoch = self.stub.epochs()[self.epochs] if self.stub else None
        rep["epoch"] = epoch
        rep["bytes_written"] = dir_bytes(self.wl.out) if os.path.isdir(self.wl.out) else 0
        failed_pipelines, rep["rows"] = self.read_metrics()
        problems = self.wl.check(epoch) if ev["code"] == 0 else [f"exit code {ev['code']}"]
        self.attempted += self.wl.pipelines + self.wl.http_calls
        failed_calls = 0
        if epoch is not None:
            served = epoch["list_calls"] + epoch["item_calls"] - epoch["bad_calls"]
            failed_calls = max(0, self.wl.http_calls - served) + epoch["bad_calls"]
        self.failed += failed_pipelines + failed_calls + len(problems)
        self.problems += problems
        shutil.rmtree(self.wl.out, ignore_errors=True)
        self.reps.append(rep)
        return rep

    def read_metrics(self):
        """(failed pipelines, output rows) from sequence_metrics.json."""
        path = os.path.join(self.wl.out, "sequence_metrics.json")
        try:
            with open(path) as f:
                m = json.load(f)
        except (OSError, ValueError):
            return self.wl.pipelines, 0
        pipes = m["pipelines"]
        failed = sum(1 for p in pipes if p["status"] != "succeeded")
        failed += max(0, self.wl.pipelines - len(pipes))
        rows = sum(p["records_count"] for p in pipes if p.get("output_path"))
        return failed, rows

    def close(self):
        for j in self.jvms:
            if j.proc.returncode is None:
                j.close()
        if self.stub:
            self.stub.stop()


def timed_runs(s, seconds):
    """Untraced: one sequence run per fresh JVM, until `seconds` of JVM
    lifetime is spent and at least MIN_TIMED_RUNS; medians over JVMs."""
    timed = []
    while sum(r["jvm_s"] for r in timed) < seconds or len(timed) < MIN_TIMED_RUNS:
        timed.append(s.run("plain"))
    return {
        "run_s": (statistics.median(r["run_s"] for r in timed), "s"),
        "setup_s": (statistics.median(r["setup_s"] for r in timed), "s"),
        "rows_per_s": (statistics.median(r["rows"] / r["run_s"] for r in timed), "1/s"),
        "peak_rss_mb": (statistics.median(r["peak_rss_mb"] for r in timed), "MB"),
    }, {"timed_runs": len(timed)}


LAYERS = ("config", "engine", "sources", "operators", "sinks")


def layer_metrics(rep, untraced_run_s, wl):
    """Per-layer numbers from one traced sequence run."""
    spans = rep["spans"]
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)

    def dur(sp):
        return sp["end_s"] - sp["start_s"]

    def self_s(sp):
        return dur(sp) - sum(dur(c) for c in kids.get(sp["id"], []))

    roots = kids.get(-1, [])
    total = max(sp["end_s"] for sp in spans) - min(sp["start_s"] for sp in spans)
    m = {}
    for layer in LAYERS:
        mine = [sp for sp in spans if sp["name"].split(".")[0] == layer]
        m[f"{layer}.self_s"] = (sum(self_s(sp) for sp in mine), "s")
        if layer == "config":  # parsing runs no Spark jobs
            continue
        m[f"{layer}.jobs"] = (sum(sp["jobs"] for sp in mine), "count")
        m[f"{layer}.task_s"] = (sum(sp["task_s"] for sp in mine), "s")
        m[f"{layer}.shuffle_write_mb"] = (sum(sp["shuffle_write_bytes"] for sp in mine) / MB, "MB")
        m[f"{layer}.spill_mb"] = (sum(sp["spill_bytes"] for sp in mine) / MB, "MB")

    def named(name):
        return sum(dur(sp) for sp in spans if sp["name"] == name)

    m["config.load_ms"] = (named("config.load") * 1e3, "ms")
    m["engine.spark_jobs"] = (sum(sp["jobs"] for sp in spans), "count")
    m["engine.persist_mb"] = (rep["persist_peak_bytes"] / MB, "MB")
    m["engine.persist_s"] = (named("engine.persist"), "s")
    m["engine.report_s"] = (named("engine.report"), "s")
    m["sources.extract_s"] = (named("sources.extract"), "s")
    m["operators.transform_s"] = (named("operators.transform"), "s")
    m["operators.eager_s"] = (named("operators.transform.call"), "s")
    m["sinks.write_s"] = (named("sinks.write"), "s")
    m["sinks.mb_written"] = (rep["bytes_written"] / MB, "MB")
    m["jvm.gc_s"] = (rep["gc_s"], "s")
    ep = rep.get("epoch")
    calls = ep["list_calls"] + ep["item_calls"] if ep else 0
    gaps = sorted(ep["gaps_ms"]) if ep else []
    window = ep["fanout_window_s"] if ep else 0.0
    m["sources.http_calls"] = (calls, "count")
    m["sources.http_useful_share"] = (wl.http_calls / calls if calls else 0.0, "ratio")
    m["sources.http_calls_per_s"] = (ep["item_calls"] / window if window else 0.0, "1/s")
    m["sources.http_gap_ms_p50"] = (statistics.median(gaps) if gaps else 0.0, "ms")
    m["sources.http_gap_ms_p99"] = (
        statistics.quantiles(gaps, n=100)[98] if len(gaps) >= 100 else 0.0, "ms")
    m["stub.busy_share"] = (ep["busy_s"] / window if window else 0.0, "ratio")
    covered = sum(dur(sp) for sp in roots)
    m["trace.total_s"] = (total, "s")
    m["trace.uncovered_s"] = (total - covered, "s")
    m["trace.overhead_s"] = (total - untraced_run_s, "s")
    return m


def traced_runs(s, seconds):
    """Traced: pairs of fresh JVMs, one making an untraced sequence run and
    one a traced one, until `seconds` is spent and at least one pair;
    per-layer medians over the pairs."""
    per_pair, spent = [], 0.0
    while spent < seconds or not per_pair:
        plain, traced = s.run("plain"), s.run("traced")
        per_pair.append(layer_metrics(traced, plain["run_s"], s.wl))
        spent += plain["jvm_s"] + traced["jvm_s"]
    metrics = {k: (statistics.median(p[k][0] for p in per_pair), unit)
               for k, (_, unit) in per_pair[0].items()}
    top = max(LAYERS, key=lambda layer: metrics[f"{layer}.self_s"][0])
    return metrics, {"traced_runs": len(per_pair), "top_self_time_layer": f"graft.{top}"}


def environment(digest):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        git = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = git.stdout.strip() or None
    return {
        "nproc": NPROC,
        "master": MASTER,
        "git_commit": commit,
        "source_sha256": digest,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    knobs = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    if knobs:
        raise BenchError(f"unset {', '.join(knobs)}: each changes graft's plans")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"{ROOT} is not a graft checkout (no build.sbt or src/main/scala/graft)")
    spark_jars = find_spark_jars()
    digest, classes, harness_classes = build(spark_jars)
    global DEADLINE
    DEADLINE = time.time() + RUN_DEADLINE_S
    classpath = os.pathsep.join([classes, harness_classes, os.path.join(spark_jars, "*")])

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = workloads.WORKLOADS[a.workload](a.seed, work)

    total0, steal0 = cpu_times()
    load0 = loadavg()
    s = Bench(wl, classpath)
    try:
        if a.trace:
            metrics, info = traced_runs(s, a.seconds)
        else:
            metrics, info = timed_runs(s, a.seconds)
    finally:
        s.close()
    total1, steal1 = cpu_times()
    if s.stub:
        busiest = max((r["epoch"]["busy_s"] / r["epoch"]["fanout_window_s"]
                       for r in s.reps if r["epoch"]["fanout_window_s"] > 0), default=0.0)
        info["stub_busy_share_max"] = busiest
        info["stub_bound"] = busiest > 0.5
    info.update(environment(digest))
    info.update({
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "java_version": s.jvms[0].ready["java_version"],
        "spark_version": s.jvms[0].ready["spark_version"],
        "loadavg_1m": [load0, loadavg()],
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "failed_share": s.failed / max(1, s.attempted),
        "problems": s.problems[:20],
    })
    shutil.rmtree(os.path.join(work, "spark-local"), ignore_errors=True)
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"info": info, "reps": s.reps}, f)
    for name, (value, unit) in metrics.items():
        print(f"{a.workload} {name} = {value:.6g} {unit}")
    if not a.trace:
        print(f"{a.workload} failed_share = {info['failed_share']:.6g} ratio")
    print("info " + json.dumps(info))
    print(json.dumps({
        "correct": not s.problems and s.failed == 0,
        "attempted": s.attempted,
        "failed": min(s.failed, s.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
