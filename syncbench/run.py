#!/usr/bin/env python3
"""Sync-tool benchmark: a cold CLI sync and a CLI `--state` resync, with
a separate traced run that breaks the time down by layer.

    python3 syncbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--max-cpus 4] [--xmx 2g] [--timezone UTC] [--add-opens <pkgs>]...

Run from the repository root. The first run compiles src/main/scala and
syncbench/harness into .bench_build/ with the Scala compiler that ships in
the Spark jars (the same jars build.sbt compiles against). The last line
of standard output is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics, or with --trace 1 the per-layer ones).
See syncbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

REF_WALL_S = 3.10  # BASELINE.md: the reference's sync of an sf0.01 pair
N_DOCS = 2000
DEADLINE_S = 170   # a run ends inside 180 s, or 900 s when it builds
BUILD_S = 700
COLD, RESYNC = WORKLOADS = ("sync_cold_sf0.01", "resync_state_sf0.01")
MIN_OPS = {COLD: 2, RESYNC: 1}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


class Fail(Exception):
    """A run that cannot produce a result (build error, crash, timeout)."""


# --------------------------------------------------------------- build
def spark_jars():
    sbt = os.path.join(ROOT, "build.sbt")
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                  open(sbt).read()) if os.path.exists(sbt) else None
    d = m.group(1) if m else os.path.join(
        os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise Fail("no Spark jars with a Scala compiler at %r" % d)
    return os.path.join(d, "*")


def stamp(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_scala(srcs, out, classpath, key, deadline):
    """Compile `srcs` into `out` unless it already holds this `key`."""
    mark = out + ".stamp"
    if os.path.exists(mark) and open(mark).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t = time.perf_counter()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(),
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", classpath, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1, deadline - time.monotonic()))
    if r.returncode != 0:
        raise Fail("compile failed:\n" + r.stdout[-4000:])
    with open(mark, "w") as f:
        f.write(key)
    log("compiled %d files into %s in %.1f s" % (
        len(srcs), os.path.relpath(out, ROOT), time.perf_counter() - t))


def build(deadline):
    """Classpath of the program plus the benchmark harness."""
    jars = spark_jars()
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        raise Fail("no sources under src/main/scala")
    main = os.path.join(BUILD, "classes")
    key = stamp(srcs)
    compile_scala(srcs, main, jars, key, deadline)
    hsrc = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    harness = os.path.join(BUILD, "harness")
    compile_scala(hsrc, harness, main + os.pathsep + jars,
                  key + stamp(hsrc), deadline)
    return os.pathsep.join([harness, main, jars])


# ------------------------------------------------------------ processes
class Jvm:
    """How every JVM of a run is started: pinned cores, heap and zone."""

    def __init__(self, a, classpath, work):
        self.cpus = min(len(os.sched_getaffinity(0)), a.max_cpus)
        self.classpath = classpath
        self.work = work
        opens = [p for group in a.add_opens for p in group.split(",") if p]
        self.opts = ["-Xmx" + a.xmx, "-Duser.timezone=" + a.timezone,
                     "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                     "-Dspark.ui.enabled=false",
                     "-Dspark.sql.session.timeZone=" + a.timezone]
        for p in opens:
            self.opts += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
        self.env = dict(os.environ, TZ=a.timezone,
                        SPARK_MASTER="local[%d]" % self.cpus,
                        SPARK_GRAFT_CPUS=str(self.cpus),
                        SPARK_LOCAL_DIRS=os.path.join(work, "local"))
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    def run(self, main, args, name, deadline, props=()):
        """Start one JVM, wait for it; (exit code, wall s, cpu s, peak RSS
        MB, exit wall-clock time). Output goes to <work>/<name>.log."""
        cmd = (["java"] + self.opts + list(props) +
               ["-cp", self.classpath, main] + list(args))
        with open(os.path.join(self.work, name + ".log"), "w") as out:
            t0 = time.perf_counter()
            p = subprocess.Popen(cmd, cwd=self.work, env=self.env,
                                 stdout=out, stderr=subprocess.STDOUT,
                                 start_new_session=True)
            pid = 0
            try:
                while not pid:
                    if time.monotonic() > deadline:
                        raise Fail("%s timed out" % name)
                    time.sleep(0.005)
                    pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            finally:
                if not pid:
                    os.killpg(p.pid, signal.SIGKILL)
                    os.waitpid(p.pid, 0)
            wall = time.perf_counter() - t0
        # reaped by wait4 above; tell Popen so it does not wait again
        p.returncode = os.waitstatus_to_exitcode(status)
        return (p.returncode, wall, ru.ru_utime + ru.ru_stime,
                ru.ru_maxrss / 1024, time.time())

    def harness(self, main, args, name, deadline, props=()):
        """`run` for a JVM whose output the run cannot do without."""
        r = self.run(main, args, name, deadline, props)
        if r[0] != 0:
            raise Fail("%s exited %d (see %s.log)" % (name, r[0], name))
        return r


# --------------------------------------------------------------- inputs
def inputs(workload, seed, work):
    """Write the workload's dumps; return (files, expected script
    statements per prod file, input MB of the pair that is synced)."""
    rng = random.Random(seed)
    s = [rng.randrange(1 << 30) for _ in range(4)]
    rows = gen.base_rows(s[0])
    files, expect = {}, {}
    if workload == COLD:
        backup = gen.perturb(rows, s[1], gen.TABLES)
        sides = {"prod": rows, "backup": backup}
        expect["prod"] = gen.expected_statements(rows, backup)
    else:
        changed = gen.changed_tables(s[3])
        backup = gen.perturb(rows, s[1], changed)
        prod_b = gen.perturb(rows, s[2], changed)
        sides = {"prodA": rows, "prodB": prod_b, "backup": backup}
        expect["prodA"] = gen.expected_statements(rows, backup)
        expect["prodB"] = gen.expected_statements(prod_b, backup)
    size = {}
    for name, r in sides.items():
        files[name] = os.path.join(work, name + ".sql")
        size[name] = gen.write(files[name], gen.dump_text(r))
    first = "prod" if "prod" in files else "prodA"
    return files, expect, (size[first] + size["backup"]) / 1e6


def warm_page_cache(files, classpath):
    for d in classpath.split(os.pathsep):
        for p in glob.glob(d if d.endswith("*") else os.path.join(d, "**"),
                           recursive=True):
            if os.path.isfile(p):
                with open(p, "rb") as f:
                    while f.read(1 << 20):
                        pass
    for p in files.values():
        with open(p, "rb") as f:
            f.read()


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


class Scripts:
    """Checks sync scripts: each must hold exactly its prod side's
    expected statements, and all scripts of one side the same bytes
    (timestamp line masked)."""

    def __init__(self, expect):
        self.expect, self.hashes, self.oks = expect, {}, []

    def check(self, side, path, rc=0):
        ok = rc == 0 and os.path.exists(path)
        if ok:
            text = read(path)
            h = self.hashes.setdefault(side, check.masked_sha256(text))
            ok = check.ops_match(text, self.expect[side]) and \
                h == check.masked_sha256(text)
        self.oks.append(ok)
        return ok

    def negative_fires(self, side, path):
        """A copy of a good script with one statement removed must fail
        the statement check."""
        return os.path.exists(path) and not check.ops_match(
            check.drop_one_statement(read(path)), self.expect[side])


def cli_op(jvm, workload, files, i, deadline, props=(), name=None):
    """Operation i of the workload as one fresh CLI process:
    (prod side, script path, Jvm.run result). Resync operation 0 finds an
    empty state directory and writes both snapshots; later ones alternate
    the production dump, so each writes one snapshot and reuses one."""
    out = os.path.join(jvm.work, "op_%d.sql" % i)
    if workload == COLD:
        side, args = "prod", [files["prod"], files["backup"], out]
    else:
        side = "prodA" if i % 2 == 0 else "prodB"
        args = ["--state", os.path.join(jvm.work, "state"), files[side],
                files["backup"], out]
    r = jvm.run("graft.cli.Main", args, name or "cli_%d" % i, deadline, props)
    return side, out, r


# ------------------------------------------------------------ timed run
def timed(a, jvm, workload, deadline):
    setups = []
    for _ in range(3 if workload == COLD else 1):
        t = time.perf_counter()
        files, expect, input_mb = inputs(workload, a.seed, jvm.work)
        scripts = Scripts(expect)
        if workload == COLD:
            warm_page_cache(files, jvm.classpath)
        else:  # the first --state sync, which writes both snapshots
            side, out, r = cli_op(jvm, workload, files, 0, deadline)
            scripts.check(side, out, r[0])
        setups.append(time.perf_counter() - t)
    walls, cpus, rss = [], [], []
    i = 0 if workload == COLD else 1
    start = time.perf_counter()
    # at least MIN_OPS operations; another only if it should end in time
    while len(walls) < MIN_OPS[workload] or (
            time.perf_counter() - start + walls[-1] <= a.seconds):
        side, out, (rc, w, c, r, _) = cli_op(jvm, workload, files, i, deadline)
        walls.append(w); cpus.append(c); rss.append(r)
        scripts.check(side, out, rc)
        i += 1
    negative_fires = scripts.negative_fires(side, out)
    if not negative_fires:
        log("negative check did not fire")
    wall = statistics.median(walls)
    log("%s seed %d: %d ops, wall %s" % (workload, a.seed, len(walls),
        ", ".join("%.2f" % w for w in walls)))
    metrics = {
        "wall_s": wall,
        "input_mb_per_s": input_mb / wall,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": statistics.median(rss),
        "ref_ratio": wall / REF_WALL_S,
        "setup_s": statistics.median(setups),
    }
    oks = scripts.oks
    return all(oks) and negative_fires, len(oks), oks.count(False), metrics


# ----------------------------------------------------------- traced run
def event_log_times(events_dir):
    """(app start, first job submitted, last job done) in epoch seconds
    from a Spark event log."""
    start = first = last = None
    for p in glob.glob(os.path.join(events_dir, "*")):
        for line in open(p, encoding="utf-8"):
            e = json.loads(line)
            k = e.get("Event")
            if k == "SparkListenerApplicationStart":
                start = e["Timestamp"] / 1e3
            elif k == "SparkListenerJobStart" and first is None:
                first = e["Submission Time"] / 1e3
            elif k == "SparkListenerJobEnd":
                last = e["Completion Time"] / 1e3
    if None in (start, first, last):
        raise Fail("incomplete event log in %s" % events_dir)
    return start, first, last


def traced(a, jvm, workload, deadline):
    work = jvm.work
    files, expect, _ = inputs(workload, a.seed, work)
    scripts = Scripts(expect)
    docs = os.path.join(work, "docs")
    os.makedirs(docs)
    gen.documents(a.seed, N_DOCS, os.path.join(docs, "documents.parquet"))
    m = {}
    # cli: one CLI sync with the Spark event log on. On the cold workload
    # an untraced twin runs first; their difference is the tracing
    # overhead. The resync run traces operation 0 (it writes both
    # snapshots, so it has no twin); its overhead comes from the pass below
    if workload == COLD:
        side, out, r = cli_op(jvm, workload, files, 0, deadline)
        scripts.check(side, out, r[0])
        plain_wall = r[1]
    events = os.path.join(work, "events")
    os.makedirs(events)
    fork = time.time()
    side, out, r = cli_op(
        jvm, workload, files, 1 if workload == COLD else 0, deadline,
        props=["-Dspark.eventLog.enabled=true",
               "-Dspark.eventLog.compress=false",
               "-Dspark.eventLog.rolling.enabled=false",
               "-Dspark.eventLog.dir=file://" + events], name="cli_traced")
    scripts.check(side, out, r[0])
    start, first, last = event_log_times(events)
    m["cli.start_s"] = start - fork
    m["cli.prejob_s"] = first - start
    m["cli.exit_s"] = r[4] - last
    # every other layer: one traced pass in a single session
    prod = files.get("prod") or files["prodA"]
    res, spans = os.path.join(work, "trace.json"), os.path.join(
        BUILD, "trace", "%s-%d.spans.json" % (workload, a.seed))
    os.makedirs(os.path.dirname(spans), exist_ok=True)
    jvm.harness("syncbench.Trace", [
        res, spans, prod, files["backup"], docs, work, str(jvm.cpus),
        "none" if workload == COLD else "rediff"], "trace", deadline)
    m.update(json.load(open(res)))
    if workload == COLD:
        m["trace.overhead_s"] = r[1] - plain_wall
    report_spans(spans)
    # the default, assembled and bucketed routes give the CLI's bytes
    for f in ("trace_auto.sql", "trace_assemble.sql", "trace_rediff.sql"):
        scripts.check(side, os.path.join(work, f))
    oks = scripts.oks
    return all(oks), len(oks), oks.count(False), m


def report_spans(path):
    """Per-span self time (duration minus child spans) to stderr."""
    spans = json.load(open(path))
    log("%-26s %4s %9s %9s %6s %7s" % ("span", "op", "total_s", "self_s",
                                       "jobs", "tasks"))
    for s in spans:
        log("%-26s %4d %9.3f %9.3f %6d %7d" % (
            s["name"], s["op"], s["seconds"], s["self_s"], s["jobs"],
            s["tasks"]))
    log("spans written to %s" % os.path.relpath(path, ROOT))


# ----------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--max-cpus", type=int, default=4)
    ap.add_argument("--xmx", default="2g")
    ap.add_argument("--timezone", default="UTC")
    ap.add_argument("--add-opens", action="append", default=[],
                    help="comma-separated java.base packages")
    a = ap.parse_args()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (
        a.workload, a.seed, os.getpid()))
    try:
        classpath = build(time.monotonic() + BUILD_S)
        deadline = time.monotonic() + DEADLINE_S
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        jvm = Jvm(a, classpath, work)
        run = traced if a.trace else timed
        correct, attempted, failed, values = run(a, jvm, a.workload, deadline)
        # report exactly the metrics BENCHMARK.json declares, in its units
        spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        units = {d["name"]: d["unit"]
                 for d in spec["per_layer" if a.trace else "end_to_end"]}
        if set(values) != set(units):
            raise Fail("metrics differ from BENCHMARK.json: %s" % sorted(
                set(values) ^ set(units)))
    except Fail as e:
        log("benchmark failed: %s" % e)
        sys.exit(2)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()}}))


if __name__ == "__main__":
    main()
