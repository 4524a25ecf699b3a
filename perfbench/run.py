#!/usr/bin/env python3
"""evolutionspark benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload convert_flf --seed 1 --seconds 12 --trace 0

Workloads: convert_flf, mock_flf and, run by hand, query_mix (see
perfbench/README.md).

The first run in a checkout builds the program and this harness from
source with sbt (offline) into target directories of the checkout; later
runs reuse the build while the sources are unchanged. Each run starts one
JVM, waits for it, checks its outputs and prints a report followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(the traced run also writes a span file under perfbench/.work/traces).
Exits non-zero, without a result line, when the program's sources or the
build are missing or the JVM fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the harness modules leave no caches behind
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Input sizes per workload: about 2 s per pass on four cores.
WORKLOADS = {
    "convert_flf": ["--rows", "800000"],
    "mock_flf": ["--rows", "1000000", "--parts", "8"],
    "query_mix": [],
}
XMX = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark 4 on JDK 17 outside spark-submit (as in the repository's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    """sha256 over the relative names and contents of the files under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def program_sources():
    return [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")]


def build():
    """Compile program + harness unless the last build saw the same sources.
    Returns the runtime classpath."""
    stamp = tree_hash(program_sources() + [
        os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")])
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read()
    opts = os.environ.get("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    opts += f" -Dsbt.global.base={os.path.join(WORK, 'sbt-global')} -Dsbt.server.forcestart=false"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=BUILD_LIMIT_S).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp[-1]


def mix_tables():
    out = os.path.join(WORK, "tables")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        sys.path.insert(0, HERE)
        import tables
        tables.generate(out)
        open(done, "w").close()
    return out


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none (git rev-parse failed)"


def run_jvm(args, classpath, extra):
    nproc = len(os.sched_getaffinity(0))
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    argfile = os.path.join(WORK, "classpath.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + classpath + "\n")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{XMX}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"@{argfile}", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", WORK, "--out", out] + extra)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_MASTER", None)
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past {RUN_LIMIT_S} s and was stopped; log in {log}")
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"the JVM exited with {rc}; log in {log}")
    with open(out) as fh:
        return json.load(fh), nproc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in program_sources() if not os.path.exists(p)]
    if missing:
        fail("the program's sources are not here: " + ", ".join(missing))
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    extra = list(WORKLOADS[args.workload])
    tables = None
    if args.workload == "query_mix":
        tables = mix_tables()
        extra += ["--tables", tables]
    t_jvm = time.time()
    res, nproc = run_jvm(args, classpath, extra)
    res["report"]["jvm_s"] = time.time() - t_jvm

    oracle_gates = []
    if "oracle_dir" in res:
        sys.path.insert(0, HERE)
        import oracle
        t_oracle = time.time()
        oracle_gates = oracle.check(tables, res["oracle_dir"], os.path.join(WORK, "oracle-cache"))
        res["report"]["oracle_check_s"] = time.time() - t_oracle
    gates = [(g["name"], g["ok"], g["detail"]) for g in res["gates"]] + oracle_gates
    attempted = res["attempted"] + len(oracle_gates)
    failed = res["failed"] + sum(not ok for _, ok, _ in oracle_gates)

    markers = dict(res["markers"], git_commit=git_commit(),
                   program_source_sha256=tree_hash(program_sources()), nproc_affinity=nproc)
    report = dict(res["report"], failed_share=failed / attempted)
    with open(os.path.join(WORK, "result.json"), "w") as fh:
        json.dump(dict(res, markers=markers, report=report, attempted=attempted, failed=failed,
                       gates=[{"name": n, "ok": ok, "detail": d} for n, ok, d in gates]), fh)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for k, v in markers.items():
        print(f"  marker {k} = {v}")
    for op in res["ops"]:
        print(f"  op {op['name']}: n={op['n']} failed={op['failed']} median={op['median_s']:.4f} s"
              + (f" errors={op['errors']}" if op["errors"] else ""))
    for name, ok, detail in gates:
        print(f"  gate {name}: {'ok' if ok else 'FAILED'} ({detail})")
    units = res.get("report_units", {})
    for k, v in report.items():
        print(f"  report {k} = {v}" + (f" {units[k]}" if k in units else ""))
    for k, m in res["metrics"].items():
        print(f"  metric {k} = {m['value']:.6g} {m['unit']}")
    if "trace_file" in res:
        with open(res["trace_file"]) as fh:
            trace = json.load(fh)
        trace["markers"] = markers
        with open(res["trace_file"], "w") as fh:
            json.dump(trace, fh)
        print(f"  trace file {os.path.relpath(res['trace_file'], ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
