#!/usr/bin/env python3
"""graft benchmark: build graft from this checkout, run one workload, print
every metric with its unit, then one JSON result line.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 10 --trace 0

Workloads: crawl_steady, readside (see perfbench/README.md).
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The last stdout line is {"correct", "attempted", "failed", "metrics"}.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GOLDEN = os.path.join(HERE, "golden", "readside.txt")
DATA = os.path.join(HERE, "data")
WORKLOADS = ("crawl_steady", "readside")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, so any change triggers a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile graft + the benchmark with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources (src/main/scala/graft) not found")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().split()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           f"writeClasspath {cp_file}"]
    log("building graft + perfbench with sbt ...")
    t0 = time.time()
    rc, out = run_child(cmd, HERE, env, BUILD_TIMEOUT_S, capture=True)
    if rc != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: build failed (rc={rc})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().split()


_children = []


def run_child(cmd, cwd, env, timeout, capture=False, stdout=None):
    """Run `cmd` in its own process group; kill the group on timeout or
    on any exit of this script, and wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE if capture else stdout,
                         stderr=subprocess.STDOUT, text=capture)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except subprocess.TimeoutExpired:
        kill(p)
        return -9, f"timed out after {timeout} s\n"
    finally:
        kill(p)
        _children.remove(p)


def kill(p):
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        g = min(4, max(2, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{g}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", metavar="FILE",
                    help="readside: write each entry's row count and hash to FILE")
    a = ap.parse_args()

    def on_signal(signum, _):
        raise SystemExit(f"perfbench: signal {signum}")
    signal.signal(signal.SIGTERM, on_signal)

    cp = build()
    os.sync()
    base = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(os.path.join(base, "tmp"))
    result = os.path.join(base, "result.json")
    xmx = heap()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC", f"-Xmx{xmx}",
        f"-Djava.io.tmpdir={os.path.join(base, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    ]
    if a.record_golden:
        cmd.append(f"-Dperfbench.record={os.path.abspath(a.record_golden)}")
    cmd += ["-cp", os.pathsep.join(cp), "graft.perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), base, result, GOLDEN, DATA]
    try:
        with open(os.path.join(base, "jvm.log"), "w") as jlog:
            rc, _ = run_child(cmd, ROOT, dict(os.environ), RUN_TIMEOUT_S, stdout=jlog)
        if rc != 0 or not os.path.exists(result):
            with open(os.path.join(base, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-8000:])
            raise SystemExit(f"perfbench: {a.workload} run failed (rc={rc})")
        with open(result) as fh:
            r = json.load(fh)
    finally:
        for p in list(_children):
            kill(p)
        shutil.rmtree(base, ignore_errors=True)
        # write back this run's deletions now, not during the next run
        os.sync()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: m["unit"] for k, m in r["metrics"].items()}
    if got != want:
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                         f"units {sorted(k for k in set(got) & set(want) if got[k] != want[k])}")
    r["context"]["xmx"] = xmx
    for name, m in r["metrics"].items():
        v = "null" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{name:40s} {v} {m['unit']}")
    failed_frac = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    print(f"{'failed_frac':40s} {failed_frac:.6g} ratio  ({r['failed']} of {r['attempted']} ops)")
    print("context " + json.dumps(r["context"]))
    for f in r["failures"]:
        print("FAILURE " + f)
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
