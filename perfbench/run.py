#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload decode_scan --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness with sbt (offline); each input set is generated once and
cached under .bench_build/. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. See perfbench/README.md.
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
sys.path.insert(0, HERE)
import harness  # noqa: E402

WORKLOADS = ("decode_scan", "pushdown_scan", "write_roundtrip")
HEAP = "3g"
# The seed picks one of INPUT_SETS input sets (files, filter bands,
# offsets, column pairs, cycle order). Generating a set takes ~25 s, so a
# checkout generates at most INPUT_SETS of them and keeps them all.
INPUT_SETS = 4
RUN_TIMEOUT_S = 170     # one run after the build, input generation included

# Spark on JDK 17 outside spark-submit needs these opens; the same list
# as the repository's build.sbt passes to its forked runs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def root_dir():
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the root of a checkout: the program's sources "
             "(build.sbt, src/main/scala/graft) are not here")
    return root


def source_stamp(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(root, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(root):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(root, build):
    stamp = source_stamp(root)
    stamp_file = os.path.join(build, "stamp")
    cp_file = os.path.join(build, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(build, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java(cp, build, args, timeout):
    # a fixed, pre-touched heap: the resident set does not depend on how
    # far the collector happened to grow the heap
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(build, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(build, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("the JVM ran past its time limit")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def input_dir(build, input_set):
    """The input set's directory; directories of other generator
    layouts are removed."""
    inputs = os.path.join(build, "inputs")
    os.makedirs(inputs, exist_ok=True)
    names = ["set%d" % i for i in range(INPUT_SETS)]
    for d in os.listdir(inputs):
        if d not in names:
            shutil.rmtree(os.path.join(inputs, d), ignore_errors=True)
    mine = os.path.join(inputs, "set%d" % input_set)
    os.makedirs(mine, exist_ok=True)
    return mine


def manifest_ok(data, name, seed):
    path = os.path.join(data, name)
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        m = json.load(f)
    if m.get("seed") != seed:
        return None
    for rel, e in m["files"].items():
        p = os.path.join(data, rel)
        if not os.path.isfile(p) or os.path.getsize(p) != e["bytes"]:
            return None
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = root_dir()
    build = os.path.join(root, ".bench_build", "perfbench")
    cp = ensure_built(root, build)
    started = time.time()
    input_set = a.seed % INPUT_SETS
    data = input_dir(build, input_set)
    work = os.path.join(build, "work")
    out = os.path.join(build, "raw-%s-%d.json" % (a.workload, a.trace))
    mname = "write_manifest.json" if a.workload == "write_roundtrip" else "scan_manifest.json"
    base = ["--workload", a.workload, "--seed", str(input_set), "--data", data,
            "--work", work]

    raw = None
    for attempt in range(2):
        if manifest_ok(data, mname, input_set) is None or attempt == 1:
            left = RUN_TIMEOUT_S - (time.time() - started)
            t0 = time.time()
            if java(cp, build, ["--mode", "prepare", "--out", out] + base, left) != 0:
                fail("input generation failed")
            print("perfbench: inputs generated in %.1f s" % (time.time() - t0),
                  file=sys.stderr)
        if os.path.exists(out):
            os.remove(out)
        left = RUN_TIMEOUT_S - (time.time() - started)
        rc = java(cp, build, ["--mode", "run", "--seconds", str(a.seconds),
                              "--trace", str(a.trace), "--out", out,
                              "--sf", os.path.join(HERE, "data", "sf0.01")] + base, left)
        if rc == 3 and attempt == 0:
            continue  # inputs disagreed with the manifest: regenerate once
        if rc != 0:
            fail("benchmark JVM exited with code %d" % rc)
        with open(out) as f:
            raw = json.load(f)
        break
    if raw is None:
        fail("inputs still disagree with the manifest after regenerating")

    with open(os.path.join(data, mname)) as f:
        manifest = json.load(f)
    expected = manifest["expected"]
    failed = harness.check_ops(raw["ops"], expected)
    attempted = len(raw["ops"])
    for op in raw["ops"]:
        if not op["ok"]:
            print("perfbench: %s failed: %s observed=%s expected=%s" % (
                op["shape"], op.get("error"), op.get("observed"),
                expected.get(op["shape"])), file=sys.stderr)

    if a.trace:
        metrics, notes = harness.per_layer(raw)
        with open(os.path.join(HERE, "expected_queries.json")) as f:
            pinned = json.load(f)["queries"]
        got = dict(n.split("=", 1) for n in raw["notes"] if n.startswith("queries."))
        for q, want in pinned.items():
            attempted += 1
            rows = metrics["queries.%s.rows" % q][0]
            if rows != want["rows"] or got.get("queries.%s.hash" % q) != want["hash"]:
                failed += 1
                print("perfbench: %s rows=%s hash=%s, pinned %s" % (
                    q, rows, got.get("queries.%s.hash" % q), want), file=sys.stderr)
        meta = dict(n.split("=", 1) for n in raw["notes"] if n.startswith("file_metadata."))
        if meta:
            listed = [e for rel, e in manifest["files"].items() if rel.startswith("dir/")]
            attempted += 1
            if (int(meta["file_metadata.files"]), int(meta["file_metadata.rows"])) != \
                    (len(listed), sum(e["rows"] for e in listed)):
                failed += 1
                print("perfbench: fileMetadata disagrees with the manifest: %s" % meta,
                      file=sys.stderr)
        spans_out = os.path.join(build, "spans-%s.json" % a.workload)
        with open(spans_out, "w") as f:
            json.dump(raw["spans"], f)
        for n in notes:
            print("perfbench: " + n, file=sys.stderr)
    else:
        metrics = harness.end_to_end(raw)

    for name, (value, unit) in metrics.items():
        print("perfbench: %-40s %14.6f %s" % (name, value, unit), file=sys.stderr)
    print("perfbench: attempted=%d failed=%d" % (attempted, failed), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
