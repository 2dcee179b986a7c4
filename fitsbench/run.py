#!/usr/bin/env python3
"""Run one fitsbench workload against the FITS connector of this checkout.

    python3 fitsbench/run.py --workload catalog_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the connector and the
harness from source with sbt (into .bench_build/ and the sbt target
directories); later runs reuse the build while the sources are unchanged.
The last line of standard output is the result JSON; the line before it is
the run record (corpus digests, host noise, sample counts).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
WORKLOADS = ["catalog_scan", "catalog_lookup", "image_tiles", "catalog_write"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"fitsbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, to decide when to rebuild."""
    h = hashlib.sha256()
    files = [root / "build.sbt", root / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (root / "src" / "main", BENCH / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root, out):
    """Compiles connector and harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = out / "classpath.txt", out / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    log = out / "sbt.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={out / 'sbt-global'}", "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        proc = subprocess.run(cmd, cwd=BENCH, stdout=subprocess.PIPE, stderr=f,
                              stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        f.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "classes" in l and ":" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        tail = "\n".join(log.read_text().splitlines()[-20:])
        fail(f"build failed (exit {proc.returncode}); see {log}\n{tail}", 1)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, out):
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "fitsbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", str(out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = Path.cwd()
    for need in ("build.sbt", "src/main/scala/graft/sources/fits"):
        if not (root / need).exists():
            fail(f"no connector sources here ({root / need} is missing); run from a checkout root")
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    t0 = time.time()
    cp = build(root, out)
    print(f"fitsbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    code, stdout = run_jvm(cp, args, out)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        fail(f"harness exited with {code}", 1)
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS:
        fail(f"malformed result line: {lines[-1]}", 1)
    records = out / "records"
    records.mkdir(exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.jsonl"
    (records / name).write_text("\n".join(lines[-2:]) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
