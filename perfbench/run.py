#!/usr/bin/env python3
"""RAG-workflow benchmark: builds the library and the harness from source,
runs one workload in a fresh JVM, and prints the run record and then the
result as the last line of standard output.

    python3 perfbench/run.py --workload ingest|serve_mixed \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke      # tiny sizes, all workloads, checks on

Run it from the repository root. Builds and run scratch space live under
.bench_build/ in that root. The exit code is 0 only when every output
check passed; see perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile
from pathlib import Path

WORKLOADS = ("ingest", "serve_mixed")
BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD = ROOT / ".bench_build"
LIB_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = BENCH_DIR / "src"
# Free disk a run needs: the largest store with its index copies, Spark's
# scratch space and the build, with room to spare.
NEED_FREE_BYTES = 2 << 30
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("spark-sql_*.jar")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe:
        fail("no java found (set JAVA_HOME)")
    return str(exe)


def build(jars):
    """Compiles the library and the harness with the Scala compiler that
    ships in the Spark distribution, packs them into one jar, and records
    a class-data-sharing archive from a smoke run, which saves each later
    JVM seconds of class loading. Reuses all of it while no source file
    changed. Returns the build directory and the build's seconds (0 when
    reused)."""
    if not LIB_SRC.is_dir():
        fail(f"library sources not found at {LIB_SRC.relative_to(ROOT)}; "
             "run from a full checkout of the repository")
    sources = sorted(list(LIB_SRC.rglob("*.scala")) + list(HARNESS_SRC.rglob("*.scala")))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / "perfbench" / f"build-{digest.hexdigest()[:16]}"
    if out.is_dir():
        return out, 0.0
    t = time.time()
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in sources))
    proc = subprocess.run(
        [java(), "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp",
         "-nowarn", "-d", str(classes), f"@{argfile}"],
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed:\n" + proc.stdout[-4000:] + proc.stderr[-4000:])
    with zipfile.ZipFile(tmp / "app.jar", "w", zipfile.ZIP_STORED) as jar:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                jar.write(f, f.relative_to(classes))
    shutil.rmtree(classes)
    argfile.unlink()
    tmp.rename(out)
    # the archive records the jar's path, so it is made after the rename; it
    # is an optimisation only: without it the JVM loads classes from the jar
    part = out / "app.jsa.part"
    smoke = argparse.Namespace(seed=1, seconds=1, trace=0, smoke=True)
    try:
        run_jvm(out, jars, ["serve_mixed"], smoke, [f"-XX:ArchiveClassesAtExit={part}"])
        part.rename(out / "app.jsa")
    except SystemExit:
        part.unlink(missing_ok=True)
    return out, time.time() - t


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def java_processes():
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            argv0 = Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def cpu_ticks():
    """The machine's (steal, total) CPU ticks from /proc/stat, or None."""
    try:
        ticks = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(build_dir, jars, workloads, args, jvm_flags=()):
    """Runs the workloads in one JVM under a private scratch directory,
    which is deleted afterwards. Returns the JVM's documents and the
    directory's disk high-water mark."""
    run_dir = BUILD / "runs" / f"{'-'.join(workloads)}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "idx", "work"):
        (run_dir / sub).mkdir(parents=True)
    out = run_dir / "out.jsonl"
    log = run_dir / "jvm.log"
    env = dict(os.environ, SPARK_GRAFT_IDX_DIR=str(run_dir / "idx"))
    cmd = [java(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *jvm_flags]
    if not jvm_flags and (build_dir / "app.jsa").is_file():
        cmd.append(f"-XX:SharedArchiveFile={build_dir / 'app.jsa'}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{build_dir / 'app.jar'}:{jars}/*", "perfbench.Main",
            "--workload", ",".join(workloads), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--smoke", "1" if args.smoke else "0",
            "--work-dir", str(run_dir / "work"), "--out", str(out)]
    high_water = [0]
    proc = None
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
            done = threading.Event()

            def watch_disk():
                while not done.wait(0.5):
                    high_water[0] = max(high_water[0], dir_bytes(run_dir))
            watcher = threading.Thread(target=watch_disk, daemon=True)
            watcher.start()
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            done.set()
            watcher.join()
        if rc != 0:
            tail = log.read_text(errors="replace")[-6000:]
            why = "timed out" if rc is None else f"exited with code {rc}"
            fail(f"benchmark JVM {why}; log tail:\n{tail}", 3)
        docs = [json.loads(line) for line in out.read_text().splitlines() if line.strip()]
        checks_log = [l for l in log.read_text(errors="replace").splitlines()
                      if "[perfbench]" in l]
        for line in checks_log:
            print(line, file=sys.stderr)
        return docs, high_water[0]
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def declared_metrics(trace):
    """Metric names and units BENCHMARK.json declares for this mode, or
    None when the file is absent."""
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        return None
    bench = json.loads(path.read_text())
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, both workloads, output checks on")
    args = ap.parse_args()
    if args.smoke:
        args.seconds = min(args.seconds, 1)
    elif not args.workload:
        ap.error("--workload is required unless --smoke is given")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    free = shutil.disk_usage(ROOT).free
    if free < NEED_FREE_BYTES:
        fail(f"only {free >> 20} MiB free under the checkout; a run needs "
             f"{NEED_FREE_BYTES >> 20} MiB", 4)
    jars = spark_jars()
    build_dir, build_s = build(jars)

    workloads = list(WORKLOADS) if args.smoke else [args.workload]
    env_info = {"loadavg_start": loadavg(), "java_processes_before": java_processes(),
                "git_sha": git_sha(), "free_bytes": free, "build_s": build_s}
    ticks_start = cpu_ticks()
    docs, high_water = run_jvm(build_dir, jars, workloads, args)
    ticks_end = cpu_ticks()
    env_info["loadavg_end"] = loadavg()
    if ticks_start and ticks_end and ticks_end[1] > ticks_start[1]:
        # time the hypervisor gave this machine's CPUs to other guests
        env_info["cpu_steal_share"] = round(
            (ticks_end[0] - ticks_start[0]) / (ticks_end[1] - ticks_start[1]), 4)
    env_info["disk_high_water_bytes"] = high_water

    declared = declared_metrics(args.trace)
    ok = True
    for doc in docs:
        record, result = doc["record"], doc["result"]
        emitted = {k: m["unit"] for k, m in result["metrics"].items()}
        if declared is not None and emitted != declared:
            fail(f"metrics {sorted(emitted.items())} differ from BENCHMARK.json's "
                 f"{sorted(declared.items())}", 5)
        record.update(env_info)
        trace = record.pop("trace", None)
        if trace is not None:
            traces = BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            path = traces / f"{record['workload']}-seed{args.seed}.json"
            path.write_text(json.dumps({"record": record, "trace": trace}))
            record["trace_file"] = str(path.relative_to(ROOT))
        print(json.dumps({"record": record}))
        ok = ok and result["correct"]
        if args.smoke:
            print(json.dumps(result))
    if not args.smoke:
        print(json.dumps(docs[-1]["result"]))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
