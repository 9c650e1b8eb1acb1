#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload migrate|corpus \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run is one JVM: set-up, warm-up
passes, then passes until S seconds have been measured. The last line of
stdout is the result object; the whole run (stamps, every pass, the
result) is also kept as a JSON record under perfbench/out/runs/, or under
$PERFBENCH_RECORDS when that is set.

Maintenance modes, run the same way with --mode:
    --mode record     re-record perfbench/expected/sf0.01.json
    --mode countcmp   count() vs fully materialized timings, all queries
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
DATA = BENCH / "data" / "sf0.01"
EXPECTED = BENCH / "expected" / "sf0.01.json"
CLASSPATH = BENCH / "target" / "runtime-classpath.txt"
WORKLOADS = ("migrate", "corpus")
# A fixed heap, and a fixed young generation so that collections come
# every YOUNG bytes allocated: GC work, and the live-heap samples behind
# peak_heap_mb, then fall at the same points in every run.
HEAP = "2g"
YOUNG = "128m"
DEADLINE_S = 175

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, engine and benchmark alike."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    return home


def build():
    """Compiles with sbt unless the classpath file is newer than every
    source. Holds a lock so concurrent runs in one checkout build once."""
    (BENCH / "target").mkdir(exist_ok=True)
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    with open(BENCH / "target" / ".build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        newest = max(p.stat().st_mtime for p in sources())
        if CLASSPATH.exists() and CLASSPATH.stat().st_mtime >= newest:
            return
        sbt = shutil.which("sbt") or die("sbt is not on PATH")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
                   SBT_OPTS=" ".join(opts))
        log = OUT / "logs" / "build.log"
        with open(log, "w") as f:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        if rc != 0 or not CLASSPATH.exists():
            sys.stderr.write(log.read_text()[-4000:])
            die(f"build failed (exit {rc}); log: {log}")


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cpu_ticks():
    """The aggregate `cpu` line of /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_share(before, after):
    """Share of all CPU time the hypervisor gave to other guests."""
    if not before or not after or len(before) < 8:
        return None
    total = sum(after) - sum(before)
    return round((after[7] - before[7]) / total, 4) if total > 0 else None


def java_cmd(main_args):
    java = shutil.which("java", path=str(Path(os.environ["JAVA_HOME"]) / "bin")) \
        if os.environ.get("JAVA_HOME") else None
    java = java or shutil.which("java") or die("java is not on PATH")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", CLASSPATH.read_text().strip(), "graft.perfbench.Main", *main_args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("bench", "record", "countcmp"), default="bench")
    args = ap.parse_args()
    started = time.time()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        die(f"engine sources not found under {ROOT / 'src'}; run from a full checkout")
    if args.mode == "bench" and not args.workload:
        die("--workload is required")
    build()

    common = ["--data", str(DATA), "--out", str(OUT)]
    if args.mode == "record":
        sys.exit(subprocess.run(java_cmd(
            ["--mode", "record", "--expected", str(EXPECTED), *common])).returncode)
    if args.mode == "countcmp":
        sys.exit(subprocess.run(java_cmd(
            ["--mode", "countcmp", *common])).returncode)

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    log = OUT / "logs" / f"{name}.log"
    cmd = java_cmd(["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--expected", str(EXPECTED), "--mapping", str(BENCH / "mapping.json"),
                    "--launched-at", repr(time.time()), *common])
    ticks = cpu_ticks()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            stdout, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {DEADLINE_S}s and was stopped; log: {log}", 3)
    lines = stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"benchmark JVM exited {proc.returncode}; log: {log}")

    def tagged(tag):
        return next((json.loads(l[len(tag) + 1:]) for l in lines if l.startswith(tag + " ")),
                    None)
    result = json.loads(lines[-1])
    stamp = dict(tagged("perfbench-stamp") or {}, git_commit=git_commit(),
                 source_digest=source_digest(), heap=HEAP, young_gen=YOUNG,
                 cpu_steal_share=steal_share(ticks, cpu_ticks()),
                 run_s=round(time.time() - started, 3))
    record = {"stamp": stamp, "passes": tagged("perfbench-passes"), "result": result}
    records = Path(os.environ.get("PERFBENCH_RECORDS", OUT / "runs"))
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{name}-{int(started * 1000)}.json").write_text(json.dumps(record, indent=1))

    print("perfbench " + json.dumps(stamp, sort_keys=True))
    for k, m in result["metrics"].items():
        print(f"  {k:42s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
