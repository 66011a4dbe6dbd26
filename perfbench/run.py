#!/usr/bin/env python3
"""Run one benchmark measurement of the graft engine.

    python3 perfbench/run.py --workload <ingest|dashboard> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Builds the engine's sources together with the benchmark's own (see
build.sbt) on first use, starts one JVM for the run, and prints as the
last line of stdout one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones (see GLOSSARY.md). Work files,
the trace artifact and every run's result go under `.bench_build/` at
the repository root.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main"
BUILD = ROOT / ".bench_build"
CLASSPATH = HERE / "target" / "bench-classpath.txt"
RUN_LIMIT_S = 170
HEAP = "2g"
BUILD_LIMIT_S = 840

# What spark-submit would pass on JDK 17 (the engine's build.sbt uses the
# same list for its forked mains).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime() -> float:
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ENGINE_SRC, HERE / "src"):
        files.extend(p for p in d.rglob("*") if p.is_file())
    return max(p.stat().st_mtime for p in files)


def build() -> str:
    """Compile with sbt when a source is newer than the last build, and
    return the run classpath."""
    if not (ENGINE_SRC / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE_SRC}")
    if CLASSPATH.exists() and \
            CLASSPATH.stat().st_mtime >= newest_source_mtime():
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S,
            start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines()
             if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    CLASSPATH.parent.mkdir(parents=True, exist_ok=True)
    CLASSPATH.write_text(lines[-1].strip())
    return lines[-1].strip()


def java_cmd(cp: str, tmp: Path, main: str, args: list) -> list:
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, main, *args]


def run_jvm(cmd: list) -> int:
    """Run the JVM in its own process group, relay its stdout, and kill
    the group if it outlives the run limit."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timer = threading.Timer(RUN_LIMIT_S, os.killpg,
                            (proc.pid, signal.SIGKILL))
    timer.start()
    # a terminated launcher takes its JVM down with it
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda *_: sys.exit(4))
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
        return proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def report_overhead(workload: str, seed: int, artifact: Path) -> None:
    """Print traced minus untraced end-to-end figures when an untraced
    run of the same workload and seed was made in this checkout."""
    plain = BUILD / "results" / f"{workload}-seed{seed}-trace0.json"
    if not plain.exists() or not artifact.exists():
        print("tracing overhead: no untraced run of this seed to compare")
        return
    untraced = json.loads(plain.read_text())["metrics"]
    traced = json.loads(artifact.read_text())["end_to_end"]
    for k, v in traced.items():
        if k in untraced and untraced[k]["value"]:
            base = untraced[k]["value"]
            print(f"tracing overhead {k}: traced {v:.4f} - untraced "
                  f"{base:.4f} = {v - base:+.4f} ({(v - base) / base:+.1%})")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ingest", "dashboard"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    cp = build()
    work = BUILD / "work" / f"{a.workload or 'selfcheck'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selfcheck:
            sys.exit(run_jvm(java_cmd(cp, work / "tmp", "perfbench.SelfCheck",
                                      [str(ROOT), str(work)])))
        if not a.workload:
            fail("--workload is required")
        out = work / "result.json"
        artifact = BUILD / "trace" / f"{a.workload}-seed{a.seed}.json"
        code = run_jvm(java_cmd(cp, work / "tmp", "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(out),
            "--artifact", str(artifact)]))
        if not out.exists():
            fail(f"run failed with exit code {code}", 1)
        result = json.loads(out.read_text())
        keep = BUILD / "results" / \
            f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        keep.parent.mkdir(parents=True, exist_ok=True)
        keep.write_text(json.dumps(result))
        if a.trace:
            print(f"trace artifact: {artifact.relative_to(ROOT)}")
            report_overhead(a.workload, a.seed, artifact)
        print(json.dumps(result))
        sys.exit(0 if code == 0 and result["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
