#!/usr/bin/env python3
"""Run one workload of the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine's sources together with the harness in perfbench/
(sbt, offline) when they changed since the last build, then runs the
harness on a local Spark session. The last line of standard output is
the JSON result; everything else is the harness's readable report.
Scratch state (Spark's local dirs and the JVM's temp dir included) goes
to perfbench/.work, traces and per-operation samples to perfbench/out.

The first run after a build also dumps a class-data sharing archive of
the classes it loaded (perfbench/target/perfbench.jsa); later runs map
it instead of loading and verifying those classes again, which takes
about 4 s off each run's JVM and Spark start-up on a 4-core machine.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORK = HERE / ".work"
CLASSPATH = TARGET / "perfbench.classpath"
STAMP = TARGET / "perfbench.sources"
ARCHIVE = TARGET / "perfbench.jsa"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
WORKLOADS = ["coin_backfill", "lake_maintenance", "lake_serving", "corpus_curation"]

# Spark on JDK 17 needs these outside spark-submit (same list as the
# engine's build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, engine and harness."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail(f"engine sources not found under {ROOT}; run from a full checkout")
    stamp = fingerprint(sources())
    if CLASSPATH.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        # resolve only from the local repositories, as the engine's own
        # test command does
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout + proc.stderr)
        fail(f"build failed (sbt exit {proc.returncode})")
    TARGET.mkdir(exist_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    CLASSPATH.write_text(lines[-1].strip())
    STAMP.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    if args.seconds <= 0:
        fail("--seconds must be positive")

    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    dump = ARCHIVE.with_suffix(".jsa.tmp")
    if ARCHIVE.is_file():
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    else:
        dump.unlink(missing_ok=True)
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    # JVM warnings (the archive's included) go to stderr, so the result
    # stays the last line of standard output.
    cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr"]
    # Spark's local dirs default to the JVM temp dir; both stay in the checkout.
    cmd += ["-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--dir", str(WORK), "--out", str(HERE / "out")]
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                              stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"workload {args.workload} did not finish within {RUN_TIMEOUT_S} s")
    out = proc.stdout.rstrip("\n")
    last = out.splitlines()[-1] if out else ""
    if proc.returncode != 0 or not last.startswith("{"):
        sys.stderr.write(out + "\n")
        fail(f"workload {args.workload} failed (exit {proc.returncode})")
    if dump.is_file():
        dump.replace(ARCHIVE)
    print(out, flush=True)


if __name__ == "__main__":
    main()
