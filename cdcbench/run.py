#!/usr/bin/env python3
"""Entry point of the CDC-plane benchmark.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--toy]

Run from the repository root. The first run builds the program from the
repository's sources together with the benchmark (sbt, offline) and caches
the classpath under cdcbench/.build; later runs reuse it while the sources
are unchanged. Each run starts one JVM, which drives the unmodified
`graft.Main.main("watch", ...)` and prints the result as its last line.
See cdcbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 880

# The JVM's heap, through the root build's own knob for it: the program's
# options are taken from its build (see build()), and 3 GB holds every workload.
HEAP = "3g"


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
              os.path.abspath(__file__)]
    for dirpath in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(dirpath):
            files += [os.path.join(dirpath, f) for f in os.listdir(dirpath)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath and
    the program's JVM options (the root build's `javaOptions`)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not next to cdcbench/")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    opts_file = os.path.join(BUILD, "java-options.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if all(os.path.isfile(f) for f in (cp_file, opts_file, stamp_file)):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g, open(opts_file) as h:
                    return g.read().strip(), h.read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        sbt += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                "-Dsbt.offline=true"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(sbt + ["print cdcbench/javaOptions",
                                      "export cdcbench/Runtime/fullClasspath"], cwd=HERE,
                               env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if "[error]" in l)[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    # `print` lists a Seq one element a line, as "* <element>"
    opts = [l[2:] for l in lines if l.startswith("* ")]
    if not opts:
        fail(f"the build printed no JVM options; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(opts_file, "w") as f:
        f.write("\n".join(opts) + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="tiny sizes, for the self-test")
    a = ap.parse_args()

    cp, java_options = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    cmd = ["java"] + java_options + [f"-Xms{HEAP}",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "-cp", cp, "graft.cdcbench.PlaneBench",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work,
    ] + (["--toy"] if a.toy else [])
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=RUN_TIMEOUT_S)
            out, code = p.stdout, p.returncode
        except subprocess.TimeoutExpired as e:
            out = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
            code = -1
    sys.stdout.write(out)
    sys.stdout.flush()
    with open(log_path) as f:
        log_lines = f.readlines()
    sys.stderr.write("".join(l for l in log_lines if l.startswith("[cdcbench]")))
    if code != 0:
        sys.stderr.write("".join(log_lines[-60:]))
        print(f"cdcbench: run failed (exit {code}) after {time.time() - t0:.1f} s",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
