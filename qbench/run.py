#!/usr/bin/env python3
"""Runs one seeded workload of the benchmark and prints its result line.

    python3 qbench/run.py --workload lazy_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the library
(src/main/scala) together with the benchmark (qbench/src) with the Scala
compiler that ships in the Spark distribution, into .bench_build/qbench;
later runs reuse that build while the sources are unchanged. The run
itself is one JVM (qbench.Main); its working files live under
.bench_build/qbench and are deleted when it ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. Metric units come from
BENCHMARK.json, and a run whose metric names differ from it fails.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build" / "qbench"


def spark_home():
    """$SPARK_HOME, else the first spark-submit on PATH with jars beside it."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = Path(d).parent
        if (Path(d) / "spark-submit").is_file() and \
                any((home / "jars").glob("spark-core_*.jar")):
            return home
    return Path("spark")


SPARK_JARS = spark_home() / "jars"
# The benchmark JVM and a build JVM fit together in 15 GB with room to spare.
# The heap is fixed and the young generation too, so the resident-set peak
# follows what the run keeps live rather than the collector's sizing.
RUN_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
BUILD_HEAP = "2g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def sources():
    lib = ROOT / "src" / "main" / "scala"
    lib_files = sorted(lib.rglob("*.scala")) if lib.is_dir() else []
    if not lib_files:
        raise BenchError(f"no library sources under {lib}: run from the "
                         "root of a full checkout")
    return lib_files + sorted((BENCH / "src").rglob("*.scala"))


def jar(prefix):
    found = sorted(SPARK_JARS.glob(prefix + "-*.jar"))
    if not found:
        raise BenchError(f"{prefix} jar not found in {SPARK_JARS}")
    return str(found[0])


def build():
    """Compiles library and benchmark unless the last build is current;
    returns the class directory."""
    files = sources()
    jars = sorted(str(p) for p in SPARK_JARS.glob("*.jar"))
    h = hashlib.sha256("\n".join(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = h.hexdigest()
    classes = BUILD / "classes"
    if (BUILD / "stamp").is_file() and (BUILD / "stamp").read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler = [jar("scala-compiler"), jar("scala-library"),
                jar("scala-reflect")]
    started = time.time()
    done = subprocess.run(
        ["java", f"-Xmx{BUILD_HEAP}", "-Xss8m", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
         "-classpath", ":".join(jars), "-d", str(tmp)]
        + [str(f) for f in files],
        stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BenchError(f"compilation failed ({done.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (BUILD / "stamp").write_text(stamp)
    print(f"qbench: built in {time.time() - started:.1f} s",
          file=sys.stderr)
    return classes


def result_line(raw, spec, trace):
    """The result line from the JVM's raw figures: every metric BENCHMARK.json
    lists for this mode, with its unit, and nothing else."""
    listed = spec["per_layer" if trace else "end_to_end"]
    values = raw["metrics"]
    names = [m["name"] for m in listed]
    if sorted(names) != sorted(values):
        missing = sorted(set(names) - set(values))
        extra = sorted(set(values) - set(names))
        raise BenchError(f"metrics differ from BENCHMARK.json: missing "
                         f"{missing}, unlisted {extra}")
    return {
        "correct": raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]],
                                "unit": m["unit"]} for m in listed},
    }


def stop(proc):
    """Stops the JVM and everything it started, and waits for it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def run(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes = build()
    cores = len(os.sched_getaffinity(0))
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + RUN_HEAP + [
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join([str(classes),
                               str(ROOT / "src" / "main" / "resources"),
                               str(SPARK_JARS / "*")]),
              "qbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores),
              "--work", str(work), "--trace-dir", str(BUILD / "traces")])
    env = dict(os.environ, LANG="C.utf8")
    # set-up time counts from here: the build above is not part of it
    cmd += ["--t0-ms", str(int(time.time() * 1000))]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines or \
            not lines[-1].startswith("QBENCH_RESULT "):
        raise BenchError(f"run failed (exit {proc.returncode})")
    raw = json.loads(lines[-1][len("QBENCH_RESULT "):])
    return result_line(raw, spec, args.trace == 1)


def main():
    # a terminated launcher still stops its JVM: SystemExit unwinds
    # through run()'s cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["lazy_query", "corpus_dedup"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    try:
        print(json.dumps(run(args)))
    except BenchError as e:
        print(f"qbench: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
