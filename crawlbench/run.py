"""Run the crawl benchmark from the root of a checkout.

    python3 crawlbench/run.py --workload polite --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (see build.py) on first use, then runs
one benchmark JVM with the working directory at the checkout root; all of
its state stays under .bench_build/. The JVM's last line of standard output,
one JSON object, is the result. Exits non-zero, without a result, when the
build or the run fails.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the launcher's defaults)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def java_cmd(main_class, *args):
    """The benchmark JVM's command line; builds first when needed."""
    classes = build.build()
    tmp = os.path.join(build.OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log4j = os.path.join(os.path.dirname(os.path.abspath(__file__)), "log4j2.properties")
    return (["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={log4j}"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", classes + os.pathsep + build.classpath(), main_class] + list(args))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    cmd = java_cmd("crawlbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("crawlbench: run timed out")
    finally:
        # the JVM removes its own state unless it was killed
        shutil.rmtree(os.path.join(build.OUT, "runs"), ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        sys.exit(f"crawlbench: run failed ({proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != RESULT_KEYS:
        sys.exit("crawlbench: malformed result line")
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
