"""The crawl benchmark's own tests.

    python3 crawlbench/test.py

Runs crawlbench.SelfTest (seeded generator, metric names, failure
counting, attribution check), then checks that BENCHMARK.json at the
checkout root declares exactly the metrics the benchmark prints. Exits non-zero on a failure.
"""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    done = subprocess.run(run.java_cmd("crawlbench.SelfTest"), cwd=build.ROOT,
                          stdout=subprocess.PIPE, text=True, timeout=600)
    lines = done.stdout.splitlines()
    print("\n".join(line for line in lines if not line.startswith("names ")))
    if done.returncode != 0:
        sys.exit("crawlbench self-test failed")
    printed = next(line for line in lines if line.startswith("names "))[6:].split(",")
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    if declared != printed:
        sys.exit(f"BENCHMARK.json metrics {declared} differ from printed {printed}")
    print("ok   BENCHMARK.json declares every printed metric, in order")


if __name__ == "__main__":
    main()
