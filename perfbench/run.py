"""The repository's benchmark: feed ingest through the batch pipeline and
through the streaming pipeline, each a closed loop with one client.

    python3 perfbench/run.py --workload feed_batch --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It builds the program from source (see
`build.py`), generates the workload's feed snapshots from `--seed`, runs the
workload in one JVM, checks the outputs, and prints every metric by name
and unit; the last line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; `--trace 1` runs with the tracing
listeners and wrappers and reports per-layer metrics instead, writing the
spans to `.bench_build/traces/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import feedgen  # noqa: E402
import stats  # noqa: E402

# Entries per snapshot, polls per second of --seconds, snapshot layout. A
# run makes a fixed number of polls, so a faster program does the same
# work on the same history, not more of it; the rates match a poll's cost
# on a 4-core box (feed_batch: poll plus dashboard refresh ~4 s).
WORKLOADS = {
    "feed_batch": {"entries": 100, "polls_per_s": 0.2, "per_feed": True},
    "feed_stream": {"entries": 1000, "polls_per_s": 0.4, "per_feed": False},
}
DEADLINE_S = 170
# a fixed, pre-touched heap keeps the JVM's peak RSS from following the
# collector's heap-sizing decisions run to run
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build.build(root)
    cfg = WORKLOADS[a.workload]

    work = os.path.join(build.build_dir(root), "runs",
                        f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    polls = max(4, round(a.seconds * cfg["polls_per_s"]))
    t0 = time.perf_counter()
    feedgen.write_snapshots(os.path.join(work, "inputs"), a.seed,
                            cfg["entries"], polls, cfg["per_feed"])
    gen_s = time.perf_counter() - t0

    raw_path = os.path.join(work, "raw.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java", *JVM_OPENS, *JVM_HEAP, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", build.classpath(root),
           "perfbench.Main", "--workload", a.workload,
           "--inputs", os.path.join(work, "inputs"), "--work", work,
           "--out", raw_path, "--polls", str(polls),
           "--trace", str(a.trace)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed: {code}")
    with open(raw_path) as f:
        raw = json.load(f)

    if a.trace:
        values, workload_only = stats.per_layer(raw)
        trace_dir = os.path.join(build.build_dir(root), "traces")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(raw_path, os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"))
        info = {f"{k} ({u})": round(v, 4) for k, (v, u) in workload_only.items()}
    else:
        values, info = stats.end_to_end(raw, gen_s)
    shutil.rmtree(work, ignore_errors=True)

    correct = raw["failed"] == 0 and all(raw["checks"].values())
    print(f"workload {a.workload}  seed {a.seed}  polls {len(raw['polls'])}"
          f"  attempted {raw['attempted']}  failed {raw['failed']}"
          f"  failed_frac {raw['failed'] / raw['attempted']:.4f}")
    for k, v in info.items():
        print(f"  {k}: {v}")
    for e in raw["errors"]:
        print(f"  error: {e}")
    for k, (v, unit) in values.items():
        print(f"  {k:32s} {v:14.4f} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()},
    }))


if __name__ == "__main__":
    main()
