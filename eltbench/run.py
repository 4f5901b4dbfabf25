"""ELT benchmark: one workload, one seed, one run.

    python3 eltbench/run.py --workload increment_replay --seed 1 --seconds 20 --trace 0

Builds the product and the benchmark from source (eltbench/build.py, into
$CARGO_TARGET_DIR or .bench_build), runs the workload in one JVM with
Spark local[4], prints a summary, and prints the result as one JSON line,
last. Workloads: increment_replay, llm_prep (see
eltbench/README.md). Everything it writes stays under the build directory.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True  # keep the benchmark's directory free of build output
import build  # noqa: E402

WORKLOADS = ("increment_replay", "llm_prep")
# Names the summary gives op_s and rerun_s on each workload.
ALIASES = {
    "increment_replay": ("increment_s", "replay_s"),
    "llm_prep": ("prep_s", "prep_rerun_s"),
}
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    return p.parse_args()


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    args = parse_args()
    build_dir = os.path.join(build.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classes = build.build(build_dir)
        jars = build.spark_jars()
    except build.BuildError as e:
        sys.exit(f"eltbench: build failed: {e}")

    run_id = f"{args.workload}-{args.seed}-{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(build_dir, "work", run_id)
    logs = os.path.join(build_dir, "logs")
    os.makedirs(work)
    os.makedirs(logs, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(logs, run_id + ".log")
    # -UsePerfData: no hsperfdata files in the system temp directory
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes] + jars), "graft.eltbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", work, "--out", result_path])
    t0 = time.time()
    code = run_jvm(cmd, log_path)
    try:
        if code != 0 or not os.path.isfile(result_path):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            sys.exit(f"eltbench: JVM {'timed out' if code is None else f'exited {code}'};"
                     f" log {log_path}:\n{tail}")
        with open(result_path) as f:
            result = json.load(f)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.isfile(spans):
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(spans, os.path.join(traces, run_id + ".jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    extras = result.pop("extras")
    metrics = result["metrics"]
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["end_to_end" if args.trace == "0" else "per_layer"]
    if [(m["name"], m["unit"]) for m in declared] != [(k, m["unit"]) for k, m in metrics.items()]:
        sys.exit("eltbench: the metrics measured differ from those BENCHMARK.json declares")
    print(f"eltbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{int(extras['iterations'])} iterations, {int(extras['samples'])} measured, "
          f"{time.time() - t0:.1f} s in the JVM")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    if args.trace == "0":
        op_name, rerun_name = ALIASES[args.workload]
        print(f"  {op_name} = {metrics['op_s']['value']:.6g} s")
        print(f"  {rerun_name} = {metrics['rerun_s']['value']:.6g} s")
    for name in ("sink_bytes_per_payload_byte",):
        if name in extras:
            print(f"  {name} = {extras[name]:.6g} ratio")
    print(f"  error_rate = {extras['error_rate']:.6g} "
          f"({result['failed']} of {result['attempted']} operations failed their check)")
    for name, v in sorted(extras.items()):
        if name.startswith("input.") or name == "neardup.distributed_path":
            print(f"  {name} = {v:.6g}")
    result["correct"] = bool(result["correct"]) and result["failed"] == 0
    print(json.dumps(result))


if __name__ == "__main__":
    main()
