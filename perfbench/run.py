"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload olap|curation \\
        --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), starts one JVM with
Spark local[nproc] and SPARK_GRAFT_CPUS=nproc, and runs graftbench.Main in
it: inputs generated from the seed, set-up, then a closed loop with one
client thread for S seconds, then the output checks. The last line of
stdout is the result: {"correct", "attempted", "failed", "metrics"}, with
the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. The line before it is the run's witness: environment, seed,
input hash, code identity and informational figures. Traced runs also
leave their spans and a per-layer table under perfbench/.out/. Exits 1
when an output check failed, 2 when the run could not complete.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("olap", "curation")
# op_tail_ms percentile per workload: the highest with at least 10 ops
# beyond it at the op count a run of the configured length reaches.
TAIL_CAP = {"olap": 90.0, "curation": 50.0}
JVM_TIMEOUT_S = 165
OUT_DIR = os.path.join(HERE, ".out")
ARCHIVE = os.path.join(build.BUILD_DIR, "classes.jsa")

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt has the
# same list for the test JVMs), plus its GCLocker retry guard. No perf-data
# file, which the JVM would otherwise write outside the checkout.
JVM_FLAGS = [f for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-XX:+UnlockDiagnosticVMOptions", "-XX:+IgnoreUnrecognizedVMOptions",
    "-XX:GCLockerRetryAllocationCount=64", "-XX:-UsePerfData",
]


def heap():
    """The test suite's heap rule: half of RAM in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.REPO, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, classpath, work, out_json, extra_flags=()):
    nproc = os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc))
    env.pop("SPARK_SUBMIT_OPTS", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed initial heap: G1 growing the heap mid-run made peak RSS and op
    # latencies swing by a quarter between runs of the same workload
    cmd = (["java", f"-Xmx{heap()}", f"-Xms{min(2, int(heap()[:-1]))}g"] + JVM_FLAGS +
           list(extra_flags) + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join(classpath), "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out_json])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out_json):
        with open(log_path) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: JVM run failed ({code})")


def archive_flags(classpath):
    """A class-data-sharing archive of the classes a run loads, dumped once
    per build by a one-second olap run. It halves JVM and Spark start-up
    (class loading only; the JIT and everything after it are unchanged).
    Without it, runs still work, only slower to start."""
    if not os.path.exists(ARCHIVE):
        work = os.path.join(HERE, ".work", "archive")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            run_jvm(argparse.Namespace(workload="olap", seed=0, seconds=1, trace=0),
                    classpath, work, os.path.join(work, "result.json"),
                    [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
        except SystemExit as e:
            print(f"perfbench: no class archive ({e})", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classpath = build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    flags = archive_flags(classpath)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_json = os.path.join(work, "result.json")
    try:
        try:
            run_jvm(args, classpath, work, out_json, flags)
        except SystemExit as e:
            print(e, file=sys.stderr)
            sys.exit(2)
        with open(out_json) as f:
            res = json.load(f)
        spans = []
        if args.trace:
            with open(out_json + ".spans.jsonl") as f:
                spans = [json.loads(l) for l in f if l.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, tail = metrics.end_to_end(res, TAIL_CAP[args.workload])
    witness = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input_hash": res["input_hash"],
        "git_commit": git_commit(), "program_sha256": build.program_source_hash(),
        "env": dict(res["env"], heap=heap()),
        "ops": len(res["ops"]), "tail_percentile": tail,
        "phases_s": {k: res[k] for k in ("session_s", "generate_s", "warmup_s",
                                         "loop_s", "finish_s", "wall_s")},
        "setup_steps_s": res["setup_steps_s"],
        "facts": res["facts"], "failures": res["failures"],
        "end_to_end": e2e,
    }
    if args.workload == "olap":
        witness["ratio_vs_baseline"] = metrics.ratio_vs_baseline(res)
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        chosen = metrics.per_layer(res, spans)
        units = {n: u for n, u, _ in metrics.per_layer_schema()}
        with open(stem + ".spans.jsonl", "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        with open(stem + ".layers.md", "w") as f:
            f.write(metrics.layer_table(spans))
    else:
        chosen = e2e
        units = {n: u for n, u, _ in metrics.END_TO_END}
    with open(stem + ".witness.json", "w") as f:
        json.dump(witness, f, indent=1)

    failed = sum(1 for o in res["ops"] if not o[3])
    correct = not res["failures"]
    for line in res["failures"]:
        print("perfbench: " + line, file=sys.stderr)
    print(json.dumps(witness, separators=(",", ":")))
    print(json.dumps({
        "correct": correct, "attempted": len(res["ops"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in chosen.items()},
    }, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
