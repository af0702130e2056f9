"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload <ingest_pdf|curate_text>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
driver (see build.py); every run then starts one JVM on local[nproc],
gives it a fresh work directory for the corpus, index, checkpoints,
Spark scratch space and JVM temp files, and deletes that directory when
the JVM has exited. Exits non-zero if the build fails, the JVM fails, a
correctness check fails, or no result line is printed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # leave no __pycache__ in the tree
import build  # noqa: E402

WORKLOADS = ("ingest_pdf", "curate_text")
HEAP = "3g"
# the JVM is stopped after SETUP_ALLOWANCE_S + DEADLINE_PER_S * --seconds:
# set-up takes 35-45 s on a 4-core box and the timed phase --seconds plus
# the last operation in flight
SETUP_ALLOWANCE_S = 110
DEADLINE_PER_S = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_head(root):
    """HEAD commit when the tree is a git checkout, else None."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(root, ".git", name)
        if os.path.isfile(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                parts = line.split()
                if len(parts) == 2 and parts[1] == name:
                    return parts[0]
    except OSError:
        pass
    return None


def java_version():
    out = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr
    return out.splitlines()[0] if out else "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    out_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        _, classpath, digest = build.ensure_built(ROOT, out_dir)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    runs = os.path.join(out_dir, "perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    jvm_tmp = os.path.join(work, "tmp")
    os.makedirs(jvm_tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={jvm_tmp}",
              f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={os.path.join(work, 'derby')}",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
              "-cp", os.pathsep.join(classpath),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work-dir", work, "--cores", str(nproc), "--heap", HEAP,
              "--program-sha", digest, "--git-head", git_head(ROOT) or "none",
              "--jdk", java_version()])
    lines = []
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = SETUP_ALLOWANCE_S + DEADLINE_PER_S * args.seconds
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=deadline)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[perfbench] run exceeded its deadline", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        if lines:
            print(lines[-1])
        print(f"[perfbench] no result line (jvm exit {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    print(json.dumps(result, separators=(",", ":")))
    if proc.returncode != 0 or not result["correct"] or result["failed"]:
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
