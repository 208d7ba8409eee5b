"""Run one benchmark workload against the library in this checkout.

    python3 spatialbench/run.py --workload layer-serve --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark if a source changed (build.py), then
starts one JVM running Spark in local mode on every core. The last stdout line
is a JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything the run writes stays under .bench_build/ in the checkout.
"""
import argparse
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("layer-serve", "layer-edit", "spatial-join", "graph-loop")
# one run must end within 180 s; the JVM gets what is left after the build
JVM_TIMEOUT_S = 170


def commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "--short=12", "HEAD"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return out.stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--source", default=build.ROOT,
                    help="checkout whose library is measured (compare.py points this at the parent)")
    a = ap.parse_args()

    try:
        build_dir, classpath, sha = build.build(os.path.abspath(a.source))
    except build.BuildError as e:
        print(f"[run] build failed: {e}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    heap = build.heap_gb()
    work = os.path.join(build.BUILD_ROOT, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-XX:SharedArchiveFile=" + os.path.join(build_dir, "classes.jsa")] +
           build.jvm_options(heap, os.path.join(work, "tmp")) +
           ["-cp", classpath, "spatialbench.BenchMain",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cores", str(cores),
            "--heap-gb", str(heap), "--source-sha", sha[:16], "--commit", commit(a.source)])
    proc = subprocess.Popen(cmd, cwd=build.ROOT)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[run] benchmark JVM exceeded {JVM_TIMEOUT_S} s and was killed", file=sys.stderr)
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
