"""Pipeline benchmark: one workload, one seed, one JSON line.

    python3 pipebench/run.py --workload paper_etl --seed 7 --seconds 20 --trace 0

Run from the repository root. Builds the program from source (see
build.py), generates the workload's inputs from the seed in a separate JVM,
then measures in a fresh JVM. With --trace 0 it prints the end-to-end
metrics; with --trace 1 the per-layer metrics of a traced run, whose spans
land in .bench_build/pipebench/traces/. The last line of stdout is the
result; the line before it records the workload, seed, cores, heap, Spark
version and the pass times. --selftest instead shows that every output
check fails on a deliberately corrupted output.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["paper_etl", "corpus_dedup"]
E2E = {"setup_s": "s", "records_per_s": "records/s", "chunk_s": "s",
       "heap_peak_mb": "MB", "sink_bytes_per_record": "B/record"}
DEADLINE = 170.0  # seconds for the JVMs of one run; every run ends inside 180 s


def fail(msg):
    sys.stderr.write("[pipebench] %s\n" % msg)
    sys.exit(2)


def per_layer_units(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


class Jvm:
    def __init__(self, root, work, deadline):
        self.root, self.work, self.deadline = root, work, deadline

    def run(self, main, args, log):
        cmd = build.java_cmd(self.root, main, args, self.work)
        left = self.deadline - time.time()
        if left < 5:
            raise RuntimeError("out of time before " + main)
        # Spark honours SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the checkout too
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(self.work, "spark-local"))
        with open(os.path.join(self.work, log), "w") as f:
            p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=self.root, env=env)
            try:
                rc = p.wait(timeout=left)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise RuntimeError("%s timed out" % main)
        if rc != 0:
            with open(os.path.join(self.work, log)) as f:
                tail = f.read()[-3000:]
            raise RuntimeError("%s %s exited %d:\n%s" % (main, args[:4], rc, tail))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala: run from the repository root")
    try:
        build.ensure(root)  # the first run in a checkout spends extra time here
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail("build failed: %s" % e)
    bench = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(bench, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "in")
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    jvm = Jvm(root, work, time.time() + DEADLINE)
    try:
        jvm.run("pipebench.Gen", [a.workload, str(a.seed), inputs], "gen.log")
        mode = "selftest" if a.selftest else "trace" if a.trace else "run"
        res = os.path.join(work, "result.json")
        args = ["--mode", mode, "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--cpus", str(cpus), "--in", inputs,
                "--work", os.path.join(work, mode), "--result", res]
        if a.trace:
            traces = os.path.join(bench, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--trace_file", os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed))]
        jvm.run("pipebench.Main", args, "main.log")
        with open(res) as f:
            r = json.load(f)
        if a.selftest:
            with open(os.path.join(work, "main.log")) as f:
                sys.stdout.write("".join(l for l in f if l.startswith("[selftest]")))
            print(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {}}))
            return
        units = per_layer_units(root) if a.trace else E2E
        metrics = {k: {"value": float(r[k]), "unit": u} for k, u in units.items()}
    except RuntimeError as e:
        fail(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    passes = "".join(" %s=%s" % (k, ",".join("%.3f" % x for x in r[k]))
                     for k in ("full_s", "chunk_pass_s") if k in r)
    print("# pipebench workload=%s seed=%d cpus=%d heap_max_mb=%s spark=%s java=%s "
          "failed_frac=%.4f%s" % (a.workload, a.seed, cpus, r["heap_max_mb"], r["spark"],
                                  r["java"], r["failed"] / max(1, r["attempted"]), passes))
    print(json.dumps({"correct": r["failed"] == 0 and r["attempted"] > 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
