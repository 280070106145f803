"""Per-layer self times from a traced run's span file.

    python3 pipebench/trace_report.py .bench_build/pipebench/traces/paper_etl-seed7.json

A span is one call the benchmark made into a layer. Its self time is its
duration minus the durations of the spans it encloses; the file already
carries it as `self_s`. This prints, per span name, the median over the
traced passes of the summed seconds, self seconds and Spark jobs, then the
prefix timings the lazy layers are derived from.
"""
import json
import statistics
import sys


def main(path):
    with open(path) as f:
        doc = json.load(f)
    print("workload %s seed %s cpus %s heap_max_mb %s spark %s" % (
        doc["workload"], doc["seed"], doc["cpus"], doc["heap_max_mb"], doc["spark"]))
    passes = sorted({s["pass"] for s in doc["spans"] if 0 <= s["pass"] < 1000})
    per = {}
    for p in passes:
        sums = {}
        for s in doc["spans"]:
            if s["pass"] == p:
                t = sums.setdefault(s["name"], [0.0, 0.0, 0])
                t[0] += s["seconds"]
                t[1] += s["self_s"]
                t[2] += s["jobs"]
        for name, t in sums.items():
            per.setdefault(name, []).append(t)
    print("%-40s %10s %10s %6s   (median over %d traced passes)" % (
        "span", "seconds", "self_s", "jobs", len(passes)))
    for name, ts in sorted(per.items(), key=lambda kv: -statistics.median(t[1] for t in kv[1])):
        print("%-40s %10.3f %10.3f %6.0f" % (
            name, statistics.median(t[0] for t in ts), statistics.median(t[1] for t in ts),
            statistics.median(t[2] for t in ts)))
    print("\nprefix (built, then forced through noop)    build_s   action_s")
    for name, p in doc["prefixes"].items():
        print("%-40s %10.3f %10.3f" % (name, p["build_s"], p["action_s"]))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
