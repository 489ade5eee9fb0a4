"""Summarises the run records under <build dir>/runs.

    python3 perfbench/report.py

For each workload: the number of untraced runs, and for each end-to-end
metric its median and its spread, the distance between the first and the
third quartile as a share of the median, next to the metric's bound in
BENCHMARK.json. When traced runs exist, it also gives the tracing overhead:
the median of each end-to-end metric measured inside the traced runs
(`traced.<metric>`) against the untraced median, and the median of every
per-layer metric. A run whose generator fell more than LATE_MS behind its
schedule (`gen.late_p90_ms`) measured a backlog, not the system: it is
named and left out. Run from the repository root.
"""
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True
import build  # noqa: E402


LATE_MS = 20.0


def spread(values):
    if len(values) < 2:
        return float("nan")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    root = os.getcwd()
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    runs = [json.load(open(p)) for p in sorted(glob.glob(os.path.join(build.build_dir(root), "runs", "*.json")))]
    for w in bench["workloads"]:
        mine = [r for r in runs if r["workload"] == w["name"]]
        for r in mine:
            if r["metrics"].get("gen.late_p90_ms", 0.0) > LATE_MS:
                print("%s seed %d trace %d: generator %.1f ms late (p90), left out"
                      % (r["workload"], r["seed"], r["trace"], r["metrics"]["gen.late_p90_ms"]))
        mine = [r for r in mine if r["metrics"].get("gen.late_p90_ms", 0.0) <= LATE_MS]
        plain = [r for r in mine if r["trace"] == 0]
        traced = [r for r in mine if r["trace"] == 1]
        if not plain and not traced:
            continue
        bad = sum(1 for r in plain + traced if not r["correct"])
        print("%s: %d untraced runs, %d traced runs, %d incorrect" % (w["name"], len(plain), len(traced), bad))
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in plain if r["metrics"].get(m["name"]) is not None]
            tv = [r["metrics"]["traced." + m["name"]] for r in traced
                  if r["metrics"].get("traced." + m["name"]) is not None]
            line = "  %-18s" % m["name"]
            if vals:
                line += " median %12.4f %-6s spread %6.3f (bound %.2f)" % (
                    statistics.median(vals), m["unit"], spread(vals), m["bound"])
            if vals and tv:
                line += "  traced %12.4f, overhead %+6.1f%%" % (
                    statistics.median(tv), 100.0 * (statistics.median(tv) / statistics.median(vals) - 1))
            print(line)
        if traced:
            print("  per-layer medians over traced runs:")
            for m in bench["per_layer"]:
                vals = [r["metrics"][m["name"]] for r in traced if r["metrics"].get(m["name"]) is not None]
                if vals and any(vals):
                    print("    %-32s %14.3f %s" % (m["name"], statistics.median(vals), m["unit"]))


if __name__ == "__main__":
    main()
