"""Runs one benchmark workload once and prints the result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program first if needed (see
build.py), runs the workload in a fresh JVM with the parameters from
perfbench/workloads.json, writes the full run record to
<build dir>/runs/<workload>-seed<n>-trace<t>.json and prints, as the last
stdout line, a JSON object with `correct`, `attempted`, `failed` and the
metrics BENCHMARK.json lists: its end-to-end metrics with --trace 0, its
per-layer metrics with --trace 1. A traced run also writes its span file
and self-time table under <build dir>/work/<workload>-seed<n>-trace1/trace/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("[perfbench] %s" % msg, file=sys.stderr)
    sys.exit(2)


def params(spec):
    """The --set pairs for the JVM: the workload's own parameters and the
    core count, plus, for a batch workload, the query list with each
    query's family and expected row count."""
    p = dict(spec["params"])
    p["cores"] = len(os.sched_getaffinity(0))
    if p["kind"] == "batch":
        families = p.pop("queries")
        expected = json.load(open(os.path.join(HERE, p.pop("expected_rows_file"))))
        p["data"] = os.path.join(HERE, p["data"])
        p["queries"] = ",".join(families)
        p["families"] = ",".join("%s:%s" % kv for kv in families.items())
        p["expected_rows"] = ",".join("%s:%d" % (n, expected[n]) for n in families if n in expected)
    return {k: str(v) for k, v in p.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    root = os.getcwd()
    try:
        bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
        workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    except (OSError, ValueError) as e:
        fail("cannot read the benchmark definition: %s" % e)
    if a.workload not in workloads:
        fail("unknown workload %s" % a.workload)
    try:
        cp = build.build(root)
        p = params(workloads[a.workload])
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        fail(str(e))

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    out = build.build_dir(root)
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    heap = p.pop("heap")
    cmd = ["java"] + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS] + [
        "-Xms" + heap, "-Xmx" + heap, "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", ":".join(cp), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]
    for k, v in sorted(p.items()):
        cmd += ["--set", "%s=%s" % (k, v)]
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                           timeout=JVM_TIMEOUT_S, universal_newlines=True)
    except subprocess.TimeoutExpired:
        fail("workload did not finish within %d s" % JVM_TIMEOUT_S)
    finally:
        for d in ("stream", "scale", "spark-local", "tmp", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        fail("workload exited with code %d" % r.returncode)
    rec = json.loads(lines[-1])
    measured = rec["metrics"]

    os.makedirs(os.path.join(out, "runs"), exist_ok=True)
    with open(os.path.join(out, "runs", tag + ".json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "params": p, **rec}, f, indent=1, sort_keys=True)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    not_applicable = []
    for m in wanted:
        v = measured.get(m["name"])
        if v is None:
            if not a.trace:
                fail("end-to-end metric %s was not measured" % m["name"])
            not_applicable.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if not_applicable:
        print("[perfbench] not measured on %s, reported as 0: %s"
              % (a.workload, " ".join(not_applicable)), file=sys.stderr)
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
