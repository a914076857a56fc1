#!/usr/bin/env python3
"""The repo benchmark: the Excel→SQL→Hyper/xlsx batch job and a mix of
gate queries, each measured end to end and, when traced, layer by layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 16 --trace 0

Workloads (see README.md beside this file):
  etl        `Pipeline.run` over two workbooks into a `.hyper` extract and
             an `.xlsx` file: small aggregates, a positional concat and
             row-level joins fanned out four times.
  gates_mix  five gate queries through `SparkEntry.queries` into `noop`
             sinks: streaming, iterative and text gates.

A run compiles the sources under `src/main` with the harness in
`perfbench/scala` (once per source tree, cached in `perfbench/.build`),
writes the inputs, and starts one JVM with a `local[<cores>]` session. It
sets up three times, runs the first pass, warms up, measures passes for
`--seconds`, then checks the outputs against DuckDB. The last line of
standard output is one JSON object: with `--trace 0` the end-to-end
metrics, with `--trace 1` the per-layer ones (the span tree goes to
`perfbench/.out/<workload>-<seed>-spans.json`). The line before it,
prefixed `report `, holds every figure of the run. The exit code is 0
only when every operation succeeded and every output matched.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

SETUPS = 3
# unmeasured passes after the first one, as a share of --seconds: pass
# times keep falling for several passes while the JIT compiles
WARMUP_SHARE = 0.75
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def scala_files(d):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs
                  if f.endswith((".scala", ".java")))


def build(jars):
    """Compile src/main and the harness into a directory keyed by their
    content; reuse it when nothing changed."""
    main = os.path.join(ROOT, "src", "main", "scala")
    sources = scala_files(main)
    if not sources:
        fail(f"no sources under {os.path.relpath(main, ROOT)}; run from the root of a checkout")
    sources += scala_files(os.path.join(HERE, "scala"))
    resources = os.path.join(ROOT, "src", "main", "resources")
    digest = hashlib.sha256()
    for f in sources + sorted(os.path.join(r, f) for r, _, fs in os.walk(resources) for f in fs):
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(HERE, ".build", digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + sources
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    # keep only the newest build
    for d in os.listdir(os.path.join(HERE, ".build")):
        p = os.path.join(HERE, ".build", d)
        if p not in (tmp, out):
            shutil.rmtree(p, ignore_errors=True)
    os.rename(tmp, out)
    return out


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, work, config, deadline):
    conf_path = os.path.join(work, "config.json")
    with open(conf_path, "w") as f:
        json.dump(config, f)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            f"-Dderby.system.home={work}",
            "-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main", conf_path]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        return None, f"JVM exit {code}:\n{tail}"
    with open(config["result"]) as f:
        return json.load(f), None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def metric_units(kind):
    """(name, unit) of every `kind` metric BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(list(workloads.ETL) + ["gates_mix"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spans = os.path.join(HERE, ".out", f"{args.workload}-{args.seed}-spans.json")
    n_cores = cores()
    t_start = time.monotonic()
    try:
        config = {
            "seed": args.seed, "seconds": args.seconds,
            "warmup": args.seconds * WARMUP_SHARE,
            "trace": bool(args.trace), "cores": n_cores, "setups": SETUPS,
            "work": work, "result": os.path.join(work, "result.json"), "spans": spans,
        }
        if args.workload in workloads.ETL:
            n_wb, n_orders, _ = workloads.ETL[args.workload]
            slices = datagen.etl_slices(os.path.join(work, "slices"), args.seed, n_wb,
                                        n_orders, args.workload)
            config["etl"] = workloads.etl_config(args.workload, slices)
            inputs = {s: sum(r[s] for _, _, r in slices) for s in ("orders", "lineitem")}
        else:
            data = os.path.join(work, "data")
            inputs = datagen.tables(data)
            config["gates"] = {"data": data, "names": list(workloads.GATES),
                               "family": workloads.GATES}
        t_jvm = time.monotonic()
        result, err = run_jvm(classes, jars, work, config, deadline)
        t_check = time.monotonic()
        if result is None:
            print(f"perfbench: {err}", file=sys.stderr)
            sys.exit(1)

        inputs_mb = sum(os.path.getsize(f) for f in glob.glob(
            os.path.join(work, f"setup{SETUPS}", "wb*.xlsx") if args.workload in workloads.ETL
            else os.path.join(work, "data", "*.parquet"))) / 2 ** 20

        # ---- checks
        if args.workload in workloads.ETL:
            checks = check.etl(args.workload, slices, result["checks"])
        else:
            c = result["checks"]
            checks = check.gates(c["data"], c["gate_out"], c["oracle"])
            checks += [(f["name"] + " (set-up)", f["error"]) for f in c["setup_failures"]]
        bad_checks = [(n, p) for n, p in checks if p]
        for n, p in bad_checks:
            print(f"perfbench: check failed: {n}: {p}", file=sys.stderr)

        ops = result["ops"]
        plain = [o for o in ops if not o["traced"] and o["pass"] >= 0]
        failed_ops = [o for o in ops if not o["ok"]]
        for o in failed_ops:
            print(f"perfbench: {o['name']} failed: {o['error']}", file=sys.stderr)
        attempted = len(ops) + len(checks)
        failed = len(failed_ops) + len(bad_checks)

        secs = [o["s"] for o in plain if o["ok"]]
        op_medians = {n: median([o["s"] for o in plain if o["name"] == n and o["ok"]])
                      for n in sorted({o["name"] for o in plain})}
        wall = sum(op_medians.values())
        report = {
            "workload": args.workload, "seed": args.seed, "cores": n_cores,
            "wall_s": wall,
            "setup_s": median([r["total_s"] for r in result["setup_rounds"]])
                       + result["first_pass_s"],
            "op_p50_s": median(secs),
            "op_p90_s": (statistics.quantiles(secs, n=10, method="inclusive")[8]
                         if len(secs) > 1 else median(secs)),
            # after set-up and the first pass: a fixed amount of work, so
            # the figure does not depend on how many passes the window held
            "live_heap_mb": result["live_heap_mb"][0],
            "live_heap_growth_mb_per_pass": (result["live_heap_mb"][-1] - result["live_heap_mb"][0])
                                            / max(1, len(result["live_heap_mb"]) - 1),
            "failed_frac": failed / attempted,
            "cotenant_frac": result["cotenant_frac"],
            "samples": len(secs),
            "pass_s": [p["s"] for p in result["passes"]],
            "op_medians": op_medians,
            "phases_s": {"inputs": t_jvm - t_start, "jvm": t_check - t_jvm,
                         "check": time.monotonic() - t_check},
            "setup_rounds": result["setup_rounds"],
            "fixtures_s": result["fixtures"],
            "first_pass_s": result["first_pass_s"],
        }
        if args.workload in workloads.ETL:
            out_rows = sum(t["rows"] for t in result["checks"]["tables"])
            report.update({
                "rows_per_s": (sum(inputs.values()) + out_rows) / wall,
                "out_mb": result["checks"]["out_bytes"] / 2 ** 20,
                "input_rows": inputs, "output_rows": out_rows,
            })
        else:
            report["input_rows"] = inputs
        report["input_mb"] = inputs_mb
        if args.trace:
            report["layers"] = result["layers"]
            report["spans"] = os.path.relpath(spans, ROOT)
        print("report " + json.dumps(report))

        # a layer the workload does not use reads 0
        metrics = ({n: {"value": result["layers"].get(n, 0.0), "unit": u}
                    for n, u in metric_units("per_layer")} if args.trace else
                   {n: {"value": report[n], "unit": u} for n, u in metric_units("end_to_end")})
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
