#!/usr/bin/env python3
"""Benchmark of the spatial4n_spark engine: seeded workloads driven through
its public functions on one local Spark session at local[nproc].

    python3 perfbench/run.py --workload point_join --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One run is one fresh process. It generates the workload's inputs from
the seed (untimed, cached by seed and size), starts the Spark session
and makes the workload's preparation calls (the set-up), times the first
pass in that fresh session (cold), then runs warm passes in a closed loop
until ``--seconds`` have passed (three at least), each pass starting when
the last one ends. Every pass output is checked by code that does not use the
engine. The last stdout line is a JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics and ``--trace 1`` the per-layer ones, from a
traced run with Spark's event log on. ``--workload all`` runs every
workload untraced and traced, each in its own process, and prints both
tables and the tracing overhead.

Run from the repository root; everything the run writes goes under
``.perfbench_work/`` there.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MAIN_SEED = 1
# not used while the benchmark or a change is tuned: later gains are
# confirmed on this seed too
HELDOUT_SEED = 7919

# the base of every ratio the benchmark reports
RATIO_BASES = {
    "operators.refine_yield":
        "join output pairs / cell equi-join candidate rows (warm pass)",
    "operators.dissolve_exact_share":
        "dissolve groups settled exactly / dissolve groups",
    "checkpoint.bytes_written_per_input_byte":
        "tile-index parquet bytes / bucketed input parquet bytes",
}

# the first warm pass is often still warming up (JIT, worker reuse);
# the median of three leaves it out
MIN_WARM_PASSES = 3
DRIVER_MEM = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ session

def configure_env(run_dir: str, event_dir: str | None) -> None:
    """Keep the JVM, Spark and Python temp files inside the run
    directory, cap the driver heap, and turn the event log on for a
    traced run. Must run before the Spark gateway starts."""
    import tempfile
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{event_dir}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    # every JVM of the run (the Spark launcher and driver, ``java -version``):
    # temp files in the run directory and no /tmp/hsperfdata_* file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {c}" for c in confs] + ["pyspark-shell"])


def redirect_package_zip(run_dir: str) -> None:
    """session.get_spark ships the package to workers as a zip that
    session.package_zip builds under /tmp. Build the same archive inside
    the run directory instead, so a run writes only inside its checkout."""
    from spatial4n_spark import session

    def package_zip() -> str:
        pkg = os.path.join(ROOT, "spatial4n_spark")
        out = os.path.join(run_dir, "tmp", "spatial4n_spark_pkg.zip")
        if not os.path.exists(out):
            with zipfile.ZipFile(out, "w") as z:
                for dp, _, fs in os.walk(pkg):
                    for f in fs:
                        if f.endswith(".py"):
                            full = os.path.join(dp, f)
                            z.write(full, os.path.relpath(full, ROOT))
        return out
    session.package_zip = package_zip


def get_session(cpus: int):
    from spatial4n_spark.session import get_spark
    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every descendant
    process (JVM, Python daemon and workers) to end."""
    from pyspark import SparkContext

    import tracing
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        rest = tracing.tree_pids(os.getpid())[1:]
        if not rest:
            return
        if time.time() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


# ---------------------------------------------------------------- one run

def run_workload(name: str, seed: int, seconds: float, traced: bool,
                 spec: dict) -> dict:
    import tracing
    from workloads import WORKLOADS

    tracer = tracing.Tracer(traced)
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-{tracer.run_id}")
    event_dir = os.path.join(run_dir, "eventlog") if traced else None
    configure_env(run_dir, event_dir)
    redirect_package_zip(run_dir)
    machine = tracing.machine_context(ROOT)

    wl = WORKLOADS[name](seed, WORK, tracer)
    t0 = time.perf_counter()
    diag = wl.inputs()
    diag["input_gen_s"] = time.perf_counter() - t0

    cpus = machine["nproc"]
    warm, problems = [], []
    setup = cold = None
    attempted = failed = 0

    def one_pass(spark, group: str):
        nonlocal attempted, failed
        attempted += 1
        spark.sparkContext.setJobGroup(group, f"perfbench {name} {group}")
        try:
            with tracer.span("pass", group=group) as sp:
                result = wl.run_pass(spark, traced)
            bad = wl.check(result)
        except Exception:  # a failed pass is counted, the run goes on
            bad = ["pass raised:\n" + traceback.format_exc()]
        if bad:
            failed += 1
            problems.extend(f"{group}: {b}" for b in bad[:5])
            return None
        return sp["end"] - sp["start"]

    spark = None
    with tracing.RssSampler() as rss:
        try:
            tracer.phase = "setup"
            with tracer.span("setup") as sp:
                with tracer.span("session.start"):
                    spark = get_session(cpus)
                wl.prepare(spark)
            setup = sp["end"] - sp["start"]

            tracer.phase = "cold"
            cold = one_pass(spark, "cold")

            tracer.phase = "warm"
            deadline = time.perf_counter() + seconds
            while time.perf_counter() < deadline or len(warm) < MIN_WARM_PASSES:
                dt = one_pass(spark, f"warm-{len(warm)}")
                if dt is None:
                    break
                warm.append(dt)

            if traced:
                tracer.phase = "extras"
                try:
                    n, n_bad, bad = wl.traced_extras(spark)
                except Exception:  # counted like a failed pass
                    n, n_bad = 1, 1
                    bad = ["traced extras raised:\n" + traceback.format_exc()]
                attempted += n
                failed += n_bad
                problems.extend(bad)

        finally:
            if spark is not None:
                stop_session(spark)
            # keep the record, spans and event log; drop the temp dirs
            for d in ("tmp", "spark-local", "warehouse"):
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    warm_s = statistics.median(warm) if warm else float("nan")
    e2e = {
        "setup_s": (setup if setup is not None else float("nan"), "s", 1),
        # the first checked result of a fresh process: set-up plus the cold
        # pass (the cold pass alone spreads too widely between runs to bound)
        "first_result_s": (setup + cold if None not in (setup, cold)
                           else float("nan"), "s", 1),
        "cold_pass_s": (cold if cold is not None else float("nan"), "s", 1),
        "warm_pass_s": (warm_s, "s", len(warm)),
        "rows_per_s": (wl.rows / warm_s if warm else float("nan"), "1/s", len(warm)),
    }
    layers = {}
    if traced:
        groups = tracing.parse_event_logs(event_dir)
        layers = layer_metrics(wl, tracer, groups, len(warm), spec)
        layers["mem.peak_rss_mb"] = rss.peak_mb
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
    record = {
        "workload": name, "why": wl.why, "seed": seed, "traced": traced,
        "run_id": tracer.run_id, "seconds": seconds,
        "rows": {wl.rows_name: wl.rows},
        "output_ok": int(failed == 0 and attempted > 0),
        "failed_op_share": {"value": failed / max(attempted, 1),
                            "base": f"{attempted} operations attempted "
                                    "(passes, and tile-index jobs when traced)"},
        "attempted": attempted, "failed": failed, "problems": problems,
        "end_to_end": {k: {"value": v, "unit": u, "samples": n}
                       for k, (v, u, n) in e2e.items()},
        "warm_samples_s": warm,
        "peak_rss_mb": rss.peak_mb, "peak_rss_parts_mb": rss.peak_parts,
        "per_layer": layers, "inputs": diag, "machine": machine,
    }
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    return record


def layer_metrics(wl, tracer, groups: dict, n_warm: int, spec: dict) -> dict:
    """Every per-layer metric BENCHMARK.json declares; a layer the
    workload does not call reads 0."""
    import tracing

    def setup_span(span):
        return sum(tracer.durations(span, phase="setup"))

    vals = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
    vals.update({
        "session.start_s": setup_span("session.start"),
        "plans.plan_s": setup_span("plans.plan"),
        "functions.st_from_wkt_s": setup_span("functions.st_from_wkt"),
        "trace.cold_pass_s": sum(tracer.durations("pass", phase="cold")),
        "trace.warm_pass_s": statistics.median(
            tracer.durations("pass", phase="warm") or [0.0]),
    })
    warm_groups = [f"warm-{i}" for i in range(n_warm)]
    vals.update(wl.layer_metrics(groups, warm_groups))
    vals.update(wl.kernel_metrics())
    empty = {"counters": dict.fromkeys(tracing.SPARK_COUNTERS, 0.0)}
    for c in tracing.SPARK_COUNTERS:
        vals[f"spark.cold.{c}"] = groups.get("cold", empty)["counters"][c]
        vals[f"spark.warm.{c}"] = statistics.median(
            [groups.get(g, empty)["counters"][c] for g in warm_groups] or [0.0])
    return vals


# ------------------------------------------------------------- reporting

def contract_line(record: dict, spec: dict) -> dict:
    """The final stdout line: exactly the metrics BENCHMARK.json declares
    for this mode, each with its declared unit."""
    traced = record["traced"]
    declared = spec["per_layer"] if traced else spec["end_to_end"]
    source = record["per_layer"] if traced else {
        k: v["value"] for k, v in record["end_to_end"].items()}
    missing = [m["name"] for m in declared if m["name"] not in source]
    if missing:
        raise KeyError(f"run produced no value for {missing}")
    values = {m["name"]: float(source[m["name"]]) for m in declared}
    ok = record["output_ok"] == 1 and all(math.isfinite(v) for v in values.values())
    return {"correct": ok,
            "attempted": record["attempted"], "failed": record["failed"],
            "metrics": {m["name"]: {"value": v if math.isfinite(v) else 0.0,
                                    "unit": m["unit"]}
                        for m, v in zip(declared, values.values())}}


def print_table(record: dict, spec: dict) -> None:
    traced = record["traced"]
    print(f"# {record['workload']} seed={record['seed']} "
          f"{'traced' if traced else 'untraced'} run {record['run_id']}: "
          f"{record['why']}")
    m = record["machine"]
    print(f"# machine: nproc={m['nproc']} loadavg={m['loadavg']} "
          f"jdk={m.get('jdk')!r} pyspark={m['pyspark']} "
          f"control={json.dumps(m.get('machine_control'))}")
    print(f"# inputs: {json.dumps(record['inputs'])}")
    print(f"# output_ok={record['output_ok']} failed_op_share="
          f"{record['failed_op_share']['value']:.4g} "
          f"(base: {record['failed_op_share']['base']})")
    for p in record["problems"]:
        print(f"# problem: {p}")
    units = {d["name"]: d["unit"] for d in spec["per_layer"] + spec["end_to_end"]}
    for k, v in record["end_to_end"].items():
        print(f"{k:44s} {v['value']:14.6g} {v['unit']:6s} n={v['samples']}")
    for k, v in record["per_layer"].items():
        base = f"  base: {RATIO_BASES[k]}" if k in RATIO_BASES else ""
        print(f"{k:44s} {v:14.6g} {units.get(k, '')}{base}")


def run_all(seed: int, seconds: float, spec: dict) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    combined, ok, attempted, failed = {}, True, 0, 0
    for name in [w["name"] for w in spec["workloads"]]:
        lines = {}
        for traced in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(traced)]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            sys.stdout.write(res.stdout)
            if res.returncode != 0:
                sys.stderr.write(res.stderr[-4000:])
                return res.returncode
            lines[traced] = json.loads(res.stdout.strip().splitlines()[-1])
        for traced, line in lines.items():
            ok &= line["correct"]
            attempted += line["attempted"]
            failed += line["failed"]
            for k, v in line["metrics"].items():
                combined[f"{name}.{k}"] = v
        overhead = (lines[1]["metrics"]["trace.warm_pass_s"]["value"]
                    - lines[0]["metrics"]["warm_pass_s"]["value"])
        combined[f"{name}.trace_overhead_s"] = {"value": overhead, "unit": "s"}
        print(f"# {name}: tracing overhead {overhead:+.4f} s per warm pass "
              f"(traced minus untraced warm_pass_s)")
    print(json.dumps({"correct": bool(ok), "attempted": attempted,
                      "failed": failed, "metrics": combined}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=MAIN_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    # the engine is imported from the checkout this script sits in
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import spatial4n_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(spatial4n_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine imported from {spatial4n_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, seconds, spec)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names} or all")
    record = run_workload(args.workload, args.seed, seconds, bool(args.trace),
                          spec)
    line = contract_line(record, spec)
    print_table(record, spec)
    print(json.dumps(line))
    # a run whose outputs failed a check reports them, then fails
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
