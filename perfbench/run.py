#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and a query mix, run from the repository root.

    python3 perfbench/run.py --workload trickle_cow --seed 1 --seconds 20 --trace 0

Builds the program (perfbench/build.py), generates the workload's inputs
from the seed (perfbench/gen.py), drives them through the program's public
calls in one JVM (perfbench/src), checks the outputs against ground truth,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, measured from outside the program with spans around its
calls and a Spark listener.

Workloads (see perfbench/DESIGN.md):
  trickle_cow  small feed files, two countries per epoch, copy-on-write fact
  query_mix    a fixed list of registered queries over a TPC-H-like sf0.01
               snapshot, materialised with the noop sink

Exit code 0 means the run finished and every output was correct.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

MIX_DATA = os.path.join(HERE, "data", "sf0.01")
MIX_HASHES = os.path.join(HERE, "expected_hashes.json")
# query_mix runs these registered queries, in this order, every pass
MIX_QUERIES = ("q_pipeline_scrub", "q_pipeline_e2e", "q_video_neardup_tiered", "q_agg_battery",
               "q_cdc_lookup_flag")
CDC = ("trickle_cow",)
WORKLOADS = CDC + ("query_mix",)
JVM_MEM = "2g"
TIME_LIMIT_S = 170

# A run of --seconds S times S / SECONDS_PER_ITER closed-loop iterations (CDC
# epochs or query-mix passes). They follow WARMUP untimed ones, which let the
# fresh JVM's JIT settle. The divisors size a whole run, set-up and warm-up
# included, to about a minute on 4 cores at S = 20. The counts depend on S
# alone, so every commit does the same work.
SECONDS_PER_ITER = {"trickle_cow": 2.5, "query_mix": 10.0}
WARMUP = {"trickle_cow": 8, "query_mix": 2}

END_TO_END = [("setup_s", "s"), ("epoch_p50_s", "s"), ("storage_amp", "ratio")]
_CALL = ["_s", ".jobs", ".tasks", ".task_s", ".shuffle_bytes", ".spill_bytes", ".rows_in", ".rows_out"]
PER_LAYER = (
    [f"{n}{s}" for n in ("ChangeFeed.readNew", "BookingFlow.transform", "ChangeFeed.commit")
     for s in ("_s", ".jobs")]
    + [f"{n}{s}" for n in ("KeyedTable.merge", "BookingFlow.refreshAggregate",
                           "BookingFlow.loadCustomerDim") for s in _CALL]
    + ["Orchestrator.runPipeline_s", "KeyedTable.rows_written_per_change", "KeyedTable.bytes_written",
       "Aggregations.rows_read_per_change", "Aggregations.changed_country_frac",
       "epoch.driver_s", "epoch.core_util"]
    + [f"queries.{q}.{m}" for q in MIX_QUERIES for m in ("call_s", "exec_s", "jobs")]
    + ["Td.install.videohash_s"]
    + ["trace.epoch_traced_s", "trace.epoch_untraced_s", "trace.overhead_frac",
       "jvm.gc_s", "jvm.heap_after_gc_peak_mb"]
)


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(".rows_in") or name.endswith(".rows_out"):
        return "rows"
    if name.endswith("_per_change"):
        return "rows/change"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name.endswith("core_util"):
        return "ratio"
    return "count"


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def iterations(workload, seconds):
    return max(1, int(round(seconds / SECONDS_PER_ITER[workload])))


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(classes, args, tmp):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # a fixed-size heap and the parallel collector keep run-to-run spread low
    return (["java", f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])


# ---- correctness ---------------------------------------------------------

def read_rows(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
    return list(zip(*cols)) if cols else []


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def compare(label, actual_rows, expected, key=0):
    """Keyed comparison of a snapshot with its ground truth; returns errors."""
    errs = []
    got = {}
    for r in actual_rows:
        if r[key] in got:
            errs.append(f"{label}: duplicate key {r[key]!r}")
        got[r[key]] = r
    if len(got) != len(expected):
        errs.append(f"{label}: {len(got)} rows, expected {len(expected)}")
    bad = 0
    for k, exp in expected.items():
        row = got.get(k)
        if row is None or len(row) != len(exp) or not all(same(a, b) for a, b in zip(row, exp)):
            bad += 1
            if bad <= 3:
                errs.append(f"{label}: key {k!r}: got {row}, expected {exp}")
    if bad:
        errs.append(f"{label}: {bad} of {len(expected)} rows differ")
    return errs


def check_cdc(run_dir, g):
    errs = []
    errs += compare("fact", read_rows(f"{run_dir}/out/fact"), gen.expected_fact(g))
    errs += compare("dim", read_rows(f"{run_dir}/out/dim"), gen.expected_dim(g))
    errs += compare("agg", read_rows(f"{run_dir}/out/agg"), gen.expected_agg(g))
    return errs


def check_mix(res):
    with open(MIX_HASHES) as f:
        expected = json.load(f)
    errs = []
    for q, h in expected.items():
        if res["hashes"].get(q) != h:
            errs.append(f"query_mix: {q} hash {res['hashes'].get(q)} != expected {h}")
    return errs


# ---- metrics -------------------------------------------------------------

def end_to_end(res):
    return {
        "setup_s": res["setup_s"],
        "epoch_p50_s": statistics.median(res["epoch_s"]),
        "storage_amp": res["root_bytes"] / res["fresh_bytes"],
    }


def trace_overhead(ep):
    """A traced run traces its odd iterations. Each traced one with an
    untraced neighbour on both sides is compared with their mean, so JVM
    warm-up over the run does not read as tracing cost."""
    traced = ep[1::2]
    ratios = [ep[i] / ((ep[i - 1] + ep[i + 1]) / 2) for i in range(1, len(ep) - 1, 2)]
    return {"trace.epoch_traced_s": statistics.median(traced),
            "trace.epoch_untraced_s": statistics.median(ep[0::2]),
            "trace.overhead_frac": statistics.median(ratios) - 1 if ratios else 0.0}


def per_layer(res, manifest):
    layers = dict(res.get("layers", {}))
    if manifest:
        layers["Aggregations.changed_country_frac"] = statistics.mean(
            e["changed_country"] for e in manifest["epochs"])
    layers.update(trace_overhead(res["epoch_s"]))
    return {n: float(layers.get(n, 0.0)) for n in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    classes = build.build(root)
    n_iter = iterations(a.workload, a.seconds)
    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        manifest = g = None
        if a.workload in CDC:
            t = time.time()
            input_dir = os.path.join(run_dir, "input")
            manifest, g = gen.generate(input_dir, a.workload, a.seed, WARMUP[a.workload] + n_iter)
            log(f"generated {a.workload} seed {a.seed}: {len(manifest['epochs'])} epochs "
                f"in {time.time() - t:.1f}s")
            ep = manifest["epochs"]
            shares = {k: statistics.mean(e[k] for e in ep)
                      for k in ("insert", "update", "bad", "changed_country")}
            print("input shares: " + " ".join(f"{k}={v:.4f}" for k, v in shares.items()), flush=True)
        else:
            input_dir = MIX_DATA
        tmp = os.path.join(run_dir, "jvm-tmp")
        os.makedirs(tmp)
        cmd = jvm_cmd(classes, [a.workload, run_dir, input_dir, cores(), a.trace, WARMUP[a.workload],
                                n_iter, *MIX_QUERIES], tmp)
        with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
            try:
                # Spark's local dirs stay inside the run directory even when the
                # environment names others
                env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
                r = subprocess.run(cmd, stdout=jl, stderr=jl, env=env,
                                   timeout=max(10, TIME_LIMIT_S - (time.time() - started)))
                code = r.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(os.path.join(run_dir, "jvm.log")) as jl:
                log("".join(jl.readlines()[-40:]))
            log(f"benchmark JVM failed: {code}")
            sys.exit(2)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        log("timed iterations (s): " + " ".join(f"{x:.3f}" for x in res["epoch_s"]))

        errors = list(res["errors"])
        errors += check_cdc(run_dir, g) if a.workload in CDC else check_mix(res)
        for e in errors:
            log("ERROR", e)
        if a.trace and os.path.exists(os.path.join(run_dir, "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(root, build.BUILD_DIR, f"spans-{a.workload}.jsonl"))
        if a.trace:
            vals = per_layer(res, manifest)
            print(f"trace overhead: traced epochs {vals['trace.epoch_traced_s']:.4f}s, "
                  f"untraced {vals['trace.epoch_untraced_s']:.4f}s", flush=True)
            metrics = {n: {"value": vals[n], "unit": unit_of(n)} for n in PER_LAYER}
        else:
            metrics = {n: {"value": end_to_end(res)[n], "unit": u} for n, u in END_TO_END}
        # the output check is one more operation; a mismatch fails it
        correct = not errors
        mismatch = len(errors) > len(res["errors"])
        print(json.dumps({"correct": correct, "attempted": res["attempted"] + 1,
                          "failed": res["failed"] + mismatch, "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
