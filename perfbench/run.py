#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program if its sources changed, generates the workload's
inputs from the seed, runs them through the program in one JVM on
local[cores] as a single-client closed loop, checks every output, and
prints as its last line one JSON object: {correct, attempted, failed,
metrics}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones (and writes the spans to .bench_trace/). Exits nonzero
when an output is wrong or the program could not run.
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
import metrics  # noqa: E402
import oracle  # noqa: E402

# The registry workload: SparkEntry.queries names, chosen in README.md. A
# query missing from the registry or the oracle fails the run at set-up.
REGISTRY_QUERIES = ["q86_label_propagation", "q84_clustering_coefficient",
                    "q319_partition_ttl", "q31_ngram_jaccard"]
# Ingest: WARMUP_EPOCHS untimed epochs, then timed epochs, each of ROUNDS
# rounds; an epoch is one pass. MAX_EPOCHS caps the timed passes.
ROUNDS, WARMUP_EPOCHS, MAX_EPOCHS = 3, 2, 5
RUN_LIMIT_S = 170      # whole run, build excluded
JVM_HEAP = "3g"

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in _BENCH["end_to_end"] + _BENCH["per_layer"]}
PER_LAYER = [m["name"] for m in _BENCH["per_layer"]]


def host_stamp():
    """Cores, 1-minute load and the (steal, total) cpu jiffies."""
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return {"cores": len(os.sched_getaffinity(0)), "load": load,
            "steal": f[7], "total": sum(f)}


def prepare(workload, seed, work):
    """Writes the inputs and returns (spec fields, ingest expectations)."""
    if workload == "ingest":
        epochs, expect = [], {}
        for k in range(WARMUP_EPOCHS + MAX_EPOCHS):
            warmup = k < WARMUP_EPOCHS
            name = f"w{k + 1}" if warmup else f"e{k - WARMUP_EPOCHS + 1}"
            inputs = os.path.join(work, "inputs", name)
            expect[name] = gen.write_epoch(seed, k, ROUNDS, inputs)
            epochs.append({"name": name, "warmup": warmup, "rounds": ROUNDS,
                           "inputs": inputs,
                           "dir": os.path.join(work, "ingest", name),
                           "landing_bytes": oracle.dir_bytes(inputs)})
        return {"kind": "ingest", "systems": gen.SYSTEMS, "epochs": epochs,
                "first_value": gen.FIRST_VALUE}, expect
    data = os.path.join(work, "data")
    gen.write_registry(seed, data)
    return {"kind": "registry", "data": data,
            "results": os.path.join(work, "results"),
            "queries": REGISTRY_QUERIES}, None


def launch(classpath, spec_path, work, deadline):
    cmd = [build.java(), *build.ADD_OPENS, f"-Xmx{JVM_HEAP}",
           "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main", spec_path]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "program.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    return code


def check(spec, prog, expect):
    """{operation name: reason} for every operation whose output is wrong,
    and the rows each operation delivered."""
    wrong, rows = {}, {}
    if spec["kind"] == "registry":
        for q, (n, why) in oracle.check_registry(
                spec["data"], spec["results"], spec["queries"],
                spec["cores"]).items():
            rows[q] = n
            if why:
                wrong[q] = why
        return wrong, rows
    steps = {o["name"]: o for o in prog["ops"]}
    done = [e["name"] for e in spec["epochs"] if e["warmup"]] + \
        prog.get("epochs_done", [])
    for e in spec["epochs"]:
        if e["name"] not in done:
            continue
        bad = oracle.check_ingest(e["dir"], expect[e["name"]])
        for system, ex in expect[e["name"]].items():
            for rnd, want in enumerate(ex["counts"]):
                name = f"step/{system}/{e['name']}.{rnd}"
                got = steps.get(name, {}).get("rows")
                rows[name] = want
                if system in bad:
                    wrong[name] = bad[system]
                elif got != want:
                    wrong[name] = f"committed {got} rows, {want} expected"
    return wrong, rows


def write_amp(spec, prog):
    """Output bytes on disk (data, checksums, sync.json) over the landing
    bytes of the increments, over the timed epochs."""
    done = set(prog.get("epochs_done", []))
    epochs = [e for e in spec["epochs"] if e["name"] in done]
    out = sum(oracle.dir_bytes(os.path.join(e["dir"], d))
              for e in epochs for d in ("out", "table"))
    return out / sum(e["landing_bytes"] for e in epochs)


def trace_metrics(prog, rows):
    """Per-layer metrics of a traced run: the program's per-pass layer
    sums plus the two ratios that need the harness's view."""
    layers = {k: v for k, v in prog.get("layers", {}).items() if k != "op.wall_s"}
    per_pass = {}
    for o in prog["ops"]:
        if o["traced"] and o["pass"] >= 0:
            per_pass[o["pass"]] = per_pass.get(o["pass"], 0) + rows.get(o["name"], 0)
    rows_out = statistics.median(per_pass.values()) if per_pass else 0
    layers["sources.rows_read_per_row_out"] = (
        layers.get("sources.rows_read", 0.0) / rows_out if rows_out else 0.0)
    layers["trace.overhead_frac"] = metrics.overhead(prog["passes"])
    return {k: layers[k] for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("ingest", "registry"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.build()
    start = time.time()
    host = host_stamp()
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fields, expect = prepare(a.workload, a.seed, work)
        gen_s = time.time() - start
        spec = {"work": work, "seconds": a.seconds, "trace": bool(a.trace),
                "cores": host["cores"], **fields}
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        spawn = time.time()
        code = launch(classpath, spec_path, work, start + RUN_LIMIT_S)
        prog_path = os.path.join(work, "program.json")
        if code != 0 or not os.path.exists(prog_path):
            with open(os.path.join(work, "program.log")) as fh:
                sys.stderr.write(fh.read()[-3000:])
            why = "timed out" if code is None else f"exited {code}"
            raise SystemExit(f"perfbench: program {why}")
        with open(prog_path) as fh:
            prog = json.load(fh)
        wrong, rows = check(spec, prog, expect)
        attempted, failed, timed = metrics.account(prog["ops"], wrong)
        for name, why in sorted(wrong.items()):
            print(f"perfbench: wrong output {name}: {why}", file=sys.stderr)
        end = host_stamp()
        stamp = {"workload": a.workload, "seed": a.seed, "cores": host["cores"],
                 "load_start": host["load"], "gen_s": round(gen_s, 3),
                 "steal_frac": round((end["steal"] - host["steal"]) /
                                     max(1, end["total"] - host["total"]), 4)}
        if a.trace:
            result = {k: {"value": v, "unit": UNITS[k]}
                      for k, v in trace_metrics(prog, rows).items()}
            trace_dir = os.path.join(root, ".bench_trace")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({**stamp, "layers": result, "spans": prog.get("spans", [])}, fh)
        else:
            e2e, extra = metrics.end_to_end(
                prog["setup_end_ms"] / 1000.0 - spawn, prog["passes"], timed,
                lambda o: rows.get(o["name"], 0), prog["heap_peak_mb"])
            result = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
            if a.workload == "ingest":
                extra["write_amp"] = write_amp(spec, prog)
            extra["fail_frac"] = failed / attempted
            extra["pass_walls"] = [round(p["wall_s"], 3) for p in prog["passes"]]
            by_op = {}
            for o in timed:  # per query, or per ingest table
                by_op.setdefault(o["name"].rsplit("/", 1)[0] if a.workload == "ingest"
                                 else o["name"], []).append(o["wall_s"])
            extra["op_p50"] = {k: round(statistics.median(v), 3)
                               for k, v in by_op.items()}
            stamp.update(extra)
        print("perfbench: " + json.dumps(stamp))
        correct = failed == 0 and len(timed) > 0
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": result}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
