"""logspark benchmark: backfill and ingest ticks, end to end and per layer.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object {correct, attempted, failed, metrics}; the line before it is a report
with every raw sample, the seed, the host fingerprint and the named metrics
of the metric map (perfbench/METRICS.md).

Workloads (each a closed loop with one client):
- backfill: every operation is one non-incremental ``pipeline.run`` over a
  many-file transcripts table and one ``dedup_tick`` over a whole documents
  table (the agents' first pass over history).
- ingest_ticks: every operation lands one small transcripts file and one
  documents file, then runs ``pipeline.run(incremental=True)`` and
  ``dedup_tick``; the next file lands after both commit.

``--trace 0`` starts one JVM pinned to the core budget (at most 4 CPUs) and
runs a fixed number of operations. Between them it pins the same JVM's
process tree to one CPU and runs a route operation alone: the two levels of
the scaling pair alternate.
``--trace 1`` runs the workload in a JVM with Spark's event log on and prints
the per-layer metrics, with the tracing overhead against this checkout's
untraced JVM that the same command runs first.

Every file the benchmark writes lives under ``.perfbench/`` in the working
directory; generated inputs are cached there by (seed, size).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")

WORKLOADS = ("backfill", "ingest_ticks")
PAIR = (1, 4)  # scaling_eff_1to4 levels
DRIVER_MEM_MB = 1024
RUN_BUDGET_S = 165  # every worker of one command ends by then (inputs excluded)

# Sizes. backfill: Spark packs small files into 32 MB splits at 4 MB open
# cost each, 8 files a split, so 64 files give the parse stage 8 tasks, two
# full waves on 4 cores. 128 files gave 16 tasks but a lower share of
# parse-to-route work in each run (perfbench/METRICS.md).
BACKFILL = {"files": 64, "turns_per_file": 1_500, "doc_files": 8, "docs_per_file": 150}
INGEST = {"turns_per_file": 2_000, "docs_per_file": 100}
# Measured operations per run, per second of --seconds, at the full core
# budget and at one CPU; fixed counts make every run measure the same
# operation sequence.
OPS_PER_S = {"backfill": (0.1, 0.05), "ingest_ticks": (0.15, 0.1)}
MIN_OPS = (2, 1)
# Unmeasured operations first, at the full core budget and then at one CPU:
# the JIT still compiles through them, and the first operation pinned to one
# CPU runs up to twice as long as the next. Backfill's one-CPU operation
# takes 8-15 s, so it has no unmeasured one.
WARM_OPS = {"backfill": (1, 0), "ingest_ticks": (1, 1)}
END_TO_END = ("setup_s", "turns_per_s", "scaling_eff_1to4", "route_tick_p50_s", "dedup_tick_p50_s", "peak_rss_mb")


def host_fingerprint() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30).stderr
        java = next((line for line in out.splitlines() if " version " in line), "unknown")
    except (OSError, subprocess.SubprocessError):
        java = "unknown"
    import pyspark

    return {
        "cores": len(os.sched_getaffinity(0)),
        "cpu_ids": sorted(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "machine": platform.machine(),
    }


def driver_mem(host: dict) -> str:
    """Spark's driver heap, clamped to a quarter of physical RAM."""
    return f"{min(DRIVER_MEM_MB, host['ram_mb'] // 4)}m"


# ---------------------------------------------------------------------------
# inputs and their expected outputs
# ---------------------------------------------------------------------------


def prepare_inputs(workload: str, seed: int, steps: int) -> dict:
    """Generate (or reuse) the workload's inputs and their expected outputs;
    ingest_ticks stages `steps` files of each table."""
    from perfbench import checks, inputs

    root = os.path.join(WORK, "inputs")

    def build_warm(d):  # one tick-sized file of each table, seed-independent
        inputs.transcript_files(os.path.join(d, "transcripts"), 0, 1, INGEST["turns_per_file"])
        inputs.document_files(os.path.join(d, "documents"), 0, 1, INGEST["docs_per_file"])
        return {}

    if workload == "backfill":
        s = BACKFILL

        def build(d):
            tdir = os.path.join(d, "transcripts")
            files = inputs.transcript_files(tdir, seed, s["files"], s["turns_per_file"])
            docs = inputs.document_files(os.path.join(d, "documents"), seed, s["doc_files"], s["docs_per_file"])
            return {"expected": checks.expected_routes(files), "pairs": checks.expected_pairs(docs)}

        key = f"backfill-s{seed}-t{s['files']}x{s['turns_per_file']}-d{s['doc_files']}x{s['docs_per_file']}"
    else:
        s = INGEST

        def build(d):
            tfiles = inputs.transcript_files(os.path.join(d, "transcripts"), seed, steps, s["turns_per_file"])
            docs = inputs.document_files(os.path.join(d, "documents"), seed, steps, s["docs_per_file"])
            per_file = {os.path.basename(f): checks.expected_routes([f]) for f in tfiles}
            return {"expected_per_file": per_file, "pairs": checks.expected_pairs(docs)}

        key = f"ingest-s{seed}-n{steps}-t{s['turns_per_file']}-d{s['docs_per_file']}"
    d, meta = inputs.cached(root, key, build)
    warm, _ = inputs.cached(root, f"warm-t{INGEST['turns_per_file']}-d{INGEST['docs_per_file']}", build_warm)
    return {"dir": d, "warm": warm, "meta": meta}


# ---------------------------------------------------------------------------
# child JVMs
# ---------------------------------------------------------------------------


def run_worker(spec: dict, cpus: list[int], deadline: float) -> dict:
    """Run worker.py in a fresh process pinned to `cpus` and return its
    result. Raises on failure, or when the worker is still running at
    `deadline` (epoch seconds)."""
    os.makedirs(spec["dirs"]["tmp"], exist_ok=True)
    spec_path = os.path.join(WORK, "run", f"spec-{spec['name']}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=spec["dirs"]["tmp"],
        SPARK_LOCAL_DIRS=os.path.join(spec["dirs"]["tmp"], "spark-local"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONWARNINGS="ignore",
    )
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable, os.path.join(HERE, "worker.py"), spec_path]
    log_path = os.path.join(WORK, "run", f"worker-{spec['name']}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=os.getcwd(), start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_group(proc)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"worker {spec['name']} exited with {rc}:\n{tail}")
    with open(spec["out"]) as f:
        return json.load(f)


def _stop_group(proc: subprocess.Popen) -> None:
    """Terminate whatever is left of the worker's process group (the JVM and
    its Python daemon) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        end = time.time() + 10
        try:
            os.killpg(proc.pid, sig)
            while time.time() < end:
                os.killpg(proc.pid, 0)
                time.sleep(0.1)
        except ProcessLookupError:
            break  # the whole group is gone
    proc.wait(timeout=10)


def make_spec(name: str, workload: str, inp: dict, cpus: list[int], n_ops: int, n_one_core: int, trace: bool, mem: str) -> dict:
    work = os.path.join(WORK, "run", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return {
        "name": name,
        "workload": workload,
        "cores": len(cpus),
        "cpus": cpus,
        "driver_mem": mem,
        "n_warm": WARM_OPS[workload][0],
        "n_ops": n_ops,
        "n_one_core_warm": WARM_OPS[workload][1] if n_one_core else 0,
        "n_one_core_ops": n_one_core,
        "one_core_cpu": cpus[-1],
        "trace": trace,
        "dirs": {
            "work": work,
            "tmp": os.path.join(work, "tmp"),
            "eventlog": os.path.join(work, "eventlog"),
            "inputs": inp["dir"],
            "warm": inp["warm"],
        },
        "out": os.path.join(work, "result.json"),
    }


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it, or None when
    there are too few samples for one."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11  # index of the sample with exactly ten above it
    return {"value": sorted(samples)[k], "percentile": round(100 * (k + 1) / n, 1), "n": n}


def workload_turns(workload: str) -> int:
    """Turns one route operation reads."""
    if workload == "backfill":
        return BACKFILL["files"] * BACKFILL["turns_per_file"]
    return INGEST["turns_per_file"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "logspark", "plans", "pipeline.py")):
        print(f"logspark package not found next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import checks, eventlog

    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    tmp = os.path.join(WORK, "run", "tmp")
    os.makedirs(tmp)
    # every JVM started from here keeps its files in the checkout: no
    # hsperfdata under /tmp, and java.io.tmpdir inside the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    host = host_fingerprint()
    mem = driver_mem(host)
    rate = OPS_PER_S[args.workload]
    n_ops = max(MIN_OPS[0], round(args.seconds * rate[0]))
    n_one = max(MIN_OPS[1], round(args.seconds * rate[1]))
    t_gen = time.perf_counter()
    inp = prepare_inputs(args.workload, args.seed, steps=sum(WARM_OPS[args.workload]) + n_ops + n_one)
    gen_s = time.perf_counter() - t_gen

    cpus = host["cpu_ids"]
    n_main = min(PAIR[1], len(cpus))
    report: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "driver_mem": mem,
        "input_gen_s": gen_s,
        "input_dir": os.path.relpath(inp["dir"], os.getcwd()),
    }
    attempted = failed = 0
    problems: list[str] = []
    turns = workload_turns(args.workload)

    def checked(result: dict, ops: list[dict], dedup: bool) -> None:
        nonlocal attempted, failed
        n, bad, msgs = checks.check_ops(args.workload, ops, inp, dedup, result["live"])
        attempted += n
        failed += len(bad)
        problems.extend(msgs)
        if dedup:  # an operation that raised is one more attempt, and a failure
            attempted += len(result["errors"])
            failed += len(result["errors"])
            problems.extend(result["errors"])

    deadline = time.time() + RUN_BUDGET_S
    if args.trace == 0:
        one_core = PAIR[0] if len(cpus) >= PAIR[1] else 0
        if not one_core:
            report["scaling"] = f"skipped: host has {len(cpus)} cores"
        spec = make_spec("main", args.workload, inp, cpus[:n_main], n_ops, n_one if one_core else 0, False, mem)
        res = run_worker(spec, cpus[:n_main], deadline)
        checked(res, res["ops"], True)
        checked(res, res.get("one_core_ops", []), False)
        runs = {"main": res}
    else:
        # an untraced JVM first, for the tracing overhead at the same time on the same host
        spec = make_spec("untraced", args.workload, inp, cpus[:n_main], n_ops, 0, False, mem)
        runs = {"untraced": run_worker(spec, cpus[:n_main], deadline)}
        checked(runs["untraced"], runs["untraced"]["ops"], True)
        tspec = make_spec("traced", args.workload, inp, cpus[:n_main], n_ops, 0, True, mem)
        res = runs["traced"] = run_worker(tspec, cpus[:n_main], deadline)
        checked(res, res["ops"], True)

    n_warm, n_one_warm = WARM_OPS[args.workload]
    if any(len(r["ops"]) < n_warm + 2 for r in runs.values()):
        print(json.dumps({"report": report, "problems": problems}), file=sys.stderr)
        return 1
    samples = {
        name: {
            "phases": r["phases"],
            "warm_route_s": [o["route_s"] for o in r["ops"][:n_warm]],
            "warm_dedup_s": [o["dedup_s"] for o in r["ops"][:n_warm]],
            "route_s": [o["route_s"] for o in r["ops"][n_warm:]],
            "dedup_s": [o["dedup_s"] for o in r["ops"][n_warm:]],
            "one_core_warm_s": [o["route_s"] for o in r.get("one_core_ops", [])[:n_one_warm]],
            "one_core_route_s": [o["route_s"] for o in r.get("one_core_ops", [])[n_one_warm:]],
            "peak_rss_mb": r["peak_rss_mb"],
            "measure_s": r["measure_s"],
        }
        for name, r in runs.items()
    }
    report["samples"] = samples
    main_s = samples["main" if args.trace == 0 else "traced"]
    route, dedup = main_s["route_s"], main_s["dedup_s"]
    named = {
        "setup_s": {"value": main_s["phases"]["setup_s"], "unit": "s"},
        "turns_per_s": {"value": turns / statistics.median(route), "unit": "turns/s"},
        "route_tick_p50_s": {"value": statistics.median(route), "unit": "s"},
        "dedup_tick_p50_s": {"value": statistics.median(dedup), "unit": "s"},
        "peak_rss_mb": {"value": main_s["peak_rss_mb"], "unit": "MB"},
        "route_tick_tail_s": dict(tail(route), unit="s"),
        "dedup_tick_tail_s": dict(tail(dedup), unit="s"),
        "ops_failed_frac": {"value": failed / max(attempted, 1), "unit": "ratio"},
    }
    if main_s["one_core_route_s"]:
        tps1 = turns / statistics.median(main_s["one_core_route_s"])
        named["scaling_eff_1to4"] = {
            "value": named["turns_per_s"]["value"] / tps1 / PAIR[1],
            "unit": "ratio",
            "turns_per_s_1": tps1,
        }
    report["named"] = named

    if args.trace == 0:
        metrics = {k: {"value": named[k]["value"], "unit": named[k]["unit"]} for k in END_TO_END if k in named}
    else:
        base = {k: samples["untraced"][k] for k in ("route_s", "dedup_s")}
        reduced = eventlog.reduce(eventlog.read(eventlog.find_log(tspec["dirs"]["eventlog"])), res["spans"], cores=n_main)
        report["eventlog"] = reduced
        metrics = per_layer_metrics(res, base, reduced, inp, n_warm)
        report["layers"] = metrics

    report["problems"] = problems
    print(json.dumps({"report": report}, default=float))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    return 0


def per_layer_metrics(traced: dict, base: dict, reduced: dict, inp: dict, n_warm: int) -> dict:
    """The per_layer metrics of BENCHMARK.json from one traced JVM whose
    first `n_warm` operations are unmeasured; `base` holds untraced
    route_s/dedup_s samples for the tracing overhead."""
    from perfbench import eventlog
    ph, ops, lay, calls = traced["phases"], traced["ops"], traced["layers"], traced["calls"]

    def v(value, unit):
        return {"value": value, "unit": unit}

    def per_op(key):
        return sum(calls.get(key, [])) / len(ops)

    rows_in = sum(o["metrics"].get("rows_in", 0) for o in ops)
    routed = sum(sum(o["sink_rows"].values()) for o in ops)
    pairs = sum(o["n_pairs"] for o in ops)
    if "dedup_root" in ops[0]:  # backfill: every operation dedups the whole table
        expected = len(inp["meta"]["pairs"]) * len(ops)
    else:
        expected = sum(1 for *_, file_b, _ in inp["meta"]["pairs"] if file_b < len(ops))
    out = {
        "session.start_s": v(ph["session_start_s"], "s"),
        "workers.warm_s": v(ph["workers_warm_s"], "s"),
        "grok.compile_s": v(ph["grok_compile_s"], "s"),
        "warmup_s": v(ph["warmup_s"], "s"),
        "tableio.list_s": v(per_op("tableio.list_s"), "s"),
        "manifest.load_s": v(per_op("manifest.load_s"), "s"),
        "manifest.bytes": v(lay["manifest.bytes"], "bytes"),
        "manifest.runs": v(lay["manifest.runs"], "count"),
        "pipeline.build_s": v(per_op("pipeline.build_s"), "s"),
    }
    for layer in ("scan", "filters", "enrich", "router", "aggregates"):
        out[f"{layer}.busy_s"] = v(lay[f"{layer}.busy_s"], "s")
        out[f"{layer}.prefix_s"] = v(lay[f"{layer}.prefix_s"], "s")
    out.update(
        {
            "filters.rows_in": v(rows_in / len(ops), "count"),
            "filters.parse_failures": v(sum(o["metrics"].get("parse_failures", 0) for o in ops) / len(ops), "count"),
            "router.fanout": v(routed / max(rows_in, 1), "ratio"),
            "sigstore.rows": v(lay["sigstore.rows"], "count"),
            "sigstore.bytes": v(lay["sigstore.bytes"], "bytes"),
            "sigstore.runs": v(lay["sigstore.runs"], "count"),
            "dedup.pairs_found": v(pairs, "count"),
            "dedup.pairs_expected": v(expected, "count"),
            "dedup.pairs_found_frac": v(pairs / max(expected, 1), "ratio"),
        }
    )
    for key, unit in eventlog.METRIC_UNITS.items():
        out[f"spark.{key}"] = v(reduced["total"][key], unit)
    # reused Python workers start once, in set-up: count their start over the JVM's life
    out["spark.python_boot_s"] = v(sum(rec["python_boot_s"] for rec in reduced["labels"].values()), "s")
    for label in ("route", "dedup"):
        rec = reduced["labels"].get(f"op:{label}") or dict.fromkeys(eventlog.METRIC_UNITS, 0)
        for key in ("jobs", "stages", "tasks", "executor_run_s", "driver_s", "core_busy_frac", "shuffle_write_bytes"):
            out[f"spark.{label}.{key}"] = v(rec[key], eventlog.METRIC_UNITS[key])
    for mod, rec in reduced["callsites"].items():
        out[f"callsite.{mod}.executor_run_s"] = v(rec["executor_run_s"], "s")
        out[f"callsite.{mod}.stages"] = v(rec["stages"], "count")
    for key in ("route_s", "dedup_s"):
        traced_p50 = statistics.median(o[key] for o in ops[n_warm:])
        name = key[:-2]
        out[f"trace.{name}_p50_s"] = v(traced_p50, "s")
        out[f"trace.{name}_overhead_frac"] = v(traced_p50 / statistics.median(base[key]) - 1, "ratio")
    # share of a route operation that parse, enrich and route take on their own
    out["router.prefix_share"] = v(lay["router.prefix_s"] / out["trace.route_p50_s"]["value"], "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
