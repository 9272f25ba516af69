"""One benchmark JVM: set up a Spark session, run a fixed number of a
workload's operations, and write the timings to a JSON file.

Started by ``run.py`` as a fresh process pinned with ``taskset`` to the core
budget. Usage::

    python3 perfbench/worker.py SPEC.json

SPEC keys: workload ("backfill" | "ingest_ticks"), cores, cpus, driver_mem,
n_warm and n_ops (unmeasured, then measured operations at the full core
budget), n_one_core_warm and n_one_core_ops (the same for route-only
operations with the process tree pinned to one_core_cpu; the measured ones
alternate with the others), trace (event log and layer timings), dirs
{work, tmp, eventlog, inputs, warm}, out.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time

_t_process = time.perf_counter()
WARMUP_ROUNDS = 1  # tick-sized route + dedup rounds in set-up, for the JIT
RSS_PERIOD_S = 0.25

from logspark import datagen  # noqa: E402
from logspark import grok  # noqa: E402
from logspark.config import canonical_config  # noqa: E402
from logspark.operators.aggregates import sink_counts  # noqa: E402
from logspark.operators.enrich import apply_enrich_chain  # noqa: E402
from logspark.operators.filters import apply_filter_chain, ensure_tags  # noqa: E402
from logspark.operators.router import route  # noqa: E402
from logspark.plans import dedup_agent, pipeline  # noqa: E402
from logspark.session import get_spark  # noqa: E402
from logspark.sources import manifest as mf  # noqa: E402
from logspark.sources.tableio import ParquetIO  # noqa: E402
from perfbench.checks import DEDUP  # noqa: E402


class Spans:
    """Named wall-clock spans (epoch ms) and call timings kept in memory."""

    def __init__(self):
        self.spark = None
        self.io = ParquetIO  # the table IO class the operations construct
        self.spans: list[dict] = []
        self.calls: dict[str, list[float]] = {}

    def run(self, name: str, fn, *args, **kwargs):
        """Call `fn` with Spark jobs labelled `name`; return (result, seconds)."""
        self.spark.sparkContext.setJobDescription(name)
        t0, w0 = time.perf_counter(), time.time()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t0
        self.spans.append({"name": name, "start_ms": w0 * 1000, "end_ms": w0 * 1000 + dt * 1000, "s": dt})
        return out, dt

    def timed(self, key: str, fn):
        """Wrap `fn` so every call's duration is recorded under `key`."""

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls.setdefault(key, []).append(time.perf_counter() - t0)

        return wrapper


def label_callsites(spark) -> None:
    """Make every job that a logspark line starts carry that line as its
    ``callSite.short`` (PySpark sets it only for RDD actions), so the event
    log can charge stage time to the module that asked for it."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql.classic.dataframe import DataFrame

    sc = spark.sparkContext

    def wrap(cls, name):
        fn = getattr(cls, name)

        def wrapper(*args, **kwargs):
            f = sys._getframe(1)
            while f is not None and f"{os.sep}logspark{os.sep}" not in f.f_code.co_filename:
                f = f.f_back
            if f is None or sc.getLocalProperty("callSite.short"):
                return fn(*args, **kwargs)
            path = f.f_code.co_filename
            rel = path[path.rindex(f"{os.sep}logspark{os.sep}") + 1 :]
            sc.setLocalProperty("callSite.short", f"{name} at {rel}:{f.f_lineno}")
            try:
                return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("callSite.short", None)

        setattr(cls, name, wrapper)

    for name in ("parquet", "save"):
        wrap(DataFrameWriter, name)
    wrap(DataFrameReader, "parquet")
    for name in ("collect", "count", "localCheckpoint", "checkpoint", "toPandas", "inputFiles"):
        wrap(DataFrame, name)


def tree_pids() -> list[int]:
    """This process and all its live descendants (the JVM, the Python daemon
    and its workers), from /proc."""
    pids, stack = [], [os.getpid()]
    while stack:
        pid = stack.pop()
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # the process ended meanwhile
        pids.append(pid)
    return pids


def pin_tree(cpus: set[int]) -> None:
    """Set the CPU affinity of every thread of the process tree; threads
    and processes started later inherit it."""
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:
                pass  # the thread ended meanwhile


class RssSampler(threading.Thread):
    """Peak of the process tree's summed resident set (VmRSS), sampled
    every RSS_PERIOD_S until stop()."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._done = threading.Event()

    def run(self):
        while not self._done.wait(RSS_PERIOD_S):
            self.sample()

    def sample(self):
        rss, ppid, exe, daemons = {}, {}, {}, set()
        for pid in tree_pids():
            try:
                exe[pid] = os.readlink(f"/proc/{pid}/exe")
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith(("PPid:", "VmRSS:")):
                            (ppid if line[0] == "P" else rss)[pid] = int(line.split()[1])
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"pyspark.daemon" in f.read():
                        daemons.add(pid)  # the daemon, and the workers it forks
            except OSError:
                rss.pop(pid, None)  # the process ended meanwhile
        # A child still running its parent's program, other than a forked
        # Python worker, is a fork about to exec (the JVM starting a
        # command): it reports the parent's whole resident set, and counting
        # it put some runs 40-60% above the others.
        total = sum(
            kb
            for pid, kb in rss.items()
            if ppid.get(pid) in daemons or exe[pid] != exe.get(ppid.get(pid))
        )
        self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> float:
        """Stop sampling (after one last sample); return the peak in MB."""
        self._done.set()
        self.join()
        self.sample()
        return self.peak_kb / 1024


def land(src: str, table_dir: str) -> str:
    """Copy one staged file into a live table directory under a hidden name,
    then rename it visible: readers never see a partial file."""
    os.makedirs(table_dir, exist_ok=True)
    dst = os.path.join(table_dir, os.path.basename(src))
    tmp = os.path.join(table_dir, "." + os.path.basename(src) + ".landing")
    shutil.copyfile(src, tmp)
    os.rename(tmp, dst)
    return dst


def setup(spec: dict, spans: Spans):
    """Session start, Python worker start, grok compile and WARMUP_ROUNDS
    tick-sized warm-up route + dedup rounds; each phase timed on its own."""
    cores = spec["cores"]
    conf = {
        "spark.driver.memory": spec["driver_mem"],
        # the whole heap from the start: as the heap grew, the JVM's share of
        # peak_rss_mb varied by 15% between backfill runs
        "spark.driver.extraJavaOptions": f"-Xms{spec['driver_mem']}",
        "spark.sql.warehouse.dir": os.path.join(os.path.abspath(spec["dirs"]["tmp"]), "warehouse"),
    }
    if spec["trace"]:
        os.makedirs(spec["dirs"]["eventlog"], exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.abspath(spec["dirs"]["eventlog"]),
            }
        )
    phases = {"import_s": time.perf_counter() - _t_process}
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{cores}]",
        app_name=f"perfbench-{spec['workload']}",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spans.spark = spark
    phases["session_start_s"] = time.perf_counter() - t0

    def ident(batches):
        yield from batches

    # one task per core: every local slot forks its Python worker now
    _, phases["workers_warm_s"] = spans.run(
        "setup:workers",
        lambda: spark.range(0, cores * 64, numPartitions=cores)
        .mapInPandas(ident, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    cfg = canonical_config()
    t0 = time.perf_counter()
    for f in cfg.filter:
        if f["type"] == "grok":
            grok.compile_grok_java(f["match"], f.get("patterns"))
            grok.compile_grok(f["match"], f.get("patterns"))
    phases["grok_compile_s"] = time.perf_counter() - t0
    dims = {
        "tool_catalog": spark.createDataFrame(datagen.tool_catalog_pdf()),
        "role_map": spark.createDataFrame(datagen.role_map_pdf()),
    }
    # warm-up: route and dedup over a tick-sized input, into scratch sinks
    warm = ParquetIO(spec["dirs"]["warm"])
    scratch = os.path.join(spec["dirs"]["work"], "warm")

    def warm_up():
        for r in range(WARMUP_ROUNDS):
            pipeline.run(spark, cfg, warm, os.path.join(scratch, f"route-{r}"), run_id="w", dims=dims, incremental=False)
            dedup_agent.dedup_tick(spark, warm, "documents", os.path.join(scratch, f"dedup-{r}"), **DEDUP)

    _, phases["warmup_s"] = spans.run("setup:warmup", warm_up)
    shutil.rmtree(scratch, ignore_errors=True)
    phases["setup_s"] = sum(v for k, v in phases.items() if k != "import_s")
    return spark, cfg, dims, phases


def backfill_op(spark, cfg, dims, spec, spans, i: int, doc_index: int | None) -> dict:
    """One non-incremental run() over the whole transcripts table, then
    (unless `doc_index` is None) one dedup_tick over the whole documents
    table, each into a fresh sink root."""
    work, inputs = spec["dirs"]["work"], spec["dirs"]["inputs"]
    io = spans.io(inputs)
    sink = os.path.join(work, "ops", f"route-{i:03d}")
    res, route_s = spans.run(
        "op:route", pipeline.run, spark, cfg, io, sink, run_id=f"b{i:03d}", dims=dims, incremental=False
    )
    op = {"route_s": route_s, "sink_rows": res.sink_rows, "metrics": res.metrics, "n_files": len(res.input_files)}
    if doc_index is not None:
        dsink = os.path.join(work, "ops", f"dedup-{i:03d}")
        tick, op["dedup_s"] = spans.run("op:dedup", dedup_agent.dedup_tick, spark, io, "documents", dsink, **DEDUP)
        op.update(dedup_root=dsink, n_pairs=tick["n_pairs"])
    if i > 0:  # keep the latest sinks for the traced layer readings
        shutil.rmtree(os.path.join(work, "ops", f"route-{i - 1:03d}"), ignore_errors=True)
    return op


def ingest_op(spark, cfg, dims, spec, spans, i: int, doc_index: int | None) -> dict | None:
    """One closed-loop step: land transcripts file i, run the incremental
    route tick; unless `doc_index` is None, also land documents file
    `doc_index` and run the dedup tick. None when staged files run out."""
    staged, live = spec["dirs"]["inputs"], os.path.join(spec["dirs"]["work"], "live")
    name = f"part-{i:05d}.parquet"
    src_t = os.path.join(staged, "transcripts", name)
    if not os.path.exists(src_t):
        return None
    io = spans.io(os.path.join(live, "in"))
    t_land = time.perf_counter()
    land(src_t, os.path.join(live, "in", "transcripts"))
    if doc_index is not None:
        doc_name = f"part-{doc_index:05d}.parquet"
        land(os.path.join(staged, "documents", doc_name), os.path.join(live, "in", "documents"))
    res, _ = spans.run(
        "op:route", pipeline.run, spark, cfg, io, os.path.join(live, "route"), run_id=f"t{i:04d}", dims=dims
    )
    op = {
        "route_s": time.perf_counter() - t_land,
        "sink_rows": res.sink_rows,
        "metrics": res.metrics,
        "landed": name,
        "input_files": [os.path.basename(f) for f in res.input_files],
    }
    if doc_index is not None:
        tick, op["dedup_s"] = spans.run(
            "op:dedup", dedup_agent.dedup_tick, spark, io, "documents", os.path.join(live, "dedup"), **DEDUP
        )
        op.update(
            n_pairs=tick["n_pairs"],
            landed_docs=doc_name,
            dedup_files=[os.path.basename(f) for f in tick["new_files"]],
        )
    return op


OPS = {"backfill": backfill_op, "ingest_ticks": ingest_op}


def layer_prefixes(spark, cfg, dims, files: list[str], spans: Spans, reps: int = 2) -> dict:
    """Noop materialisations of each prefix of build()'s chain over `files`;
    a layer's busy time is its prefix time minus the previous prefix's (best
    of `reps`)."""
    src = ensure_tags(spark.read.parquet(*files))
    parsed = apply_filter_chain(src, cfg.filter)
    enriched = apply_enrich_chain(parsed, cfg.enrich, dims)
    routed = route(enriched, cfg.output)
    chain = [
        ("scan", src),
        ("filters", parsed),
        ("enrich", enriched),
        ("router", routed),
        ("aggregates", sink_counts(routed, bucket=cfg.aggregate.get("bucket", "hour"))),
    ]
    out, prev = {}, 0.0
    for name, df in chain:
        best = min(
            spans.run(f"layer:{name}", lambda: df.write.format("noop").mode("overwrite").save())[1]
            for _ in range(reps)
        )
        out[f"{name}.busy_s"] = best - prev  # as measured: noise can make it negative
        out[f"{name}.prefix_s"] = best
        prev = best
    return out


def store_stats(dedup_root: str) -> dict:
    """Row count, bytes and run count of a dedup sink's SignatureStore, read
    from its files (no Spark job)."""
    import pyarrow.parquet as pq

    root = os.path.join(dedup_root, "sigstore")
    with open(os.path.join(root, "index.json")) as f:
        runs = len(json.load(f)["runs"])
    rows = size = 0
    for base, _dirs, names in os.walk(os.path.join(root, "runs")):
        for n in names:
            p = os.path.join(base, n)
            size += os.path.getsize(p)
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
    return {"sigstore.rows": rows, "sigstore.bytes": size, "sigstore.runs": runs}


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    rss = RssSampler()
    rss.start()
    spans = Spans()
    if spec["trace"]:
        # time the storage layers' public entry points through module attributes,
        # which pipeline.run and dedup_tick look up at call time
        mf.load_manifest = spans.timed("manifest.load_s", mf.load_manifest)
        pipeline.build = spans.timed("pipeline.build_s", pipeline.build)

        class TimedIO(ParquetIO):
            input_files = spans.timed("tableio.list_s", ParquetIO.input_files)

        spans.io = TimedIO
    spark, cfg, dims, phases = setup(spec, spans)
    spans.calls.clear()  # layer call timings cover the measured operations only
    if spec["trace"]:
        label_callsites(spark)
    op_fn = OPS[spec["workload"]]
    ops, errors = [], []

    def loop(n: int, dedup: bool) -> list[dict]:
        done = []
        while len(done) < n:
            i = len(ops) + len(one_ops) + len(done)
            try:
                op = op_fn(spark, cfg, dims, spec, spans, i, len(ops) + len(done) if dedup else None)
            except Exception as e:  # a failed operation is counted and ends the loop
                errors.append(f"op {i}: {type(e).__name__}: {e}")
                break
            if op is None:
                break
            done.append(op)
        return done

    def one_core(n: int) -> list[dict]:
        """The scaling pair's small level: the same warmed JVM, pinned to one CPU."""
        pin_tree({spec["one_core_cpu"]})
        try:
            return loop(n, False)
        finally:
            pin_tree(set(spec["cpus"]))

    t_start = time.perf_counter()
    one_ops: list[dict] = []
    ops.extend(loop(spec["n_warm"], True))
    if spec["n_one_core_warm"]:
        one_ops.extend(one_core(spec["n_one_core_warm"]))
    # the measured operations of the two levels alternate, so a slow spell
    # of the host weighs on both
    for k in range(max(spec["n_ops"], spec["n_one_core_ops"])):
        if k < spec["n_ops"] and not errors:
            ops.extend(loop(1, True))
        if k < spec["n_one_core_ops"] and not errors:
            one_ops.extend(one_core(1))
    result = {"phases": phases, "ops": ops, "errors": errors, "live": os.path.join(spec["dirs"]["work"], "live")}
    if one_ops:
        result["one_core_ops"] = one_ops
    result["measure_s"] = time.perf_counter() - t_start
    if spec["trace"] and ops and not errors:
        last = ops[-1]
        if spec["workload"] == "backfill":
            files = ParquetIO(spec["dirs"]["inputs"]).input_files(spark, "transcripts")
            route_root = os.path.join(spec["dirs"]["work"], "ops", f"route-{len(ops) - 1:03d}")
        else:
            live = os.path.join(spec["dirs"]["work"], "live")
            files = [os.path.join(live, "in", "transcripts", last["input_files"][0])]
            route_root = os.path.join(live, "route")
        layers = layer_prefixes(spark, cfg, dims, files, spans)
        with open(mf.manifest_path(route_root), "rb") as f:
            raw = f.read()
        layers["manifest.bytes"] = len(raw)
        layers["manifest.runs"] = len(json.loads(raw)["runs"])
        layers.update(store_stats(last.get("dedup_root") or os.path.join(spec["dirs"]["work"], "live", "dedup")))
        result["layers"] = layers
        result["calls"] = spans.calls
    result["spans"] = spans.spans
    result["peak_rss_mb"] = rss.stop()
    spark.stop()
    with open(spec["out"], "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1])
