"""Per-tick Spark job budget of the two agents, and the equivalence of each
answer a tick gets without a Spark job of its own: the input listing,
per-sink counts, the tick's pair count and the grok columns."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from logspark.config import PipelineConfig, canonical_config
from logspark.datagen import synth_transcripts
from logspark.plans import dedup_agent, pipeline
from logspark.sources import manifest as mf
from logspark.sources.tableio import ParquetIO

# Jobs one tick over these inputs launches (measured). Route: the read's
# schema inference, the routed write (with one broadcast job per enrich
# dim) and the counts write (map and result stages). Dedup: the read's
# schema inference, the new signatures, the candidate pairs, the
# candidate-touched shingles, the store append and the pairs write, each
# checkpoint or write with its broadcast jobs. A tick with a larger
# candidate list may plan one more broadcast at the shingle checkpoint
# (17 jobs on perfbench's ingest tick).
ROUTE_TICK_JOBS = 6
DEDUP_TICK_JOBS = 16

BASE = "the quick brown fox jumps over the lazy dog near the river bank"


def _write_turns(path, lo: int, n: int) -> None:
    pdf = synth_transcripts(np.arange(lo, lo + n, dtype=np.int64), 100_000)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path, coerce_timestamps="us")


def _write_docs(path, rows) -> None:
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)


def _docs(lo: int) -> list[tuple[int, str]]:
    return [
        (lo, BASE),
        (lo + 1, BASE + " today"),
        (lo + 2, f"unrelated words number {lo} for this one doc"),
    ]


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_tick_job_counts(spark, tmp_path, dims):
    """A tick over a one-file landing, into a fresh sink and into one with
    history, launches at most the pinned number of jobs: a new
    schema-inference read or read-back fails here."""
    tdir, ddir = tmp_path / "in" / "transcripts", tmp_path / "in" / "documents"
    tdir.mkdir(parents=True)
    ddir.mkdir(parents=True)
    io = ParquetIO(str(tmp_path / "in"))
    cfg = canonical_config()
    route_root, dedup_root = str(tmp_path / "route"), str(tmp_path / "dedup")
    counts = []
    for i in range(2):  # the second tick has history: a manifest and a store
        _write_turns(tdir / f"part-{i}.parquet", i * 500, 500)
        _write_docs(ddir / f"part-{i}.parquet", _docs(10 * i))
        res, n_route = _jobs_in_group(
            spark, f"route-{i}", lambda: pipeline.run(spark, cfg, io, route_root, run_id=f"t{i}", dims=dims)
        )
        tick, n_dedup = _jobs_in_group(
            spark, f"dedup-{i}", lambda: dedup_agent.dedup_tick(spark, io, "documents", dedup_root)
        )
        assert res.sink_rows and tick["n_pairs"] >= 1
        counts.append((n_route, n_dedup))
    assert all(r <= ROUTE_TICK_JOBS and d <= DEDUP_TICK_JOBS for r, d in counts), counts


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_input_files_equals_inferred_read_listing(spark, tmp_path, layout):
    """The listing without schema inference is the listing of a plain read:
    hidden in-flight files, _SUCCESS markers and k=v directories included."""
    tbl = tmp_path / "in" / "docs"
    leaves = [tbl] if layout == "flat" else [tbl / "k=1", tbl / "k=2"]
    for j, d in enumerate(leaves):
        d.mkdir(parents=True)
        for i in range(2):
            _write_docs(d / f"part-{i}.parquet", _docs(100 * j + 10 * i))
        (d / ".part-9.parquet.landing").write_bytes(b"partial upload")
        (d / "_SUCCESS").write_bytes(b"")
    (tbl / "_SUCCESS").touch()
    io = ParquetIO(str(tmp_path / "in"))
    old = sorted(spark.read.parquet(str(tbl)).inputFiles())
    assert io.input_files(spark, "docs") == old
    assert len(old) == 2 * len(leaves)


def test_sink_rows_equal_written_counts(spark, tmp_path, dims):
    """RunResult.sink_rows, the manifest's sink_counts and its
    partition_lineage all agree with the per-sink sum(n) of the written
    sink_counts; a sink that receives no rows is left out of all three."""
    tdir = tmp_path / "in" / "transcripts"
    tdir.mkdir(parents=True)
    _write_turns(tdir / "part-0.parquet", 0, 800)
    d = canonical_config().__dict__.copy()
    d["output"] = d["output"] + [
        {"name": "never", "when": {"field_equals": {"status": "no-such-status"}}}
    ]
    cfg = PipelineConfig.from_dict(d)
    root = str(tmp_path / "route")
    res = pipeline.run(spark, cfg, ParquetIO(str(tmp_path / "in")), root, run_id="r1", dims=dims)

    counts_path = os.path.join(root, "runs", "r1", "sink_counts")
    written = {
        r["sink"]: r["n"]
        for r in spark.read.parquet(counts_path).groupBy("sink").agg(F.sum("n").alias("n")).collect()
    }
    assert set(written) == {"parsed", "errors", "raw"}
    assert res.sink_rows == written
    rec = mf.load_manifest(root).runs[-1]
    assert rec.sink_counts == written
    assert set(rec.partition_lineage) == set(written)
    for s, path in rec.partition_lineage.items():
        assert path == os.path.join(root, "runs", "r1", "routed", f"sink={s}")
        assert spark.read.parquet(path).count() == written[s]


def test_dedup_tick_n_pairs_equals_written_pairs(spark, tmp_path):
    tbl = tmp_path / "in" / "docs"
    tbl.mkdir(parents=True)
    io = ParquetIO(str(tmp_path / "in"))
    sink = str(tmp_path / "agent")
    for i in range(2):
        _write_docs(tbl / f"f{i}.parquet", _docs(10 * i))
        tick = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
        out = os.path.join(sink, "runs", tick["run_id"], "pairs")
        assert tick["n_pairs"] == spark.read.parquet(out).count()
        assert tick["n_pairs"] > 0
    # a tick whose batch has no pair at all
    _write_docs(tbl / "f9.parquet", [(99, "nothing alike in this document text")])
    tick = dedup_agent.dedup_tick(spark, io, "docs", sink, threshold=0.5)
    out = os.path.join(sink, "runs", tick["run_id"], "pairs")
    assert tick["n_pairs"] == spark.read.parquet(out).count() == 0


def _grok(spark, rows, match, engine):
    from logspark.operators.filters import apply_filter_chain

    df = spark.createDataFrame(rows, "role string, text string")
    cfg = {"type": "grok", "source": "text", "match": match, "engine": engine}
    return apply_filter_chain(df, [cfg])


def test_grok_native_capture_named_like_existing_column(spark):
    """A capture named like a non-source column replaces it in place, as on
    the pandas engine."""
    rows = [("user", "a=7 b=x"), ("tool", "b=y"), ("assistant", None)]
    match = [r"a=%{INT:role:int} b=%{WORD:b}", r"b=%{WORD:b}"]
    native = _grok(spark, rows, match, "native")
    pandas_ = _grok(spark, rows, match, "pandas")
    assert native.columns == pandas_.columns == ["role", "text", "tags", "b"]
    assert native.collect() == pandas_.collect()
    assert [r["role"] for r in native.collect()] == [7, None, None]


def test_grok_native_capture_named_like_source_keeps_sequential_semantics(spark):
    """A capture named like the SOURCE column: fields are assigned in
    order, so a later field's fallback extraction reads the captured value,
    not the original text (the native engine's long-standing behaviour; the
    pandas engine extracts every field from the original text)."""
    rows = [("r", "x=foo"), ("r", "y=bar"), ("r", "z")]
    native = _grok(spark, rows, [r"x=%{WORD:text}", r"y=%{WORD:other}"], "native")
    got = [(r["text"], r["other"], r["tags"]) for r in native.collect()]
    assert got == [
        ("foo", None, []),
        (None, None, []),  # `other` re-read the (null) captured `text`
        (None, None, ["_grokparsefailure"]),
    ]



def test_grok_auto_engine_under_legacy_string_escaping(spark):
    """The native engine writes each regex into SQL text, which the
    deprecated escapedStringLiterals parser mode reads verbatim; there the
    auto engine takes the pandas path and yields the same columns."""
    grok = canonical_config().filter[0]
    df = spark.createDataFrame(
        [
            ("r", '[2024-03-01T12:00:05Z] INFO tool=search latency_ms=142 status=ok msg="hi"'),
            ("r", '10.0.0.1 - - [01/Mar/2024:12:00:05 +0000] "GET /a?b=1 HTTP/1.1" 200 512'),
            ("r", "free text"),
        ],
        "role string, text string",
    )
    from logspark.operators.filters import apply_filter_chain

    want = apply_filter_chain(df, [grok]).collect()
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        got = apply_filter_chain(df, [grok]).collect()
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            apply_filter_chain(df, [dict(grok, engine="native")])
    finally:
        spark.conf.unset(key)
    assert got == want
    assert [r["tags"] for r in got] == [["parsed"], ["parsed"], ["_grokparsefailure"]]
