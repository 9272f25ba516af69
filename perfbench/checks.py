"""Output checks, computed independently of logspark with DuckDB.

Routing expectations re-derive the canonical config's outcome from the raw
text with hand-written regexes for datagen's two parseable line formats: a
turn is parsed when its text is a tool-log or an apache line, ``raw`` holds
the rest, and ``errors`` holds parsed tool-log lines whose status is ``err``.
Dedup expectations are every document pair whose exact word-3-gram Jaccard
reaches dedup_tick's threshold, computed here from the written documents.
MinHash LSH finds a pair of Jaccard J with probability
1 - (1 - J^rows)^bands, so the check is exact where LSH is: no pair below
the threshold may be reported, every reported Jaccard must be exact, and
every pair of Jaccard 1 must be found. Pairs between the threshold and 1
must be found at least as often as the S-curve predicts, less six
standard deviations.
"""

from __future__ import annotations

import math
import os

import duckdb
import pyarrow.parquet as pq

# dedup_tick's parameters; the worker passes them explicitly
DEDUP = {"threshold": 0.5, "n_hashes": 16, "bands": 4, "k": 3}

TOOL_LOG = (
    r'^\[\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z\] (INFO|WARN|ERROR|DEBUG) '
    r'tool=\w+ latency_ms=\d+ status=\w+ msg="'
)
APACHE = (
    r'^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3} - - '
    r'\[\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2} \+0000\] '
    r'"(GET|POST|PUT) /\S* HTTP/1\.1" \d+ \d+'
)


def expected_routes(files: list[str]) -> dict:
    """{rows_in, parse_failures, sinks: {parsed, errors, raw}} for the files."""
    con = duckdb.connect()
    try:
        row = con.execute(
            """
            WITH t AS (
              SELECT regexp_matches(text, ?) AS tool_log,
                     regexp_matches(text, ?) AS apache,
                     regexp_extract(text, 'status=(\\w+)', 1) AS status
              FROM read_parquet(?)
            )
            SELECT count(*),
                   count(*) FILTER (WHERE NOT tool_log AND NOT apache),
                   count(*) FILTER (WHERE tool_log OR apache),
                   count(*) FILTER (WHERE tool_log AND status = 'err')
            FROM t
            """,
            [TOOL_LOG, APACHE, list(files)],
        ).fetchone()
    finally:
        con.close()
    rows_in, failures, parsed, errors = (int(v) for v in row)
    sinks = {k: v for k, v in {"parsed": parsed, "errors": errors, "raw": failures}.items() if v}
    return {"rows_in": rows_in, "parse_failures": failures, "sinks": sinks}


def expected_pairs(files: list[str]) -> list[list]:
    """[a, b, index of b's file, Jaccard] for every pair a < b of documents
    in `files` whose exact word-k-gram Jaccard reaches the threshold."""
    k, docs = DEDUP["k"], {}
    for fi, path in enumerate(files):
        for row in pq.read_table(path, columns=["doc_id", "text"]).to_pylist():
            toks = row["text"].split(" ")
            docs[row["doc_id"]] = (fi, {tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)})
    by_shingle: dict[tuple, list[int]] = {}
    for doc_id, (_, grams) in docs.items():
        for g in grams:
            by_shingle.setdefault(g, []).append(doc_id)
    candidates = {(a, b) for ids in by_shingle.values() for a in ids for b in ids if a < b}
    out = []
    for a, b in sorted(candidates):
        ga, gb = docs[a][1], docs[b][1]
        inter = len(ga & gb)
        jaccard = inter / (len(ga) + len(gb) - inter)
        if jaccard >= DEDUP["threshold"]:
            out.append([a, b, docs[b][0], round(jaccard, 6)])
    return out


def found_pairs(dedup_root: str) -> dict[tuple[int, int], float]:
    """{(a, b): Jaccard} over every committed tick's verified pairs under a
    dedup sink."""
    paths = []
    runs = os.path.join(dedup_root, "runs")
    if os.path.isdir(runs):
        for rid in sorted(os.listdir(runs)):
            d = os.path.join(runs, rid, "pairs")
            paths += [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]
    if not paths:
        return {}
    con = duckdb.connect()
    try:
        rows = con.execute("SELECT DISTINCT a, b, jaccard FROM read_parquet(?)", [paths]).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)): float(j) for a, b, j in rows}


def lsh_recall_floor(jaccards: list[float]) -> float:
    """Fewest pairs of these Jaccards that MinHash LSH may find: the
    expected count less six standard deviations (pairs of one family are
    correlated, which widens the spread a binomial model gives)."""
    rows = DEDUP["n_hashes"] // DEDUP["bands"]
    probs = [1 - (1 - j**rows) ** DEDUP["bands"] for j in jaccards]
    return sum(probs) - 6 * math.sqrt(sum(p * (1 - p) for p in probs))


def pair_problems(tag: str, found: dict, expected: dict) -> list[str]:
    """Messages for a found pair set {(a, b): J} against the expected one."""
    bad = []
    extra = sorted(found.keys() - expected.keys())
    if extra:
        bad.append(f"{tag}: {len(extra)} pairs reported below the threshold, first {extra[0]}")
    wrong = sorted(p for p in found.keys() & expected.keys() if abs(found[p] - expected[p]) > 1e-6)
    if wrong:
        bad.append(f"{tag}: {len(wrong)} pairs with a wrong Jaccard, first {wrong[0]}")
    missing = sorted(p for p, j in expected.items() if j == 1.0 and p not in found)
    if missing:
        bad.append(f"{tag}: {len(missing)} pairs of Jaccard 1 not found, first {missing[0]}")
    near = [j for j in expected.values() if j < 1.0]
    hits = sum(1 for p, j in expected.items() if j < 1.0 and p in found)
    if hits < lsh_recall_floor(near):
        bad.append(f"{tag}: {hits} of {len(near)} pairs with Jaccard below 1 found, fewer than LSH allows")
    return bad


def _route_problems(tag: str, op: dict, want: dict) -> list[str]:
    got = {
        "rows_in": int(op["metrics"].get("rows_in", -1)),
        "parse_failures": int(op["metrics"].get("parse_failures", -1)),
        "sinks": {k: int(v) for k, v in op["sink_rows"].items()},
    }
    return [] if got == want else [f"{tag}: routed {got} != expected {want}"]


def check_ops(workload: str, ops: list[dict], inp: dict, dedup: bool, live: str) -> tuple[int, set, list[str]]:
    """(checks attempted, keys of the failed ones, messages). Each operation
    is one check, keyed by its index; on ingest_ticks with `dedup` the pairs
    of all ticks together are one more, keyed "ticks". `live` is the
    ingest_ticks state directory of the JVM that ran `ops`."""
    meta, failed, bad = inp["meta"], set(), []

    def fail(key, msgs):
        if msgs:
            failed.add(key)
            bad.extend(msgs)

    if workload == "backfill":
        expected = {(a, b): j for a, b, _, j in meta["pairs"]}
        for i, op in enumerate(ops):
            msgs = _route_problems(f"op {i}", op, meta["expected"])
            if dedup:
                found = found_pairs(op["dedup_root"])
                msgs += pair_problems(f"op {i}", found, expected)
                if op["n_pairs"] != len(found):
                    msgs.append(f"op {i}: dedup_tick reported {op['n_pairs']} pairs, wrote {len(found)}")
            fail(i, msgs)
        return len(ops), failed, bad
    for i, op in enumerate(ops):
        name = op["landed"]
        if op["input_files"] != [name]:
            fail(i, [f"tick {name}: route read {op['input_files']}"])
            continue
        msgs = _route_problems(f"tick {name}", op, meta["expected_per_file"][name])
        if dedup and op["dedup_files"] != [op["landed_docs"]]:
            msgs.append(f"tick {name}: dedup read {op['dedup_files']}, landed {op['landed_docs']}")
        fail(i, msgs)
    if not (dedup and ops):
        return len(ops), failed, bad
    expected = {(a, b): j for a, b, fb, j in meta["pairs"] if fb < len(ops)}
    found = found_pairs(os.path.join(live, "dedup"))
    msgs = pair_problems("ticks", found, expected)
    if sum(op["n_pairs"] for op in ops) != len(found):
        msgs.append(f"ticks: dedup_tick reported {sum(op['n_pairs'] for op in ops)} pairs, wrote {len(found)}")
    fail("ticks", msgs)
    return len(ops) + 1, failed, bad
