"""Seeded input generation for the benchmark, cached by (kind, seed, size).

Transcripts come from ``logspark.datagen.synth_transcripts``: every row is a
pure function of its global turn id inside a fixed id universe, so the seed
only picks a window of that id space and no ``logspark`` file is involved in
choosing it.

Documents are generated here, in families. A family has a base word
sequence ``P`` of 12-30 words from a 400-word vocabulary; each member is
``P`` with 0-3 of its words substituted, repeated ``r`` times (``r`` in
2..4, distinct within a family). Every word-3-gram of ``V^r`` is a cyclic
3-gram of the variant ``V``, so members differ in text while their shingle
sets overlap by a known amount: two unedited members have Jaccard 1, and
each substituted word removes up to three shared shingles, so pairs fall on
both sides of dedup_tick's 0.5 threshold. Unrelated documents share almost
no shingles. The expected pair set is not taken from the families: it is
computed from the exact word-3-gram Jaccard of the written documents
(``checks.expected_pairs``).

Files are written with pyarrow (no Spark), then hashed; a cached directory
is reused only when every file's sha256 matches its recorded digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from logspark import datagen

UNIVERSE_TURNS = 1 << 24  # fixed datagen id space; the seed picks a window
SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "du",
             "fa", "gu", "hi", "jo", "pe", "so")
VOCAB = np.array(
    [a + b + c for a in SYLLABLES[:10] for b in SYLLABLES[5:15] for c in SYLLABLES[:4]],
    dtype=object,
)  # 400 distinct 6-letter words
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
DUP_FRAC = 0.2  # share of documents planted as a member of an earlier family
EDITS = (0, 0, 1, 1, 2, 3)  # substituted words per member, drawn uniformly


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, meta) for `key`, building it with `build(dir) -> meta`
    unless a cached copy exists whose files all match their digests."""
    d = os.path.join(root, key)
    manifest = os.path.join(d, "MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            rec = json.load(f)
        if all(
            os.path.exists(os.path.join(d, rel)) and _sha256(os.path.join(d, rel)) == digest
            for rel, digest in rec["files"].items()
        ):
            return d, rec["meta"]
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    files = {}
    for base, _dirs, names in os.walk(tmp):
        for n in names:
            full = os.path.join(base, n)
            files[os.path.relpath(full, tmp)] = _sha256(full)
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"files": files, "meta": meta}, f, indent=1, sort_keys=True)
    os.rename(tmp, d)
    return d, meta


def _window_start(seed: int, n: int) -> int:
    slots = UNIVERSE_TURNS // n
    return (seed * 2654435761 % slots) * n


def write_transcripts(path: str, ids: np.ndarray) -> None:
    pdf = datagen.synth_transcripts(ids, UNIVERSE_TURNS)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads parquet timestamps at microsecond precision only
    pq.write_table(table, path, coerce_timestamps="us")


def transcript_files(out_dir: str, seed: int, n_files: int, turns_per_file: int) -> list[str]:
    """n_files consecutive slices of the seed's id window, one file each."""
    os.makedirs(out_dir, exist_ok=True)
    start = _window_start(seed, n_files * turns_per_file)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:05d}.parquet")
        lo = start + i * turns_per_file
        write_transcripts(p, np.arange(lo, lo + turns_per_file, dtype=np.int64))
        paths.append(p)
    return paths


def documents(seed: int, n_files: int, docs_per_file: int) -> list[list[tuple[int, str]]]:
    """Per-file lists of (doc_id, text). A planted member joins a family
    started in the same file or in an earlier file, about half each."""
    rng = np.random.default_rng([seed, 7])
    id0 = (seed % 100_000) * 1_000_000
    bases: list[np.ndarray] = []  # base sequence per family, as VOCAB indices
    reps: list[set[int]] = []  # repeat counts already used per family
    files = []
    next_id = id0
    for fi in range(n_files):
        rows = []
        first_family_of_file = len(bases)
        for _ in range(docs_per_file):
            fam = None
            if bases and rng.random() < DUP_FRAC:
                same_file = len(bases) > first_family_of_file and (fi == 0 or rng.random() < 0.5)
                lo = first_family_of_file if same_file else 0
                hi = len(bases) if same_file else max(first_family_of_file, 1)
                cand = int(rng.integers(lo, hi))
                if len(reps[cand]) < 3:
                    fam = cand
            if fam is None:
                fam = len(bases)
                bases.append(rng.integers(0, len(VOCAB), size=int(rng.integers(12, 31))))
                reps.append(set())
                words = bases[fam]
            else:  # substitute n_edits words, each by a different one
                words = bases[fam].copy()
                pos = rng.choice(len(words), size=int(rng.choice(EDITS)), replace=False)
                words[pos] = (words[pos] + rng.integers(1, len(VOCAB), size=len(pos))) % len(VOCAB)
            r = int(rng.choice([x for x in (2, 3, 4) if x not in reps[fam]]))
            reps[fam].add(r)
            rows.append((next_id, " ".join(VOCAB[np.tile(words, r)])))
            next_id += 1
        files.append(rows)
    return files


def write_documents(path: str, rows: list[tuple[int, str]]) -> None:
    ids, texts = zip(*rows)
    pq.write_table(pa.table({"doc_id": list(ids), "text": list(texts)}, schema=DOC_SCHEMA), path)


def document_files(out_dir: str, seed: int, n_files: int, docs_per_file: int) -> list[str]:
    """Write the documents table as n_files parquet files; return their paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, rows in enumerate(documents(seed, n_files, docs_per_file)):
        paths.append(os.path.join(out_dir, f"part-{i:05d}.parquet"))
        write_documents(paths[-1], rows)
    return paths
