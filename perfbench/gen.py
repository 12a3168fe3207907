"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size parameters) and is
written once into a seed-keyed cache directory; a later run with the same
seed reuses it. Generation is plain numpy + pyarrow in the calling process
(no Spark), so the program under test only ever sees the generated files.

The document corpus mirrors the repository's synthetic test-data
``documents`` table (TESTDATA.md: 31-word vocabulary, 10-100 words per
document, a few near-duplicate documents ending in "dup"), which is what
the demo dictionary, ``datagen.big_dictionary`` and the registry queries
are written against.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
DUP_SHARE = 0.03

TURN_TOKENS = 16  # sources.transcripts.TURN_TOKENS
TS_BASE = datetime(2024, 1, 1, tzinfo=timezone.utc)  # sources.transcripts.TS_BASE

# workload sizes (recorded in BENCHMARK.json and printed with every result)
SIZES = {
    "kg_build": {"base_docs": 500, "replicas": 2, "files": 8, "aliases": 100_000},
    "kg_stream": {"chunks": 3, "warm_chunks": 1, "docs_per_chunk": 250},
    "kg_query": {"docs": 250},
}
TINY = {
    "kg_build": {"base_docs": 60, "replicas": 2, "files": 2, "aliases": 2_000},
    "kg_stream": {"chunks": 3, "warm_chunks": 1, "docs_per_chunk": 40},
    "kg_query": {"docs": 120},
}


def documents(rng: np.random.Generator, n_docs: int, first_id: int = 0) -> pa.Table:
    """doc_id, text, lang, source, n_chars — near-dups copy an earlier
    document and append " dup"."""
    lens = rng.integers(10, 101, size=n_docs)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    texts: list[str] = []
    pos = 0
    for i, n in enumerate(lens):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos : pos + n]))
        pos += n
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, size=n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def turns(docs: pa.Table, conv_fmt: str = "conv_{:08d}") -> pa.Table:
    """documents -> transcripts(conv_id, turn_idx, role, text, tool, ts):
    TURN_TOKENS words per turn, the derive_transcripts layout."""
    cols: dict[str, list] = {k: [] for k in ("conv_id", "turn_idx", "role", "text", "tool", "ts")}
    roles = ("user", "assistant", "tool")
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        w = text.split(" ")
        conv = conv_fmt.format(doc_id)
        for i in range(0, (len(w) + TURN_TOKENS - 1) // TURN_TOKENS):
            cols["conv_id"].append(conv)
            cols["turn_idx"].append(i)
            cols["role"].append(roles[i % 3])
            cols["text"].append(" ".join(w[i * TURN_TOKENS : (i + 1) * TURN_TOKENS]))
            cols["tool"].append("search" if i % 3 == 2 else None)
            cols["ts"].append(doc_id * 3600 + i * 60)
    base_us = int(TS_BASE.timestamp()) * 1_000_000
    ts = pa.array(
        [base_us + s * 1_000_000 for s in cols.pop("ts")], type=pa.timestamp("us")
    )
    return pa.table(
        {
            "conv_id": cols["conv_id"],
            "turn_idx": pa.array(cols["turn_idx"], type=pa.int32()),
            "role": cols["role"],
            "text": cols["text"],
            "tool": pa.array(cols["tool"], type=pa.string()),
            "ts": ts,
        }
    )


def _write_split(table: pa.Table, out_dir: str, n_files: int, prefix: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step), os.path.join(out_dir, f"{prefix}-{k:03d}.parquet")
        )


def _gen_kg_build(rng, out: str, p: dict, seed: int) -> dict:
    docs = documents(rng, p["base_docs"])
    base = turns(docs)
    _write_split(base, os.path.join(out, "base"), max(1, p["files"] // 2), "base")
    salt = f"s{seed}"
    reps = []
    for r in range(p["replicas"]):
        t = base.set_column(
            0,
            "conv_id",
            pa.array([f"{c}_{salt}r{r}" for c in base["conv_id"].to_pylist()]),
        )
        reps.append(t)
    _write_split(pa.concat_tables(reps), os.path.join(out, "turns"), p["files"], "turns")
    return {
        "turns": base.num_rows * p["replicas"],
        "base_turns": base.num_rows,
        "conv_suffix": salt,
        "replicas": p["replicas"],
        "aliases": p["aliases"],
        "thin_seed": seed,
    }


def _gen_kg_stream(rng, out: str, p: dict, seed: int) -> dict:
    """Arrival chunks of fresh conversations. ``ts`` grows with doc_id,
    which grows across chunks, so later chunks win the latest-assertion
    merge. The warm-up backlog and the timed backlog are separate
    directories."""
    sizes = {}
    first = 0
    for name, n_chunks in (("warm", p["warm_chunks"]), ("timed", p["chunks"])):
        d = os.path.join(out, name)
        os.makedirs(d)
        n_turns = 0
        for c in range(n_chunks):
            docs = documents(rng, p["docs_per_chunk"], first_id=first)
            first += p["docs_per_chunk"]
            t = turns(docs, conv_fmt=f"s{seed}c{c}_" + "{:08d}")
            pq.write_table(t, os.path.join(d, f"chunk-{c:04d}.parquet"))
            n_turns += t.num_rows
        sizes[f"{name}_turns"] = n_turns
    return {**sizes, "chunks": p["chunks"]}


def _gen_kg_query(rng, out: str, p: dict, seed: int) -> dict:
    docs = documents(rng, p["docs"])
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    return {"docs": p["docs"]}


GENERATORS = {"kg_build": _gen_kg_build, "kg_stream": _gen_kg_stream, "kg_query": _gen_kg_query}


def ensure_inputs(cache_root: str, workload: str, seed: int, params: dict) -> tuple[str, dict]:
    """Generate the workload's inputs for ``seed`` unless cached; returns
    (input dir, input description)."""
    key = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    out = os.path.join(cache_root, workload, f"seed{seed}-{key}")
    meta_path = os.path.join(out, "inputs.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    # the workload name enters the stream so workloads never share inputs
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    meta = GENERATORS[workload](rng, out, params, seed)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return out, meta
