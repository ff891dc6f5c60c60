"""Seeded input generator for the benchmark workloads.

Writes the driver tables the workloads read -- ``events``, ``documents``,
``nation`` and ``region`` -- as one single-row-group
parquet file each, with the same Arrow schema as the driver's sf0.1
corpus (see TESTDATA.md). Everything is drawn from one
``numpy.random.Generator`` seeded by the caller, so the same seed and
sizes give byte-identical files. The seed is recorded in every file's
schema metadata and in ``manifest.json``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["generate", "NEAR_DUP_SHARE", "VOCAB"]

# 2024-01-01T00:00:00Z in µs; events span 30 days like the driver corpus.
T0_US = 1_704_067_200_000_000
SPAN_US = 30 * 86_400 * 1_000_000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
N_ITEMS = 100
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch".split()
)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
# Share of documents that copy an earlier document and append one token,
# so the MinHash/LSH entries always have near-duplicate pairs to find.
NEAR_DUP_SHARE = 0.05
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    # ~1500 users per 100k events, as in the driver corpus
    n_users = max(50, n * 15 // 1000)
    ts = np.sort(rng.integers(0, SPAN_US, n)) + T0_US
    item = rng.integers(0, N_ITEMS, n)
    props = np.char.add(np.char.add('{"k": ', item.astype(str)), "}")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(props),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{k}" for k in keys]),
            "n_regionkey": pa.array(keys % 5),
        }
    )


def _region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )


def _write(table: pa.Table, path: str, seed: int) -> None:
    table = table.replace_schema_metadata({"perfbench.seed": str(seed)})
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def generate(out_dir: str, seed: int, events: int = 0, documents: int = 0) -> dict:
    """Write the tables into ``out_dir`` and return the manifest.

    A size of 0 skips that table; ``nation`` and ``region`` are always
    written. Each table draws from its own child stream of ``seed``, so
    resizing one table leaves the others' bytes unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(2)
    rows: dict[str, int] = {}
    makers = [("events", events, _events), ("documents", documents, _documents)]
    for (name, n, make), ss in zip(makers, streams):
        if n > 0:
            _write(make(np.random.default_rng(ss), n), f"{out_dir}/{name}.parquet", seed)
            rows[name] = n
    _write(_nation(), f"{out_dir}/nation.parquet", seed)
    _write(_region(), f"{out_dir}/region.parquet", seed)
    rows.update(nation=25, region=5)
    manifest = {"seed": seed, "rows": rows, "near_dup_share": NEAR_DUP_SHARE}
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

