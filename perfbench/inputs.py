"""Seeded, cached benchmark inputs, written as parquet without Spark.

Every input is a pure function of (kind, seed, size), so the cache
directory is keyed by all three.  Generation is untimed: the benchmark
calls ``ensure_inputs`` before any Spark session starts.

- corpus:    interleaved documents from ``sources.documents.build_document``
             over a doc-index range whose offset derives from the seed.
- points:    ``event_id`` column, a seed-derived offset plus 0..n-1; the
             spatial operators derive coordinates from the id.
- nation:    the 25 nation rows the spatial operators derive triangles from.
- documents: the sf0.1 ``documents`` text table of the engine's test data
             (5,000 rows), copied into ``perfbench/data``; the seed
             permutes the row order.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FORMAT_VERSION = 2
# keeps event_id * 2654435761 (points_from_events) inside a signed long
_MAX_EVENT_OFFSET = 900_000_000
DOCUMENTS_FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents_sf0.1.parquet")


def corpus_offset(seed: int, n_docs: int) -> int:
    return seed * n_docs


def event_offset(seed: int) -> int:
    return (seed * 7_919_993) % _MAX_EVENT_OFFSET


def cached_dir(path: str, fill) -> str:
    """Return ``path``, first calling ``fill(tmp_dir)`` and renaming the
    temporary directory into place if ``path`` does not exist yet, so a
    killed run never leaves a half-written cache entry behind."""
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        fill(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return path


def _write_parts(path: str, table: pa.Table, parts: int) -> None:
    """Write ``table`` as ``parts`` parquet files into the directory ``path``."""
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(
            table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i])),
            os.path.join(path, f"part-{i:03d}.parquet"),
            compression="zstd",
        )


def corpus_table(seed: int, n_docs: int) -> pa.Table:
    from texel_spark.sources.documents import build_document

    span = pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    schema = pa.schema([pa.field("doc_id", pa.string(), False), pa.field("spans", pa.list_(span), False)])
    base = corpus_offset(seed, n_docs)
    ids, spans = [], []
    for i in range(n_docs):
        doc_id, doc_spans = build_document(base + i)
        ids.append(doc_id)
        spans.append([dict(zip(("kind", "text", "media_ref", "offset"), s)) for s in doc_spans])
    return pa.table({"doc_id": ids, "spans": spans}, schema=schema)


def points_table(seed: int, n_points: int) -> pa.Table:
    ids = np.arange(n_points, dtype=np.int64) + event_offset(seed)
    return pa.table({"event_id": ids})


def nation_table() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": keys,
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % 5,
        }
    )


def documents_table(seed: int, n_docs: int) -> pa.Table:
    """The fixture documents table, rows permuted by ``seed``; the first
    ``n_docs`` rows of the permutation (all 5,000 at full size)."""
    table = pq.read_table(DOCUMENTS_FIXTURE)
    if n_docs > table.num_rows:
        raise ValueError(f"the documents fixture has {table.num_rows} rows, not {n_docs}")
    order = np.random.default_rng(seed % 2**32).permutation(table.num_rows)[:n_docs]
    return table.take(order)


def ensure_inputs(cache_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, str]:
    """Generate (or reuse) each requested input; returns kind -> path.

    ``sizes`` maps an input kind (corpus, points, documents, nation) to its
    row count; nation is fixed at 25 rows and ignores the count."""
    generators = {
        "corpus": lambda n: (corpus_table(seed, n), 12),
        "points": lambda n: (points_table(seed, n), 8),
        "documents": lambda n: (documents_table(seed, n), 4),
        "nation": lambda n: (nation_table(), 1),
    }
    paths = {}
    for kind, n in sizes.items():
        key = f"{kind}-v{FORMAT_VERSION}-n{n}" + ("" if kind == "nation" else f"-s{seed}")
        paths[kind] = cached_dir(os.path.join(cache_dir, key), lambda tmp: _write_parts(tmp, *generators[kind](n)))
    return paths


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
