"""In-process replay of the snap stage's batch entry over a seeded corpus.

Builds the synthetic document corpus ``build_document(seed * n_docs + i)``
for ``i < n_docs`` (the corpus perfbench's snap_tiles workload writes
for that seed, without Spark), takes its geometry spans in document
order, and runs ``operators.snap_tiles._process_batch`` over them in
2,000-row Arrow batches (doc_id string, span_idx int32, wkt string, the
stage's input columns) on NetherlandsRDNewQuad at zooms 5/9/12, under two
configs: the default (``ignore_outside_grid``) and
``keep_points_and_lines`` + ``reverse_winding_order``.  Each config
replays three layouts: ``polygon`` (the corpus as written), ``multi3``
(consecutive runs of three spans, the last run possibly shorter, each
written as one MULTIPOLYGON keyed by its first span's (doc_id,
span_idx)), so multipolygon parts take the same kernel lanes as
polygons, and ``dense``: each span's keys, with a seeded 60-vertex ring
at its first vertex instead of its polygon (radius 40 m, +-30% radial
noise; every fourth ring has two clockwise 10-vertex holes of radius
8 m).  At zoom 5 such rings snap with backtracks and self-tangencies,
so nearly every member takes the kernel's dict lane, which the
corpus's own polygons never reach.

For each config and layout it prints one JSON line:

* ``rows``: snapped rows emitted;
* ``geom_hash``: sha256 (16 hex digits) of the sorted rows with the WKT
  parsed back by the scalar codec (keys, kind, coordinates, bbox,
  n_polys), so it reads the same whichever formatter wrote the text;
* ``text_hash``: the same over the raw WKT text;
* ``multi_text_values``: float values printed with more than one text;
* ``columnar_share``: polygon members the kernel's columnar lane took
  (``snap_flat_batch`` returned None for them) / all polygon members,
  the ratio perfbench reports as ``kernel.columnar_share``;
* ``cpu_s``: median process CPU seconds of one replay over ``--repeats``.

Usage: python3 tools/snap_replay.py [--seed 7] [--docs 4000] [--repeats 3]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GRID = "NetherlandsRDNewQuad"
ZOOMS = [5, 9, 12]
CHUNK = 2000  # rows per batch, the snap stage's Arrow batch size
_NUMBER = re.compile(r"-?[0-9][0-9.e+-]*")


def corpus_spans(seed: int, n_docs: int):
    """The corpus's geometry spans as (doc_id, span_idx, wkt), in document order."""
    from texel_spark.sources.documents import build_document

    spans = []
    for i in range(n_docs):
        doc_id, doc_spans = build_document(seed * n_docs + i)
        spans.extend((doc_id, k, s[1]) for k, s in enumerate(doc_spans) if s[0] == "geom")
    return spans


def multi3_spans(spans):
    """``spans`` grouped into MULTIPOLYGONs of three consecutive spans."""
    out = []
    for i in range(0, len(spans), 3):
        run = spans[i : i + 3]
        parts = ", ".join(wkt[wkt.index("(") :] for _, _, wkt in run)
        out.append((run[0][0], run[0][1], "MULTIPOLYGON (" + parts + ")"))
    return out


def _ring_text(cx, cy, radii, sign=1) -> str:
    """A closed WKT ring of ``len(radii)`` points around (cx, cy), counter-
    clockwise (``sign`` 1) or clockwise (-1)."""
    angles = [sign * 2 * math.pi * k / len(radii) for k in range(len(radii))]
    pts = [(cx + r * math.cos(a), cy + r * math.sin(a)) for a, r in zip(angles, radii)]
    return "(" + ", ".join(f"{x:.3f} {y:.3f}" for x, y in pts + pts[:1]) + ")"


def dense_spans(spans, seed: int):
    """``spans`` rewritten as dense-vertex polygons at their first vertex."""
    rng = random.Random(seed)
    out = []
    for i, (doc_id, span_idx, wkt) in enumerate(spans):
        cx, cy = (float(m.group()) for _, m in zip(range(2), _NUMBER.finditer(wkt)))
        rings = [_ring_text(cx, cy, [40 * rng.uniform(0.7, 1.3) for _ in range(60)])]
        if i % 4 == 3:  # two holes, inside the outer's 28 m minimum radius
            rings += [_ring_text(hx, cy, [8] * 10, -1) for hx in (cx - 15, cx + 15)]
        out.append((doc_id, span_idx, "POLYGON (" + ", ".join(rings) + ")"))
    return out


def replay(spans, tms, cfg):
    """Every chunk through _process_batch; returns the row records and
    the columnar lane's share of the kernel's polygon members."""
    from unittest import mock

    import pyarrow as pa

    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    snap_flat_batch = snap_batch.snap_flat_batch
    lanes = {"columnar": 0, "members": 0}

    def counted(*args, **kwargs):
        results = snap_flat_batch(*args, **kwargs)
        lanes["columnar"] += sum(r is None for r in results[0])
        lanes["members"] += len(results[0])
        return results

    out = []
    with mock.patch.object(snap_batch, "snap_flat_batch", counted):
        for c0 in range(0, len(spans), CHUNK):
            doc_ids, span_idxs, wkts = zip(*spans[c0 : c0 + CHUNK])
            batch = pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), pa.array(span_idxs, pa.int32()), pa.array(wkts, pa.string())],
                names=["doc_id", "span_idx", "wkt"],
            )
            out.extend(_process_batch(batch, tms, ZOOMS, cfg).to_pylist())
    return out, lanes["columnar"] / max(lanes["members"], 1)


def summarize(records) -> dict:
    from texel_spark.functions.wkt import parse_wkt

    def digest(lines) -> str:
        h = hashlib.sha256()
        for line in sorted(lines):
            h.update(line.encode())
            h.update(b"\n")
        return h.hexdigest()[:16]

    keys = [(r["doc_id"], int(r["span_idx"]), int(r["zoom"]), r["geom_kind"]) for r in records]
    geom = [
        repr((*k, parse_wkt(r["wkt"]), float(r["minx"]), float(r["miny"]), float(r["maxx"]), float(r["maxy"]), int(r["n_polys"])))
        for k, r in zip(keys, records)
    ]
    texts: dict[float, set] = {}
    for r in records:
        for tok in _NUMBER.findall(r["wkt"]):
            texts.setdefault(float(tok), set()).add(tok)
    return {
        "rows": len(records),
        "geom_hash": digest(geom),
        "text_hash": digest(repr((*k, r["wkt"])) for k, r in zip(keys, records)),
        "multi_text_values": sum(1 for t in texts.values() if len(t) > 1),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--docs", type=int, default=4000)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from texel_spark.grid.tms import load_embedded
    from texel_spark.kernel.snap import SnapConfig

    tms = load_embedded(GRID)
    polygons = corpus_spans(args.seed, args.docs)
    layouts = {"polygon": polygons, "multi3": multi3_spans(polygons), "dense": dense_spans(polygons, args.seed)}
    configs = {
        "default": SnapConfig(ignore_outside_grid=True),
        "keep_pl_reverse": SnapConfig(
            keep_points_and_lines=True, ignore_outside_grid=True, reverse_winding_order=True
        ),
    }
    for name, cfg in configs.items():
        for layout, spans in layouts.items():
            cpu = []
            for _ in range(max(1, args.repeats)):
                t0 = time.process_time()
                records, columnar_share = replay(spans, tms, cfg)
                cpu.append(time.process_time() - t0)
            line = {"seed": args.seed, "docs": args.docs, "spans": len(spans), "config": name, "layout": layout}
            line.update(summarize(records))
            line["columnar_share"] = round(columnar_share, 4)
            line["cpu_s"] = round(statistics.median(cpu), 3)
            print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
