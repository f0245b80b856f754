"""The snap stage's rows vs the scalar reference kernel, as test helpers.

``stage_rows`` runs (doc_id, span_idx, wkt) spans through the stage's
batch entry (operators.snap_tiles._process_batch, the only caller of the
flat-array kernel) and checks that the kernel returned ring handles
only.  ``scalar_rows`` builds the rows the stage should
emit from kernel.snap.snap_polygon, one polygon member at a time, the
way perfbench's ``scalar_snap`` does.  Both return canonical rows: the
wkt is parsed back with the scalar codec, so coordinates compare bit for
bit whatever formatter wrote them.
"""

import pyarrow as pa

from texel_spark.functions.wkt import geometry_to_wkt, parse_wkt, polygon_bbox, ring_to_wkt_body
from texel_spark.kernel.snap import snap_polygon


def span_wkt(polygons, multi=False) -> str:
    """WKT of input polygons with their rings exactly as given (no
    closing point added)."""
    bodies = ["(" + ", ".join(ring_to_wkt_body(r, close=False) for r in p) + ")" for p in polygons]
    return "MULTIPOLYGON (" + ", ".join(bodies) + ")" if multi else "POLYGON " + bodies[0]


SPANS_SCHEMA = pa.schema([("doc_id", pa.string()), ("span_idx", pa.int32()), ("wkt", pa.string())])


def spans_batch(spans) -> pa.RecordBatch:
    """(doc_id, span_idx, wkt) spans as one Arrow batch of the snap
    stage's input (sources.documents.geometry_spans' columns)."""
    cols = list(zip(*spans)) or [()] * len(SPANS_SCHEMA)
    return pa.RecordBatch.from_arrays([pa.array(c, f.type) for c, f in zip(cols, SPANS_SCHEMA)], schema=SPANS_SCHEMA)


def canon_rows(records) -> list[tuple]:
    out = []
    for r in records:
        kind, coords = parse_wkt(r["wkt"])
        out.append(
            (
                r["doc_id"],
                int(r["span_idx"]),
                int(r["zoom"]),
                r["geom_kind"],
                kind,
                repr(coords),
                float(r["minx"]),
                float(r["miny"]),
                float(r["maxx"]),
                float(r["maxy"]),
                int(r["n_polys"]),
            )
        )
    return sorted(out)


def _is_handle(ring) -> bool:
    return (
        isinstance(ring, tuple)
        and len(ring) == 3
        and all(isinstance(v, int) and not isinstance(v, bool) for v in ring[:2])
        and isinstance(ring[2], bool)
    )


def stage_rows(spans, tms, tm_ids, cfg) -> list[tuple]:
    """The stage's rows for ``spans``; also asserts that every ring of
    the kernel's dict results is an (a, b, rev) store handle."""
    from unittest import mock

    from texel_spark.kernel import snap_batch
    from texel_spark.operators.snap_tiles import _process_batch

    kernel_results = []

    def spy(*args, **kwargs):
        out = snap_flat_batch(*args, **kwargs)
        kernel_results.extend(r for r in out[0] if r is not None)
        return out

    snap_flat_batch = snap_batch.snap_flat_batch
    with mock.patch.object(snap_batch, "snap_flat_batch", spy):
        out = _process_batch(spans_batch(spans), tms, list(tm_ids), cfg)
    rings = [r for res in kernel_results for polys in res.values() for p in polys for r in p]
    assert all(map(_is_handle, rings)), [r for r in rings if not _is_handle(r)][:3]
    return canon_rows(out.to_pylist())


def _points(kind, coords):
    if kind == "point":
        return [coords]
    if kind == "multilinestring":
        return [p for line in coords for p in line]
    return coords


def scalar_rows(spans, tms, tm_ids, cfg) -> list[tuple]:
    """The rows the snap stage emits for ``spans``, from the scalar
    kernel: a polygon's members snap one by one (first two ordinates of
    each point) and merge per zoom; other kinds pass through to every
    zoom; EMPTY geometries emit nothing."""
    records = []

    def emit(doc_id, span_idx, zoom, kind, wkt, bbox, n_polys):
        minx, miny, maxx, maxy = bbox
        records.append(
            {"doc_id": doc_id, "span_idx": span_idx, "zoom": zoom, "geom_kind": kind, "wkt": wkt,
             "minx": minx, "miny": miny, "maxx": maxx, "maxy": maxy, "n_polys": n_polys}
        )

    for doc_id, span_idx, wkt in spans:
        kind, coords = parse_wkt(wkt)
        if not coords:
            continue
        if kind not in ("polygon", "multipolygon"):
            pts = _points(kind, coords)
            bbox = (min(p[0] for p in pts), min(p[1] for p in pts), max(p[0] for p in pts), max(p[1] for p in pts))
            for zoom in tm_ids:
                emit(doc_id, span_idx, zoom, kind, geometry_to_wkt(kind, coords), bbox, 0)
            continue
        merged: dict[int, list] = {}
        for poly in coords if kind == "multipolygon" else [coords]:
            rings = [[p[:2] for p in ring] for ring in poly]
            for zoom, polys in snap_polygon(rings, tms, list(tm_ids), cfg).items():
                merged.setdefault(zoom, []).extend(polys)
        for zoom, polys in merged.items():
            if polys:
                multi = kind == "multipolygon" or len(polys) > 1
                out_kind = "multipolygon" if multi else "polygon"
                w = geometry_to_wkt(out_kind, polys if multi else polys[0])
                emit(doc_id, span_idx, zoom, out_kind, w, polygon_bbox([r for p in polys for r in p]), len(polys))
    return canon_rows(records)
