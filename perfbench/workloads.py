"""The benchmark's workloads: one pass of each, its output checks, and
the per-layer probes of a traced run.

A pass materializes every operator of the workload with a ``noop``
write (so Catalyst cannot prune output columns) under an
``Observation`` that records the row count and an order-independent
content signature of the rows.  The signature is computed inside the
timed pass, in the same job; the references it is compared with are
computed outside the timed region, by code the pass does not run.
"""

from __future__ import annotations

import functools
import json
import multiprocessing
import os
import shutil
import statistics
import time
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from perfbench import eventlog
from perfbench.inputs import FORMAT_VERSION, cached_dir, event_offset, parquet_bytes

ZOOMS = [5, 9, 12]
GRID = "NetherlandsRDNewQuad"
REPLAY_CHUNK = 2000  # rows per kernel replay chunk (the session's Arrow batch size)
SAMPLE_DOCS = 24  # documents whose snapped geometries are checked against the scalar kernel
SINK_TILE_BUCKETS = 2


def _hash_cols(df: DataFrame, cols: list[str]):
    """Row hash over ``cols`` with every integral type widened to long,
    so Spark rows and DuckDB-written rows of equal value hash equal."""
    types = {f.name: f.dataType for f in df.schema.fields}
    exprs = [
        F.col(c).cast("long") if isinstance(types[c], (ByteType, ShortType, IntegerType, LongType)) else F.col(c)
        for c in sorted(cols)
    ]
    return F.pmod(F.xxhash64(*exprs), F.lit(2147483647))


def _sig_aggs(df: DataFrame, cols: list[str]):
    return [F.count(F.lit(1)).alias("rows"), F.coalesce(F.sum(_hash_cols(df, cols)), F.lit(0)).alias("h")]


def signature(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """(row count, sum of row hashes mod 2^31-1): equal multisets of
    rows give equal signatures regardless of order or partitioning."""
    r = df.agg(*_sig_aggs(df, cols or df.columns)).collect()[0]
    return int(r["rows"]), int(r["h"])


def observed_noop(df: DataFrame, cols: list[str] | None = None) -> tuple[int, int]:
    """Materialize every column of ``df`` through the noop sink and
    return the signature of ``cols``, observed in the same job."""
    obs = Observation()
    df.observe(obs, *_sig_aggs(df, cols or df.columns)).write.format("noop").mode("overwrite").save()
    r = obs.get
    return int(r["rows"]), int(r["h"])


def duckdb_signature(spark, sql: str, views: dict[str, str], out_path: str) -> tuple[int, int]:
    """Run an oracle query in DuckDB over parquet inputs, write its rows
    to parquet, and take their signature in Spark."""
    import duckdb

    con = duckdb.connect()
    try:
        for name, path in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        con.execute(f"COPY ({sql}) TO '{out_path}' (FORMAT PARQUET)")
    finally:
        con.close()
    return signature(spark.read.parquet(out_path))


@functools.lru_cache(maxsize=None)
def _grid():
    from texel_spark.grid.tms import load_embedded
    from texel_spark.kernel.snap import SnapConfig

    return load_embedded(GRID), SnapConfig(ignore_outside_grid=True)


def scalar_snap(wkt: str) -> dict[int, list]:
    """A polygon or multipolygon span through the scalar reference kernel
    (kernel.snap.snap_polygon): zoom -> snapped polygons of all members,
    for the zooms with any."""
    from texel_spark.functions.wkt import parse_wkt
    from texel_spark.kernel.snap import snap_polygon

    tms, cfg = _grid()
    kind, coords = parse_wkt(wkt)
    if kind not in ("polygon", "multipolygon"):
        raise ValueError(f"unexpected geometry kind {kind!r}")
    merged: dict[int, list] = {}
    for poly in [coords] if kind == "polygon" else coords:
        for zoom, out in snap_polygon(poly, tms, ZOOMS, cfg).items():
            merged.setdefault(zoom, []).extend(out)
    return {zoom: polys for zoom, polys in merged.items() if polys}


def scalar_bbox_rows(spans: list[tuple[str, int, str]]) -> list[tuple]:
    """(doc_id, span_idx, zoom, minx, miny, maxx, maxy) of each snapped
    geometry of ``spans`` ((doc_id, span_idx, wkt) rows), from the scalar
    kernel."""
    from texel_spark.functions.wkt import polygon_bbox

    return [
        (doc_id, span_idx, zoom, *polygon_bbox([ring for p in polys for ring in p]))
        for doc_id, span_idx, wkt in spans
        for zoom, polys in scalar_snap(wkt).items()
    ]


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


@dataclass
class PassResult:
    rows: int
    sigs: dict = field(default_factory=dict)  # check name -> signature
    op_s: dict = field(default_factory=dict)  # operator -> seconds


class Workload:
    name = ""
    sizes: dict[str, int] = {}
    cores_per_slot = 1  # host cores per Spark task slot
    # untimed passes after session start: the first is cold (Python-worker
    # spawn, codegen), and the JVM's JIT keeps speeding up the next few
    warmup_passes = 3
    java_options = ""  # added to the driver JVM's options

    def __init__(self, inputs: dict[str, str], work: str, seed: int):
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.probe_failures: list[str] = []

    def prepare(self, cache_dir: str) -> None:
        """Derive cached, untimed inputs before any Spark session starts."""

    def load(self, spark) -> None:
        """Read the inputs (part of set-up)."""
        raise NotImplementedError

    def run_pass(self, spark, job_tag: str) -> PassResult:
        """One timed pass; its Spark jobs carry the description ``job_tag``."""
        raise NotImplementedError

    def reference(self, spark) -> tuple[dict, list[str]]:
        """(expected signature per check name, names of failed checks
        that are not per pass)."""
        raise NotImplementedError

    def probe(self, spark, tag) -> dict[str, float]:
        """Per-layer timings and counts of a traced run; ``tag(name)``
        sets the job description of the probe's Spark jobs."""
        raise NotImplementedError

    def traced_layers(self, results: list[PassResult], log) -> dict[str, float]:
        """Per-layer metrics taken from the traced passes and the parsed
        event log (``eventlog.EventLog``)."""
        raise NotImplementedError


class SnapTiles(Workload):
    """snap_pipeline_df at zooms 5/9/12: geometry spans -> snap kernel
    (Python workers, Arrow batches) -> covering-tile fan-out (JVM)."""

    name = "snap_tiles"
    sizes = {"corpus": 4_000}
    # a task keeps its JVM thread and its Python worker busy at once: one
    # slot per core oversubscribes the host (on 4 cores, local[4] passes
    # were no faster than local[2] and spent ~40% more CPU)
    cores_per_slot = 2
    COLS = ["doc_id", "span_idx", "zoom", "tx", "ty", "tile_id"]
    SINK_TILE_COLS = COLS + ["geom_kind", "n_polys"]
    SINK_GEOM_COLS = ["doc_id", "span_idx", "zoom", "geom_kind", "wkt", "n_polys"]

    def __init__(self, inputs, work, seed):
        super().__init__(inputs, work, seed)
        self.tms, self.cfg = _grid()

    def prepare(self, cache_dir):
        key = f"expected_tiles-v{FORMAT_VERSION}-n{self.sizes['corpus']}-s{self.seed}"
        self.inputs["expected_tiles"] = cached_dir(os.path.join(cache_dir, key), self.write_expected_tiles)

    def write_expected_tiles(self, out_dir: str) -> None:
        """The corpus's tile rows, computed without the code a pass runs:
        the scalar kernel snaps every geometry span (one process per
        core, up to four), and the DuckDB twin of the JVM fan-out
        (``tile_fanout_oracle_sql``) assigns the covering tiles."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from texel_spark.operators.snap_tiles import BBOX_ORACLE_DIR, tile_fanout_oracle_sql

        spans = [
            (doc["doc_id"], i, span["text"])
            for doc in pq.read_table(self.inputs["corpus"]).to_pylist()
            for i, span in enumerate(doc["spans"])
            if span["kind"] == "geom"
        ]
        chunks = [spans[i : i + 500] for i in range(0, len(spans), 500)]
        # fork, not spawn: this runs before any JVM starts, and a spawn pool
        # leaves a resource-tracker process running until this process exits
        fork = multiprocessing.get_context("fork")
        with ProcessPoolExecutor(min(4, len(os.sched_getaffinity(0))), mp_context=fork) as pool:
            rows = [row for part in pool.map(scalar_bbox_rows, chunks) for row in part]
        schema = pa.schema(
            [("doc_id", pa.string()), ("span_idx", pa.int32()), ("zoom", pa.int32())]
            + [(c, pa.float64()) for c in ("minx", "miny", "maxx", "maxy")]
        )
        tag = f"perfbench-expected-{self.seed}"
        bbox_dir = os.path.join(BBOX_ORACLE_DIR, tag)
        os.makedirs(bbox_dir, exist_ok=True)
        pq.write_table(
            pa.table([[r[i] for r in rows] for i in range(len(schema))], schema=schema),
            os.path.join(bbox_dir, "bbox.parquet"),
        )
        con = duckdb.connect()
        try:
            sql = tile_fanout_oracle_sql(self.tms, ZOOMS, tag=tag)
            con.execute(f"COPY ({sql}) TO '{os.path.join(out_dir, 'tiles.parquet')}' (FORMAT PARQUET)")
        finally:
            con.close()
            shutil.rmtree(bbox_dir, ignore_errors=True)

    def load(self, spark):
        self.docs = spark.read.parquet(self.inputs["corpus"])

    def run_pass(self, spark, job_tag):
        from texel_spark.operators.snap_tiles import snap_pipeline_df

        rows, h = observed_noop(snap_pipeline_df(self.docs, self.tms, ZOOMS, self.cfg), self.COLS)
        return PassResult(rows=rows, sigs={"tiles": (rows, h)})

    def reference(self, spark):
        """Every pass must reproduce the tile rows of ``prepare``'s
        scalar-kernel + DuckDB reference.  The snapped geometries (not in
        a pass's signature) must equal the scalar kernel's on a sample,
        and the span invariant must hold."""
        failed = []
        first = self.docs.select("doc_id").orderBy("doc_id").limit(SAMPLE_DOCS).collect()
        sample = self.docs.where(F.col("doc_id").isin([r["doc_id"] for r in first]))
        if not self.batch_matches_scalar(sample):
            failed.append("batch_vs_scalar")
        if self.span_violations() != 0:
            failed.append("span_sequence_violations")
        return {"tiles": signature(spark.read.parquet(self.inputs["expected_tiles"]), self.COLS)}, failed

    def batch_matches_scalar(self, sample: DataFrame) -> bool:
        """The Spark snap stage against the scalar reference kernel
        (kernel.snap.snap_polygon), feature by feature."""
        from texel_spark.functions.wkt import multipolygon_to_wkt, parse_wkt, polygon_to_wkt
        from texel_spark.operators.snap_tiles import snap_documents
        from texel_spark.sources.documents import geometry_spans

        spans = geometry_spans(sample)
        expect = set()
        for r in spans.collect():
            multi_src = parse_wkt(r["wkt"])[0] == "multipolygon"
            for zoom, out in scalar_snap(r["wkt"]).items():
                multi = multi_src or len(out) > 1
                w = multipolygon_to_wkt(out) if multi else polygon_to_wkt(out[0])
                expect.add((r["doc_id"], r["span_idx"], zoom, repr(parse_wkt(w))))
        got = {
            (r["doc_id"], r["span_idx"], r["zoom"], repr(parse_wkt(r["wkt"])))
            for r in snap_documents(spans, self.tms, ZOOMS, self.cfg).collect()
        }
        return bool(expect) and got == expect

    def span_violations(self) -> int:
        from texel_spark.sources.documents import explode_spans, reassemble_spans, span_sequence_violations

        return span_sequence_violations(self.docs, reassemble_spans(explode_spans(self.docs)))

    def probe(self, spark, tag):
        from texel_spark.operators.snap_tiles import assign_tiles, snap_documents
        from texel_spark.sources.documents import geometry_spans

        out = {}
        tag("probe sources")
        out["sources.read_explode_s"], (out["sources.features"], _) = timed(observed_noop, geometry_spans(self.docs))
        out["sources.span_violations"] = self.span_violations()
        tag("probe replay")
        out.update(self.replay_kernel(geometry_spans(self.docs).select("wkt")))
        tag("probe snap_stage")
        snapped = snap_documents(geometry_spans(self.docs), self.tms, ZOOMS, self.cfg)
        out["snap_tiles.snap_stage_s"], _ = timed(observed_noop, snapped)
        snapped = snapped.persist()
        try:
            snapped.count()
            tag("probe fanout")
            out["snap_tiles.fanout_s"], _ = timed(observed_noop, assign_tiles(snapped, self.tms, ZOOMS))
        finally:
            snapped.unpersist()
        out.update(self.sink(spark, tag))
        return out

    def traced_layers(self, results, log):
        return {
            "snap_tiles.tile_rows": statistics.median(r.rows for r in results) if results else 0,
            "snap_tiles.sink_jobs": eventlog.jobs_tagged(log, "probe sink"),
        }

    def replay_kernel(self, wkts: DataFrame) -> dict[str, float]:
        """Replay the snap stage's two inner layers in this process over
        the corpus's WKT, in Arrow-batch-sized chunks: the batch WKT
        parser (functions.wkt_batch) and the flat-array kernel
        (kernel.snap_batch.snap_flat_batch), called as the operator
        calls them."""
        import numpy as np

        from texel_spark.functions.wkt_batch import parse_polygons_batch_resilient
        from texel_spark.kernel.snap_batch import snap_flat_batch

        texts = [r["wkt"] for r in wkts.collect()]
        parse_s = snap_s = 0.0
        fallback = members = vertices = columnar = 0
        for c0 in range(0, len(texts), REPLAY_CHUNK):
            t, (parsed, fb_rows) = timed(parse_polygons_batch_resilient, texts[c0 : c0 + REPLAY_CHUNK])
            parse_s += t
            fallback += len(fb_rows)
            n_members = parsed.member_fastrow.size
            row_members = np.searchsorted(parsed.member_fastrow, np.arange(parsed.rows.size + 1))
            multi = (row_members[1:] - row_members[:-1]) > 1
            t, (results, _, _) = timed(
                snap_flat_batch,
                parsed.xy, parsed.ring_member, parsed.ring_start, parsed.ring_len,
                n_members, self.tms, ZOOMS, self.cfg,
                need_dicts=multi[parsed.member_fastrow] if n_members else None,
                collect_columnar=True,
            )
            snap_s += t
            members += n_members
            vertices += int(parsed.xy.shape[0])
            columnar += sum(1 for r in results if r is None)
        return {
            "functions.parse_s": parse_s,
            "functions.fallback_rows": fallback,
            "kernel.snap_s": snap_s,
            "kernel.members": members,
            "kernel.vertices": vertices,
            "kernel.us_per_vertex": snap_s * 1e6 / vertices if vertices else 0.0,
            "kernel.columnar_share": columnar / members if members else 0.0,
        }

    def sink(self, spark, tag) -> dict[str, float]:
        """One run_pipeline job (persisted snap, per-(zoom, bucket) salted
        tile writes, geometry and metrics writes, manifest) over the
        corpus's first parquet file, into a fresh directory; its tiles and
        geometries read back must equal the in-memory pipeline's."""
        from texel_spark.operators.snap_tiles import (
            run_pipeline,
            snap_documents,
            snap_pipeline_df,
            snapped_geometries,
        )
        from texel_spark.sources.documents import geometry_spans

        src = os.path.join(self.inputs["corpus"], sorted(os.listdir(self.inputs["corpus"]))[0])
        docs = spark.read.parquet(src)
        out_dir = os.path.join(self.work, "sink")
        shutil.rmtree(out_dir, ignore_errors=True)
        tag("probe sink")
        sink_s, summary = timed(
            run_pipeline, docs, self.tms, ZOOMS, out_dir, self.cfg, resume=False, tile_buckets=SINK_TILE_BUCKETS
        )
        tag("probe sink-check")
        with open(os.path.join(out_dir, "manifest.json")) as f:
            complete = json.load(f)["completed_zooms"] == ZOOMS
        tiles = signature(spark.read.parquet(os.path.join(out_dir, "tiles")), self.SINK_TILE_COLS)
        geoms = signature(spark.read.parquet(os.path.join(out_dir, "geoms")), self.SINK_GEOM_COLS)
        expect_geoms = snapped_geometries(snap_documents(geometry_spans(docs), self.tms, ZOOMS, self.cfg))
        if not (
            complete
            and tiles == signature(snap_pipeline_df(docs, self.tms, ZOOMS, self.cfg), self.SINK_TILE_COLS)
            and geoms == signature(expect_geoms, self.SINK_GEOM_COLS)
            and tiles[0] == sum(summary["metrics"]["rows_per_zoom"].values())
        ):
            self.probe_failures.append("tile_sink")
        n_files = sum(1 for _, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet"))
        write_amp = parquet_bytes(out_dir) / os.path.getsize(src)
        shutil.rmtree(out_dir, ignore_errors=True)
        return {"snap_tiles.sink_s": sink_s, "snap_tiles.sink_files": n_files, "snap_tiles.sink_write_amp": write_amp}


SPATIAL_OPS = ("pip_join", "knn_join", "rasterize", "tile_pyramid_rollup")
TEXT_OPS = (  # (metric, module, operator, oracle)
    ("dedup.ngram_jaccard_s", "dedup", "ngram_jaccard_pairs", "ngram_jaccard_pairs_sql"),
    ("dedup.minhash_lsh_s", "dedup", "minhash_lsh_candidates", "minhash_lsh_sql"),
    ("dedup.minhash_verify_s", "dedup", "minhash_verify", "minhash_verify_sql"),
    ("text.bm25_topk_s", "text", "bm25_topk", "bm25_topk_sql"),
)


class SpatialJoins(Workload):
    """pip_join, knn_join (50k queries), rasterize at zoom 9 and
    tile_pyramid_rollup over a seeded point-id table and the 25 nation
    triangles: broadcast joins, window top-k and explode, all in the JVM."""

    name = "spatial_joins"
    # documents: the first half of the seed's permutation of the 5,000-row
    # table, so the traced run (four operators plus their DuckDB oracles)
    # stays well inside its time limit on a 4-core host
    sizes = {"points": 500_000, "nation": 25, "documents": 2_500}
    N_QUERIES = 50_000
    # with the JVM's default JIT thresholds, planning the four operators
    # kept getting faster for about a minute of passes (C2 catching up on
    # Catalyst code); compiling after a tenth of the usual invocation
    # counts settles it within ~6 passes.  Fewer warm-up passes left the
    # timed ones on that slope.
    warmup_passes = 6
    java_options = "-XX:CompileThresholdScaling=0.1"

    def load(self, spark):
        from texel_spark.operators import spatial_queries as sq

        self.events = spark.read.parquet(self.inputs["points"])
        self.nation = spark.read.parquet(self.inputs["nation"])
        # knn_join queries the ids below n_queries; the ids start at the seed's offset
        n_q = event_offset(self.seed) + self.N_QUERIES
        self.ops = {
            "pip_join": (lambda: sq.pip_join(self.events, self.nation), sq.pip_join_sql()),
            "knn_join": (lambda: sq.knn_join(self.events, self.nation, n_queries=n_q), sq.knn_join_sql(n_queries=n_q)),
            "rasterize": (lambda: sq.rasterize(self.nation, zoom=9), sq.rasterize_sql(zoom=9)),
            "tile_pyramid_rollup": (lambda: sq.tile_pyramid_rollup(self.events), sq.tile_pyramid_rollup_sql()),
        }

    def run_pass(self, spark, job_tag):
        res = PassResult(rows=0)
        for name in SPATIAL_OPS:
            spark.sparkContext.setJobDescription(f"{job_tag} {name}")
            # the operator call builds (and partly evaluates) its plan: time it too
            res.op_s[name], res.sigs[name] = timed(lambda: observed_noop(self.ops[name][0]()))
            res.rows += res.sigs[name][0]
        return res

    def reference(self, spark):
        """Each operator against its DuckDB oracle on the same parquet."""
        views = {"events": self.inputs["points"], "nation": self.inputs["nation"]}
        return {
            name: duckdb_signature(spark, self.ops[name][1], views, os.path.join(self.work, f"{name}.parquet"))
            for name in SPATIAL_OPS
        }, []

    def traced_layers(self, results, log):
        out = {
            f"spatial_queries.{op}_s": statistics.median(r.op_s[op] for r in results) if results else 0.0
            for op in SPATIAL_OPS
        }
        out["spatial_queries.pip_candidates_per_row"] = eventlog.probe_rows_per_output(log, "pip_join")
        return out

    def probe(self, spark, tag):
        """The shuffle-heavy text operators (dedup, BM25): pure JVM like
        the spatial joins, timed once each on a seeded half of the sf0.1
        documents table and checked against their DuckDB oracles."""
        from texel_spark.operators import dedup, text

        modules = {"dedup": dedup, "text": text}
        docs = spark.read.parquet(self.inputs["documents"])
        out = {}
        for metric, module, op, oracle in TEXT_OPS:
            tag(f"probe {op}")
            out[metric], got = timed(observed_noop, getattr(modules[module], op)(docs))
            expect = duckdb_signature(
                spark,
                getattr(modules[module], oracle)(),
                {"documents": self.inputs["documents"]},
                os.path.join(self.work, f"{op}.parquet"),
            )
            if got != expect:
                self.probe_failures.append(op)
        return out


WORKLOADS = {w.name: w for w in (SnapTiles, SpatialJoins)}
