"""Traced run: per-layer numbers from spans around calls into the package.

Spans are recorded here, in the benchmark, around calls into the public
functions of ``pbf.blocks``, ``pbf.decode``, ``sources.pbf_source``,
``operators.geocode`` and ``operators.spatial_join``; the package itself is not
instrumented. Row counts, shuffle bytes and spill come from Spark's status
stores after the traced action.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from perfbench.steal import Timer

KINDS = ("nodes", "ways", "relations")


class Tracer:
    """In-memory spans: name, parent, start, end and steal-free ``busy`` time,
    written out at the end."""

    def __init__(self, cpu=None):
        self.cpu = cpu
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.perf_counter() - self._t0
        t = Timer(self.cpu)
        try:
            with t:
                yield
        finally:
            self._stack.pop()
            self.spans.append(
                {"name": name, "parent": parent, "start": start, "end": start + t.wall,
                 "steal_share": t.steal_share, "busy": t.busy, "cpu": t.cpu}
            )

    def last(self, name: str) -> float:
        """Busy seconds of the latest span called ``name``."""
        return next(s["busy"] for s in reversed(self.spans) if s["name"] == name)


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

def last_execution(spark) -> dict:
    """Join output rows and stage totals of the most recent SQL execution.

    Plan nodes are listed root first, so for the PIP plan ``join_rows[0]`` is
    the ray-cast join (hits) and ``join_rows[1]`` the tile-key join after its
    bbox condition (candidate pairs)."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    ex = execs.apply(execs.size() - 1)
    values = store.executionMetrics(ex.executionId())
    graph = store.planGraph(ex.executionId())
    nodes = []
    it = graph.allNodes().iterator()
    while it.hasNext():
        nodes.append(it.next())
    nodes.sort(key=lambda n: n.id())
    join_rows = []
    for n in nodes:
        if "Join" not in n.name():
            continue
        mi = n.metrics().iterator()
        while mi.hasNext():
            m = mi.next()
            v = values.get(m.accumulatorId())
            if m.name() == "number of output rows" and v.isDefined():
                join_rows.append(int(v.get().replace(",", "")))
    app = spark.sparkContext._jsc.sc().statusStore()
    shuffle = spill = 0
    st = ex.stages().iterator()
    while st.hasNext():
        sd = app.lastStageAttempt(st.next())
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return {"join_rows": join_rows, "shuffle_bytes": shuffle, "spill_bytes": spill}


# ---------------------------------------------------------------------------
# layers
# ---------------------------------------------------------------------------

def decode_layers(tr: Tracer, pbf: str) -> dict:
    """Framing, inflate and the decode kernel, in this process on one core."""
    from openstreetmapio_jl_spark import model
    from openstreetmapio_jl_spark.pbf import blocks, decode

    schemas = {"nodes": model.NODES_ARROW, "ways": model.WAYS_ARROW, "relations": model.RELATIONS_ARROW}
    with tr.span("blocks.frame"):
        descs = blocks.scan_blob_index(pbf)
    inflate_s = kernel_s = 0.0
    inflated = elems = 0
    with Timer() as loop:
        for d in descs[1:]:  # blob 0 is the OSMHeader
            raw = blocks.read_blob_payload(d.path, d.data_offset, d.data_size)
            t0 = time.perf_counter()
            payload = blocks.decompress_blob(raw)
            t1 = time.perf_counter()
            out = decode.decode_primitive_block(payload, want=KINDS, stats=decode.BlockStats())
            for kind in KINDS:
                if out.get(kind):
                    elems += decode.parts_to_batch(out[kind], schemas[kind], d.blob_seq).num_rows
            t2 = time.perf_counter()
            inflate_s += t1 - t0
            kernel_s += t2 - t1
            inflated += len(payload)
    # per-blob sections are too short for tick deltas: scale by the loop's steal
    inflate_s *= 1.0 - loop.steal_share
    kernel_s *= 1.0 - loop.steal_share
    return {
        "blocks.frame_s": tr.last("blocks.frame"),
        "blocks.inflate_mb_per_s": inflated / 1e6 / inflate_s,
        "decode.kernel_s": kernel_s,
        "decode.kernel_elems_per_s": elems / kernel_s,
        "decode.elements": elems,
        "blocks.inflated_bytes": inflated,
    }


def ingest_layers(tr: Tracer, ingest) -> dict:
    """Spark scan into the noop sink, then the same scan into parquet."""
    with tr.span("pbf_source.scan"):
        ingest.write("noop")
    with tr.span("ingest.write_total"):
        ingest.write("parquet")
    scan_s = tr.last("pbf_source.scan")
    return {
        "pbf_source.scan_s": scan_s,
        "ingest.write_s": tr.last("ingest.write_total") - scan_s,
    }


def pip_layers(tr: Tracer, spark, pip) -> dict:
    """Polygon assembly, geocode + cell assignment, the join, the aggregate."""
    from pyspark.sql import functions as F

    from openstreetmapio_jl_spark.operators import spatial_join as SJ
    from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

    b = read_pbf(spark, pip.inp.pbf, single_pass=True)
    b.union.count()  # decode outside the span: assembly reads the cached union
    with tr.span("spatial_join.assemble"):
        rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
        SJ.polygons_with_edges(rings).write.mode("overwrite").format("noop").save()
    b.union.unpersist()

    pts = pip.points()
    with tr.span("geocode.cells"):
        pts.write.mode("overwrite").format("noop").save()
    geo = pts.groupBy("tile").count().agg(F.sum("count"), F.max("count")).collect()[0]
    geocoded, hot = int(geo[0] or 0), int(geo[1] or 0)

    with tr.span("spatial_join.join"):
        pip.hits(pip.points()).write.mode("overwrite").format("noop").save()
    # the partial aggregate runs fused into the join's stage in the job below,
    # so time it on its own over cached join output
    hits_df = pip.hits(pip.points()).cache()
    hits_df.count()
    with tr.span("aggregate"):
        hits_df.groupBy("polygon_id").count().collect()
    hits_df.unpersist()
    with tr.span("pip.job"):
        rows = pip.job().collect()
    ex = last_execution(spark)
    hits, cand = (ex["join_rows"] + [0, 0])[:2]
    ok = {r[0]: r[1] for r in rows} == pip.inp.pip_truth and hits == sum(pip.inp.pip_truth.values())
    return {
        "ok": ok,
        "spatial_join.assemble_s": tr.last("spatial_join.assemble"),
        "spatial_join.polygons": pip.polys.count(),
        "geocode.cells_s": tr.last("geocode.cells"),
        "geocode.geocoded_ratio": geocoded / pip.inp.n_pages,
        # base: geocoded points, not pages
        "geocode.hot_tile_share": hot / geocoded if geocoded else 0.0,
        "geocode.geocoded": geocoded,
        "geocode.hot_tile_points": hot,
        "spatial_join.join_self_s": tr.last("spatial_join.join") - tr.last("geocode.cells"),
        "spatial_join.candidate_pairs": cand,
        "spatial_join.hits": hits,
        "spatial_join.precision": hits / cand if cand else 0.0,
        "aggregate_s": tr.last("aggregate"),
        "shuffle.bytes_written": ex["shuffle_bytes"],
        "spill.bytes": ex["spill_bytes"],
    }


def trace(
    spark, cpus: int, ingest, pip, untraced_s: float, seconds: float, cpu=None
) -> tuple[dict, dict, bool]:
    """After one warm-up pass, repeat the traced pass until ``seconds`` have
    passed (at least once) and report each layer's median. ``untraced_s`` is
    the untraced busy time of the two jobs a pass contains (one ingest write,
    one PIP job), so the overhead is what the layer breakdown adds to them.
    ``cpu`` is the engine's CPU-seconds callable, for the spans. Returns
    (metrics, detail, every pass checked correct)."""
    tr = Tracer(cpu)

    def one_pass() -> dict:
        with tr.span("pass"):
            m = decode_layers(tr, ingest.inp.pbf)
            m.update(ingest_layers(tr, ingest))
            m.update(pip_layers(tr, spark, pip))
        m["pbf_source.kernel_share"] = m["decode.kernel_s"] / cpus / m["pbf_source.scan_s"]
        m["trace.pass_s"] = tr.last("pass")
        return m

    warm = one_pass()  # compiles the layer-split plans; not reported
    passes: list[dict] = []
    deadline = time.perf_counter() + seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(one_pass())
    metrics = {k: statistics.median(p[k] for p in passes) for k in passes[0] if k != "ok"}
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - untraced_s
    detail = {"passes": passes, "spans": tr.spans, "untraced_s": untraced_s}
    return metrics, detail, warm["ok"] and all(p["ok"] for p in passes)
