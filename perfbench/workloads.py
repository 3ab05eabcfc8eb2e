"""The measured jobs. Each repetition returns (timer, result); ``check``
compares the result with the oracle from :mod:`perfbench.inputs`.

- :class:`IngestDecode`: the ``jobs/decode_job.py`` shape, one kind-tagged
  union scan of the PBF written to parquet, read back with pyarrow.
- :class:`PipJoin`: the ``bench.run_scale_one`` shape, pages -> geocode + tile
  -> salted cell join + exact ray cast -> hits per polygon, against a polygon
  dimension prepared once from the PBF.
"""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from perfbench.inputs import Inputs, ingest_summary
from perfbench.steal import Timer

ZOOM = 13
NSALT = 16


class IngestDecode:
    # the first run starts the Python worker pool; the JIT settles after 3-4
    warmup_reps = 4
    min_reps = 5  # timed repetitions at least, whatever --seconds says

    def __init__(self, spark, inp: Inputs, work: Path, cpu=None):
        """``cpu``: callable returning the engine processes' CPU seconds so far."""
        self.spark, self.inp, self.cpu = spark, inp, cpu
        self.out = str(work / "union.parquet")
        self.units = inp.elements

    def setup(self) -> None:
        pass

    def write(self, fmt: str = "parquet") -> None:
        from openstreetmapio_jl_spark.sources.pbf_source import read_pbf_union

        union, _ = read_pbf_union(self.spark, self.inp.pbf)
        w = union.write.mode("overwrite")
        if fmt == "noop":
            w.format("noop").save()
        else:
            w.parquet(self.out)

    def rep(self) -> tuple[Timer, dict]:
        with Timer(self.cpu) as t:
            self.write()
        return t, ingest_summary(pq.read_table(self.out, columns=["kind", "id", "lat", "lon"]))

    def check(self, result: dict) -> bool:
        return result == self.inp.ingest_truth

    @staticmethod
    def tamper(result: dict) -> dict:
        result["nodes"]["count"] += 1
        return result


class PipJoin:
    warmup_reps = 2  # setup's decode has already started the Python workers
    min_reps = 4  # ~3.5 s each; a fifth would break the 3420 s run budget

    def __init__(self, spark, inp: Inputs, work: Path, cpu=None):
        self.spark, self.inp, self.cpu = spark, inp, cpu
        self.poly_dir = str(work / "polygons.parquet")
        self.units = inp.n_pages
        self.polys = None

    def setup(self) -> None:
        """Polygon dimension, built once: decode -> ring assembly -> edges."""
        from openstreetmapio_jl_spark.operators import spatial_join as SJ
        from openstreetmapio_jl_spark.sources.pbf_source import read_pbf

        b = read_pbf(self.spark, self.inp.pbf, single_pass=True)
        rings = SJ.assemble_polygon_rings(b.ways, b.nodes)
        SJ.polygons_with_edges(rings).write.mode("overwrite").parquet(self.poly_dir)
        b.union.unpersist()
        self.polys = self.spark.read.parquet(self.poly_dir)

    def points(self):
        from openstreetmapio_jl_spark.operators import geocode

        return geocode.pages_with_cells(self.spark.read.parquet(self.inp.pages), zoom=ZOOM)

    def hits(self, points):
        from openstreetmapio_jl_spark.operators import spatial_join as SJ

        return SJ.point_in_polygon_join(
            points.select("url", "lat", "lon"), self.polys, zoom=ZOOM, nsalt=NSALT, salt_id_col="url"
        )

    def job(self):
        return self.hits(self.points()).groupBy("polygon_id").count()

    def rep(self) -> tuple[Timer, dict]:
        with Timer(self.cpu) as t:
            rows = self.job().collect()
        return t, {r[0]: r[1] for r in rows}

    def check(self, result: dict) -> bool:
        return result == self.inp.pip_truth

    @staticmethod
    def tamper(result: dict) -> dict:
        k = min(result, default=-1)
        result[k] = result.get(k, 0) + 1
        return result


KINDS = {"ingest_decode": IngestDecode, "pip_uniform": PipJoin, "pip_hot": PipJoin}
