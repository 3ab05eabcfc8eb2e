"""Seeded benchmark inputs and their oracles, cached on disk by (parameters, seed).

No Spark runs here. The generator's public functions build the PBF and the pages
table; the oracles come from the generator's own element lists:

- ingest: per-kind row counts, id sums and node coordinate sums (in 1e-7 degree
  units, so the sums are exact integers);
- PIP: hits per polygon from a DuckDB ray cast over polygons built here from the
  element lists, independent of ``operators.spatial_join``.

Entries live under ``.perfbench_work/cache`` at the repository root (git
ignores it), keyed by generator parameters and seed, so a repeated seed skips
generation, also across workloads that share an input.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
CACHE = WORK / "cache"
KINDS = ("nodes", "ways", "relations")

# the page format's geo mention (RFC 5870 ``geo:`` URI), written out here rather
# than imported so the oracle does not share code with the engine under test
_GEO_RE = r"geo:(-?[0-9]+\.[0-9]+),(-?[0-9]+\.[0-9]+)"

_EDGE = pa.struct([(k, pa.float64()) for k in ("y1", "x1", "y2", "x2")])


@dataclasses.dataclass(frozen=True)
class Inputs:
    pbf: str
    elements: int
    ingest_truth: dict  # kind -> {count, id_sum[, lat_e7, lon_e7]}
    pages: str | None
    n_pages: int
    pip_truth: dict | None  # polygon id -> hit count


def _cached(key: str, build) -> Path:
    """Directory ``CACHE/key``, built once by ``build(tmp_dir)`` and then renamed
    into place, so an interrupted build never looks complete."""
    final = CACHE / key
    if (final / "_DONE").exists():
        return final
    tmp = CACHE / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    (tmp / "_DONE").write_text("")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _e7_sum(values) -> int:
    return int(np.rint(np.asarray(values, dtype=np.float64) * 1e7).astype(np.int64).sum())


def ingest_summary(table: pa.Table) -> dict:
    """What the oracle compares for a decoded union table (kind, id, lat, lon)."""
    kind = table.column("kind").to_numpy(zero_copy_only=False)
    ids = table.column("id").to_numpy()
    out = {}
    for k in KINDS:
        m = kind == k
        s = {"count": int(m.sum()), "id_sum": int(ids[m].sum())}
        if k == "nodes":
            s["lat_e7"] = _e7_sum(table.column("lat").to_numpy(zero_copy_only=False)[m])
            s["lon_e7"] = _e7_sum(table.column("lon").to_numpy(zero_copy_only=False)[m])
        out[k] = s
    return out


def _truth_polygons(nodes, ways) -> pa.Table:
    """Closed ways whose refs all resolve -> (id, edges, bbox): the polygon set
    the engine's ring assembly must produce."""
    pos = {n["id"]: (n["lat"], n["lon"]) for n in nodes}
    rows = {"id": [], "edges": [], "min_lat": [], "max_lat": [], "min_lon": [], "max_lon": []}
    for w in ways:
        refs = w["refs"]
        if len(refs) < 4 or refs[0] != refs[-1] or any(r not in pos for r in refs):
            continue
        ring = [pos[r] for r in refs]
        lats = [p[0] for p in ring]
        lons = [p[1] for p in ring]
        rows["id"].append(w["id"])
        rows["edges"].append(
            [{"y1": a[0], "x1": a[1], "y2": b[0], "x2": b[1]} for a, b in zip(ring, ring[1:])]
        )
        rows["min_lat"].append(min(lats))
        rows["max_lat"].append(max(lats))
        rows["min_lon"].append(min(lons))
        rows["max_lon"].append(max(lons))
    return pa.table({**rows, "edges": pa.array(rows["edges"], pa.list_(_EDGE))})


def _build_osm(sf: float, seed: int):
    from openstreetmapio_jl_spark.fixtures import generator as G

    def build(d: Path) -> None:
        sizes = G.sizes_for_sf(sf)
        meta, nodes, ways, rels = G.make_osm(
            seed=seed,
            n_nodes=sizes["n_nodes"],
            n_ways=sizes["n_ways"],
            n_relations=sizes["n_relations"],
        )
        G.write_fixture_pbf(str(d / "fixture.pbf"), meta, nodes, ways, rels, nodes_per_block=8000)
        truth = {
            "nodes": {
                "count": len(nodes),
                "id_sum": sum(n["id"] for n in nodes),
                "lat_e7": _e7_sum([n["lat"] for n in nodes]),
                "lon_e7": _e7_sum([n["lon"] for n in nodes]),
            },
            "ways": {"count": len(ways), "id_sum": sum(w["id"] for w in ways)},
            "relations": {"count": len(rels), "id_sum": sum(r["id"] for r in rels)},
        }
        (d / "truth.json").write_text(json.dumps(truth))
        pq.write_table(_truth_polygons(nodes, ways), d / "polygons.parquet")

    return _cached(f"osm-sf{sf}-s{seed}", build)


def _build_pages(n: int, hot_frac: float, seed: int) -> Path:
    from openstreetmapio_jl_spark.fixtures import generator as G

    def build(d: Path) -> None:
        # small row groups so Spark can split the file across every core
        pq.write_table(
            G.make_pages(n, seed=seed, hot_frac=hot_frac), d / "pages.parquet", row_group_size=4096
        )

    return _cached(f"pages-n{n}-h{hot_frac}-s{seed}", build)


PIP_ORACLE_SQL = """
with g as (
  select url,
    cast(regexp_extract(text, '{re}', 1) as double) as plat,
    cast(regexp_extract(text, '{re}', 2) as double) as plon
  from read_parquet('{pages}')
  where regexp_extract(text, '{re}', 1) != ''
),
pts as (
  select * from g where plat between -90 and 90 and plon between -180 and 180
),
p as (select id, unnest(edges) as e from read_parquet('{polys}')),
cr as (
  select pts.url, p.id,
    case when ((p.e.y1 > pts.plat) != (p.e.y2 > pts.plat))
          and (pts.plon < (p.e.x2 - p.e.x1) * (pts.plat - p.e.y1) / (p.e.y2 - p.e.y1) + p.e.x1)
    then 1 else 0 end as c
  from pts join read_parquet('{polys}') b
    on pts.plat between b.min_lat and b.max_lat
   and pts.plon between b.min_lon and b.max_lon
  join p on p.id = b.id
)
select id, count(distinct url) as n_hits
from (select url, id from cr group by url, id having sum(c) % 2 = 1)
group by id
"""


def _build_pip_oracle(osm: Path, pages: Path, threads: int) -> Path:
    import duckdb

    def build(d: Path) -> None:
        con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB"})
        try:
            con.execute(f"set temp_directory = '{d / 'duckdb_tmp'}'")
            rows = con.execute(
                PIP_ORACLE_SQL.format(
                    re=_GEO_RE, pages=pages / "pages.parquet", polys=osm / "polygons.parquet"
                )
            ).fetchall()
        finally:
            con.close()
        shutil.rmtree(d / "duckdb_tmp", ignore_errors=True)
        (d / "hits.json").write_text(json.dumps({str(k): v for k, v in rows}))

    return _cached(f"pip-{osm.name}-{pages.name}", build)


def prepare(
    sf: float, n_pages: int, hot_frac: float, seed: int, threads: int, *, pip: bool
) -> Inputs:
    """The PBF and its truth; with ``pip`` also the pages and the PIP oracle."""
    osm = _build_osm(sf, seed)
    truth = json.loads((osm / "truth.json").read_text())
    inp = Inputs(
        pbf=str(osm / "fixture.pbf"),
        elements=sum(truth[k]["count"] for k in KINDS),
        ingest_truth=truth,
        pages=None,
        n_pages=n_pages,
        pip_truth=None,
    )
    if not pip:
        return inp
    pages = _build_pages(n_pages, hot_frac, seed)
    hits = json.loads((_build_pip_oracle(osm, pages, threads) / "hits.json").read_text())
    return dataclasses.replace(
        inp, pages=str(pages / "pages.parquet"), pip_truth={int(k): v for k, v in hits.items()}
    )
