"""Block-parallel PBF source: blob index → ``mapInArrow`` decode → DataFrames.

Spark lifecycle (SURVEY.md §3.1 "Spark lifecycle equivalent"): the driver runs a
metadata-only framing pass (:func:`openstreetmapio_jl_spark.pbf.blocks.scan_blob_index`
— reads 4-byte lengths + BlobHeaders, seeks past payloads), decodes the OSMHeader
blob locally into ``meta``, and parallelizes the OSMData blob *descriptors* into a
DataFrame. Each ``mapInArrow`` task then reads only its own byte ranges, decompresses,
and runs the vectorized decode kernel — the reference's sequential loop
(``/root/reference/src/load_pbf.jl:47-87``) becomes embarrassing block parallelism
(block independence guaranteed by ``osmformat.proto:39-44``).

Scale notes:
- Blob descriptors are tiny (5 fields/blob; a planet file is ~50k blobs) — the index
  easily fits on the driver and parallelizes into ``4×cores`` partitions.
- Predicate pushdown INTO the kernel (``predicate=``) mirrors the reference's
  callback-during-parse model: filtered elements never materialize.
- ``want`` pruning decodes only the requested entity kind — the analog of
  registering only the callbacks you need.
- Id dedup across blobs (reference ``merge!`` last-wins, ``src/load_pbf.jl:385-401``)
  is OFF by default (planet extracts don't duplicate ids); ``dedup_ids=True`` adds a
  ``row_number() over (partition by id order by blob_seq desc)`` pass.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openstreetmapio_jl_spark import model
from openstreetmapio_jl_spark.operators.predicates import ElementPredicate, ElementTransform
from openstreetmapio_jl_spark.pbf import blocks, decode

_KINDS = ("nodes", "ways", "relations")
_KIND_SCHEMA = {
    "nodes": (model.NODES_ARROW, model.NODES_DDL),
    "ways": (model.WAYS_ARROW, model.WAYS_DDL),
    "relations": (model.RELATIONS_ARROW, model.RELATIONS_DDL),
}


@dataclass
class OSMBundle:
    """The Spark mapping of the reference's ``OpenStreetMap`` container
    (``src/map_types.jl:178-193``): three DataFrames + a meta dict.

    ``union`` is set by the single-pass read path: the persisted kind-tagged
    union DataFrame the three entity frames project from. Callers that are done
    with the bundle should ``union.unpersist()`` (``pbf_to_parquet`` does)."""

    nodes: DataFrame
    ways: DataFrame
    relations: DataFrame
    meta: dict
    union: DataFrame | None = None


def blob_index_df(
    spark: SparkSession,
    paths: str | list[str],
    *,
    distribute: bool | None = None,
) -> tuple[DataFrame, dict]:
    """(data-blob descriptor DataFrame, merged meta from header blobs).

    Single file (the common planet-extract case): framing runs on the driver —
    ~50k metadata-only seeks, trivially cheap. Multi-file corpora DISTRIBUTE the
    framing: one Spark task per file emits that file's descriptors
    (``distribute`` defaults to ``len(paths) > 1``), so the index pass scales
    with the cluster instead of serializing a 100-TB corpus's framing on the
    driver. Per-file meta still comes from the driver, but via
    :func:`blocks.scan_first_blob` — a few hundred bytes per file, not a full
    framing scan."""
    if isinstance(paths, str):
        paths = [paths]
    if distribute is None:
        distribute = len(paths) > 1
    meta: dict = {}
    if distribute:
        import pandas as pd

        for p in paths:
            header = blocks.scan_first_blob(p)
            payload = blocks.decompress_blob(
                blocks.read_blob_payload(header.path, header.data_offset, header.data_size)
            )
            meta.update(decode.decode_header_block(payload))

        def frame_file(batches):
            for pdf in batches:
                for p in pdf["path"]:
                    descs = blocks.scan_blob_index(p)[1:]  # data blobs only
                    yield pd.DataFrame(
                        {
                            "path": [d.path for d in descs],
                            "blob_seq": [d.blob_seq for d in descs],
                            "blob_type": [d.blob_type for d in descs],
                            "data_offset": [d.data_offset for d in descs],
                            "data_size": [d.data_size for d in descs],
                        }
                    )

        files = spark.createDataFrame([(p,) for p in paths], "path string")
        df = files.repartition(len(paths), "path").mapInPandas(
            frame_file, model.BLOB_INDEX_DDL
        )
        # spread blobs across decode tasks regardless of per-file blob counts
        return (
            df.repartition(spark.sparkContext.defaultParallelism * 2, "path", "blob_seq"),
            meta,
        )
    rows = []
    for p in paths:
        descs = blocks.scan_blob_index(p)
        header = descs[0]
        payload = blocks.decompress_blob(
            blocks.read_blob_payload(header.path, header.data_offset, header.data_size)
        )
        meta.update(decode.decode_header_block(payload))
        rows.extend(
            (d.path, d.blob_seq, d.blob_type, d.data_offset, d.data_size)
            for d in descs[1:]
        )
    df = spark.createDataFrame(rows, model.BLOB_INDEX_DDL)
    # spread blobs across tasks; blob count is the parallelism unit
    target = min(len(rows), spark.sparkContext.defaultParallelism * 2) or 1
    return df.repartition(target, "blob_seq"), meta


def _decode_blobs(
    batches: Iterator[pa.RecordBatch],
    kinds: tuple[str, ...],
    predicates: dict,
    transforms: dict,
) -> Iterator[tuple[str, pa.RecordBatch]]:
    """The one blob-decode loop: per blob descriptor, read → decompress →
    decode only ``kinds`` → per-kind predicate → transform; yields
    ``(kind, batch)`` for non-empty results."""
    for batch in batches:
        paths = batch.column("path").to_pylist()
        seqs = batch.column("blob_seq").to_pylist()
        offs = batch.column("data_offset").to_pylist()
        sizes = batch.column("data_size").to_pylist()
        for path, seq, off, size in zip(paths, seqs, offs, sizes):
            payload = blocks.decompress_blob(blocks.read_blob_payload(path, off, size))
            out = decode.decode_primitive_block(
                payload, want=kinds, stats=decode.BlockStats()
            )
            for kind in kinds:
                parts = out.get(kind)
                if not parts:
                    continue
                rb = decode.parts_to_batch(parts, _KIND_SCHEMA[kind][0], seq)
                pred = predicates.get(kind)
                if pred is not None:
                    rb = pred.apply_arrow(rb)
                tf = transforms.get(kind)
                if tf is not None:
                    rb = tf.apply_arrow(rb)
                if rb.num_rows:
                    yield kind, rb


def _decode_kernel(
    kind: str,
    predicate: ElementPredicate | None,
    transform: ElementTransform | None = None,
):
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for _, rb in _decode_blobs(batches, (kind,), {kind: predicate}, {kind: transform}):
            yield rb

    return kernel


def _union_batch(rb: pa.RecordBatch, kind: str) -> pa.RecordBatch:
    """Pad a per-kind batch to the kind-tagged union schema (absent columns are
    null buffers — near-zero allocation)."""
    cols = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
    n = rb.num_rows
    arrays = []
    for field in model.UNION_ARROW:
        if field.name == "kind":
            arrays.append(pa.array([kind] * n, pa.string()))
        elif field.name in cols:
            arrays.append(cols[field.name])
        else:
            arrays.append(pa.nulls(n, field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=model.UNION_ARROW)


def _decode_union_kernel(predicates: dict, transforms: dict | None = None):
    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for kind, rb in _decode_blobs(batches, _KINDS, predicates, transforms or {}):
            yield _union_batch(rb, kind)

    return kernel


def read_pbf_union(
    spark: SparkSession,
    paths: str | list[str],
    *,
    node_predicate: ElementPredicate | None = None,
    way_predicate: ElementPredicate | None = None,
    relation_predicate: ElementPredicate | None = None,
    node_transform: ElementTransform | None = None,
    way_transform: ElementTransform | None = None,
    relation_transform: ElementTransform | None = None,
    index_df: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Single-pass decode: ONE ``mapInArrow`` scan emitting kind-tagged batches —
    each blob is read, decompressed, and proto-walked exactly once (vs once per
    entity kind in the three-scan path). Returns (union DataFrame, meta).

    The union is a plan, not a materialization: THREE separate consumers of the
    split frames would still re-run the scan each — the payoff comes from
    aggregating directly on the union (``groupBy("kind")``), persisting it
    (``read_pbf(single_pass=True)``), or writing it out once."""
    meta: dict = {}
    if index_df is None:
        index_df, meta = blob_index_df(spark, paths)
    kernel = _decode_union_kernel(
        {
            "nodes": node_predicate,
            "ways": way_predicate,
            "relations": relation_predicate,
        },
        {
            "nodes": node_transform,
            "ways": way_transform,
            "relations": relation_transform,
        },
    )
    return index_df.mapInArrow(kernel, model.UNION_DDL), meta


def split_union(union: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Kind-tagged union → (nodes, ways, relations) projections with the
    canonical per-kind schemas."""
    return tuple(
        union.filter(F.col("kind") == kind).select(*model.UNION_KIND_COLUMNS[kind])
        for kind in _KINDS
    )


def read_pbf_kind(
    spark: SparkSession,
    paths: str | list[str],
    kind: str,
    *,
    predicate: ElementPredicate | None = None,
    transform: ElementTransform | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    if index_df is None:
        index_df, _ = blob_index_df(spark, paths)
    _, ddl = _KIND_SCHEMA[kind]
    return index_df.mapInArrow(_decode_kernel(kind, predicate, transform), ddl)


def read_pbf(
    spark: SparkSession,
    paths: str | list[str],
    *,
    node_predicate: ElementPredicate | None = None,
    way_predicate: ElementPredicate | None = None,
    relation_predicate: ElementPredicate | None = None,
    node_transform: ElementTransform | None = None,
    way_transform: ElementTransform | None = None,
    relation_transform: ElementTransform | None = None,
    dedup_ids: bool = False,
    single_pass: bool = False,
) -> OSMBundle:
    """Full-container read — the ``read_pbf(filename; callbacks...)`` analog
    (``src/load_pbf.jl:47-87``), with predicates replacing callbacks.

    ``single_pass=True`` decodes via ONE kind-tagged union scan and PERSISTS it
    (decompress each blob once instead of once per entity kind); the returned
    entity frames are cheap filter+project reads of the cache, and
    ``bundle.union`` holds the handle to ``unpersist()`` when done. The default
    three-scan path stays lazy (no persistence side effects)."""
    if single_pass:
        index_df, meta = blob_index_df(spark, paths)
        union, _ = read_pbf_union(
            spark,
            paths,
            node_predicate=node_predicate,
            way_predicate=way_predicate,
            relation_predicate=relation_predicate,
            node_transform=node_transform,
            way_transform=way_transform,
            relation_transform=relation_transform,
            index_df=index_df,
        )
        union = union.persist()
        nodes, ways, relations = split_union(union)
    else:
        union = None
        index_df, meta = blob_index_df(spark, paths)
        index_df = index_df.cache()  # reused by all three scans
        nodes = read_pbf_kind(
            spark, paths, "nodes",
            predicate=node_predicate, transform=node_transform, index_df=index_df,
        )
        ways = read_pbf_kind(
            spark, paths, "ways",
            predicate=way_predicate, transform=way_transform, index_df=index_df,
        )
        relations = read_pbf_kind(
            spark, paths, "relations",
            predicate=relation_predicate, transform=relation_transform, index_df=index_df,
        )
    if dedup_ids:
        w = Window.partitionBy("id").orderBy(F.desc("blob_seq"))
        nodes, ways, relations = (
            df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
            for df in (nodes, ways, relations)
        )
    return OSMBundle(nodes=nodes, ways=ways, relations=relations, meta=meta, union=union)


def pbf_to_parquet(
    spark: SparkSession,
    paths: str | list[str],
    out_dir: str,
    **read_kw,
) -> dict:
    """Decode once → columnar store. The production pattern: all downstream queries
    read parquet (column pruning + predicate pushdown for free). Single-pass:
    the first write materializes the persisted union (each blob decompressed
    once), the other two writes read the cache."""
    bundle = read_pbf(spark, paths, single_pass=True, **read_kw)
    bundle.nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    bundle.ways.write.mode("overwrite").parquet(f"{out_dir}/ways")
    bundle.relations.write.mode("overwrite").parquet(f"{out_dir}/relations")
    bundle.union.unpersist()
    return bundle.meta


def pbf_to_bucketed_tables(
    spark: SparkSession,
    paths: str | list[str],
    *,
    n_buckets: int = 64,
    table_prefix: str = "osm",
    **read_kw,
) -> dict:
    """Decode once → BUCKETED entity tables (``<prefix>_nodes/_ways/_relations``),
    nodes and exploded way-refs bucketed+sorted on the join key.

    The scale rationale: ring/polyline assembly is ``posexplode(refs) ⋈ nodes``
    — at planet scale (~9G nodes, ~70G way-refs) that equi-join shuffles BOTH
    sides on every run. Bucketing both tables into the same bucket count on the
    node-id key makes the join co-located: Catalyst plans a zero-Exchange
    SortMergeJoin (verified by ``tests/test_plan_shape.py``), so the shuffle is
    paid ONCE at ingest and never again. ``<prefix>_way_refs`` is the exploded
    (way_id, seq, ref) form — pre-exploding at ingest also keeps the refs
    explode out of every downstream join.

    Spark bucketing requires ``saveAsTable`` (bucket metadata lives in the
    catalog); the default in-sandbox catalog (Derby + spark-warehouse/) works
    without extra services. Idempotent: existing tables are dropped and stale
    managed-table locations (left by a previous session with a different
    metastore) are cleared, so re-ingest always succeeds. Returns meta."""
    import os
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    for suffix in ("nodes", "way_refs", "ways", "relations"):
        name = f"{table_prefix}_{suffix}"
        spark.sql(f"drop table if exists {name}")
        loc = os.path.join(warehouse, name)
        if os.path.isdir(loc):
            shutil.rmtree(loc, ignore_errors=True)
    bundle = read_pbf(spark, paths, single_pass=True, **read_kw)
    (
        bundle.nodes.write.mode("overwrite")
        .bucketBy(n_buckets, "id")
        .sortBy("id")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_nodes")
    )
    way_refs = bundle.ways.select(
        F.col("id").alias("way_id"), F.posexplode("refs").alias("seq", "ref")
    )
    (
        way_refs.write.mode("overwrite")
        .bucketBy(n_buckets, "ref")
        .sortBy("ref")
        .format("parquet")
        .saveAsTable(f"{table_prefix}_way_refs")
    )
    bundle.ways.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_ways"
    )
    bundle.relations.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_relations"
    )
    bundle.union.unpersist()
    return bundle.meta
