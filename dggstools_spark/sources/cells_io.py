"""Cell-table storage (SURVEY S3/S4/S6/S10 analogues).

Layout: parquet partitioned by cell prefix (the Iceberg truncate-transform
layout), so cell-keyed joins and rollups prune partitions, plus a JSON
``_meta`` sidecar carrying the reference's gdf.attrs contract
(/root/reference/dggstools/rhpx/rhpx_gdf_helper.py:149-186 and
utils/storage.py:51-66 gpkg_metadata)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG


def build_attrs(res_idx: int, nbands: int, nodata: float | None,
                cfg: RHEALPixConfig = DEFAULT_CONFIG,
                extra: dict | None = None) -> dict:
    attrs = {
        "res_idx": res_idx,
        "res": cfg.cell_width(res_idx),
        "nbands": nbands,
        "nodata": nodata,
        "nodatavals": [nodata] * nbands,
        "store_nodata": nodata is None,
        "rhealpixdggs": {
            "n_side": cfg.n_side,
            "north_square": cfg.north_square,
            "south_square": cfg.south_square,
            "max_resolution": cfg.max_resolution,
            "ellipsoid": "WGS84",
        },
    }
    attrs.update(extra or {})
    return attrs


def write_cells(df: DataFrame, path: str, attrs: dict,
                cellid_col: str = "cellid", prefix_len: int = 2,
                mode: str = "overwrite") -> None:
    """Write a cell table partitioned by cellid prefix + _meta sidecar.  The
    sidecar records the data schema, so ``read_cells`` skips inference."""
    out = df.withColumn("cell_prefix", F.substring(cellid_col, 1, prefix_len))
    out.write.mode(mode).partitionBy("cell_prefix").parquet(f"{path}/data")
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/_meta.json", "w") as f:
        json.dump({"attrs": attrs, "prefix_len": prefix_len,
                   "schema": out.schema.jsonValue()}, f, indent=2)


def read_cells(spark: SparkSession, path: str,
               prefix: str | None = None,
               cellid_col: str = "cellid") -> tuple[DataFrame, dict]:
    """Read a cell table (+attrs).  ``prefix`` prunes partitions; a prefix
    FINER than the stored partition prefix_len additionally row-filters on
    the cellid (a bare startswith on the partition column would silently
    return nothing: 'N1'.startswith('N12') is false for every partition).
    Tables written without a recorded schema infer it."""
    with open(f"{path}/_meta.json") as f:
        meta = json.load(f)
    reader = spark.read
    if "schema" in meta:
        reader = reader.schema(StructType.fromJson(meta["schema"]))
    df = reader.parquet(f"{path}/data")
    if prefix:
        plen = int(meta.get("prefix_len", 2))
        if len(prefix) <= plen:
            df = df.filter(F.col("cell_prefix").startswith(prefix))
        else:
            df = df.filter((F.col("cell_prefix") == prefix[:plen])
                           & F.col(cellid_col).startswith(prefix))
    return df.drop("cell_prefix"), meta["attrs"]


def read_attrs(path: str) -> dict:
    """S10 metadata reader (print-*-metadata CLI analogue)."""
    with open(f"{path}/_meta.json") as f:
        return json.load(f)["attrs"]


def with_json_bands(df: DataFrame, value_cols: list[str] | None = None,
                    out: str = "all_bands", keep_bands: bool = False) -> DataFrame:
    """The reference's ``values_in_json`` cell-table shape: all band columns
    packed into ONE JSON string column {"band1": v, ...} (reference
    rhpx_gdf_helper.py:100-106).  Key order = column order, matching the
    reference's band-ordered dict."""
    if value_cols is None:
        value_cols = [c for c in df.columns if c.startswith("band")]
    df = df.withColumn(out, F.to_json(F.struct(*value_cols)))
    return df if keep_bands else df.drop(*value_cols)


def with_uuid(df: DataFrame, out: str = "uuid",
              deterministic_from: list[str] | None = None) -> DataFrame:
    """The reference's optional per-cell ``uuid`` column (rhpx_gdf_helper
    .py:112-113, uuid4 — nondeterministic there too).  Pass
    ``deterministic_from=[cols]`` for a content-derived RFC-4122-shaped id
    instead (reproducible pipelines, oracle-checkable)."""
    if deterministic_from is None:
        return df.withColumn(out, F.expr("uuid()"))
    h = F.md5(F.concat_ws("\x1f", *deterministic_from))
    return df.withColumn(out, F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4), F.substring(h, 13, 4),
        F.substring(h, 17, 4), F.substring(h, 21, 12)))
