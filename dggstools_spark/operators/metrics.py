"""Quality/error metrics (SURVEY A1-A6).

A1 class_cell_areas  — per-class cell count and true area (x 1/1.178)
A2 class_polygon_areas — geodesic polygon area per class (authalic-sphere UDF)
A3 rmse_bias          — RMSE + bias between two cell tables (the DGGS turns
                        the reference's pixel-correspondence loop,
                        utils/rasterutils.py:220-265, into an equi-join)
A4 extent             — bbox/height/width of a cell table
A6 line_error         — mean node<->cell-centroid geodesic distance
"""

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType

from ..dggs.config import RHEALPixConfig, DEFAULT_CONFIG, MEAN_AREAL_DISTORTION
from ..dggs.cells import HALF_SIDE


def class_cell_areas(cells: DataFrame, res: int, class_col: str = "band1",
                     cellid_col: str = "cellid",
                     cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """A1: (class, n_cells, area_m2); planar cell area corrected by the mean
    areal distortion 1.178 (reference vector_to_rhpx.py:455-484)."""
    area = cfg.cell_area(res)
    return cells.groupBy(class_col).agg(
        F.count("*").alias("n_cells"),
        (F.count("*") * F.lit(area)).alias("area_m2"),
    )


def class_polygon_areas(polygons: DataFrame, class_col: str = "class",
                        ring_col: str = "ring") -> DataFrame:
    """A2: sum of geodesic polygon areas per class.  Rings are lon/lat
    degree structs; area is exact on the authalic sphere (Arrow UDF over the
    numpy kernel)."""
    from ..dggs import geodesy

    @F.pandas_udf(DoubleType())
    def _area(rings: pd.Series) -> pd.Series:
        out = []
        for ring in rings:
            lons = [v["x"] for v in ring]
            lats = [v["y"] for v in ring]
            out.append(geodesy.geodesic_polygon_area(lons, lats))
        return pd.Series(out)

    return polygons.withColumn("_a", _area(ring_col)) \
        .groupBy(class_col).agg(F.sum("_a").alias("area_m2"))


def area_error(polygons: DataFrame, res: int, class_col: str = "class",
               poly_id: str = "poly_id", ring: str = "ring",
               cfg: RHEALPixConfig = DEFAULT_CONFIG,
               distortion_correct: bool = True,
               overlap: str = "last") -> DataFrame:
    """The reference's headline composed metric, calculate_vector_raster_
    area_error (vector_to_rhpx.py:388-501; CLI vec-ras-area-error): per
    feature class, compare the vector geometry area against the area of its
    rasterized cells, then aggregate to ONE row
    (rmse, bias, total_vector_area, total_cells_area) — e.g. classes
    (21 vs 20) and (15 vs 12) give rmse sqrt(((21-20)^2 + (15-12)^2)/2) and
    bias 2 (vector_to_rhpx.py:403-414).

    Vector areas are the exact planar shoelace over the (planar-meter)
    rings — for lon/lat rings use class_polygon_areas (A2, geodesic) as the
    vector side instead; cell area is the true area (planar / 1.178 mean
    areal distortion, like the reference) unless ``distortion_correct`` is
    off.

    ``overlap`` controls cross-class cell resolution: the reference burns a
    raster, so a pixel covered by polygons of two classes keeps ONE value —
    the last feature drawn wins.  ``overlap='last'`` (default) mirrors that:
    each cell resolves to the class of the highest ``poly_id`` covering it
    (poly_id order standing in for burn order).  ``overlap='all'`` counts a
    cell once per covering class instead (a coverage metric, not the
    reference's burn semantics — it double-counts cross-class overlaps)."""
    from .spatial_join import polygon_edges, rasterize_polygons

    edges = polygon_edges(polygons.select(poly_id, class_col, ring), ring)
    per_poly = edges.groupBy(poly_id, class_col).agg(
        (F.abs(F.sum(F.col("x1") * F.col("y2") - F.col("x2") * F.col("y1"))) / 2.0)
        .alias("_a"))
    vec = per_poly.groupBy(class_col).agg(F.sum("_a").alias("_vec"))
    cells = rasterize_polygons(polygons.select(poly_id, ring), res,
                               poly_id, ring, cfg)
    cls_map = polygons.select(poly_id, class_col)
    cell_area = float(cfg.cell_area(res) if distortion_correct
                      else cfg.cell_area_planar(res))
    covered = cells.join(F.broadcast(cls_map), poly_id)
    if overlap == "last":
        resolved = covered.groupBy("cellid").agg(
            F.max_by(class_col, F.col(poly_id)).alias(class_col))
    elif overlap == "all":
        resolved = covered.select(class_col, "cellid").distinct()
    else:
        raise ValueError(f"unknown overlap mode {overlap!r}")
    ras = (resolved.groupBy(class_col)
           .agg((F.count("*") * F.lit(cell_area)).alias("_ras")))
    per_class = (vec.join(ras, class_col, "full")
                 .select(class_col,
                         F.coalesce("_vec", F.lit(0.0)).alias("_vec"),
                         F.coalesce("_ras", F.lit(0.0)).alias("_ras")))
    d = F.col("_ras") - F.col("_vec")
    return per_class.agg(
        F.sqrt(F.avg(d * d)).alias("rmse"),
        F.avg(d).alias("bias"),
        F.sum("_vec").alias("total_vector_area"),
        F.sum("_ras").alias("total_cells_area"),
    )


def rmse_bias(control: DataFrame, test: DataFrame, value_col: str = "band1",
              cellid_col: str = "cellid",
              control_nodata: float | None = None,
              test_nodata: float | None = None) -> DataFrame:
    """A3: 1-row DataFrame (rmse, bias, n) comparing two cell tables on the
    shared cell key.  Values are cast to double up front (the reference's
    int-overflow guard, utils/rasterutils.py:245-248, is subsumed)."""
    c = control.select(cellid_col, F.col(value_col).cast("double").alias("_vc"))
    t = test.select(cellid_col, F.col(value_col).cast("double").alias("_vt"))
    if control_nodata is not None:
        c = c.filter(F.col("_vc") != control_nodata)
    if test_nodata is not None:
        t = t.filter(F.col("_vt") != test_nodata)
    joined = c.join(t, cellid_col)
    return joined.agg(
        F.sqrt(F.avg((F.col("_vt") - F.col("_vc")) ** 2)).alias("rmse"),
        F.avg(F.col("_vt") - F.col("_vc")).alias("bias"),
        F.count("*").alias("n"),
    )


def extent(cells: DataFrame, res: int, cellid_col: str = "cellid",
           cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """A4/A5: planar bbox + raster height/width of a (single-resolution) cell
    table, from cell upper-left coordinates computed by expression arithmetic
    (the portable snippet shared with the DuckDB oracle — encode_sql.
    cell_ul_meters_sql — so both engines agree bit-for-bit)."""
    from ..functions.encode_sql import cell_ul_meters_sql

    w = float(HALF_SIDE / cfg.n_side**res)
    lx_sql, ty_sql = cell_ul_meters_sql(cellid_col, res, cfg)
    pts = cells.select(F.expr(lx_sql).alias("lx"), F.expr(ty_sql).alias("ty"))
    return pts.agg(
        F.min("lx").alias("left"),
        (F.max("lx") + w).alias("right"),
        F.max("ty").alias("top"),
        (F.min("ty") - w).alias("bottom"),
    ).select(
        "*",
        F.round((F.col("right") - F.col("left")) / w).cast("int").alias("width"),
        F.round((F.col("top") - F.col("bottom")) / w).cast("int").alias("height"),
    )


def line_error(nodes: DataFrame, cells: DataFrame, res: int,
               lon: str = "lon", lat: str = "lat",
               cellid_col: str = "cellid",
               cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """A6: mean geodesic distance node <-> centroid of its assigned cell;
    nodes whose cell is absent from ``cells`` are penalized with one cell
    width (reference vector_to_rhpx.py:596-637)."""
    from ..dggs import geodesy
    from ..functions.encode import cellid_from_lonlat_udf, cell_centroid_udf

    enc = cellid_from_lonlat_udf(res, cfg)
    cent = cell_centroid_udf(cfg, geodetic=True)
    assigned = nodes.withColumn(cellid_col, enc(lon, lat))
    matched = assigned.join(cells.select(cellid_col).distinct(), cellid_col, "left_semi")
    missed = assigned.join(cells.select(cellid_col).distinct(), cellid_col, "left_anti")
    matched = matched.withColumn("_c", cent(cellid_col))

    @F.pandas_udf(DoubleType())
    def _dist(lo1: pd.Series, la1: pd.Series, lo2: pd.Series, la2: pd.Series) -> pd.Series:
        return pd.Series(geodesy.geodesic_distance(
            lo1.to_numpy(), la1.to_numpy(), lo2.to_numpy(), la2.to_numpy()))

    matched = matched.withColumn(
        "err_m", _dist(F.col(lon), F.col(lat), F.col("_c.lon"), F.col("_c.lat")))
    penalty = cfg.cell_width(res)
    missed = missed.withColumn("err_m", F.lit(penalty))
    both = matched.select("err_m").unionByName(missed.select("err_m"))
    return both.agg(F.avg("err_m").alias("mean_node_error_m"),
                    F.count("*").alias("n_nodes"))


def line_error_planar(assigned: DataFrame, cells: DataFrame, res: int,
                      cellid_col: str = "cellid",
                      cfg: RHEALPixConfig = DEFAULT_CONFIG) -> DataFrame:
    """A6 planar variant (oracle-checkable): ``assigned`` carries the node's
    planar position (px_m, py_m) and its assigned cell's planar centroid
    (cx_m, cy_m) — both produced by encode_sql.spark_encode(with_planar=True)
    — so the node<->centroid distance is pure portable arithmetic.  Nodes
    whose cell is absent from ``cells`` are penalized with one cell width
    (reference vector_to_rhpx.py:596-637 miss rule)."""
    ids = cells.select(cellid_col).distinct()
    matched = assigned.join(ids, cellid_col, "left_semi").withColumn(
        "err_m",
        F.sqrt((F.col("px_m") - F.col("cx_m")) * (F.col("px_m") - F.col("cx_m"))
               + (F.col("py_m") - F.col("cy_m")) * (F.col("py_m") - F.col("cy_m"))),
    )
    penalty = float(cfg.cell_width(res))
    missed = assigned.join(ids, cellid_col, "left_anti").withColumn(
        "err_m", F.lit(penalty))
    both = matched.select("err_m").unionByName(missed.select("err_m"))
    return both.agg(F.avg("err_m").alias("mean_node_error_m"),
                    F.count("*").alias("n_nodes"))


# CRS axis descriptors accepted by bounds_to_left_top_right_bottom: the
# common X/Y / lon-lat / Easting-Northing family (reference
# utils/vectorutils.py:27-31 handles exactly this family and raises on
# everything else — that explicit check is part of the contract)
_EAST_NORTH = {("easting", "east", "northing", "north"),
               ("longitude", "east", "latitude", "north")}


def bounds_to_left_top_right_bottom(bounds, axis_info=None):
    """F6: map (minx, miny, maxx, maxy) to (left, top, right, bottom)
    honoring the CRS axis order (reference utils/vectorutils.py:12-39).

    ``axis_info`` is a pair of (name, direction) tuples, e.g.
    [("Longitude", "east"), ("Latitude", "north")] — the shape
    pyproj.CRS(...).axis_info carries (pyproj is not a dependency here;
    callers pass the two descriptors).  None defaults to lon/lat east/north.
    Exotic axis combinations (Northing/Easting, Westing, ...) raise
    NotImplementedError, like the reference."""
    minx, miny, maxx, maxy = bounds
    if axis_info is None:
        axis_info = [("Longitude", "east"), ("Latitude", "north")]
    key = (str(axis_info[0][0]).lower(), str(axis_info[0][1]).lower(),
           str(axis_info[1][0]).lower(), str(axis_info[1][1]).lower())
    if key in _EAST_NORTH:
        return minx, maxy, maxx, miny
    raise NotImplementedError(
        f"This axis combination {axis_info} has not been implemented and"
        f" tested yet")
