"""Bbox geometry column math.

Mirrors the reference's orb.Bound semantics: inclusive containment and
inclusive bound-vs-bound intersection. Query-time geometry checks in the
reference are uniformly "query bbox intersects feature bound"
(/root/reference/src/index/grid_reader.go:180-184); nodes have degenerate
point bounds, ways line bounds, relations bbox-polygon bounds.

These two predicates are the package's only inclusive lon/lat bbox
comparison chains. Every operand may be a Column or a float (a float
becomes a literal), so one spelling serves literal query boxes, broadcast
bound columns and padded bound expressions alike; the operators are plain
comparisons and ``&``, so numpy arrays work too (the numpy ray cast's
per-polygon candidate mask).

``BOUND_COLUMNS`` names each feature type's bound columns once (the query
path's ``this.*`` outer rectangle and output projection read it), and
``bound_meets`` is the one feature-vs-rectangle test over them (the query
bbox filter, the ``this.*`` inner scope and the HTTP prefilters).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

Coord = Column | float | np.ndarray

# (min_lon, min_lat, max_lon, max_lat) columns of a feature's bound: a node's
# bound is its point (grid_reader.go:180-184), ways and relations carry
# min/max columns (dataset.prepare)
BOUND_COLUMNS = {
    "node": ("lon", "lat", "lon", "lat"),
    "way": ("min_lon", "min_lat", "max_lon", "max_lat"),
    "relation": ("min_lon", "min_lat", "max_lon", "max_lat"),
}


def point_in_bbox(
    lon: Coord, lat: Coord, min_lon: Coord, min_lat: Coord, max_lon: Coord, max_lat: Coord
) -> Coord:
    """Inclusive containment (orb Bound.Contains; /root/reference/src/query/location.go:44)."""
    return (lon >= min_lon) & (lon <= max_lon) & (lat >= min_lat) & (lat <= max_lat)


def bbox_intersects(
    f_min_lon: Coord,
    f_min_lat: Coord,
    f_max_lon: Coord,
    f_max_lat: Coord,
    min_lon: Coord,
    min_lat: Coord,
    max_lon: Coord,
    max_lat: Coord,
) -> Coord:
    """Inclusive bound-vs-bound overlap (orb Bound.Intersects; location.go:46)."""
    return (
        (f_min_lon <= max_lon)
        & (f_max_lon >= min_lon)
        & (f_min_lat <= max_lat)
        & (f_max_lat >= min_lat)
    )


def bound_meets(
    object_type: str, min_lon: Coord, min_lat: Coord, max_lon: Coord, max_lat: Coord
) -> Column:
    """Rows of ``object_type`` whose bound meets the inclusive rectangle; for a
    node's point bound this is the four comparisons of ``point_in_bbox``."""
    return bbox_intersects(
        *(F.col(c) for c in BOUND_COLUMNS[object_type]), min_lon, min_lat, max_lon, max_lat
    )
