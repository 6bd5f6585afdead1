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
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column

Coord = Column | float | np.ndarray


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
