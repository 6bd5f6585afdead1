"""Deterministic synthetic data generator (FIXTURES.md).

Every value is a pure function of the row's primary id (seedless), so any
scale factor reproduces a prefix-consistent dataset and the generator can run
DISTRIBUTED: ``spark.range(N)`` -> ``mapInPandas`` generates rows on the
executors — there is no driver-side materialization, which is what lets the
same code path synthesize the 10^12-row tier on a real cluster.

The node table has the BASELINE.json ``input_hint`` shape
(image_id, bytes, w, h, fmt, caption, phash) plus lon/lat/tags so each record
plays the role of an OSM *node*; `ways`/`relations` mirror the reference's
way/relation feature records (/root/reference/src/index/feature.go:100-154).

Spatial distribution: golden-ratio low-discrepancy scatter over the window
(9.90-10.10, 53.50-53.70), with every 100th row clustered into one hot cell
(lon~9.95, lat~53.55) to exercise skew handling. Coordinates round-trip
through float32 to mirror the reference's storage quantization
(/root/reference/src/index/grid_writer.go:580-581).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from simple_osm_queries_spark.sources.codecs import encode_image

PHI = 0.6180339887
PSI = 0.41421356237  # frac(sqrt(2)); NOT phi^2 = 1-phi, which would put every
# point on the anti-diagonal line (lat fractionally = 1 - lon)

LON0, LAT0, SPAN = 9.90, 53.50, 0.20
HOT_LON0, HOT_LAT0, HOT_SPAN = 9.95, 53.55, 0.001

_COLORS = ["red", "blue", "green", "old", "small", "large", "round", "dark"]
_NOUNS = ["bench", "tree", "fountain", "statue", "kiosk", "bridge", "gate", "tower"]
_AMENITY = ["bench", "waste_basket", "restaurant", "cafe"]
_SEATS = ["2", "3", "4"]
_HEIGHT = ["1", "1m", "1.5 m", "2.5", "10.5"]
_FMT = ["png", "jpeg", "bmp"]
_HIGHWAY = ["primary", "secondary", "rail", "light_rail"]

IMG_W = IMG_H = 32

NODE_SCHEMA = (
    "id long, image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lon double, lat double, tags map<string,string>"
)
NODE_SCHEMA_MINIMAL = "id long, lon double, lat double, tags map<string,string>"
WAY_SCHEMA = "id long, node_ids array<long>, tags map<string,string>"
RELATION_SCHEMA = (
    "id long, node_member_ids array<long>, way_member_ids array<long>, "
    "child_relation_ids array<long>, tags map<string,string>"
)

WAY_ID_BASE = 1_000_000_000
REL_ID_BASE = 2_000_000_000


def _frac(x: np.ndarray) -> np.ndarray:
    return x - np.floor(x)


def node_lonlat(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    i = ids.astype(np.float64)
    lon = LON0 + SPAN * _frac(i * PHI)
    lat = LAT0 + SPAN * _frac(i * PSI)
    hot = ids % 100 == 0
    lon = np.where(hot, HOT_LON0 + HOT_SPAN * _frac(i * PHI), lon)
    lat = np.where(hot, HOT_LAT0 + HOT_SPAN * _frac(i * PSI), lat)
    # float32 storage quantization, computed back as float64
    return lon.astype(np.float32).astype(np.float64), lat.astype(np.float32).astype(np.float64)


def node_tags(i: int) -> dict[str, str]:
    t: dict[str, str] = {}
    if i % 4 == 0:
        t["amenity"] = _AMENITY[(i // 4) % 4]
    # NB 12, not a multiple of 16: benches (i%16==0) must exist both with and
    # without seats so `seats=*` / `seats!=*` queries are non-trivial
    if i % 12 == 0:
        t["seats"] = _SEATS[(i // 12) % 3]
    if i % 5 == 1:
        t["natural"] = "tree"
        t["height"] = _HEIGHT[(i // 5) % 5]
    if i % 7 == 2:
        t["addr:housenumber"] = str(i % 200)
    if i % 9 == 3:
        t["name"] = f"site {i}"
    return t


def image_pixels(i: int) -> np.ndarray:
    x = np.arange(IMG_W, dtype=np.int64)
    y = np.arange(IMG_H, dtype=np.int64)[:, None]
    r = (i * 31 + x * 7) % 256 + np.zeros_like(y)
    g = (i * 17 + y * 13) % 256 + np.zeros_like(x)
    b = (x * y + i) % 256
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


def phash_of(image_id: str) -> int:
    h = (zlib.crc32(image_id.encode()) << 31) | zlib.crc32((image_id + "x").encode())
    return h & 0x7FFF_FFFF_FFFF_FFFF


def nodes_pdf(ids: np.ndarray, with_images: bool = True) -> pd.DataFrame:
    lon, lat = node_lonlat(ids)
    image_ids = [f"img{i:010d}" for i in ids]
    fmts = [_FMT[i % 3] for i in ids]
    return pd.DataFrame(
        {
            "id": ids.astype(np.int64),
            "image_id": image_ids,
            "bytes": [
                encode_image(image_pixels(int(i)), f) if with_images else b""
                for i, f in zip(ids, fmts)
            ],
            "w": np.full(len(ids), IMG_W, dtype=np.int32),
            "h": np.full(len(ids), IMG_H, dtype=np.int32),
            "fmt": fmts,
            "caption": [
                f"a {_COLORS[i % 8]} {_NOUNS[(i // 8) % 8]} at site {i}" for i in ids
            ],
            "phash": [phash_of(s) for s in image_ids],
            "lon": lon,
            "lat": lat,
            "tags": [node_tags(int(i)) for i in ids],
        }
    )


def way_row(j: int, n_nodes: int) -> tuple[int, list[int], dict[str, str]]:
    k = (j * 5) % n_nodes
    length = 2 + j % 7  # 2..8 consecutive node ids
    node_ids = [(k + m) % n_nodes for m in range(length)]
    tags: dict[str, str] = {}
    if j % 3 == 0:
        tags["highway"] = _HIGHWAY[(j // 3) % 4]
    elif j % 3 == 1:
        tags["building"] = "yes"
    return WAY_ID_BASE + j, node_ids, tags


def ways_pdf(js: np.ndarray, n_nodes: int) -> pd.DataFrame:
    rows = [way_row(int(j), n_nodes) for j in js]
    return pd.DataFrame(
        {
            "id": [r[0] for r in rows],
            "node_ids": [r[1] for r in rows],
            "tags": [r[2] for r in rows],
        }
    )


def relation_row(
    r: int, n_nodes: int, n_ways: int
) -> tuple[int, list[int], list[int], list[int], dict[str, str]]:
    # stride-7 members decorrelate from the mod-4/mod-12 tag rules so
    # relation->node sub-statement queries have non-trivial answers
    node_members = [(r * 13 + m * 7) % n_nodes for m in range(1 + r % 3)]
    way_members = [WAY_ID_BASE + (r * 7 + m) % n_ways for m in range((r + 2) % 4)]
    children = [REL_ID_BASE + r - 1] if (r % 10 == 0 and r > 0) else []
    tags = {"type": "multipolygon"} if r % 2 == 0 else {"route": "bus"}
    if r % 9 == 3:
        tags["name"] = f"rel {r}"
    return REL_ID_BASE + r, node_members, way_members, children, tags


def relations_pdf(rs: np.ndarray, n_nodes: int, n_ways: int) -> pd.DataFrame:
    rows = [relation_row(int(r), n_nodes, n_ways) for r in rs]
    return pd.DataFrame(
        {
            "id": [r[0] for r in rows],
            "node_member_ids": [r[1] for r in rows],
            "way_member_ids": [r[2] for r in rows],
            "child_relation_ids": [r[3] for r in rows],
            "tags": [r[4] for r in rows],
        }
    )


# --- distributed generation ---------------------------------------------------


def gen_nodes(
    spark: SparkSession, n: int, partitions: int | None = None, with_images: bool = True
) -> DataFrame:
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield nodes_pdf(pdf["id"].to_numpy(), with_images=with_images)

    return spark.range(0, n, 1, parts).mapInPandas(gen, NODE_SCHEMA)


def gen_ways(spark: SparkSession, n_ways: int, n_nodes: int, partitions: int | None = None) -> DataFrame:
    parts = partitions or max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield ways_pdf(pdf["id"].to_numpy(), n_nodes)

    return spark.range(0, n_ways, 1, parts).mapInPandas(gen, WAY_SCHEMA)


def gen_relations(spark: SparkSession, n_relations: int, n_nodes: int, n_ways: int) -> DataFrame:
    parts = max(spark.sparkContext.defaultParallelism, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield relations_pdf(pdf["id"].to_numpy(), n_nodes, n_ways)

    return spark.range(0, n_relations, 1, parts).mapInPandas(gen, RELATION_SCHEMA)
