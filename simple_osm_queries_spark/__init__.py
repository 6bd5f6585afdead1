"""simple_osm_queries_spark — a from-scratch, PySpark-native spatial-join +
tiling engine with the query and data-processing capabilities of
hauke96/simple-osm-queries (reference at /root/reference, Go).

NOT a port: the reference's grid-cell file index, channel-based scans and
interpreter-style filter evaluation are re-expressed as Spark DataFrame plans
(Catalyst does pruning/pushdown/join selection); the query language is parsed
by our own lexer/parser and compiled to DataFrame operators.

Layout
------
functions/   cell encoders (grid / tile-quadkey / H3-S2 adapters), natural-sort
             comparison, bbox geometry column math
query/       lexer → parser → AST → DataFrame planner for the reference's
             query language (bbox(...).nodes{ k=v AND this.ways{...} })
operators/   north-rule + training-pipeline operators: point-in-polygon, kNN,
             tile assignment, dedup (exact/minhash/simhash/jaccard/embedding),
             similarity search, text analysis, multimodal plumbing
sources/     dataset container (nodes/ways/relations), deterministic synthetic
             generator, partitioned index build w/ checkpoint+resume, GeoJSON sink
"""

__version__ = "0.1.0"

from simple_osm_queries_spark.session import get_spark  # noqa: F401
