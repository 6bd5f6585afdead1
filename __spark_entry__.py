"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship OSM-language query end-to-end (lexer ->
parser -> DataFrame planner) over a spatial table derived deterministically
from /root/testdata/sf0.001/documents.parquet.

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 plus the north-rule spatial operators and the training-data
pipeline operators; ``oracle_sql()`` gives the DuckDB-equivalent SQL for
every SQL-expressible one (hash-based LSH variants are rows-only by nature:
Spark's xxhash64 does not exist in DuckDB).

Derivation rule (both engines compute it identically in IEEE doubles):
    lon = 9.90 + 0.20 * frac(doc_id * PHI)
    lat = 53.50 + 0.20 * frac(doc_id * PSI)
plus the FIXTURES.md tag model keyed on doc_id, so the reference's
bbox/tag/natural-order semantics are exercised against a SQL oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from simple_osm_queries_spark.functions import cells as C  # noqa: E402
from simple_osm_queries_spark.functions.natural_sort import natural_cmp_sql  # noqa: E402
from simple_osm_queries_spark.operators import dedup, knn, similarity, spatial_join  # noqa: E402
from simple_osm_queries_spark.operators import text as textops  # noqa: E402
from simple_osm_queries_spark.query.planner import run_query  # noqa: E402
from simple_osm_queries_spark.sources.dataset import prepare  # noqa: E402

PHI = 0.6180339887
PSI = 0.41421356237
AMEN = ["bench", "waste_basket", "restaurant", "cafe"]
SEATS = ["2", "3", "4"]
HEIGHT = ["1", "1m", "1.5 m", "2.5", "10.5"]

WINDOW = (9.90, 53.50, 10.10, 53.70)

# --- derived spatial table (Spark side) ---------------------------------------


def _frac(col):
    return col - F.floor(col)


def _pick(values: list[str], idx_col) -> F.Column:
    return F.element_at(F.array(*[F.lit(v) for v in values]), (idx_col % len(values) + 1).cast("int"))


def _derived_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    i = F.col("doc_id")
    empty = F.create_map().cast("map<string,string>")
    tags = F.map_concat(
        F.when(i % 4 == 0, F.create_map(F.lit("amenity"), _pick(AMEN, F.floor(i / 4)))).otherwise(empty),
        F.when(i % 12 == 0, F.create_map(F.lit("seats"), _pick(SEATS, F.floor(i / 12)))).otherwise(empty),
        F.when(i % 5 == 1, F.create_map(F.lit("height"), _pick(HEIGHT, F.floor(i / 5)))).otherwise(empty),
    )
    return d.select(
        F.col("doc_id").alias("id"),
        (F.lit(9.90) + F.lit(0.20) * _frac(i * F.lit(PHI))).alias("lon"),
        (F.lit(53.50) + F.lit(0.20) * _frac(i * F.lit(PSI))).alias("lat"),
        tags.alias("tags"),
    )


WAY_ID_BASE = 1_000_000_000

# MinHash gate parameters — shared by q_minhash AND its DuckDB oracle so
# the two sides cannot drift (the oracle inlines the permutation table
# derived from these).
MH_PERM, MH_BANDS, MH_THRESHOLD = 32, 8, 0.35


def _derived_ways(spark: SparkSession, sf_dir: str, max_id: int | None = None) -> DataFrame:
    """SQL-expressible ways over the derived points: every 20th doc starts a
    3-node way [d, d+4, d+8]; even way index -> highway=primary, odd ->
    building=yes. Mirrored verbatim in the DuckDB oracles."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if max_id is None:
        max_id = d.agg(F.max("doc_id")).first()[0]
    i = F.col("doc_id")
    widx = (i / 20).cast("long")
    return (
        d.filter((i % 20 == 0) & (i + 8 <= F.lit(max_id)))
        .select(
            (F.lit(WAY_ID_BASE) + widx).alias("id"),
            F.array(i, i + 4, i + 8).alias("node_ids"),
            F.when(
                widx % 2 == 0, F.create_map(F.lit("highway"), F.lit("primary"))
            )
            .otherwise(F.create_map(F.lit("building"), F.lit("yes")))
            .alias("tags"),
        )
    )


REL_ID_BASE = 2_000_000_000


def _derived_relations(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """SQL-expressible relations: every 50th doc becomes relation
    REL_ID_BASE + idx with node members [d+1, d+2]; odd idx -> route=bus,
    even -> type=multipolygon; idx%3==0 (idx>0) gets child relation idx-1.
    Member tag math (FIXTURES.md rules): (d+2)%12==0 <=> idx%6==5, so
    `route=bus AND this.nodes{seats=*}` selects exactly idx%6==5 —
    discriminative for the gate. Mirrored in the DuckDB oracles."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    if max_id is None:
        max_id = d.agg(F.max("doc_id")).first()[0]
    i = F.col("doc_id")
    idx = (i / 50).cast("long")
    return (
        d.filter((i % 50 == 0) & (i + 2 <= F.lit(max_id)))
        .select(
            (F.lit(REL_ID_BASE) + idx).alias("id"),
            F.array(i + 1, i + 2).alias("node_member_ids"),
            F.array().cast("array<long>").alias("way_member_ids"),
            F.when(
                (idx % 3 == 0) & (idx > 0),
                F.array(F.lit(REL_ID_BASE).cast("long") + idx - 1),
            )
            .otherwise(F.array().cast("array<long>"))
            .alias("child_relation_ids"),
            F.when(idx % 2 == 1, F.create_map(F.lit("route"), F.lit("bus")))
            .otherwise(F.create_map(F.lit("type"), F.lit("multipolygon")))
            .alias("tags"),
        )
    )


def _derived_dataset(spark: SparkSession, sf_dir: str):
    # one max(doc_id) job shared by both derived tables (each gate query
    # rebuilds the dataset; don't repeat the scan per helper)
    max_id = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.max("doc_id"))
        .first()[0]
    )
    ways = _derived_ways(spark, sf_dir, max_id)
    rels = _derived_relations(spark, sf_dir, max_id)
    return prepare(_derived_points(spark, sf_dir), ways, rels)


# --- derived spatial table (SQL side) ------------------------------------------

# every literal cast to DOUBLE: DuckDB otherwise parses decimals as DECIMAL
# and computes exact-decimal arithmetic, which is not IEEE-double parity
SQL_LON = (
    f"(CAST(9.90 AS DOUBLE) + CAST(0.20 AS DOUBLE) * "
    f"((doc_id * CAST({PHI} AS DOUBLE)) - floor(doc_id * CAST({PHI} AS DOUBLE))))"
)
SQL_LAT = (
    f"(CAST(53.50 AS DOUBLE) + CAST(0.20 AS DOUBLE) * "
    f"((doc_id * CAST({PSI} AS DOUBLE)) - floor(doc_id * CAST({PSI} AS DOUBLE))))"
)


def _sql_pick(values: list[str], idx_expr: str) -> str:
    arms = " ".join(f"WHEN {k} THEN '{v}'" for k, v in enumerate(values))
    return f"(CASE ({idx_expr}) % {len(values)} {arms} END)"


SQL_AMENITY = _sql_pick(AMEN, "doc_id // 4")
SQL_SEATS = _sql_pick(SEATS, "doc_id // 12")
SQL_HEIGHT = _sql_pick(HEIGHT, "doc_id // 5")
SQL_HAS_AMENITY = "(doc_id % 4 = 0)"
SQL_HAS_SEATS = "(doc_id % 12 = 0)"
SQL_HAS_HEIGHT = "(doc_id % 5 = 1)"

SQL_POINTS = f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents"


# --- OSM query-language entries -------------------------------------------------


def _dyadic_emb_col() -> F.Column:
    """64-dim dyadic-rational embedding synthesized from vec_id: component
    j = (((vec_id*73 + j*31 + (vec_id*j) % 7) % 33) - 16) / 16.0. Exact k/16
    values make every dot product / norm-square an exact multiple of 1/256 —
    IEEE sums are then order-independent, so DuckDB reproduces hyperplane-LSH
    sign bits and cosines bit-for-bit (the fixture that upgrades
    dedup_embedding / similarity_ann from rows-only to full SQL checks)."""
    v = F.col("vec_id")
    return F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (((v * 73 + j * 31 + (v * j) % 7) % 33) - 16).cast("double")
        / F.lit(16.0),
    )


# dyadic embedding + hyperplane signature pipeline, shared by the two
# embedding-LSH oracles. Planes are the same seeded +/-1 matrix the Spark
# operator draws (inlined as sign strings, like the minhash permutation
# table); everything else is recomputed from scratch in SQL.
def _embedding_lsh_sql_prefix() -> str:
    import numpy as np

    planes = np.random.RandomState(42).choice([-1.0, 1.0], size=(32, 64))
    plane_rows = ", ".join(
        "(%d, '%s')" % (b, "".join("+" if w > 0 else "-" for w in planes[b]))
        for b in range(32)
    )
    return f"""
WITH dims AS (SELECT j FROM range(64) t(j)),
emb AS (
  SELECT vec_id, j,
         ((((vec_id*73 + j*31 + (vec_id*j) % 7) % 33) - 16) / 16.0) AS x
  FROM embeddings CROSS JOIN dims
),
planes AS (SELECT * FROM (VALUES {plane_rows}) p(b, s)),
dots AS (
  SELECT e.vec_id, p.b,
         sum(CASE WHEN substr(p.s, CAST(e.j+1 AS INTEGER), 1) = '+'
                  THEN e.x ELSE -e.x END) AS d
  FROM emb e CROSS JOIN planes p GROUP BY e.vec_id, p.b
),
sigs AS (
  SELECT vec_id,
         sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sig
  FROM dots GROUP BY vec_id
),
bands AS (
  SELECT vec_id, c, (sig >> CAST(c*8 AS INTEGER)) & 255 AS val
  FROM sigs CROSS JOIN range(4) t(c)
)"""


# Global pentagon-avoiding test coordinates synthesized from doc_id —
# integer arithmetic, so both engines see bit-identical doubles. Hits many
# icosahedron faces and inter-face rotations (unlike the Hamburg window).
H3E_LON_SQL = "((doc_id * 7919) % 36000) / 100.0 - 180.0 + 0.005"
H3E_LAT_SQL = "((doc_id * 104729) % 12000) / 100.0 - 60.0 + 0.005"
H3E_RES = 8  # class II at projection time (no aperture-7 theta adjust)
H3E_PARENT = 5


def _h3_encode_rollup_sql(res: int = H3E_RES, parent_res: int = H3E_PARENT) -> str:
    """DuckDB twin of the ENTIRE from-scratch H3 encoder at res 8 (rolled up
    to res-5 parents): face selection, gnomonic projection, hex rounding,
    the 8-level aperture-7 digit walk and the canonical hexagon rotations
    are all recomputed in SQL. The 20-row face table and the derived
    380-slot base-cell table are inlined as VALUES (shared constants, same
    status as the minhash permutation table); pentagon base cells are
    excluded symmetrically on both sides (their deleted-K-axis branch stays
    pytest-covered: tests/test_h3_encode.py)."""
    import numpy as np

    from simple_osm_queries_spark.functions import h3 as H
    from simple_osm_queries_spark.functions import h3_encode as E

    tab = E._tables()
    faces = ", ".join(
        f"({f}, {E.FACE_CENTER_GEO[f,0]!r}, {E.FACE_CENTER_GEO[f,1]!r}, "
        f"{E.FACE_AXES_AZ_I[f]!r})"
        for f in range(20)
    )
    slots = []
    for f in range(20):
        for i in range(3):
            for j in range(3):
                for k in range(3):
                    bc = int(tab["fijk_bc"][f, i, j, k])
                    if bc >= 0:
                        slots.append(
                            f"({f},{i},{j},{k},{bc},{int(tab['fijk_rot'][f,i,j,k])})"
                        )
    slot_rows = ", ".join(slots)
    two_pi = repr(2 * np.pi)
    sin60 = repr(E.M_SIN60)
    res0u = repr(E.RES0_U_GNOMONIC)
    sqrt7 = repr(E.M_SQRT7)
    pent = ",".join(str(b) for b in sorted(H.PENTAGON_BASE_CELLS))
    ap7 = repr(float(E.M_AP7_ROT_RADS))

    def lround(x: str) -> str:
        return (
            f"CAST(CASE WHEN ({x}) >= 0 THEN floor(({x}) + 0.5) "
            f"ELSE ceil(({x}) - 0.5) END AS BIGINT)"
        )

    # the 8 aperture-7 up-steps, each extracting one digit (finest first).
    # class III (odd) levels step ccw (_up_ap7), class II cw (_up_ap7r);
    # the level's digit is the normalized diff against the down-projected
    # parent center.
    steps_sql = []
    prev = "hex"
    for n in range(res, 0, -1):
        class3 = n % 2 == 1
        if class3:
            ni = lround("(3*(i - k) - (j - k)) / 7.0")
            nj = lround("((i - k) + 2*(j - k)) / 7.0")
            down = "(3*nni + nnj) AS ci, (3*nnj + nnk) AS cj, (nni + 3*nnk) AS ck"
        else:
            ni = lround("(2*(i - k) + (j - k)) / 7.0")
            nj = lround("(3*(j - k) - (i - k)) / 7.0")
            down = "(3*nni + nnk) AS ci, (nni + 3*nnj) AS cj, (nnj + 3*nnk) AS ck"
        carried = ", ".join(f"d{m}" for m in range(res, n, -1))
        carried = (carried + ", ") if carried else ""
        steps_sql.append(f"""
u{n} AS (
  SELECT id, f, {carried}i, j, k,
         ni - least(ni, nj, 0) AS nni, nj - least(ni, nj, 0) AS nnj,
         0 - least(ni, nj, 0) AS nnk
  FROM (SELECT *, {ni} AS ni, {nj} AS nj FROM {prev})
), c{n} AS (
  SELECT id, f, {carried}i, j, k, nni, nnj, nnk, {down}
  FROM u{n}
), w{n} AS (
  SELECT id, f, {carried}
         nni AS i, nnj AS j, nnk AS k,
         4*((i - ci) - least(i - ci, j - cj, k - ck))
         + 2*((j - cj) - least(i - ci, j - cj, k - ck))
         + ((k - ck) - least(i - ci, j - cj, k - ck)) AS d{n}
  FROM c{n}
)""")
        prev = f"w{n}"

    digit_cols = ", ".join(f"d{m}" for m in range(res, 0, -1))

    # hexagon digit rotation by `rot` ccw steps via the 60-degree angle
    # representation (I=0, IJ=1, J=2, JK=3, K=4, IK=5; center fixed)
    def rot_digit(d: str) -> str:
        a = (
            f"(CASE {d} WHEN 4 THEN 0 WHEN 6 THEN 1 WHEN 2 THEN 2 "
            f"WHEN 3 THEN 3 WHEN 1 THEN 4 WHEN 5 THEN 5 END + rot) % 6"
        )
        return (
            f"CASE WHEN {d} = 0 THEN 0 ELSE "
            f"(CASE ({a}) WHEN 0 THEN 4 WHEN 1 THEN 6 WHEN 2 THEN 2 "
            f"WHEN 3 THEN 3 WHEN 4 THEN 1 WHEN 5 THEN 5 END) END"
        )

    parent_base = (1 << 59) | (parent_res << 52)
    seven_fill = H._digits_mask(parent_res + 1)
    rotated = ", ".join(
        f"({rot_digit(f'd{m}')}) AS r{m}" for m in range(1, parent_res + 1)
    )
    assemble = " + ".join(
        f"CAST(r{m} AS BIGINT) * {1 << H._digit_shift(m)}"
        for m in range(1, parent_res + 1)
    )
    scale = "*" + "*".join([sqrt7] * res)

    return f"""
WITH pts AS (SELECT doc_id AS id, {H3E_LON_SQL} AS lon, {H3E_LAT_SQL} AS lat
             FROM documents),
faces AS (SELECT * FROM (VALUES {faces}) t(f, flat, flng, faz)),
fx AS (SELECT f, flat, flng, faz,
              cos(flat)*cos(flng) AS cx, cos(flat)*sin(flng) AS cy,
              sin(flat) AS cz
       FROM faces),
pv AS (SELECT id, radians(lat) AS la, radians(lon) AS lo,
              cos(radians(lat))*cos(radians(lon)) AS vx,
              cos(radians(lat))*sin(radians(lon)) AS vy,
              sin(radians(lat)) AS vz
       FROM pts),
sel AS (
  SELECT * FROM (
    SELECT pv.*, fx.*,
           row_number() OVER (PARTITION BY id
                              ORDER BY vx*cx+vy*cy+vz*cz DESC, f ASC) AS rn
    FROM pv CROSS JOIN fx) WHERE rn = 1),
geo AS (
  SELECT id, f,
    acos(least(greatest(
      1 - ((vx-cx)*(vx-cx) + (vy-cy)*(vy-cy) + (vz-cz)*(vz-cz))/2,
      -1.0), 1.0)) AS r,
    atan2(cos(la)*sin(lo - flng),
          cos(flat)*sin(la) - sin(flat)*cos(la)*cos(lo - flng)) AS az,
    faz
  FROM sel),
theta AS (
  SELECT id, f, r, {"(CASE WHEN t2 < 0 THEN t2 + " + two_pi + " WHEN t2 >= " + two_pi + " THEN t2 - " + two_pi + " ELSE t2 END)" if res % 2 == 1 else "t2"} AS th
  FROM (
    SELECT id, f, r,
      (CASE WHEN t1 < 0 THEN t1 + {two_pi}
            WHEN t1 >= {two_pi} THEN t1 - {two_pi} ELSE t1 END)
      {f"- {ap7}" if res % 2 == 1 else ""} AS t2
    FROM (
      SELECT id, f, r,
        faz - (CASE WHEN az < 0 THEN az + {two_pi}
                    WHEN az >= {two_pi} THEN az - {two_pi} ELSE az END) AS t1
      FROM geo))),
xy AS (
  SELECT id, f,
    CASE WHEN r < 1e-16 THEN 0.0
         ELSE tan(r) / {res0u} {scale} * cos(th) END AS hx,
    CASE WHEN r < 1e-16 THEN 0.0
         ELSE tan(r) / {res0u} {scale} * sin(th) END AS hy
  FROM theta),
hexr AS (
  SELECT id, f, hx, hy,
    abs(hx) + (abs(hy) / {sin60}) / 2.0 AS x1,
    abs(hy) / {sin60} AS x2
  FROM xy),
hexm AS (
  SELECT *, CAST(floor(x1) AS BIGINT) AS m1, CAST(floor(x2) AS BIGINT) AS m2,
         x1 - floor(x1) AS r1, x2 - floor(x2) AS r2
  FROM hexr),
hexij AS (
  SELECT id, f, hx, hy,
    CASE
      WHEN r1 < 0.5 AND r1 < 1.0/3.0 THEN m1
      WHEN r1 < 0.5 AND NOT (r1 < 1.0/3.0) THEN
        CASE WHEN (1.0 - r1) <= r2 AND r2 < 2.0*r1 THEN m1 + 1 ELSE m1 END
      WHEN NOT (r1 < 0.5) AND r1 < 2.0/3.0 THEN
        CASE WHEN 2.0*r1 - 1.0 < r2 AND r2 < 1.0 - r1 THEN m1 ELSE m1 + 1 END
      ELSE m1 + 1 END AS bi,
    CASE
      WHEN r1 < 0.5 AND r1 < 1.0/3.0 THEN
        CASE WHEN r2 < (1.0 + r1)/2.0 THEN m2 ELSE m2 + 1 END
      WHEN r1 < 0.5 AND NOT (r1 < 1.0/3.0) THEN
        CASE WHEN r2 < (1.0 - r1) THEN m2 ELSE m2 + 1 END
      WHEN NOT (r1 < 0.5) AND r1 < 2.0/3.0 THEN
        CASE WHEN r2 < (1.0 - r1) THEN m2 ELSE m2 + 1 END
      ELSE CASE WHEN r2 < r1/2.0 THEN m2 ELSE m2 + 1 END END AS bj
  FROM hexm),
hexfold AS (
  SELECT id, f,
    CASE WHEN hx < 0.0 THEN
      CASE WHEN bj % 2 = 0 THEN bi - 2*(bi - bj//2)
           ELSE bi - (2*(bi - (bj+1)//2) + 1) END
    ELSE bi END AS fi,
    bj, hy
  FROM hexij),
hexneg AS (
  SELECT id, f,
    CASE WHEN hy < 0.0 THEN fi - (2*bj + 1)//2 ELSE fi END AS gi,
    CASE WHEN hy < 0.0 THEN -bj ELSE bj END AS gj
  FROM hexfold),
hex AS (
  SELECT id, f,
    gi - least(gi, gj, 0) AS i,
    gj - least(gi, gj, 0) AS j,
    0 - least(gi, gj, 0) AS k
  FROM hexneg),
{",".join(steps_sql)},
bcj AS (
  SELECT w1.id, {digit_cols}, s.bc, s.rot
  FROM w1 JOIN (VALUES {slot_rows}) s(f, i, j, k, bc, rot)
    ON w1.f = s.f AND w1.i = s.i AND w1.j = s.j AND w1.k = s.k
),
nopent AS (SELECT * FROM bcj WHERE bc NOT IN ({pent})),
rotd AS (SELECT id, bc, {rotated} FROM nopent),
cells AS (
  SELECT id,
    CAST({parent_base} AS BIGINT) + CAST(bc AS BIGINT) * {1 << 45}
    + {assemble} + {seven_fill} AS parent
  FROM rotd)
SELECT parent, count(*) AS n FROM cells GROUP BY parent
"""


S2E_LEVEL = 12


def _s2_encode_sql() -> str:
    """DuckDB twin of the ENTIRE from-scratch S2 encoder (functions/s2.py)
    at level 12: cube-face selection (canonical tie order), per-face (u,v),
    the quadratic ST reprojection, 30-bit ij, and the Hilbert curve position
    via 8 chained joins against the inlined 1024-entry lookup table (the
    same generated table the numpy path uses — shared constants, algorithm
    recomputed). HUGEINT assembly, folded to two's-complement at the end."""
    from simple_osm_queries_spark.functions import s2 as S2

    lkp_rows = ", ".join(
        f"({k},{int(v)})" for k, v in enumerate(S2._LOOKUP_POS.tolist())
    )
    rounds = []
    prev = "ij0"
    for k in range(7, -1, -1):
        shift = 2 ** (4 * k)
        w = 2 ** (8 * k)
        acc = (
            f"CAST(l.vv // 4 AS HUGEINT) * {w}"
            if k == 7
            else f"{prev}.acc + CAST(l.vv // 4 AS HUGEINT) * {w}"
        )
        rounds.append(f"""
r{k} AS (
  SELECT {prev}.id, {prev}.face, {prev}.i, {prev}.j,
         CAST(l.vv % 4 AS BIGINT) AS bits,
         {acc} AS acc
  FROM {prev} JOIN lkp l
    ON l.kk = {prev}.bits + (({prev}.i // {shift}) % 16) * 64
              + (({prev}.j // {shift}) % 16) * 4
)""")
        prev = f"r{k}"
    lsb = 2 ** (2 * (30 - S2E_LEVEL))
    return f"""
WITH pts AS (SELECT doc_id AS id, {H3E_LON_SQL} AS lon, {H3E_LAT_SQL} AS lat
             FROM documents),
v AS (SELECT id,
        cos(radians(lat))*cos(radians(lon)) AS x,
        cos(radians(lat))*sin(radians(lon)) AS y,
        sin(radians(lat)) AS z
      FROM pts),
fa AS (SELECT id, x, y, z,
        CASE WHEN abs(x) > abs(y)
             THEN CASE WHEN abs(x) > abs(z) THEN 0 ELSE 2 END
             ELSE CASE WHEN abs(y) > abs(z) THEN 1 ELSE 2 END END AS axis
       FROM v),
fc AS (SELECT id, x, y, z,
        CASE WHEN (CASE axis WHEN 0 THEN x WHEN 1 THEN y ELSE z END) < 0
             THEN axis + 3 ELSE axis END AS face
       FROM fa),
uv AS (SELECT id, face,
        CASE face WHEN 0 THEN y/x WHEN 1 THEN -x/y WHEN 2 THEN -x/z
                  WHEN 3 THEN z/x WHEN 4 THEN z/y ELSE -y/z END AS u,
        CASE face WHEN 0 THEN z/x WHEN 1 THEN z/y WHEN 2 THEN -y/z
                  WHEN 3 THEN y/x WHEN 4 THEN -x/y ELSE -x/z END AS w
       FROM fc),
st AS (SELECT id, face,
        CASE WHEN u >= 0 THEN 0.5*sqrt(1.0 + 3.0*u)
             ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*u) END AS s,
        CASE WHEN w >= 0 THEN 0.5*sqrt(1.0 + 3.0*w)
             ELSE 1.0 - 0.5*sqrt(1.0 - 3.0*w) END AS t
       FROM uv),
ij0 AS (SELECT id, face,
        CAST(least(greatest(floor(1073741824.0 * s), 0), 1073741823) AS BIGINT) AS i,
        CAST(least(greatest(floor(1073741824.0 * t), 0), 1073741823) AS BIGINT) AS j,
        face % 2 AS bits
       FROM st),
lkp AS (SELECT * FROM (VALUES {lkp_rows}) t(kk, vv)),
{",".join(rounds)},
leaf AS (
  SELECT id, CAST(face AS HUGEINT) * 2305843009213693952 + acc * 2 + 1 AS lf
  FROM r0),
par AS (
  SELECT id, (lf // {2 * lsb}) * {2 * lsb} + {lsb} AS up FROM leaf)
SELECT CAST(CASE WHEN up >= 9223372036854775808
            THEN up - 18446744073709551616 ELSE up END AS BIGINT) AS cell,
       count(*) AS n
FROM par GROUP BY cell
"""


def _osm(qtext: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        ds = _derived_dataset(spark, sf_dir)
        return run_query(qtext, ds).select("id", "lon", "lat").orderBy("id")

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the README.md:46-shaped query through the full pipeline."""
    ds = _derived_dataset(spark, "/root/testdata/sf0.001")
    return run_query(
        "bbox(9.90, 53.50, 10.10, 53.70).nodes{ amenity=bench AND seats=* }", ds
    ).select("id", "lon", "lat", "tags")


# --- spatial fixtures (literal; shared by Spark and SQL) -------------------------

QUERY_BOXES = [
    (0, 9.95, 53.55, 10.05, 53.65),
    (1, 9.90, 53.50, 10.10, 53.70),
    (2, 9.95, 53.55, 9.96, 53.56),
    (3, 10.00, 53.60, 10.00, 53.60),
]

PENTAGON = [(9.98, 53.55), (10.06, 53.58), (10.03, 53.66), (9.95, 53.66), (9.92, 53.58)]

KNN_QUERIES = [(0, 9.951, 53.551), (1, 10.05, 53.65), (2, 9.901, 53.501)]
KNN_K = 5
# geodesic kNN fixture: two queries straddling the antimeridian (the wrap
# case) plus one mid-latitude control; points are the GLOBAL H3E scatter
KNN_HAV_QUERIES = [(0, 179.98, 10.0), (1, -179.97, -30.0), (2, 0.01, 55.0)]
KNN_HAV_K = 5


def _sql_pip(lon_expr: str, lat_expr: str, ring: list[tuple[float, float]]) -> str:
    """Ray-casting parity SQL: identical arithmetic to point_in_polygon_col.

    Every ring literal is CAST(... AS DOUBLE): DuckDB otherwise parses bare
    decimals as DECIMAL and computes (bx - ax) exactly, which differs from
    Spark's double subtraction by ~1 ulp — enough to flip a crossing test
    for a point between the two x_at_y values (the CLAUDE.md parity rule).
    """

    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    terms = []
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({d(ay)} > {lat_expr}) != ({d(by)} > {lat_expr})) AND "
            f"({lon_expr} < ({d(bx)} - {d(ax)}) * ({lat_expr} - {d(ay)}) / ({d(by)} - {d(ay)}) + {d(ax)}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"


# --- queries -------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # S2/F1/F4/F6/F8 through the full language pipeline
    q["osm_flagship"] = _osm(
        "bbox(9.90, 53.50, 10.10, 53.70).nodes{ amenity=bench AND seats=* }"
    )
    # F5 natural ordering on numeric strings
    q["osm_seats_ge3"] = _osm("bbox(9.90, 53.50, 10.10, 53.70).nodes{ seats>=3 }")
    # F5 on the mixed numeric/string height dictionary, absent literal
    q["osm_height_gt"] = _osm("bbox(9.90, 53.50, 10.10, 53.70).nodes{ height>1.2 }")
    # F7/F8 negation + parens + OR
    q["osm_bool_algebra"] = _osm(
        "bbox(9.90, 53.50, 10.10, 53.70).nodes{ (amenity=cafe OR amenity=restaurant) AND !(seats=2) }"
    )
    # A4: multiple top-level statements = UNION ALL
    q["osm_union"] = _osm(
        "bbox(9.95, 53.55, 10.05, 53.65).nodes{ amenity=cafe } "
        "bbox(9.95, 53.55, 10.05, 53.65).nodes{ amenity=restaurant }"
    )
    # partial bbox (cell pruning + refine)
    q["osm_bbox_partial"] = _osm("bbox(9.95, 53.55, 9.99, 53.62).nodes{ amenity=* }")
    # this.buffer(D) — the reference's documented-but-unimplemented proximity
    # operator (README.md:154-181), implemented as a distance semi join.
    # MERGED entry (50-cap, round-5 session 4): the node<->node pair AND the
    # way<->way segment-pair form (crossing => 0) under a `pair` tag — same
    # family, same distance model; frees a slot for nearest_way_join.
    def q_buffer(spark, sf_dir):
        ds = _derived_dataset(spark, sf_dir)
        nn = (
            run_query(
                "bbox(9.90, 53.50, 10.10, 53.70).nodes"
                "{ amenity=* AND this.buffer(2km).nodes{ seats=* } }",
                ds,
            )
            .select("id")
            .withColumn("pair", F.lit("node_node"))
        )
        ww = (
            run_query(
                "bbox(9.90, 53.50, 10.10, 53.70).ways"
                "{ building=yes AND this.buffer(100m).ways{ highway=primary } }",
                ds,
            )
            .select("id")
            .withColumn("pair", F.lit("way_way"))
        )
        return nn.unionByName(ww)

    q["osm_buffer"] = q_buffer

    # nearest_way_join (operators/nearest_way.py): ranked k-nearest-ways
    # within a radius — the map-matching primitive. Gate pins the BUCKETED
    # (100x-scale) path; broadcast parity is pytest-pinned
    # (test_nearest_way.py). Distances quantized to cm like geodesy_measures
    # (libm cos ulps ~1e-13 m, 11 orders inside the margin).
    def q_nearest_way(spark, sf_dir):
        from simple_osm_queries_spark.operators.nearest_way import nearest_way_join

        ds = _derived_dataset(spark, sf_dir)
        pts = ds.nodes.filter(
            (F.col("lon") >= 9.98)
            & (F.col("lon") <= 10.02)
            & (F.col("lat") >= 53.58)
            & (F.col("lat") <= 53.62)
        ).select("id", "lon", "lat")
        res = nearest_way_join(
            pts,
            ds.ways.select(
                "id", "nodes", "min_lon", "min_lat", "max_lon", "max_lat"
            ),
            2000.0,
            k=2,
            strategy="bucketed",
            snap=True,
        )
        # snap point (the map-matching output) quantized to 1e-7 deg —
        # the cos ulp largely cancels inside t (kx^2/kx^2); margin ~1e11
        return res.select(
            "id",
            "way_id",
            F.floor(F.col("dist_m") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v"),
            "rank",
            F.floor(F.col("snap_lon") * F.lit(1e7) + F.lit(0.5))
            .cast("long")
            .alias("sx"),
            F.floor(F.col("snap_lat") * F.lit(1e7) + F.lit(0.5))
            .cast("long")
            .alias("sy"),
        )

    q["nearest_way_join"] = q_nearest_way

    # relation branch of the planner through the gate: member semi join
    # (J1 on relations) and child_relations (the reference's fourth
    # queryable type, types.go:30-37)
    def _osm_rel(qtext):
        def run(spark, sf_dir):
            ds = _derived_dataset(spark, sf_dir)
            return run_query(qtext, ds).select("id").orderBy("id")

        return run

    # two relation statements in ONE query (A4 union): member semi join
    # (J1 on relations) plus child_relations (the reference's fourth
    # queryable type) — merged so the gate stays within 50 entries (the
    # driver's correctness file truncates at 50, observed r03)
    q["osm_rel_members"] = _osm_rel(
        "bbox(9.90, 53.50, 10.10, 53.70).relations{ route=bus AND this.nodes{ seats=* } } "
        "bbox(9.90, 53.50, 10.10, 53.70).relations{ this.child_relations{ route=bus } }"
    )

    # S1: real .osm.pbf scan — write the derived points to a PBF file
    # (driver-side fixture synthesis, cached per sf_dir), then read it back
    # through the distributed blob decoder and query the quantized coords.
    def q_pbf(spark, sf_dir):
        import os

        from simple_osm_queries_spark.sources import osm_pbf as pbf

        pts = _derived_points(spark, sf_dir)
        os.makedirs("/tmp/soq_pbf_gate", exist_ok=True)
        # key the cache by the INPUT's content fingerprint (mtime + size of
        # documents.parquet), not just the directory path: regenerating the
        # same sf_dir must invalidate the fixture, or pbf_scan would compare
        # stale data against a fresh oracle. v2 = half-up quantization.
        st = os.stat(f"{sf_dir}/documents.parquet")
        key = (
            f"{sf_dir.strip('/').replace('/', '_')}"
            f".{int(st.st_mtime_ns)}.{st.st_size}"
        )
        path = f"/tmp/soq_pbf_gate/{key}.v2.osm.pbf"
        if not os.path.exists(path):
            # .collect() here is fixture WRITING (driver-side encoder by
            # design), not query execution — the read side is distributed.
            # Per-process tmp name: concurrent gate runs must not interleave
            # writes into one .tmp before the atomic replace.
            rows = sorted(
                (r.id, r.lon, r.lat, r.tags) for r in pts.collect()
            )
            tmp = f"{path}.{os.getpid()}.tmp"
            pbf.write_osm_pbf(tmp, nodes=rows, entities_per_block=997)
            os.replace(tmp, path)
        nodes, _w, _r = pbf.read_osm_pbf(spark, path, persist=False)
        return (
            nodes.filter(F.col("lon") <= 10.0)
            .select(
                "id", "lon", "lat",
                F.element_at(F.col("tags"), "amenity").alias("amenity"),
            )
        )

    q["pbf_scan"] = q_pbf

    # S7': GeoParquet round-trip — write the derived points through the WKB
    # sink, read them back through the WKB decoder, return exact coords.
    # The oracle recomputes lon/lat directly from documents, so any
    # corruption in the WKB encode/decode or the geo metadata path breaks
    # the hash. Fresh temp dir per run (500 rows at gate scale — trivial).
    def q_geoparquet(spark, sf_dir):
        import tempfile

        from simple_osm_queries_spark.sources import geoparquet as G

        pts = _derived_points(spark, sf_dir).select("id", "lon", "lat")
        out = tempfile.mkdtemp(prefix="soq_geoparquet_gate_")
        G.write_geoparquet(pts, out, mode="overwrite")
        return G.read_geoparquet(spark, out)

    q["geoparquet_roundtrip"] = q_geoparquet

    # H3 index bit-algebra over synthesized REAL-layout H3 ids: build a
    # valid res-9 cell per doc (digits 2..6 -> pentagon-safe), roll up to
    # res 3 with functions/h3.py::parent (pure bit math), count per parent.
    # The oracle derives each parent independently BY CONSTRUCTION, so the
    # bit-ops implementation is cross-checked against the layout spec.
    def q_h3_rollup(spark, sf_dir):
        from simple_osm_queries_spark.functions import h3 as H

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        i = F.col("doc_id")
        base = (1 << 59) | (9 << 52) | H._digits_mask(10)
        h = F.lit(base).cast("long") + (i % 122) * F.lit(1 << 45)
        for k in range(1, 10):
            digit = F.lit(2) + F.floor(i / (7 ** (k - 1))) % 5
            h = h + digit.cast("long") * F.lit(1 << H._digit_shift(k))
        cells = d.select(h.alias("h"))
        return (
            cells.select(H.parent(F.col("h"), 3).alias("parent"))
            .groupBy("parent")
            .agg(F.count("*").alias("n"))
        )

    q["h3_rollup"] = q_h3_rollup

    # THE ENCODER ITSELF, gate-checked: from-scratch H3 encode at res 8 of
    # global synthetic coordinates (many faces, many inter-face rotations),
    # rolled up to res-5 parents. The oracle recomputes the whole encode in
    # SQL (_h3_encode_rollup_sql). Pentagon base cells excluded on both
    # sides — their deleted-K-axis branch is pytest-covered.
    # BOTH resolution classes in one entry (even/class II at res 8 AND the
    # aperture-7 theta-rotation branch at odd res 7), unioned with a `res`
    # tag — merged to keep the gate within the driver's 50-entry file cap
    def q_h3_encode_rollup(spark, sf_dir):
        from simple_osm_queries_spark.functions import h3 as H

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        lon = ((F.col("doc_id") * 7919) % 36000) / F.lit(100.0) - F.lit(180.0) + F.lit(0.005)
        lat = ((F.col("doc_id") * 104729) % 12000) / F.lit(100.0) - F.lit(60.0) + F.lit(0.005)

        def roll(enc_res: int, parent_res: int):
            cells = d.select(C.cell_h3(lon, lat, enc_res).alias("h"))
            hexes = cells.filter(
                ~H.base_cell(F.col("h")).isin(*sorted(H.PENTAGON_BASE_CELLS))
            )
            return (
                hexes.select(
                    F.lit(enc_res).alias("res"),
                    H.parent(F.col("h"), parent_res).alias("parent"),
                )
                .groupBy("res", "parent")
                .agg(F.count("*").alias("n"))
            )

        return roll(H3E_RES, H3E_PARENT).unionByName(roll(7, 4))

    q["h3_encode_rollup"] = q_h3_encode_rollup

    # compact/uncompact set algebra: synthesized res-5 cells (digit values
    # 2..6 — no complete sibling family can pre-exist, so the round-trip is
    # exact by construction), expanded to res 6 (7 children each) and
    # compacted back. The oracle rebuilds the input set directly.
    def q_h3_compact(spark, sf_dir):
        from simple_osm_queries_spark.functions import h3 as H
        from simple_osm_queries_spark.operators import h3_sets

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        i = F.col("doc_id")
        base = (1 << 59) | (5 << 52) | H._digits_mask(6)
        h = F.lit(base).cast("long") + (i % 122) * F.lit(1 << 45)
        for k in range(1, 6):
            digit = F.lit(2) + F.floor(i / (7 ** (k - 1))) % 5
            h = h + digit.cast("long") * F.lit(1 << H._digit_shift(k))
        cells = d.select(h.alias("cell")).distinct()
        return h3_sets.compact_cells(h3_sets.uncompact_cells(cells, 6))

    q["h3_compact_roundtrip"] = q_h3_compact

    # S2 bit-algebra over synthesized REAL-layout S2 ids (level 20, all six
    # faces — faces 4/5 exercise the bit-63/two's-complement path): roll up
    # to level-10 parents with functions/s2.py::parent_id_col (pure JVM bit
    # math). The oracle derives each parent arithmetically BY CONSTRUCTION
    # (HUGEINT div/mul, no bit ops) — an independent derivation.
    def q_s2_rollup(spark, sf_dir):
        from simple_osm_queries_spark.functions import s2 as S2

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        face = F.col("doc_id") % 6
        bits = (F.col("doc_id") * 48271) % F.lit(1 << 40)
        rest = bits * F.lit(1 << 21) + F.lit(1 << 20)
        sid = (
            F.when(face >= 4, (face - 8) * F.lit(1 << 61) + rest)
            .otherwise(face * F.lit(1 << 61) + rest)
            .cast("long")
        )
        cells = d.select(sid.alias("s2"))
        return (
            cells.select(S2.parent_id_col(F.col("s2"), 10).alias("parent"))
            .groupBy("parent")
            .agg(F.count("*").alias("n"))
        )

    q["s2_rollup"] = q_s2_rollup

    # THE S2 ENCODER, gate-checked: cell_s2 over the same global synthetic
    # coordinates; oracle recomputes the full encode in SQL (_s2_encode_sql)
    def q_s2_encode(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        lon = ((F.col("doc_id") * 7919) % 36000) / F.lit(100.0) - F.lit(180.0) + F.lit(0.005)
        lat = ((F.col("doc_id") * 104729) % 12000) / F.lit(100.0) - F.lit(60.0) + F.lit(0.005)
        return (
            d.select(C.cell_s2(lon, lat, S2E_LEVEL).alias("cell"))
            .groupBy("cell")
            .agg(F.count("*").alias("n"))
        )

    q["s2_encode_cells"] = q_s2_encode

    # S2 compact/uncompact: synthesized level-20 cells (s2_rollup's
    # construction — the hashed bits make complete 4-sibling coincidences
    # vanishingly unlikely and any would fail the hash), expanded one level
    # and compacted back; oracle rebuilds the input set
    def q_s2_compact(spark, sf_dir):
        from simple_osm_queries_spark.operators import s2_sets

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
        face = F.col("doc_id") % 6
        bits = (F.col("doc_id") * 48271) % F.lit(1 << 40)
        rest = bits * F.lit(1 << 21) + F.lit(1 << 20)
        sid = (
            F.when(face >= 4, (face - 8) * F.lit(1 << 61) + rest)
            .otherwise(face * F.lit(1 << 61) + rest)
            .cast("long")
        )
        cells = d.select(sid.alias("cell")).distinct()
        return s2_sets.compact_cells(s2_sets.uncompact_cells(cells, 21))

    q["s2_compact_roundtrip"] = q_s2_compact

    # A1: per-cell density (the import pass-1 histogram)
    def cell_count(spark, sf_dir):
        pts = _derived_points(spark, sf_dir)
        return (
            pts.select(C.cell_x(F.col("lon")).alias("cell_x"), C.cell_y(F.col("lat")).alias("cell_y"))
            .groupBy("cell_x", "cell_y")
            .agg(F.count("*").alias("n"))
        )

    q["cell_count"] = cell_count

    # geohash + morton z-order: pure column-math encoders, full SQL twins;
    # one entry for both (50-entry gate-file cap)
    def q_geohash(spark, sf_dir):
        pts = _derived_points(spark, sf_dir)
        z = C.zorder_key(
            C._bits_col(F.col("lon"), -180.0, 180.0, 16),
            C._bits_col(F.col("lat"), -90.0, 90.0, 16),
            16,
        )
        return pts.select(
            "id", C.geohash(F.col("lon"), F.col("lat"), 9).alias("gh"), z.alias("z")
        )

    q["geohash_encode"] = q_geohash

    # deterministic sampling: membership is a pure function of row content
    # (md5 -> 52-bit dyadic uniform), so partitioning/retries/cluster size
    # cannot change the sample — and DuckDB recomputes it verbatim
    # MERGED entry (50-cap, r5e): content-hash sampling AND the
    # train/val/test split under one `grp` tag — same md5-membership
    # machinery; frees a slot for dbscan.
    def q_sample(spark, sf_dir):
        from simple_osm_queries_spark.operators import sampling

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        samp = (
            sampling.deterministic_sample(docs, 0.25, "doc_id", salt="gate")
            .select("doc_id")
            .withColumn("grp", F.lit("sample"))
        )
        split = sampling.split(
            docs, {"train": 0.8, "val": 0.1, "test": 0.1}, "doc_id"
        ).select("doc_id", F.col("split").alias("grp"))
        return samp.unionByName(split)

    q["deterministic_sample"] = q_sample

    # distributed DBSCAN (operators/clustering.py): grid-bucketed
    # eps-neighbor pairs -> core points -> pointer-jumping components ->
    # deterministic min-cluster border assignment. The twin recomputes the
    # whole algorithm in SQL, components via a recursive transitive
    # closure (min reachable core id == the pointer-jumping label).
    def q_dbscan(spark, sf_dir):
        from simple_osm_queries_spark.operators.clustering import dbscan

        pts = _derived_points(spark, sf_dir).select("id", "lon", "lat")
        return dbscan(pts, 800.0, 4)

    q["dbscan"] = q_dbscan

    # north rule: bbox join
    def q_bbox_join(spark, sf_dir):
        pts = _derived_points(spark, sf_dir)
        boxes = spark.createDataFrame(
            QUERY_BOXES, "qid long, min_lon double, min_lat double, max_lon double, max_lat double"
        )
        return spatial_join.bbox_join(pts, boxes).select("qid", "id")

    q["bbox_join"] = q_bbox_join

    # north rule: point-in-polygon (ray casting + bbox prefilter)
    # merged entry (50-cap): broadcast ray-cast PIP AND the north-star
    # wording verbatim — ray-casting PIP after a broadcast H3 cell-prefilter
    # join (polyfill cover -> equi-join on the cell id -> exact refine).
    # Both methods must match the same exact SQL oracle (the prefilter must
    # not change the answer); merged with a method tag to free a slot for
    # geodesy_measures (round-5 session 3).
    def q_pip(spark, sf_dir):
        pts = _derived_points(spark, sf_dir)
        polys = spark.createDataFrame(
            [(0, [{"lon": x, "lat": y} for x, y in PENTAGON])],
            "qid long, ring array<struct<lon:double,lat:double>>",
        )
        bcast = (
            spatial_join.point_in_polygon_join(pts, polys)
            .select("id")
            .withColumn("method", F.lit("bcast"))
        )
        h3m = (
            spatial_join.point_in_polygon_h3_join(pts, [(0, PENTAGON)], res=8)
            .select("id")
            .withColumn("method", F.lit("h3"))
        )
        # zonal statistics over the SAME polygon (r5e): count + sum(id)
        # of the contained points, folded into the entry as value rows —
        # the aggregate twin of the membership rows above
        z = spatial_join.zonal_stats(pts, polys, values={"sum_id": F.sum("id")})
        zn = z.select(F.col("n").alias("id"), F.lit("zonal_n").alias("method"))
        zs = z.select(
            F.col("sum_id").alias("id"), F.lit("zonal_sum_id").alias("method")
        )
        return bcast.unionByName(h3m).unionByName(zn).unionByName(zs)

    q["point_in_polygon"] = q_pip

    # geodesic measures (operators/geodesy.py): haversine way length and
    # Chamberlain-Duquette spherical ring area over the derived ways'
    # ordered geometry. Values are quantized to integers (cm / m^2) because
    # JVM and DuckDB libm differ at the ulp level in sin/cos/asin (measured:
    # ~5e-16 relative ⇒ ~1e-9 m on km-scale lengths, ~5e-8 m^2 on 1e8 m^2
    # areas — 6+ orders of magnitude inside the quantization margin, so the
    # rounding cannot flip); everything BEFORE the libm calls is mirrored
    # op-for-op like every other twin.
    def q_geodesy(spark, sf_dir):
        from simple_osm_queries_spark.operators import geodesy as G

        ds = _derived_dataset(spark, sf_dir)
        w = ds.ways.select("id", "nodes")
        length = G.way_length_m(w).select(
            F.lit("len").alias("kind"),
            "id",
            F.floor(F.col("length_m") * F.lit(100.0) + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
        area = G.ring_area_m2(w).select(
            F.lit("area").alias("kind"),
            "id",
            F.floor(F.col("area_m2") + F.lit(0.5)).cast("long").alias("v"),
        )
        # bearing of the first segment + the 1000 m destination along it
        # (r5e), all quantized to 1e-7 units like the snap twin
        n1, n2 = F.col("nodes")[0], F.col("nodes")[1]
        br = G.bearing_deg_col(n1["lon"], n1["lat"], n2["lon"], n2["lat"])
        dlon, dlat = G.destination_cols(
            n1["lon"], n1["lat"], br, F.lit(1000.0)
        )

        def _q7(col, kind):
            return w.select(
                F.lit(kind).alias("kind"),
                "id",
                F.floor(col * F.lit(1e7) + F.lit(0.5)).cast("long").alias("v"),
            )

        return (
            length.unionByName(area)
            .unionByName(_q7(br, "bear"))
            .unionByName(_q7(dlon, "dlon"))
            .unionByName(_q7(dlat, "dlat"))
        )

    q["geodesy_measures"] = q_geodesy

    # north rule: kNN — brute baseline and the k-ring scale path, SAME oracle
    def _knn_queries_df(spark):
        return spark.createDataFrame(
            [(qid, lon, lat, KNN_K) for qid, lon, lat in KNN_QUERIES],
            "qid long, lon double, lat double, k int",
        )

    def q_knn_grid(spark, sf_dir):
        # brute baseline AND the k-ring scale path in one entry (both must
        # match the same exact oracle) — merged with a method tag to keep
        # the gate within the driver's 50-entry file cap, freeing a slot
        # for knn_haversine (VERDICT r4 #1)
        pts = _derived_points(spark, sf_dir)
        brute = (
            knn.knn_brute(pts, _knn_queries_df(spark))
            .select("qid", "id", "rank")
            .withColumn("method", F.lit("brute"))
        )
        kring = (
            knn.knn_kring_exact(
                pts, _knn_queries_df(spark), ring=2, cell_w=0.01, cell_h=0.01
            )
            .select("qid", "id", "rank")
            .withColumn("method", F.lit("kring"))
        )
        return brute.unionByName(kring)

    # kNN over REAL H3 cells (north rule: H3 k-ring expansion; hot cells
    # ride the broadcast cover join and the bucketed top-k).
    # Equirectangular metric — its own oracle.
    def q_knn_h3(spark, sf_dir):
        pts = _derived_points(spark, sf_dir)
        return knn.knn_h3_exact(pts, _knn_queries_df(spark), res=8).select(
            "qid", "id", "rank"
        )

    # GEODESIC kNN (VERDICT r4 #1): haversine metric in meters over GLOBAL
    # coordinates (the H3E integer-arithmetic scatter spanning lon +-180),
    # with queries ON the antimeridian — the wrap-aware spherical disc
    # cover must find neighbors on both sides or the hash mismatches the
    # great-circle oracle. Oracle ranks by the monotone haversine kernel
    # recomputed in SQL.
    def q_knn_haversine(spark, sf_dir):
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # the H3E scatter (mirrors H3E_LON_SQL / H3E_LAT_SQL verbatim —
        # keep the two in lockstep, the oracle references the constants)
        lon = ((F.col("doc_id") * 7919) % 36000) / F.lit(100.0) - F.lit(180.0) + F.lit(0.005)
        lat = ((F.col("doc_id") * 104729) % 12000) / F.lit(100.0) - F.lit(60.0) + F.lit(0.005)
        pts = d.select(F.col("doc_id").alias("id"), lon.alias("lon"), lat.alias("lat"))
        qdf = spark.createDataFrame(
            [(qid, qlon, qlat, KNN_HAV_K) for qid, qlon, qlat in KNN_HAV_QUERIES],
            "qid long, lon double, lat double, k int",
        )
        return knn.knn_h3_exact(
            pts, qdf, res=4, metric="haversine", disc_m=400_000.0, max_doublings=6
        ).select("qid", "id", "rank")

    q["knn_kring"] = q_knn_grid
    q["knn_h3"] = q_knn_h3
    q["knn_haversine"] = q_knn_haversine

    # north rule: raster<->vector tile assignment rollup
    def q_tiles(spark, sf_dir):
        # merged entry (50-entry gate-file cap): slippy tile assignment
        # UNION ALL raster pixel binning (operators/tiles.py
        # tile_pixel_bins — the vector->raster rendering aggregation)
        from simple_osm_queries_spark.operators import tiles as T

        pts = _derived_points(spark, sf_dir)
        z = 13
        raw_bins = T.tile_pixel_bins(pts, z, 16)
        # assign derives from the bins by re-aggregation (integer-exact,
        # same tile_id by construction — shared C.tile_fxy projection):
        # one projection pass + one shuffle instead of two of each
        assign = (
            raw_bins.groupBy("tile_id")
            .agg(F.sum("cnt").alias("n"))
            .select(
                F.lit("assign").alias("kind"),
                "tile_id",
                F.lit(-1).cast("long").alias("px"),
                F.lit(-1).cast("long").alias("py"),
                "n",
            )
        )
        bins = raw_bins.select(
            F.lit("pixel").alias("kind"),
            "tile_id",
            F.col("px").cast("long"),
            F.col("py").cast("long"),
            F.col("cnt").alias("n"),
        )
        return assign.unionByName(bins)

    q["tile_assignment"] = q_tiles

    # J1/J2: semi / anti joins
    def q_semi(spark, sf_dir):
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 300000
        )
        return cust.join(
            orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi"
        ).select("c_custkey", "c_name")

    def q_anti(spark, sf_dir):
        # "no order above 400k" — NOT EXISTS with a predicate (plain "no
        # orders at all" is empty at every sf: all customers have orders);
        # merged into the semi entry with a kind label (50-entry gate cap)
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        return (
            cust.join(
                orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
            )
            .select("c_custkey", "c_name")
            .withColumn("kind", F.lit("not_exists"))
        )

    def q_semi_anti(spark, sf_dir):
        semi = q_semi(spark, sf_dir).withColumn("kind", F.lit("exists"))
        return semi.unionByName(q_anti(spark, sf_dir))

    q["semi_join_exists"] = q_semi_anti

    # multi-way dimensional join (TPC-H Q5 shape): region->nation->customer
    # ->orders->lineitem->supplier with the same-nation residual — exercises
    # Catalyst join reordering + broadcast chains over the four otherwise
    # untouched dimension tables. Revenue in integer cents (floor both
    # sides) so the twin is IEEE-order-independent.
    def q_join5(spark, sf_dir):
        region = spark.read.parquet(f"{sf_dir}/region.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        return (
            region.join(nation, nation["n_regionkey"] == region["r_regionkey"])
            .join(cust, cust["c_nationkey"] == nation["n_nationkey"])
            .join(orders, orders["o_custkey"] == cust["c_custkey"])
            .join(li, li["l_orderkey"] == orders["o_orderkey"])
            .join(
                supp,
                (supp["s_suppkey"] == li["l_suppkey"])
                & (supp["s_nationkey"] == cust["c_nationkey"]),
            )
            .groupBy("r_name", "n_name")
            .agg(
                F.count("*").alias("n"),
                F.sum(
                    F.floor(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
                ).alias("revenue_cents"),
            )
        )

    q["join_region_revenue"] = q_join5

    # J3: reverse-edge aggregation (adjacency inversion)
    def q_reverse(spark, sf_dir):
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
            F.count("*").alias("n_orders"),
            F.round(F.max("o_totalprice"), 4).alias("max_total"),
            F.min("o_orderkey").alias("first_orderkey"),
        )

    q["reverse_edges"] = q_reverse

    # window top-k per group (§2.5 gap coverage)
    def q_topk(spark, sf_dir):
        from pyspark.sql import Window

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        w = Window.partitionBy("o_custkey").orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        return (
            orders.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn")
        )

    q["window_topk_per_group"] = q_topk

    # A-family: grouped aggregation (TPC-H Q1 shape)
    def q_agg(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 3).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 3
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
        )

    q["agg_pricing_summary"] = q_agg

    # grouping sets (reference has none; Spark/DuckDB both native)
    def q_cube(spark, sf_dir):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"))
            .select(
                F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("rf"),
                F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("ls"),
                "n",
            )
        )

    q["cube_counts"] = q_cube

    # event-time tumbling window (batch mirror of the streaming job)
    def q_events(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
        ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value"))

    q["events_hourly"] = q_events

    # temporal: as-of join (Spark has no native one; union+window impl) and
    # gap sessionization
    def q_asof(spark, sf_dir):
        from simple_osm_queries_spark.operators import temporal

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        clicks = ev.filter(F.col("event_type") == "click")
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", F.col("event_id").alias("purchase_id")
        )
        return temporal.asof_join(
            clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
            payload=["purchase_id"], right_tiebreak="purchase_id",
        ).select("event_id", "user_id", "purchase_id")

    def q_sessions(spark, sf_dir):
        from simple_osm_queries_spark.operators import temporal

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        stats = temporal.session_stats(ev, "user_id", "ts", gap_seconds=3600)
        return stats.groupBy("user_id").agg(
            F.max("session_id").alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.max("n_events").alias("max_session_events"),
        )

    # batch mirror of the STREAMING sessionizer's semantics: closed sessions
    # only (without an event-time timeout the last session per key stays
    # open forever), double epoch-second bounds like the stateful operator
    # emits. Pins streaming/batch parity in the driver gate, not just pytest.
    def q_session_closed(spark, sf_dir):
        from pyspark.sql import Window

        from simple_osm_queries_spark.operators import temporal

        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "user_id", F.col("ts").cast("timestamp").cast("double").alias("tsd")
        )
        stats = temporal.session_stats(ev, "user_id", "tsd", gap_seconds=3600)
        w = Window.partitionBy("user_id")
        return (
            stats.withColumn("mx", F.max("session_id").over(w))
            .filter(F.col("session_id") < F.col("mx"))
            .select(
                "user_id",
                F.col("session_id").cast("long").alias("session_id"),
                "n_events",
                "session_start",
                "session_end",
            )
        )

    q["asof_join"] = q_asof
    q["sessionize"] = q_sessions
    q["session_closed"] = q_session_closed

    # dedup family
    def q_dedup_exact(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.exact_dup_groups(docs, "doc_id", "text")

    def q_jaccard(spark, sf_dir):
        # max_df=100 exercises the hot-shingle cap path (mirrored in SQL)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=100).select(
            "id_a", "id_b", "jaccard"
        )

    def q_minhash(spark, sf_dir):
        # SQL-checked variant: md5-derived 32-bit shingle hash + raw-string
        # band buckets, so DuckDB recomputes identical signatures/candidates.
        # The production crc32/xxhash64 path is pytest-proven equal on the
        # dedup fixture (test_dedup.py::test_minhash_md5_variant_matches).
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.minhash_near_dups(
            docs, threshold=MH_THRESHOLD, num_perm=MH_PERM, bands=MH_BANDS,
            shingle_hash="md5",
        )

    def q_simhash(spark, sf_dir):
        # SQL-checked variant: 60-bit md5 word hashes so DuckDB recomputes
        # identical signatures (production xxhash64 path is pytest-covered)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return dedup.simhash_near_dups(docs, max_hamming=3, word_hash="md5")

    def q_embed_dup(spark, sf_dir):
        # SQL-checked: dyadic-rational embeddings synthesized from vec_id
        # (components k/16, so every dot product / norm-square is an exact
        # multiple of 1/256 — summation-order-independent, hence the
        # hyperplane sign bits and cosines are bit-identical in DuckDB).
        # ~231 distinct vectors over 500 ids plant real duplicate groups.
        # The production path over real float32 embeddings is pytest-covered
        # (test_dedup.py::test_embedding_near_dups*).
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
        d = embs.select("vec_id", _dyadic_emb_col().alias("embedding"))
        return dedup.embedding_near_dups(d, threshold=0.9, sig_bits=32, chunks=4)

    def q_phash(spark, sf_dir):
        # MERGED entry (50-cap, round-5 session 4): three kinds over one
        # image+caption fixture —
        #   'pair'     phash near-dup pairs (the original entry: groups of
        #              8 share all high bits; chunk-band + popcount)
        #   'conflict' crossmodal.image_caption_conflicts — near-identical
        #              images whose captions' word-3-gram jaccard <= 0.5
        #              (caption of doc i := text of i - i%2, so even/odd
        #              twins AGREE and everything else conflicts)
        #   'stock'    crossmodal.stock_captions — caption fingerprints on
        #              >= 2 distinct images (every 25th doc shares one
        #              planted stock caption; phash := doc_id, all distinct)
        # Unified columns (kind, a, b, h, j): pair/conflict use a=id_a,
        # b=id_b, h=hamming, j=jaccard|NULL; stock uses a=example_id,
        # b=n_rows, h=n_images, j=NULL.
        from simple_osm_queries_spark.operators import crossmodal

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        base = docs.select(
            F.col("doc_id").alias("id"),
            (F.floor(F.col("doc_id") / 8).cast("long") * 1024 + F.col("doc_id") % 8).alias("ph"),
            (F.col("doc_id") - F.col("doc_id") % 2).alias("cap_src"),
        )
        caps = docs.select(
            F.col("doc_id").alias("cap_src"), F.col("text").alias("caption")
        )
        tbl = base.join(caps, "cap_src").select("id", "ph", "caption")

        nul_j = F.lit(None).cast("double")
        pairs = dedup.phash_near_dups(
            tbl, id_col="id", phash_col="ph", max_hamming=3
        ).select(
            F.lit("pair").alias("kind"),
            F.col("id_a").alias("a"),
            F.col("id_b").alias("b"),
            F.col("hamming").cast("long").alias("h"),
            nul_j.alias("j"),
        )
        conf = crossmodal.image_caption_conflicts(
            tbl,
            id_col="id",
            phash_col="ph",
            caption_col="caption",
            max_hamming=3,
            max_caption_jaccard=0.5,
        ).select(
            F.lit("conflict").alias("kind"),
            F.col("id_a").alias("a"),
            F.col("id_b").alias("b"),
            F.col("hamming").cast("long").alias("h"),
            F.col("caption_jaccard").alias("j"),
        )
        stock_tbl = tbl.select(
            "id",
            F.col("id").alias("ph2"),
            F.when(
                F.col("id") % 25 == 0, F.lit("stock caption image unavailable")
            )
            .otherwise(F.col("caption"))
            .alias("caption2"),
        )
        stock = crossmodal.stock_captions(
            stock_tbl, id_col="id", phash_col="ph2", caption_col="caption2",
            min_images=2,
        ).select(
            F.lit("stock").alias("kind"),
            F.col("example_id").alias("a"),
            F.col("n_rows").alias("b"),
            F.col("n_images").cast("long").alias("h"),
            nul_j.alias("j"),
        )
        return pairs.unionByName(conf).unionByName(stock)

    q["dedup_phash"] = q_phash

    # pairs -> duplicate GROUPS: connected components over the jaccard
    # pairs (pointer-jumping min-label propagation); comp = min reachable id
    def q_components(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_df=100)
        return (
            dedup.connected_components(pairs)
            .select(F.col("node").alias("doc_id"), "comp")
            .orderBy("doc_id")
        )

    q["dedup_exact"] = q_dedup_exact
    q["dedup_ngram_jaccard"] = q_jaccard
    q["dedup_components"] = q_components
    q["dedup_minhash_lsh"] = q_minhash
    q["dedup_simhash"] = q_simhash
    q["dedup_embedding"] = q_embed_dup

    # text analysis
    def q_text_quality(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return textops.quality_score(docs).select(
            "doc_id",
            "n_tokens",
            "n_bpe_tokens",
            F.round("punct_ratio", 9).alias("punct_ratio"),
            F.round("stopword_ratio", 9).alias("stopword_ratio"),
            "quality",
        )

    # lang-id + winnowing-stable fingerprint in one entry (both per-doc
    # scalar outputs over documents; 50-entry gate-file cap)
    def q_lang(spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return textops.lang_id(docs).select(
            "doc_id", "pred_lang", textops.doc_fingerprint(F.col("text")).alias("fp")
        )

    q["text_quality"] = q_text_quality
    q["lang_id"] = q_lang

    # similarity search
    def q_sim_topk(spark, sf_dir):
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = embs.filter(F.col("vec_id") == 0).first().embedding
        res = similarity.cosine_topk(embs, qvec, k=10)
        from pyspark.sql import Window

        w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        return res.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")

    def q_sim_ann(spark, sf_dir):
        # SQL-checked: dyadic embeddings (see dedup_embedding) make the LSH
        # candidate set deterministic and DuckDB-reproducible; query vector
        # is the vec_id=0 row of the same synthesis.
        from pyspark.sql import Window

        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id")
        d = embs.select("vec_id", _dyadic_emb_col().alias("embedding"))
        qvec = [((j * 31) % 33 - 16) / 16.0 for j in range(64)]
        res = similarity.cosine_topk_ann(d, qvec, k=10, dim=64, sig_bits=32, chunks=4)
        w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        return res.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")

    def q_sim_ivf(spark, sf_dir):
        # IVF in the EXACT configuration (nprobe == nlist): the whole
        # pipeline (spherical k-means train, cluster assignment, probe
        # scan, re-rank) must reproduce the brute-force top-k bit-for-bit,
        # so the DuckDB brute-force oracle checks the IVF machinery
        # end-to-end (row loss / assignment bugs surface as mismatches)
        from pyspark.sql import Window

        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qvec = embs.filter(F.col("vec_id") == 0).first().embedding
        index, cents = similarity.ivf_index(embs, nlist=8, iters=2)
        res = similarity.cosine_topk_ivf(index, cents, qvec, k=10, nprobe=8)
        w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        return res.withColumn("rank", F.row_number().over(w)).select("vec_id", "rank")

    q["similarity_topk"] = q_sim_topk
    q["similarity_ann"] = q_sim_ann
    q["similarity_ivf_exact"] = q_sim_ivf

    return q


# --- oracle SQL ------------------------------------------------------------------


def oracle_sql() -> dict[str, str]:
    pts = f"({SQL_POINTS})"

    def osm_sql(where: str) -> str:
        return (
            f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents "
            f"WHERE ({where}) AND {SQL_LON} >= {WINDOW[0]} AND {SQL_LON} <= {WINDOW[2]} "
            f"AND {SQL_LAT} >= {WINDOW[1]} AND {SQL_LAT} <= {WINDOW[3]} ORDER BY id"
        )

    o: dict[str, str] = {}
    # pbf_scan: coordinates round-trip PBF nanodegree quantization —
    # floor(x*1e9 + 0.5) (writer, half-up) then nano*1e-9 (reader); the
    # half-up form is chosen over round() precisely because Python round()
    # (banker's) and SQL round() (half-away) disagree on .5 boundaries
    qlon = f"(CAST(floor({SQL_LON} * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) * 1e-9)"
    qlat = f"(CAST(floor({SQL_LAT} * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT) * 1e-9)"
    o["pbf_scan"] = (
        f"SELECT doc_id AS id, {qlon} AS lon, {qlat} AS lat, "
        f"CASE WHEN {SQL_HAS_AMENITY} THEN {SQL_AMENITY} END AS amenity "
        f"FROM documents WHERE {qlon} <= 10.0"
    )
    # h3_rollup: the oracle constructs the res-3 parent directly from the
    # layout spec (res nibble 3, digits 1..3 kept, 4..15 seven-filled) —
    # independent of the Spark side's bit-ops parent()
    from simple_osm_queries_spark.functions import h3 as _H

    _p_base = (1 << 59) | (3 << 52) | _H._digits_mask(4)
    _p_terms = " + ".join(
        f"(2 + (doc_id // {7 ** (k - 1)}) % 5) * {1 << _H._digit_shift(k)}"
        for k in range(1, 4)
    )
    o["h3_rollup"] = f"""
WITH parents AS (
  SELECT CAST({_p_base} AS BIGINT) + (doc_id % 122) * {1 << 45}
         + {_p_terms} AS parent
  FROM documents
)
SELECT parent, count(*) AS n FROM parents GROUP BY parent
"""
    o["h3_encode_rollup"] = (
        f"SELECT CAST({H3E_RES} AS INTEGER) AS res, parent, n "
        f"FROM ({_h3_encode_rollup_sql()}) UNION ALL "
        f"SELECT CAST(7 AS INTEGER) AS res, parent, n "
        f"FROM ({_h3_encode_rollup_sql(res=7, parent_res=4)})"
    )

    # h3_compact_roundtrip: compact(uncompact(S)) == S by construction —
    # the oracle just rebuilds S
    _c_base = (1 << 59) | (5 << 52) | _H._digits_mask(6)
    _c_terms = " + ".join(
        f"(2 + (doc_id // {7 ** (k - 1)}) % 5) * {1 << _H._digit_shift(k)}"
        for k in range(1, 6)
    )
    o["h3_compact_roundtrip"] = f"""
SELECT DISTINCT CAST({_c_base} AS BIGINT) + (doc_id % 122) * {1 << 45}
       + {_c_terms} AS cell
FROM documents
"""

    # s2_rollup: parents derived arithmetically in HUGEINT space (floor-div
    # to clear the 41 low bits, + lsb), then folded to two's-complement —
    # no bit operators, independent of parent_id_col's AND/OR math
    o["s2_rollup"] = """
WITH ids AS (
  SELECT CAST(doc_id % 6 AS HUGEINT) AS face,
         CAST((doc_id * 48271) % 1099511627776 AS HUGEINT) AS bits
  FROM documents
), u AS (
  SELECT face * 2305843009213693952 + bits * 2097152 + 1048576 AS uid FROM ids
), p AS (
  SELECT (uid // 2199023255552) * 2199023255552 + 1099511627776 AS up FROM u
)
SELECT CAST(CASE WHEN up >= 9223372036854775808
            THEN up - 18446744073709551616 ELSE up END AS BIGINT) AS parent,
       count(*) AS n
FROM p GROUP BY parent
"""
    o["s2_encode_cells"] = _s2_encode_sql()
    o["s2_compact_roundtrip"] = """
WITH ids AS (
  SELECT DISTINCT CAST(doc_id % 6 AS HUGEINT) AS face,
         CAST((doc_id * 48271) % 1099511627776 AS HUGEINT) AS bits
  FROM documents
), u AS (
  SELECT DISTINCT face * 2305843009213693952 + bits * 2097152 + 1048576 AS uid FROM ids
)
SELECT CAST(CASE WHEN uid >= 9223372036854775808
            THEN uid - 18446744073709551616 ELSE uid END AS BIGINT) AS cell
FROM u
"""

    # osm_rel_*: derived relations (idx = doc_id//50). bbox intersection is
    # always true by construction (every member point lies inside the query
    # window), so the oracles reduce to the tag/member arithmetic:
    # seats member exists <=> (50*idx+2)%12==0 <=> idx%6==5 (odd => bus);
    # child idx-1 exists when idx%3==0, child is route=bus <=> idx even.
    _rdef = (
        "SELECT CAST(2000000000 + doc_id // 50 AS BIGINT) AS rid, doc_id // 50 AS idx "
        "FROM documents WHERE doc_id % 50 = 0 "
        "AND doc_id + 2 <= (SELECT max(doc_id) FROM documents)"
    )
    o["osm_rel_members"] = (
        f"WITH rdef AS ({_rdef}) "
        f"SELECT rid AS id FROM rdef WHERE idx % 6 = 5 "
        f"UNION ALL SELECT rid AS id FROM rdef "
        f"WHERE idx % 3 = 0 AND idx > 0 AND (idx - 1) % 2 = 1 ORDER BY id"
    )

    # osm_buffer_way_way: full segment-pair distance twin. Helpers build the
    # point-to-segment / crossing expressions exactly as the Spark operator
    # computes them (operators/buffer.py::seg_pair_d2_m_scalar): meters via
    # kx = 111320 * cos(radians(outer segment's first endpoint lat)),
    # crossing test in degree space, LEAST over the 4 endpoint distances.
    def _dbl(x: str) -> str:
        return f"CAST({x} AS DOUBLE)"

    def _pt_seg_d2_sql(px, py, ax, ay, bx, by) -> str:
        dx, dy = f"(({bx})-({ax}))", f"(({by})-({ay}))"
        len2 = f"({dx}*{dx}+{dy}*{dy})"
        t_raw = f"((({px})-({ax}))*{dx}+(({py})-({ay}))*{dy})/{len2}"
        t = (
            f"(CASE WHEN {len2} > 0 THEN LEAST(GREATEST({t_raw}, {_dbl('0.0')}), "
            f"{_dbl('1.0')}) ELSE {_dbl('0.0')} END)"
        )
        cx = f"(({ax})+{t}*{dx}-({px}))"
        cy = f"(({ay})+{t}*{dy}-({py}))"
        return f"({cx}*{cx}+{cy}*{cy})"

    def _ccw_sql(ax, ay, bx, by, cx, cy) -> str:
        return f"((({bx})-({ax}))*(({cy})-({ay})) - (({by})-({ay}))*(({cx})-({ax})))"

    _d1 = _pt_seg_d2_sql("a1x", "a1y", "b1x", "b1y", "b2x", "b2y")
    _d2 = _pt_seg_d2_sql("a2x", "a2y", "b1x", "b1y", "b2x", "b2y")
    _d3 = _pt_seg_d2_sql("b1x", "b1y", "a1x", "a1y", "a2x", "a2y")
    _d4 = _pt_seg_d2_sql("b2x", "b2y", "a1x", "a1y", "a2x", "a2y")
    _o1 = _ccw_sql("oalon", "oalat", "oblon", "oblat", "ialon", "ialat")
    _o2 = _ccw_sql("oalon", "oalat", "oblon", "oblat", "iblon", "iblat")
    _o3 = _ccw_sql("ialon", "ialat", "iblon", "iblat", "oalon", "oalat")
    _o4 = _ccw_sql("ialon", "ialat", "iblon", "iblat", "oblon", "oblat")
    _buffer_ww_sql = f"""
WITH pts AS (SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents),
wdef AS (
  SELECT CAST({WAY_ID_BASE} + doc_id // 20 AS BIGINT) AS wid,
         (doc_id // 20) % 2 = 0 AS is_primary,
         doc_id AS n1, doc_id + 4 AS n2, doc_id + 8 AS n3
  FROM documents
  WHERE doc_id % 20 = 0 AND doc_id + 8 <= (SELECT max(doc_id) FROM documents)
),
wgeo AS (
  SELECT w.wid, w.is_primary,
         p1.lon AS lon1, p1.lat AS lat1, p2.lon AS lon2, p2.lat AS lat2,
         p3.lon AS lon3, p3.lat AS lat3
  FROM wdef w JOIN pts p1 ON p1.id = w.n1
              JOIN pts p2 ON p2.id = w.n2
              JOIN pts p3 ON p3.id = w.n3
),
segs AS (
  SELECT wid, is_primary, lon1 AS alon, lat1 AS alat, lon2 AS blon, lat2 AS blat FROM wgeo
  UNION ALL
  SELECT wid, is_primary, lon2, lat2, lon3, lat3 FROM wgeo
),
outer_ok AS (
  SELECT wid FROM wgeo
  WHERE NOT is_primary
    AND least(lon1, lon2, lon3) <= {_dbl('10.10')} AND greatest(lon1, lon2, lon3) >= {_dbl('9.90')}
    AND least(lat1, lat2, lat3) <= {_dbl('53.70')} AND greatest(lat1, lat2, lat3) >= {_dbl('53.50')}
),
pairs AS (
  SELECT o.wid,
         o.alon AS oalon, o.alat AS oalat, o.blon AS oblon, o.blat AS oblat,
         i.alon AS ialon, i.alat AS ialat, i.blon AS iblon, i.blat AS iblat,
         {_dbl('111320.0')} * cos(radians(o.alat)) AS kx
  FROM segs o JOIN segs i ON i.is_primary AND o.wid <> i.wid
  WHERE NOT o.is_primary AND o.wid IN (SELECT wid FROM outer_ok)
),
scaled AS (
  SELECT wid, oalon, oalat, oblon, oblat, ialon, ialat, iblon, iblat,
         oalon * kx AS a1x, oalat * {_dbl('111320.0')} AS a1y,
         oblon * kx AS a2x, oblat * {_dbl('111320.0')} AS a2y,
         ialon * kx AS b1x, ialat * {_dbl('111320.0')} AS b1y,
         iblon * kx AS b2x, iblat * {_dbl('111320.0')} AS b2y
  FROM pairs
),
scored AS (
  SELECT wid,
         CASE WHEN {_o1} * {_o2} < 0 AND {_o3} * {_o4} < 0 THEN {_dbl('0.0')}
              ELSE LEAST({_d1}, {_d2}, {_d3}, {_d4}) END AS d2
  FROM scaled
)
SELECT DISTINCT wid AS id FROM scored WHERE d2 <= {_dbl('10000.0')} ORDER BY id
"""
    o["osm_flagship"] = osm_sql(f"{SQL_HAS_AMENITY} AND {SQL_AMENITY} = 'bench' AND {SQL_HAS_SEATS}")
    o["osm_seats_ge3"] = osm_sql(
        f"{SQL_HAS_SEATS} AND " + natural_cmp_sql(SQL_SEATS, ">=", "3")
    )
    o["osm_height_gt"] = osm_sql(
        f"{SQL_HAS_HEIGHT} AND " + natural_cmp_sql(SQL_HEIGHT, ">", "1.2")
    )
    o["osm_bool_algebra"] = osm_sql(
        f"({SQL_HAS_AMENITY} AND {SQL_AMENITY} IN ('cafe','restaurant')) "
        f"AND NOT ({SQL_HAS_SEATS} AND {SQL_SEATS} = '2')"
    )
    inner_box = (
        f"{SQL_LON} >= 9.95 AND {SQL_LON} <= 10.05 AND {SQL_LAT} >= 53.55 AND {SQL_LAT} <= 53.65"
    )
    o["osm_union"] = (
        f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents "
        f"WHERE {SQL_HAS_AMENITY} AND {SQL_AMENITY} = 'cafe' AND {inner_box} "
        f"UNION ALL "
        f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents "
        f"WHERE {SQL_HAS_AMENITY} AND {SQL_AMENITY} = 'restaurant' AND {inner_box}"
    )
    o["osm_bbox_partial"] = (
        f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents "
        f"WHERE {SQL_HAS_AMENITY} AND {SQL_LON} >= 9.95 AND {SQL_LON} <= 9.99 "
        f"AND {SQL_LAT} >= 53.55 AND {SQL_LAT} <= 53.62 ORDER BY id"
    )
    # buffer: EXISTS a seats-bearing point within 2km (same equirectangular
    # meter model as operators/buffer.py, self excluded)
    # merged twin: node<->node EXISTS form tagged 'node_node' UNION the
    # way<->way segment-pair form tagged 'way_way' (same merge as queries())
    _buffer_nn_sql = f"""
WITH p AS (SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat,
                  {SQL_HAS_AMENITY} AS has_amenity, {SQL_HAS_SEATS} AS has_seats
           FROM documents)
SELECT a.id FROM p a
WHERE a.has_amenity AND EXISTS (
  SELECT 1 FROM p b WHERE b.has_seats AND b.id != a.id
  AND (  ((a.lon - b.lon) * (111320.0 * cos(radians(a.lat)))) * ((a.lon - b.lon) * (111320.0 * cos(radians(a.lat))))
       + ((a.lat - b.lat) * 111320.0) * ((a.lat - b.lat) * 111320.0) ) <= 4000000.0
)
"""
    o["osm_buffer"] = (
        f"SELECT id, 'node_node' AS pair FROM ({_buffer_nn_sql}) "
        f"UNION ALL SELECT id, 'way_way' AS pair FROM ({_buffer_ww_sql})"
    )

    # nearest_way_join: full mirror of operators/nearest_way.py — per-segment
    # point-to-segment distance exactly as buffer.pt_seg_projection_m builds
    # it (point translated to the origin: passing px=py=0 into the shared
    # segment helper is IEEE-exact — (0-x) == -x, (-a)*d + (-b)*e ==
    # -(a*d + b*e), x - 0.0 == x), min over the way's 2 segments, rank by
    # (d2, wid), distances quantized to cm. The degree-bbox prefilter in
    # `cand` is a strict superset of the 2000 m disk at every data latitude
    # (0.02 deg lat >= 0.01797, 0.035 deg lon >= 0.03034 at lat 53.7) and is
    # conjoined with the exact d2 test, so it only cuts DuckDB's join cost,
    # never the result — the Spark side's grid-cell cover has the same
    # superset property by construction.
    def _nw_seg_d2(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
        ax = f"((({lon_a}) - plon) * kx)"
        ay = f"((({lat_a}) - plat) * {_dbl('111320.0')})"
        bx = f"((({lon_b}) - plon) * kx)"
        by = f"((({lat_b}) - plat) * {_dbl('111320.0')})"
        return _pt_seg_d2_sql(_dbl("0.0"), _dbl("0.0"), ax, ay, bx, by)

    def _nw_seg_t(lon_a: str, lat_a: str, lon_b: str, lat_b: str) -> str:
        # the clamped projection parameter — mirrors the t of
        # buffer.pt_seg_projection_m
        ax = f"((({lon_a}) - plon) * kx)"
        ay = f"((({lat_a}) - plat) * {_dbl('111320.0')})"
        bx = f"((({lon_b}) - plon) * kx)"
        by = f"((({lat_b}) - plat) * {_dbl('111320.0')})"
        dx = f"(({bx}) - ({ax}))"
        dy = f"(({by}) - ({ay}))"
        len2 = f"({dx}*{dx} + {dy}*{dy})"
        t_raw = f"(-(({ax})*{dx} + ({ay})*{dy}) / {len2})"
        return (
            f"(CASE WHEN {len2} > 0 THEN LEAST(GREATEST({t_raw}, "
            f"{_dbl('0.0')}), {_dbl('1.0')}) ELSE {_dbl('0.0')} END)"
        )

    _nw_s1 = _nw_seg_d2("lon1", "lat1", "lon2", "lat2")
    _nw_s2 = _nw_seg_d2("lon2", "lat2", "lon3", "lat3")
    _nw_t1 = _nw_seg_t("lon1", "lat1", "lon2", "lat2")
    _nw_t2 = _nw_seg_t("lon2", "lat2", "lon3", "lat3")
    o["nearest_way_join"] = f"""
WITH pts AS (SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents),
q AS (SELECT id, lon AS plon, lat AS plat,
             ({_dbl('111320.0')} * cos(radians(lat))) AS kx
      FROM pts
      WHERE lon >= {_dbl('9.98')} AND lon <= {_dbl('10.02')}
        AND lat >= {_dbl('53.58')} AND lat <= {_dbl('53.62')}),
wdef AS (SELECT CAST({WAY_ID_BASE} + doc_id // 20 AS BIGINT) AS wid,
                doc_id AS n1, doc_id + 4 AS n2, doc_id + 8 AS n3
         FROM documents WHERE doc_id % 20 = 0
           AND doc_id + 8 <= (SELECT max(doc_id) FROM documents)),
wgeo AS (SELECT w.wid, p1.lon AS lon1, p1.lat AS lat1,
                p2.lon AS lon2, p2.lat AS lat2, p3.lon AS lon3, p3.lat AS lat3
         FROM wdef w JOIN pts p1 ON p1.id = w.n1
                     JOIN pts p2 ON p2.id = w.n2
                     JOIN pts p3 ON p3.id = w.n3),
cand AS (SELECT q.id, q.plon, q.plat, q.kx,
                w.wid, w.lon1, w.lat1, w.lon2, w.lat2, w.lon3, w.lat3
         FROM q JOIN wgeo w
           ON q.plon >= least(w.lon1, w.lon2, w.lon3) - {_dbl('0.035')}
          AND q.plon <= greatest(w.lon1, w.lon2, w.lon3) + {_dbl('0.035')}
          AND q.plat >= least(w.lat1, w.lat2, w.lat3) - {_dbl('0.02')}
          AND q.plat <= greatest(w.lat1, w.lat2, w.lat3) + {_dbl('0.02')}),
seg AS (
  SELECT id, wid, {_nw_s1} AS d2,
         (lon1 + {_nw_t1} * (lon2 - lon1)) AS sl,
         (lat1 + {_nw_t1} * (lat2 - lat1)) AS sp
  FROM cand
  UNION ALL
  SELECT id, wid, {_nw_s2},
         (lon2 + {_nw_t2} * (lon3 - lon2)),
         (lat2 + {_nw_t2} * (lat3 - lat2))
  FROM cand
),
pw AS (SELECT id, wid, d2, sl, sp,
              row_number() OVER (PARTITION BY id, wid ORDER BY d2, sl, sp) AS sr
       FROM seg),
hit AS (SELECT id, wid, d2, sl, sp FROM pw
        WHERE sr = 1 AND d2 <= {_dbl('4000000.0')}),
rk AS (SELECT id, wid, d2, sl, sp,
              row_number() OVER (PARTITION BY id ORDER BY d2, wid) AS rank
       FROM hit)
SELECT id, wid AS way_id,
       CAST(floor(sqrt(d2) * {_dbl('100.0')} + {_dbl('0.5')}) AS BIGINT) AS v,
       rank,
       CAST(floor(sl * {_dbl('10000000.0')} + {_dbl('0.5')}) AS BIGINT) AS sx,
       CAST(floor(sp * {_dbl('10000000.0')} + {_dbl('0.5')}) AS BIGINT) AS sy
FROM rk WHERE rank <= 2
"""

    o["cell_count"] = (
        f"SELECT CAST(trunc(lon / 0.1) AS INT) AS cell_x, CAST(trunc(lat / 0.1) AS INT) AS cell_y, "
        f"count(*) AS n FROM {pts} GROUP BY 1, 2"
    )

    boxes_values = ", ".join(f"({qid}, {a}, {b}, {c}, {d})" for qid, a, b, c, d in QUERY_BOXES)
    o["bbox_join"] = (
        f"SELECT b.qid, p.id FROM {pts} p JOIN "
        f"(VALUES {boxes_values}) AS b(qid, min_lon, min_lat, max_lon, max_lat) "
        f"ON p.lon >= b.min_lon AND p.lon <= b.max_lon AND p.lat >= b.min_lat AND p.lat <= b.max_lat"
    )

    _pip_sql = f"SELECT id FROM {pts} WHERE " + _sql_pip("lon", "lat", PENTAGON)
    o["point_in_polygon"] = (
        f"SELECT id, 'bcast' AS method FROM ({_pip_sql}) "
        f"UNION ALL SELECT id, 'h3' AS method FROM ({_pip_sql}) "
        f"UNION ALL SELECT count(*) AS id, 'zonal_n' AS method FROM ({_pip_sql}) "
        f"UNION ALL SELECT CAST(sum(id) AS BIGINT) AS id, 'zonal_sum_id' AS method "
        f"FROM ({_pip_sql})"
    )

    # geodesy_measures: haversine length + Chamberlain-Duquette ring area of
    # the derived 3-node ways, mirrored op-for-op (same expression trees as
    # operators/geodesy.py incl. the in-order left folds), quantized to
    # integers to absorb JVM-vs-DuckDB libm ulps (see q_geodesy comment).
    def _lon_of(e: str) -> str:
        return SQL_LON.replace("doc_id", f"({e})")

    def _lat_of(e: str) -> str:
        return SQL_LAT.replace("doc_id", f"({e})")

    def _hav_sql(x1: str, y1: str, x2: str, y2: str) -> str:
        sp = f"sin(radians({y2} - {y1}) / CAST(2.0 AS DOUBLE))"
        sl = f"sin(radians({x2} - {x1}) / CAST(2.0 AS DOUBLE))"
        a = f"({sp} * {sp} + cos(radians({y1})) * cos(radians({y2})) * {sl} * {sl})"
        return (
            f"(CAST({2.0 * knn.EARTH_RADIUS_M!r} AS DOUBLE) * "
            f"asin(sqrt(least({a}, CAST(1.0 AS DOUBLE)))))"
        )

    def _cd_term_sql(ax: str, ay: str, bx: str, by: str) -> str:
        return (
            f"(radians({bx} - {ax}) * (CAST(2.0 AS DOUBLE) + "
            f"sin(radians({ay})) + sin(radians({by}))))"
        )

    _rr2 = knn.EARTH_RADIUS_M * knn.EARTH_RADIUS_M / 2.0
    _s1 = _hav_sql("x1", "y1", "x2", "y2")
    _s2 = _hav_sql("x2", "y2", "x3", "y3")
    _t1 = _cd_term_sql("x1", "y1", "x2", "y2")
    _t2 = _cd_term_sql("x2", "y2", "x3", "y3")
    _t3 = _cd_term_sql("x3", "y3", "x1", "y1")
    o["geodesy_measures"] = f"""
WITH mx AS (SELECT max(doc_id) AS m FROM documents),
w AS (SELECT doc_id AS d, {WAY_ID_BASE} + doc_id // 20 AS id
      FROM documents, mx WHERE doc_id % 20 = 0 AND doc_id + 8 <= mx.m),
c AS (SELECT id,
        {_lon_of("d")} AS x1, {_lat_of("d")} AS y1,
        {_lon_of("d + 4")} AS x2, {_lat_of("d + 4")} AS y2,
        {_lon_of("d + 8")} AS x3, {_lat_of("d + 8")} AS y3
      FROM w),
m2 AS (SELECT id, ({_s1} + {_s2}) AS len_m,
              (({_t1} + {_t2}) + {_t3}) AS tot
       FROM c),
-- bearing of the first segment + the 1000 m spherical destination
-- (geodesy.bearing_deg_col / destination_cols, mirrored op-for-op;
-- fmod on a positive dividend == Spark pmod; asin's argument reuses the
-- UNCLAMPED sp2 in the atan2 denominator exactly like the Spark tree)
bform AS (SELECT id, x1, y1,
        fmod(degrees(atan2(
            sin(radians(x2 - x1)) * cos(radians(y2)),
            cos(radians(y1)) * sin(radians(y2))
              - sin(radians(y1)) * cos(radians(y2)) * cos(radians(x2 - x1))
        )) + CAST(360.0 AS DOUBLE), CAST(360.0 AS DOUBLE)) AS bear
       FROM c),
dform AS (SELECT id, bear,
        sin(radians(y1)) * cos(CAST(1000.0 AS DOUBLE) / CAST({knn.EARTH_RADIUS_M!r} AS DOUBLE))
          + cos(radians(y1)) * sin(CAST(1000.0 AS DOUBLE) / CAST({knn.EARTH_RADIUS_M!r} AS DOUBLE)) * cos(radians(bear)) AS sp2,
        x1, y1
       FROM bform),
dest AS (SELECT id, bear,
        degrees(radians(x1) + atan2(
            sin(radians(bear)) * sin(CAST(1000.0 AS DOUBLE) / CAST({knn.EARTH_RADIUS_M!r} AS DOUBLE)) * cos(radians(y1)),
            cos(CAST(1000.0 AS DOUBLE) / CAST({knn.EARTH_RADIUS_M!r} AS DOUBLE)) - sin(radians(y1)) * sp2
        )) AS dlon,
        degrees(asin(LEAST(GREATEST(sp2, CAST(-1.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)))) AS dlat
       FROM dform)
SELECT 'len' AS kind, id,
       CAST(floor(len_m * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
FROM m2
UNION ALL
SELECT 'area' AS kind, id,
       CAST(floor(abs(tot) * CAST({_rr2!r} AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
FROM m2
UNION ALL
SELECT 'bear' AS kind, id,
       CAST(floor(bear * CAST(10000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
FROM bform
UNION ALL
SELECT 'dlon' AS kind, id,
       CAST(floor(dlon * CAST(10000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
FROM dest
UNION ALL
SELECT 'dlat' AS kind, id,
       CAST(floor(dlat * CAST(10000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
FROM dest
"""

    _u_gate = "(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '{salt}'), 1, 13) AS BIGINT) AS DOUBLE) / 4503599627370496.0)".replace("{salt}", "gate")
    _u_split = "(CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '{salt}'), 1, 13) AS BIGINT) AS DOUBLE) / 4503599627370496.0)".replace("{salt}", "")
    o["deterministic_sample"] = f"""
SELECT doc_id, 'sample' AS grp FROM documents WHERE {_u_gate} < CAST(0.25 AS DOUBLE)
UNION ALL
SELECT doc_id,
       CASE WHEN {_u_split} >= CAST(0.0 AS DOUBLE) AND {_u_split} < CAST(0.8 AS DOUBLE) THEN 'train'
            WHEN {_u_split} >= CAST(0.8 AS DOUBLE)
                 AND {_u_split} < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) THEN 'val'
            WHEN {_u_split} >= CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE)
                 AND {_u_split} < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) + CAST(0.1 AS DOUBLE) THEN 'test'
       END AS grp
FROM documents
WHERE {_u_split} < CAST(0.8 AS DOUBLE) + CAST(0.1 AS DOUBLE) + CAST(0.1 AS DOUBLE)
"""

    # dbscan: the full deterministic variant in SQL — directed
    # query-point-scaled neighbor test (the osm_buffer metric tree),
    # |N|+1 >= min_pts cores, transitive-closure components labelled by
    # the min reachable core id (== the pointer-jumping label), borders
    # take the min neighboring cluster. eps=800 m, min_pts=4.
    o["dbscan"] = f"""
WITH RECURSIVE pts AS (SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents),
prs AS (
  SELECT a.id AS a, b.id AS b
  FROM pts a JOIN pts b ON a.id != b.id
  AND (  ((a.lon - b.lon) * (111320.0 * cos(radians(a.lat)))) * ((a.lon - b.lon) * (111320.0 * cos(radians(a.lat))))
       + ((a.lat - b.lat) * 111320.0) * ((a.lat - b.lat) * 111320.0) ) <= CAST(640000.0 AS DOUBLE)
),
cores AS (SELECT a AS id FROM prs GROUP BY a HAVING count(*) + 1 >= 4),
edges AS (SELECT p.a, p.b FROM prs p
          JOIN cores ca ON ca.id = p.a JOIN cores cb ON cb.id = p.b),
reach(src, dst) AS (
  SELECT id, id FROM cores
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
),
comp AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
borders AS (
  SELECT p.a AS id, min(c.cluster) AS cluster
  FROM prs p JOIN comp c ON c.id = p.b
  WHERE p.a NOT IN (SELECT id FROM cores)
  GROUP BY p.a
)
SELECT id, cluster, 'core' AS role FROM comp
UNION ALL SELECT id, cluster, 'border' FROM borders
UNION ALL SELECT id, CAST(NULL AS BIGINT) AS cluster, 'noise' AS role FROM pts
WHERE id NOT IN (SELECT id FROM comp) AND id NOT IN (SELECT id FROM borders)
"""

    _geohash_sql = """
WITH pts AS (SELECT doc_id AS id, {LON} AS lon, {LAT} AS lat FROM documents),
b AS (SELECT id, least(greatest(CAST(floor((lon - (-180.0)) / (180.0 - (-180.0)) * 8388608.0) AS BIGINT), 0), 8388607) AS lonb,
             least(greatest(CAST(floor((lat - (-90.0)) / (90.0 - (-90.0)) * 4194304.0) AS BIGINT), 0), 4194303) AS latb FROM pts),
p AS (SELECT id, ((lonb >> 22) & 1) * 17592186044416 + ((latb >> 21) & 1) * 8796093022208 + ((lonb >> 21) & 1) * 4398046511104 + ((latb >> 20) & 1) * 2199023255552 + ((lonb >> 20) & 1) * 1099511627776 + ((latb >> 19) & 1) * 549755813888 + ((lonb >> 19) & 1) * 274877906944 + ((latb >> 18) & 1) * 137438953472 + ((lonb >> 18) & 1) * 68719476736 + ((latb >> 17) & 1) * 34359738368 + ((lonb >> 17) & 1) * 17179869184 + ((latb >> 16) & 1) * 8589934592 + ((lonb >> 16) & 1) * 4294967296 + ((latb >> 15) & 1) * 2147483648 + ((lonb >> 15) & 1) * 1073741824 + ((latb >> 14) & 1) * 536870912 + ((lonb >> 14) & 1) * 268435456 + ((latb >> 13) & 1) * 134217728 + ((lonb >> 13) & 1) * 67108864 + ((latb >> 12) & 1) * 33554432 + ((lonb >> 12) & 1) * 16777216 + ((latb >> 11) & 1) * 8388608 + ((lonb >> 11) & 1) * 4194304 + ((latb >> 10) & 1) * 2097152 + ((lonb >> 10) & 1) * 1048576 + ((latb >> 9) & 1) * 524288 + ((lonb >> 9) & 1) * 262144 + ((latb >> 8) & 1) * 131072 + ((lonb >> 8) & 1) * 65536 + ((latb >> 7) & 1) * 32768 + ((lonb >> 7) & 1) * 16384 + ((latb >> 6) & 1) * 8192 + ((lonb >> 6) & 1) * 4096 + ((latb >> 5) & 1) * 2048 + ((lonb >> 5) & 1) * 1024 + ((latb >> 4) & 1) * 512 + ((lonb >> 4) & 1) * 256 + ((latb >> 3) & 1) * 128 + ((lonb >> 3) & 1) * 64 + ((latb >> 2) & 1) * 32 + ((lonb >> 2) & 1) * 16 + ((latb >> 1) & 1) * 8 + ((lonb >> 1) & 1) * 4 + ((latb >> 0) & 1) * 2 + ((lonb >> 0) & 1) * 1 AS packed FROM b)
SELECT id, substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 40) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 35) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 30) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 25) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 20) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 15) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 10) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 5) & 31) + 1 AS INTEGER), 1) || substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST(((packed >> 0) & 31) + 1 AS INTEGER), 1) AS gh FROM p
""".replace("{LON}", SQL_LON).replace("{LAT}", SQL_LAT)
    _zorder_sql = """
WITH pts AS (SELECT doc_id AS id, {LON} AS lon, {LAT} AS lat FROM documents),
b AS (SELECT id, least(greatest(CAST(floor((lon - (-180.0)) / (180.0 - (-180.0)) * 65536.0) AS BIGINT), 0), 65535) AS xb,
             least(greatest(CAST(floor((lat - (-90.0)) / (90.0 - (-90.0)) * 65536.0) AS BIGINT), 0), 65535) AS yb FROM pts)
SELECT id, ((xb >> 0) & 1) * 2 + ((yb >> 0) & 1) * 1 + ((xb >> 1) & 1) * 8 + ((yb >> 1) & 1) * 4 + ((xb >> 2) & 1) * 32 + ((yb >> 2) & 1) * 16 + ((xb >> 3) & 1) * 128 + ((yb >> 3) & 1) * 64 + ((xb >> 4) & 1) * 512 + ((yb >> 4) & 1) * 256 + ((xb >> 5) & 1) * 2048 + ((yb >> 5) & 1) * 1024 + ((xb >> 6) & 1) * 8192 + ((yb >> 6) & 1) * 4096 + ((xb >> 7) & 1) * 32768 + ((yb >> 7) & 1) * 16384 + ((xb >> 8) & 1) * 131072 + ((yb >> 8) & 1) * 65536 + ((xb >> 9) & 1) * 524288 + ((yb >> 9) & 1) * 262144 + ((xb >> 10) & 1) * 2097152 + ((yb >> 10) & 1) * 1048576 + ((xb >> 11) & 1) * 8388608 + ((yb >> 11) & 1) * 4194304 + ((xb >> 12) & 1) * 33554432 + ((yb >> 12) & 1) * 16777216 + ((xb >> 13) & 1) * 134217728 + ((yb >> 13) & 1) * 67108864 + ((xb >> 14) & 1) * 536870912 + ((yb >> 14) & 1) * 268435456 + ((xb >> 15) & 1) * 2147483648 + ((yb >> 15) & 1) * 1073741824 AS z FROM b
""".replace("{LON}", SQL_LON).replace("{LAT}", SQL_LAT)
    o["geohash_encode"] = (
        f"SELECT g.id, g.gh, z.z FROM ({_geohash_sql}) g "
        f"JOIN ({_zorder_sql}) z ON g.id = z.id"
    )

    knn_parts = []
    for qid, qlon, qlat in KNN_QUERIES:
        knn_parts.append(
            f"SELECT {qid} AS qid, id, rank FROM ("
            f"SELECT id, row_number() OVER (ORDER BY "
            f"((lon - {qlon}) * (lon - {qlon}) + (lat - {qlat}) * (lat - {qlat})) ASC, id ASC"
            f") AS rank FROM {pts}) WHERE rank <= {KNN_K}"
        )
    knn_sql = " UNION ALL ".join(knn_parts)
    # merged brute+kring entry: BOTH methods must match the same exact
    # per-query oracle, tagged so the hash covers each method's full result
    o["knn_kring"] = (
        f"SELECT qid, id, rank, 'brute' AS method FROM ({knn_sql}) "
        f"UNION ALL SELECT qid, id, rank, 'kring' AS method FROM ({knn_sql})"
    )

    # geodesic kNN: rank by the monotone haversine kernel a = sin^2(dphi/2)
    # + cos(phi_q) cos(phi) sin^2(dlon/2) — same ordering as the meters
    # distance 2 R asin(sqrt(a)) the Spark side ranks by, antimeridian-safe
    # through sin periodicity
    # reuse the NAMED H3E scatter constants so the Spark fixture and its
    # twin can never silently diverge (code-review r5 finding)
    hav_points = (
        f"SELECT doc_id AS id, {H3E_LON_SQL} AS lon, "
        f"{H3E_LAT_SQL} AS lat FROM documents"
    )
    hav_parts = []
    for qid, qlon, qlat in KNN_HAV_QUERIES:
        kern = (
            f"(sin(radians(lat - CAST({qlat} AS DOUBLE)) / 2.0) * "
            f"sin(radians(lat - CAST({qlat} AS DOUBLE)) / 2.0) + "
            f"cos(radians(CAST({qlat} AS DOUBLE))) * cos(radians(lat)) * "
            f"sin(radians(lon - CAST({qlon} AS DOUBLE)) / 2.0) * "
            f"sin(radians(lon - CAST({qlon} AS DOUBLE)) / 2.0))"
        )
        hav_parts.append(
            f"SELECT {qid} AS qid, id, rank FROM ("
            f"SELECT id, row_number() OVER (ORDER BY {kern} ASC, id ASC) AS rank "
            f"FROM ({hav_points})) WHERE rank <= {KNN_HAV_K}"
        )
    o["knn_haversine"] = " UNION ALL ".join(hav_parts)

    # knn_h3 ranks by the local-meter (equirectangular) metric
    knn_h3_parts = []
    for qid, qlon, qlat in KNN_QUERIES:
        knn_h3_parts.append(
            f"SELECT {qid} AS qid, id, rank FROM ("
            f"SELECT id, row_number() OVER (ORDER BY "
            f"((lon - {qlon}) * cos(radians({qlat})) * ((lon - {qlon}) * cos(radians({qlat})))"
            f" + (lat - {qlat}) * (lat - {qlat})) ASC, id ASC"
            f") AS rank FROM {pts}) WHERE rank <= {KNN_K}"
        )
    o["knn_h3"] = " UNION ALL ".join(knn_h3_parts)

    # tile_id pack mirrors functions/cells.py tile_id (z<<58 | tx<<29 | ty,
    # arithmetic form); clamps mirror tile_x/tile_y — identity on the
    # fixture window but kept for op-order parity
    # lat clamp mirrored from cells.tile_fxy (identity on the fixture
    # window, but kept so the twins cannot drift if the window widens)
    _tile_fxy = (
        "SELECT (lon + 180.0) / 360.0 * 8192.0 AS fx, "
        "(1.0 - ln(tan(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878))) "
        "+ 1.0 / cos(radians(LEAST(GREATEST(lat, -85.05112878), 85.05112878)))) / pi()) "
        "/ 2.0 * 8192.0 AS fy "
        f"FROM {pts}"
    )
    _tile_txy = (
        "SELECT fx, fy, "
        "LEAST(GREATEST(CAST(floor(fx) AS INT), 0), 8191) AS tx, "
        "LEAST(GREATEST(CAST(floor(fy) AS INT), 0), 8191) AS ty "
        f"FROM ({_tile_fxy})"
    )
    _tile_pack = (
        "CAST(13 AS BIGINT) * 288230376151711744 + CAST(tx AS BIGINT) * 536870912 "
        "+ CAST(ty AS BIGINT)"
    )
    _tile_bins = (
        f"SELECT {_tile_pack} AS tile_id, "
        "CAST(LEAST(GREATEST(CAST(floor((fx - tx) * 16.0) AS INT), 0), 15) AS BIGINT) AS px, "
        "CAST(LEAST(GREATEST(CAST(floor((fy - ty) * 16.0) AS INT), 0), 15) AS BIGINT) AS py, "
        f"count(*) AS n FROM ({_tile_txy}) GROUP BY 1, 2, 3"
    )
    o["tile_assignment"] = (
        "SELECT 'assign' AS kind, tile_id, CAST(-1 AS BIGINT) AS px, "
        f"CAST(-1 AS BIGINT) AS py, CAST(SUM(n) AS BIGINT) AS n FROM ({_tile_bins}) GROUP BY 2 "
        "UNION ALL "
        f"SELECT 'pixel' AS kind, tile_id, px, py, n FROM ({_tile_bins})"
    )

    o["semi_join_exists"] = (
        "SELECT c_custkey, c_name, 'exists' AS kind FROM customer c WHERE EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000) "
        "UNION ALL "
        "SELECT c_custkey, c_name, 'not_exists' AS kind FROM customer c WHERE NOT EXISTS "
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)"
    )
    o["join_region_revenue"] = (
        "SELECT r_name, n_name, count(*) AS n, "
        "CAST(sum(CAST(floor(l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount) * 100) AS BIGINT)) AS BIGINT) "
        "AS revenue_cents "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "JOIN customer ON c_nationkey = n_nationkey "
        "JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey "
        "GROUP BY 1, 2"
    )
    o["reverse_edges"] = (
        "SELECT o_custkey AS custkey, count(*) AS n_orders, "
        "round(max(o_totalprice), 4) AS max_total, min(o_orderkey) AS first_orderkey "
        "FROM orders GROUP BY 1"
    )
    o["window_topk_per_group"] = (
        "SELECT o_custkey, o_orderkey, rn FROM ("
        "SELECT o_custkey, o_orderkey, row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn FROM orders"
        ") WHERE rn <= 3"
    )
    o["agg_pricing_summary"] = (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 3) AS sum_qty, "
        "round(sum(l_extendedprice), 3) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 3) AS sum_disc_price, "
        "round(avg(l_quantity), 6) AS avg_qty, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus"
    )
    o["cube_counts"] = (
        "SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls, "
        "count(*) AS n FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"
    )
    o["events_hourly"] = (
        "SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, "
        "round(sum(value), 6) AS total_value FROM events GROUP BY 1, 2"
    )

    o["asof_join"] = """
SELECT e.event_id, e.user_id,
       (SELECT p.event_id FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = e.user_id AND p.ts <= e.ts
        ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS purchase_id
FROM events e WHERE e.event_type = 'click'
"""
    o["sessionize"] = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
), per_session AS (
  SELECT user_id, session_id, count(*) AS n FROM sessions GROUP BY 1, 2
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS total_events,
       CAST(max(n) AS BIGINT) AS max_session_events
FROM per_session GROUP BY 1
"""

    o["session_closed"] = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 3600 THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
), sessions AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
), per_s AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(min(epoch(ts)) AS DOUBLE) AS session_start,
         CAST(max(epoch(ts)) AS DOUBLE) AS session_end
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id, session_id, n_events, session_start, session_end
FROM (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS mx FROM per_s)
WHERE session_id < mx
"""

    # candidate generation is pigeonhole-complete for hamming <= chunks-1,
    # so exhaustive pairwise hamming is an exact oracle
    # merged twin (pair + crossmodal conflict + stock; see q_phash comment).
    # Set sizes via list_filter+list_contains (inputs are distinct lists, so
    # the filter result is exactly |A∩B| — DuckDB's list_intersect makes no
    # distinctness promise) and list_distinct(list_concat) for |A∪B|; the
    # jaccard division is int/int in double on both engines (identical).
    o["dedup_phash"] = """
WITH cap AS (
  SELECT d.doc_id AS id, (d.doc_id // 8) * 1024 + d.doc_id % 8 AS ph,
         c.text AS caption
  FROM documents d JOIN documents c ON c.doc_id = d.doc_id - d.doc_id % 2
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, bit_count(xor(a.ph, b.ph)) AS hamming
  FROM cap a JOIN cap b ON a.id < b.id
  WHERE bit_count(xor(a.ph, b.ph)) <= 3
),
sh AS (
  SELECT id, list_distinct(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                             i -> array_to_string(w[i+1 : i+3], ' '))) AS s
  FROM (SELECT id, string_split_regex(trim(lower(caption)), '\\s+') AS w FROM cap)
),
conf AS (
  SELECT p.id_a, p.id_b, p.hamming,
         CAST(len(list_filter(sa.s, x -> list_contains(sb.s, x))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS j
  FROM pairs p JOIN sh sa ON sa.id = p.id_a JOIN sh sb ON sb.id = p.id_b
),
stock_src AS (
  SELECT id, id AS ph2,
         CASE WHEN id % 25 = 0 THEN 'stock caption image unavailable'
              ELSE caption END AS caption2
  FROM cap
),
stock AS (
  SELECT count(*) AS n_rows, count(DISTINCT ph2) AS n_images,
         min(id) AS example_id
  FROM stock_src GROUP BY md5(caption2) HAVING count(DISTINCT ph2) >= 2
)
SELECT 'pair' AS kind, id_a AS a, id_b AS b, CAST(hamming AS BIGINT) AS h,
       CAST(NULL AS DOUBLE) AS j
FROM pairs
UNION ALL
SELECT 'conflict', id_a, id_b, CAST(hamming AS BIGINT), j
FROM conf WHERE j <= CAST(0.5 AS DOUBLE)
UNION ALL
SELECT 'stock', example_id, n_rows, CAST(n_images AS BIGINT), CAST(NULL AS DOUBLE)
FROM stock
"""

    o["dedup_exact"] = (
        "SELECT md5(text) AS fingerprint, count(*) AS n, min(doc_id) AS keep_id "
        "FROM documents GROUP BY 1"
    )

    # inverted-index jaccard, mirroring dedup.shingles_col exactly (n=3)
    # dedup_minhash_lsh: FULL twin — identical md5-32 shingle hashes,
    # identical universal-hash permutations (params inlined from
    # dedup._perm_params), identical band buckets (raw slice strings).
    from simple_osm_queries_spark.operators.dedup import _MH_PRIME, _perm_params

    _NP, _NB = MH_PERM, MH_BANDS  # shared with q_minhash — cannot drift
    _RPB = _NP // _NB
    _perm_rows = ", ".join(
        f"({p}, {pa}::BIGINT, {pb}::BIGINT)"
        for p, (pa, pb) in enumerate(_perm_params(_NP))
    )
    o["dedup_minhash_lsh"] = f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                                 i -> array_to_string(w[i+1 : i+3], ' '))) AS sh
    FROM words)
), h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh
), perms(p, pa, pb) AS (
  VALUES {_perm_rows}
), sig AS (
  SELECT doc_id, p, min((pa * h + pb) % {_MH_PRIME}) AS v
  FROM h CROSS JOIN perms GROUP BY 1, 2
), sigarr AS (
  SELECT doc_id, list(v ORDER BY p) AS sig FROM sig GROUP BY 1
), bands AS (
  SELECT doc_id, b,
         array_to_string(sig[b*{_RPB}+1 : b*{_RPB}+{_RPB}], ',') AS bucket
  FROM sigarr CROSS JOIN range(0, {_NB}) t(b)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
), est AS (
  SELECT c.id_a, c.id_b,
         CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) AS DOUBLE) / {_NP}
           AS jaccard_est
  FROM cand c JOIN sig sa ON sa.doc_id = c.id_a
              JOIN sig sb ON sb.doc_id = c.id_b AND sb.p = sa.p
  GROUP BY 1, 2
)
SELECT id_a, id_b, jaccard_est FROM est WHERE jaccard_est >= CAST({MH_THRESHOLD} AS DOUBLE)
"""

    # dedup_simhash: FULL twin of the md5-60 variant — identical word
    # hashes, bit votes (popcount*2 - n > 0), 15-bit chunk bands, popcount
    # verify. Empty-string words are kept (split of '' yields ['']), same
    # as Spark's words_col.
    o["dedup_simhash"] = """
WITH words AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents
), wh AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) AS h FROM words
), votes AS (
  SELECT doc_id, b,
         CASE WHEN CAST(sum(((h >> b) & 1) * 2 - 1) AS BIGINT) > 0
              THEN CAST(1 AS BIGINT) << b ELSE 0 END AS bitval
  FROM wh CROSS JOIN range(0, 60) t(b) GROUP BY 1, 2
), sig AS (
  SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS sim FROM votes GROUP BY 1
), chunks AS (
  SELECT doc_id, sim, c, (sim >> (c * 15)) & 32767 AS val
  FROM sig CROSS JOIN range(0, 4) t(c)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sim AS sim_a, b.sim AS sim_b
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.val = b.val
                             AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""

    o["dedup_ngram_jaccard"] = """
WITH words AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id,
           unnest(list_transform(range(0, greatest(len(w) - 3, 0) + 1),
                                 i -> array_to_string(w[i+1 : i+3], ' '))) AS sh
    FROM words)
), rare AS (
  SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 100
), sh2 AS (
  SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh2 GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh2 a JOIN sh2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       inter * 1.0 / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.5
"""

    # dedup_components: transitive closure by recursive CTE — an
    # INDEPENDENT derivation of the same components the pointer-jumping
    # label propagation computes (comp = min reachable id)
    _pair_sql = o["dedup_ngram_jaccard"].strip().rstrip()
    o["dedup_components"] = f"""
WITH RECURSIVE jp AS ({_pair_sql}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM jp
  UNION
  SELECT id_b, id_a FROM jp
),
reach(node, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, CAST(least(node, min(r)) AS BIGINT) AS comp
FROM reach GROUP BY node ORDER BY doc_id
"""

    stop_list = ", ".join(f"'{w}'" for w in textops.STOPWORDS)
    words_expr = "string_split_regex(trim(lower(text)), '\\s+')"
    bpe = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))"
    o["text_quality"] = f"""
WITH feats AS (
  SELECT doc_id,
         len({words_expr}) AS n_tokens,
         {bpe} AS n_bpe_tokens,
         len(regexp_extract_all(text, '[.,;:!?]')) * 1.0 / length(text) AS punct_ratio,
         len(list_filter({words_expr}, x -> x IN ({stop_list}))) * 1.0 / len({words_expr}) AS stopword_ratio,
         length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / len({words_expr}) AS mean_word_len
  FROM documents)
SELECT doc_id, n_tokens, n_bpe_tokens,
       round(punct_ratio, 9) AS punct_ratio,
       round(stopword_ratio, 9) AS stopword_ratio,
       round(0.4 * least(n_tokens / 64.0, 1.0)
           + 0.3 * least(stopword_ratio * 4.0, 1.0)
           + 0.3 * (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 10.0 THEN 1.0 ELSE 0.3 END), 6)
       AS quality
FROM feats
"""

    marker_scores = {
        lang: f"len(list_filter({words_expr}, x -> x IN ({', '.join(repr(m) for m in ms)})))"
        for lang, ms in textops.LANG_MARKERS.items()
    }
    # same argmax + declaration-order tie-break as textops.lang_id
    langs = list(textops.LANG_MARKERS)
    case = "CASE "
    for i, lang in enumerate(langs):
        others_not_greater = " AND ".join(
            f"{marker_scores[lang]} >= {marker_scores[o2]}" for o2 in langs[i + 1 :]
        ) or "TRUE"
        earlier_less = " AND ".join(
            f"{marker_scores[o2]} < {marker_scores[lang]}" for o2 in langs[:i]
        ) or "TRUE"
        case += f"WHEN {marker_scores[lang]} > 0 AND {others_not_greater} AND {earlier_less} THEN '{lang}' "
    case += "ELSE 'und' END"
    o["lang_id"] = (
        f"SELECT doc_id, {case} AS pred_lang, "
        "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp "
        "FROM documents"
    )

    o["similarity_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT vec_id, list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cosine
  FROM embeddings, q)
SELECT vec_id, row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
FROM scored ORDER BY rank LIMIT 10
"""
    # IVF at nprobe == nlist is exact: same brute-force oracle
    o["similarity_ivf_exact"] = o["similarity_topk"]

    # geoparquet_roundtrip: coordinates recomputed straight from documents —
    # independent of the WKB encode/decode under test
    o["geoparquet_roundtrip"] = (
        f"SELECT doc_id AS id, {SQL_LON} AS lon, {SQL_LAT} AS lat FROM documents"
    )

    # embedding LSH twins over the dyadic fixture: signatures, band buckets,
    # candidate join and exact cosine verify all recomputed in SQL
    _lsh = _embedding_lsh_sql_prefix()
    o["dedup_embedding"] = f"""{_lsh},
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b ON a.c = b.c AND a.val = b.val AND a.vec_id < b.vec_id
),
pd AS (
  SELECT c.id_a, c.id_b,
         sum(ea.x*eb.x) AS d, sum(ea.x*ea.x) AS na2, sum(eb.x*eb.x) AS nb2
  FROM cand c
  JOIN emb ea ON ea.vec_id = c.id_a
  JOIN emb eb ON eb.vec_id = c.id_b AND eb.j = ea.j
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, d/(sqrt(na2)*sqrt(nb2)) AS cosine
FROM pd WHERE d/(sqrt(na2)*sqrt(nb2)) >= CAST(0.9 AS DOUBLE)
"""
    o["similarity_ann"] = f"""{_lsh},
qb AS (SELECT c, val FROM bands WHERE vec_id = 0),
cands AS (
  SELECT DISTINCT b2.vec_id
  FROM bands b2 JOIN qb ON b2.c = qb.c AND b2.val = qb.val
),
scored AS (
  SELECT e.vec_id,
         sum(e.x*q.x) AS d, sum(e.x*e.x) AS n2, sum(q.x*q.x) AS q2
  FROM emb e
  JOIN emb q ON q.vec_id = 0 AND q.j = e.j
  WHERE e.vec_id IN (SELECT vec_id FROM cands)
  GROUP BY e.vec_id
)
SELECT vec_id, rank FROM (
  SELECT vec_id,
         row_number() OVER (
           ORDER BY d/(sqrt(n2)*sqrt(q2)) DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""
    return o


if __name__ == "__main__":
    from simple_osm_queries_spark.session import get_spark

    spark = get_spark("entry-smoke", cores=4, shuffle_partitions=4)
    df = entry(spark)
    df.show(5)
    print("entry rows:", df.count())
