"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator (SURVEY.md section 2
plus the training-data extensions); ``oracle_sql()`` gives the DuckDB-
runnable ANSI-SQL twin for every value-checkable operator.  Queries and
oracles share hash functions (md5-derived 32-bit), literal constants, and
expression shapes so results match value-for-value.

Operators whose semantics cannot be expressed in SQL (CRS math via the
projection library, Arrow-batched multimodal decode) have no oracle entry
and get the driver's rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------------------------ #
# shared raster scaffolding: a deterministic 25x40 grid built from the
# first 1000 events (works at every scale factor)

RW, RH = 25, 40
FILL = -999.0


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
        # generations and TIMESTAMP(MICROS)/NTZ in others; normalize both to
        # a plain TIMESTAMP whose epoch equals the stored wall-clock value
        # read as UTC (DuckDB's epoch() semantics for naive timestamps).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer division: ts is ~1.7e18 ns, double math would lose
            # microsecond precision
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif ts_type == "timestamp_ntz":
            # timestampdiff is timezone-free on NTZ inputs, so the session
            # timezone can never shift the derived epoch
            df = df.withColumn(
                "ts",
                F.timestamp_micros(F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )),
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _table(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") < RW * RH).select(
        F.lit(0).cast("int").alias("t"),
        (F.col("event_id") / RW).cast("int").alias("j"),
        (F.col("event_id") % RW).cast("int").alias("i"),
        F.col("value"),
    )


RASTER_SQL = f"""
  SELECT CAST(0 AS INT) AS t,
         CAST(event_id // {RW} AS INT) AS j,
         CAST(event_id % {RW} AS INT) AS i,
         value
  FROM events WHERE event_id < {RW * RH}
"""


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism.  The testdata parquet
    files are single-row-group (unsplittable scans), so CPU-heavy per-row
    work (regex, md5, array ops) would otherwise run on 1-2 cores."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(spark, _table(spark, sf_dir, "documents"))


def _docs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents unioned with a clone shifted by 100000 -- gives every dedup
    operator known-true duplicate pairs on any scale factor.

    Built as ONE parquet scan + explode of the two doc_ids rather than a
    union of two scans: same multiset (verified exceptAll-empty both
    ways), but half the scan/exchange stages -- the union form paid two
    single-row-group scans and two round-robin repartitions per query."""
    d = _table(spark, sf_dir, "documents").select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + 100000)
        ).alias("doc_id"),
        "text",
    )
    return _spread(spark, d)


DOCS2_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
"""


# ------------------------------------------------------------------ #
# geo operators on the synthetic raster


def q_affine_upscale_bilinear(spark, sf_dir):
    from xcube_resampling_spark.operators.affine import resample_pixels

    out = resample_pixels(
        spark, _raster(spark, sf_dir),
        ((0.5, 0.0, -0.25), (0.0, 0.5, -0.25)),
        (RW, RH), (50, 80), 1, 1, "mean", False, FILL, False,
    )
    return out.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


SQL_AFFINE_UPSCALE = f"""
WITH src AS ({RASTER_SQL}),
grid AS (
  SELECT CAST(id // 50 AS INT) AS j, CAST(id % 50 AS INT) AS i
  FROM (SELECT range AS id FROM range(4000))
),
c AS (
  SELECT j, i, 0.5 * i + -0.25 AS sif, 0.5 * j + -0.25 AS sjf FROM grid
),
d AS (
  SELECT j, i, sif, sjf,
         (sif >= 0 AND sif <= {RW - 1} AND sjf >= 0 AND sjf <= {RH - 1})
           AS in_b,
         LEAST(CAST(FLOOR(sif) AS INT), {RW - 2}) AS i0,
         LEAST(CAST(FLOOR(sjf) AS INT), {RH - 2}) AS j0
  FROM c
),
e AS (SELECT d.*, sif - i0 AS fx, sjf - j0 AS fy FROM d),
f AS (
  SELECT e.j, e.i, e.in_b, e.fx, e.fy,
         s00.value AS v00, s01.value AS v01,
         s10.value AS v10, s11.value AS v11
  FROM e
  LEFT JOIN src s00 ON s00.j = e.j0 AND s00.i = e.i0
  LEFT JOIN src s01 ON s01.j = e.j0 AND s01.i = e.i0 + 1
  LEFT JOIN src s10 ON s10.j = e.j0 + 1 AND s10.i = e.i0
  LEFT JOIN src s11 ON s11.j = e.j0 + 1 AND s11.i = e.i0 + 1
)
SELECT CAST(0 AS INT) AS t, j, i,
       ROUND(CASE WHEN in_b
             THEN (v00 + fx * (v01 - v00))
                  + fy * ((v10 + fx * (v11 - v10)) - (v00 + fx * (v01 - v00)))
             ELSE {FILL} END, 6) AS value
FROM f
"""


def q_affine_shift_nearest(spark, sf_dir):
    from xcube_resampling_spark.operators.affine import resample_pixels

    out = resample_pixels(
        spark, _raster(spark, sf_dir),
        ((1.0, 0.0, 5.5), (0.0, 1.0, -3.5)),
        (RW, RH), (RW, RH), 1, 0, "mean", False, FILL, False,
    )
    return out.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


SQL_AFFINE_SHIFT = f"""
WITH src AS ({RASTER_SQL}),
grid AS (
  SELECT CAST(id // {RW} AS INT) AS j, CAST(id % {RW} AS INT) AS i
  FROM (SELECT range AS id FROM range({RW * RH}))
),
c AS (
  SELECT j, i,
         CAST(FLOOR(1.0 * i + 5.5 + 0.5) AS INT) AS si,
         CAST(FLOOR(1.0 * j + -3.5 + 0.5) AS INT) AS sj
  FROM grid
),
d AS (
  SELECT j, i, si, sj,
         (si >= 0 AND si <= {RW - 1} AND sj >= 0 AND sj <= {RH - 1}) AS in_b
  FROM c
)
SELECT CAST(0 AS INT) AS t, d.j, d.i,
       ROUND(CASE WHEN in_b THEN COALESCE(s.value, {FILL})
             ELSE {FILL} END, 6) AS value
FROM d LEFT JOIN src s ON s.j = d.sj AND s.i = d.si
"""


def q_affine_downscale_mean(spark, sf_dir):
    from xcube_resampling_spark.operators.affine import resample_pixels

    out = resample_pixels(
        spark, _raster(spark, sf_dir),
        ((2.5, 0.0, 0.0), (0.0, 2.5, 0.0)),
        (RW, RH), (10, 16), 1, 1, "mean", False, FILL, False,
    )
    return out.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


SQL_AFFINE_DOWNSCALE = f"""
WITH src AS ({RASTER_SQL}),
inter AS (
  SELECT CAST(id // 30 AS INT) AS jj, CAST(id % 30 AS INT) AS ii
  FROM (SELECT range AS id FROM range({30 * 48}))
),
c AS (
  SELECT jj, ii, (2.5 / 3) * ii + 0.0 AS sif, (2.5 / 3) * jj + 0.0 AS sjf
  FROM inter
),
d AS (
  SELECT jj, ii, sif, sjf,
         (sif >= 0 AND sif <= {RW - 1} AND sjf >= 0 AND sjf <= {RH - 1})
           AS in_b,
         LEAST(CAST(FLOOR(sif) AS INT), {RW - 2}) AS i0,
         LEAST(CAST(FLOOR(sjf) AS INT), {RH - 2}) AS j0
  FROM c
),
e AS (SELECT d.*, sif - i0 AS fx, sjf - j0 AS fy FROM d),
f AS (
  SELECT e.jj, e.ii,
         CASE WHEN in_b
              THEN (s00.value + fx * (s01.value - s00.value))
                   + fy * ((s10.value + fx * (s11.value - s10.value))
                           - (s00.value + fx * (s01.value - s00.value)))
              ELSE {FILL} END AS v
  FROM e
  LEFT JOIN src s00 ON s00.j = e.j0 AND s00.i = e.i0
  LEFT JOIN src s01 ON s01.j = e.j0 AND s01.i = e.i0 + 1
  LEFT JOIN src s10 ON s10.j = e.j0 + 1 AND s10.i = e.i0
  LEFT JOIN src s11 ON s11.j = e.j0 + 1 AND s11.i = e.i0 + 1
)
SELECT CAST(0 AS INT) AS t,
       CAST(jj // 3 AS INT) AS j, CAST(ii // 3 AS INT) AS i,
       ROUND(AVG(v), 6) AS value
FROM f GROUP BY 1, 2, 3
"""


def _coarsen_input(spark, sf_dir, transform_sql=None):
    r = _raster(spark, sf_dir)
    return r.select(
        "t",
        (F.col("j") / 8).cast("int").alias("J"),
        (F.col("i") / 5).cast("int").alias("I"),
        "value",
    )


def _q_coarsen(method, value_expr_spark, is_int):
    def q(spark, sf_dir):
        from xcube_resampling_spark.operators.coarsen import aggregate_windows

        r = _raster(spark, sf_dir).select(
            "t",
            (F.col("j") / 8).cast("int").alias("J"),
            (F.col("i") / 5).cast("int").alias("I"),
            value_expr_spark().alias("value"),
        )
        out = aggregate_windows(r, method, 8, 5, is_int)
        return out.select(
            "t", F.col("J").alias("j"), F.col("I").alias("i"),
            F.round("value", 6).alias("value"),
        )

    return q


def _sql_coarsen(agg_sql, value_sql="value"):
    return f"""
WITH src AS ({RASTER_SQL}),
w AS (
  SELECT t, CAST(j // 8 AS INT) AS J, CAST(i // 5 AS INT) AS I,
         {value_sql} AS value
  FROM src
)
SELECT t, J AS j, I AS i, ROUND({agg_sql}, 6) AS value
FROM w GROUP BY t, J, I
"""


SQL_COARSEN_MODE = f"""
WITH src AS ({RASTER_SQL}),
w AS (
  SELECT t, CAST(j // 8 AS INT) AS J, CAST(i // 5 AS INT) AS I,
         CAST(CAST(trunc(value) AS INT) % 7 AS DOUBLE) AS value
  FROM src
),
counted AS (
  SELECT t, J, I, value, count(*) AS cnt FROM w GROUP BY t, J, I, value
),
ranked AS (
  SELECT t, J, I, value,
         row_number() OVER (
           PARTITION BY t, J, I ORDER BY cnt DESC, value ASC
         ) AS rn
  FROM counted
)
SELECT t, J AS j, I AS i, ROUND(value, 6) AS value FROM ranked WHERE rn = 1
"""


def q_clip_bbox(spark, sf_dir):
    from xcube_resampling_spark.sources.zarr import clip_pixels_by_ij_bbox

    r = _raster(spark, sf_dir)
    out = clip_pixels_by_ij_bbox(r, (5, 10, 20, 30))
    return out.select(
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )


SQL_CLIP = f"""
WITH src AS ({RASTER_SQL})
SELECT t, CAST(j - 10 AS INT) AS j, CAST(i - 5 AS INT) AS i,
       ROUND(value, 6) AS value
FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
"""

# zarr_roundtrip's four store bindings (fs / kv / zip / http) read
# identical windows, so the twin replays SQL_CLIP once per tag
SQL_ZARR_STORES = f"""
WITH src AS ({RASTER_SQL}),
win AS (
  SELECT t, CAST(j - 10 AS INT) AS j, CAST(i - 5 AS INT) AS i,
         ROUND(value, 6) AS value
  FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
)
SELECT v.variant, w.t, w.j, w.i, w.value
FROM win w
CROSS JOIN (VALUES ('fs'), ('kv'), ('zip'), ('http'),
            ('blosc'), ('blosc_lz4'), ('lz4'),
            ('filters')) AS v(variant)
"""


# rectify: synthetic sheared swath over the raster
# lon = i + 0.35*j ; lat = 50 - j - 0.15*i ; target 30x44 at (0, 6), res 1
RECT_W, RECT_H = 30, 44


def _rectify_value(spark, values, source_gm, target_gm, interp,
                   coords=None):
    """rectify_dataset over a one-variable dataset whose long-format
    ``values`` hold the swath (a 3-D variable when ``coords`` names its
    leading ``time`` axis), rounded like the oracles."""
    from xcube_resampling_spark.dataset import SparkDataset, Variable
    from xcube_resampling_spark.operators.rectify import rectify_dataset

    coords = coords or {}
    dims = tuple(coords) + ("y", "x")
    src = SparkDataset(
        spark=spark,
        data_vars={"value": Variable("value", values, dims, "float64", {})},
        coords=coords,
        yx_dims=("y", "x"),
    )
    out = rectify_dataset(
        src, target_gm=target_gm, source_gm=source_gm,
        interp_methods=interp, fill_values=FILL,
    )
    return out.data_vars["value"].df.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


def _swath_gm():
    """The sheared swath's 2-D lon/lat grid mapping."""
    import numpy as np

    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping

    jj, ii = np.meshgrid(np.arange(RH), np.arange(RW), indexing="ij")
    lon = ii + 0.35 * jj
    lat = 50.0 - jj - 0.15 * ii
    return GridMapping.from_coords_2d(lon, lat, CRS_WGS84)


def _rect_target_gm():
    """The regular target grid of the swath queries."""
    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping

    return GridMapping.regular((RECT_W, RECT_H), (0.0, 6.0), 1.0, CRS_WGS84)


def _q_rectify(interp):
    def q(spark, sf_dir):
        return _rectify_value(
            spark, _raster(spark, sf_dir), _swath_gm(), _rect_target_gm(),
            interp,
        )

    return q


q_rectify_swath_nearest = _q_rectify("nearest")


# shared winners CTE: the point-in-quad scatter (used by all three
# rectify interpolation oracles)
_RECTIFY_WINNERS_SQL = f"""
WITH src AS ({RASTER_SQL}),
coords AS (
  SELECT j, i,
         i + 0.35 * j AS x,
         50.0 - j - 0.15 * i AS y
  FROM src
),
r AS (
  SELECT j, i, x, y,
         lead(x) OVER (PARTITION BY j ORDER BY i) AS xr,
         lead(y) OVER (PARTITION BY j ORDER BY i) AS yr
  FROM coords
),
rr AS (SELECT * FROM r WHERE xr IS NOT NULL),
quads AS (
  SELECT a.j AS j0, a.i AS i0,
         a.x AS p0x, a.y AS p0y, a.xr AS p1x, a.yr AS p1y,
         b.x AS p2x, b.y AS p2y, b.xr AS p3x, b.yr AS p3y
  FROM rr a JOIN rr b ON b.j = a.j + 1 AND b.i = a.i
),
q AS (
  SELECT quads.*,
    GREATEST(LEAST(FLOOR((p0x - 0.0) / 1.0), FLOOR((p1x - 0.0) / 1.0),
                   FLOOR((p2x - 0.0) / 1.0), FLOOR((p3x - 0.0) / 1.0)),
             0) AS bi0,
    LEAST(GREATEST(FLOOR((p0x - 0.0) / 1.0), FLOOR((p1x - 0.0) / 1.0),
                   FLOOR((p2x - 0.0) / 1.0), FLOOR((p3x - 0.0) / 1.0)),
          {RECT_W - 1}) AS bi1,
    GREATEST(LEAST(FLOOR((p0y - 50.0) / -1.0), FLOOR((p1y - 50.0) / -1.0),
                   FLOOR((p2y - 50.0) / -1.0), FLOOR((p3y - 50.0) / -1.0)),
             0) AS bj0,
    LEAST(GREATEST(FLOOR((p0y - 50.0) / -1.0), FLOOR((p1y - 50.0) / -1.0),
                   FLOOR((p2y - 50.0) / -1.0), FLOOR((p3y - 50.0) / -1.0)),
          {RECT_H - 1}) AS bj1,
    (p0x - p1x) * (p0y - p2y) - (p0x - p2x) * (p0y - p1y) AS det_a,
    (p3x - p2x) * (p3y - p1y) - (p3x - p1x) * (p3y - p2y) AS det_b
  FROM quads
),
qf AS (
  SELECT * FROM q
  WHERE bi1 >= bi0 AND bj1 >= bj0 AND NOT (det_a = 0.0 AND det_b = 0.0)
),
c1 AS (
  SELECT qf.*, unnest(range(CAST(bj0 AS BIGINT), CAST(bj1 AS BIGINT) + 1))
           AS dst_j
  FROM qf
),
c2 AS (
  SELECT c1.*, unnest(range(CAST(bi0 AS BIGINT), CAST(bi1 AS BIGINT) + 1))
           AS dst_i
  FROM c1
),
uv AS (
  SELECT j0, i0, dst_j, dst_i, det_a, det_b,
         0.0 + (dst_i + 0.5) * 1.0 AS dx,
         50.0 + (dst_j + 0.5) * -1.0 AS dy,
         p0x, p0y, p1x, p1y, p2x, p2y, p3x, p3y
  FROM c2
),
uv2 AS (
  SELECT j0, i0, dst_j, dst_i, det_a, det_b,
    ((p0x - dx) * (p0y - p2y) - (p0y - dy) * (p0x - p2x)) / det_a AS u_a,
    ((p0y - dy) * (p0x - p1x) - (p0x - dx) * (p0y - p1y)) / det_a AS v_a,
    ((p3x - dx) * (p3y - p1y) - (p3y - dy) * (p3x - p1x)) / det_b AS u_b,
    ((p3y - dy) * (p3x - p2x) - (p3x - dx) * (p3y - p2y)) / det_b AS v_b
  FROM uv
),
m AS (
  SELECT dst_j, dst_i, j0, i0,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002 THEN 0
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002 THEN 1
    END AS tri,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002
        THEN i0 + LEAST(GREATEST(u_a, 0.0), 1.0)
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002
        THEN i0 + 1 - LEAST(GREATEST(u_b, 0.0), 1.0)
    END AS src_if,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002
        THEN j0 + LEAST(GREATEST(v_a, 0.0), 1.0)
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002
        THEN j0 + 1 - LEAST(GREATEST(v_b, 0.0), 1.0)
    END AS src_jf
  FROM uv2
),
mm AS (SELECT * FROM m WHERE src_if IS NOT NULL),
winners AS (
  SELECT dst_j, dst_i, src_if, src_jf
  FROM (
    SELECT mm.*, row_number() OVER (
      PARTITION BY dst_j, dst_i ORDER BY j0, i0, tri
    ) AS rn
    FROM mm
  ) WHERE rn = 1
)"""

def _rectify_sql_custom(coords_sql: str, tw: int, th: int,
                        tx0: float, tymax: float, tres: float) -> str:
    """Parametrized twin of the rectify winners + nearest-gather SQL for a
    custom coords CTE and target grid (same quad/barycentric semantics as
    _RECTIFY_WINNERS_SQL below)."""
    x0 = f"CAST({tx0!r} AS DOUBLE)"
    ym = f"CAST({tymax!r} AS DOUBLE)"
    rs = f"CAST({tres!r} AS DOUBLE)"

    def fi(p):
        return f"FLOOR(({p}x - {x0}) / {rs})"

    def fj(p):
        return f"FLOOR(({p}y - {ym}) / -{rs})"

    corners_i = ", ".join(fi(p) for p in ("p0", "p1", "p2", "p3"))
    corners_j = ", ".join(fj(p) for p in ("p0", "p1", "p2", "p3"))
    return f"""
WITH src AS ({RASTER_SQL}),
coords AS ({coords_sql}),
r AS (
  SELECT j, i, x, y,
         lead(x) OVER (PARTITION BY j ORDER BY i) AS xr,
         lead(y) OVER (PARTITION BY j ORDER BY i) AS yr
  FROM coords
),
rr AS (SELECT * FROM r WHERE xr IS NOT NULL),
quads AS (
  SELECT a.j AS j0, a.i AS i0,
         a.x AS p0x, a.y AS p0y, a.xr AS p1x, a.yr AS p1y,
         b.x AS p2x, b.y AS p2y, b.xr AS p3x, b.yr AS p3y
  FROM rr a JOIN rr b ON b.j = a.j + 1 AND b.i = a.i
),
q AS (
  SELECT quads.*,
    GREATEST(LEAST({corners_i}), 0) AS bi0,
    LEAST(GREATEST({corners_i}), {tw - 1}) AS bi1,
    GREATEST(LEAST({corners_j}), 0) AS bj0,
    LEAST(GREATEST({corners_j}), {th - 1}) AS bj1,
    (p0x - p1x) * (p0y - p2y) - (p0x - p2x) * (p0y - p1y) AS det_a,
    (p3x - p2x) * (p3y - p1y) - (p3x - p1x) * (p3y - p2y) AS det_b
  FROM quads
),
qf AS (
  SELECT * FROM q
  WHERE bi1 >= bi0 AND bj1 >= bj0 AND NOT (det_a = 0.0 AND det_b = 0.0)
),
c1 AS (
  SELECT qf.*, unnest(range(CAST(bj0 AS BIGINT), CAST(bj1 AS BIGINT) + 1))
           AS dst_j
  FROM qf
),
c2 AS (
  SELECT c1.*, unnest(range(CAST(bi0 AS BIGINT), CAST(bi1 AS BIGINT) + 1))
           AS dst_i
  FROM c1
),
uv AS (
  SELECT j0, i0, dst_j, dst_i, det_a, det_b,
         {x0} + (dst_i + 0.5) * {rs} AS dx,
         {ym} + (dst_j + 0.5) * -{rs} AS dy,
         p0x, p0y, p1x, p1y, p2x, p2y, p3x, p3y
  FROM c2
),
uv2 AS (
  SELECT j0, i0, dst_j, dst_i, det_a, det_b,
    ((p0x - dx) * (p0y - p2y) - (p0y - dy) * (p0x - p2x)) / det_a AS u_a,
    ((p0y - dy) * (p0x - p1x) - (p0x - dx) * (p0y - p1y)) / det_a AS v_a,
    ((p3x - dx) * (p3y - p1y) - (p3y - dy) * (p3x - p1x)) / det_b AS u_b,
    ((p3y - dy) * (p3x - p2x) - (p3x - dx) * (p3y - p2y)) / det_b AS v_b
  FROM uv
),
m AS (
  SELECT dst_j, dst_i, j0, i0,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002 THEN 0
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002 THEN 1
    END AS tri,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002
        THEN i0 + LEAST(GREATEST(u_a, 0.0), 1.0)
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002
        THEN i0 + 1 - LEAST(GREATEST(u_b, 0.0), 1.0)
    END AS src_if,
    CASE
      WHEN det_a != 0.0 AND u_a >= -0.001 AND v_a >= -0.001
           AND u_a + v_a <= 1.002
        THEN j0 + LEAST(GREATEST(v_a, 0.0), 1.0)
      WHEN det_b != 0.0 AND u_b >= -0.001 AND v_b >= -0.001
           AND u_b + v_b <= 1.002
        THEN j0 + 1 - LEAST(GREATEST(v_b, 0.0), 1.0)
    END AS src_jf
  FROM uv2
),
mm AS (SELECT * FROM m WHERE src_if IS NOT NULL),
winners AS (
  SELECT dst_j, dst_i, src_if, src_jf
  FROM (
    SELECT mm.*, row_number() OVER (
      PARTITION BY dst_j, dst_i ORDER BY j0, i0, tri
    ) AS rn
    FROM mm
  ) WHERE rn = 1
),
nearest AS (
  SELECT dst_j, dst_i,
    CASE WHEN src_if - FLOOR(src_if) > 0.5
         THEN LEAST(CAST(FLOOR(src_if) AS INT) + 1, {RW - 1})
         ELSE CAST(FLOOR(src_if) AS INT) END AS si,
    CASE WHEN src_jf - FLOOR(src_jf) > 0.5
         THEN LEAST(CAST(FLOOR(src_jf) AS INT) + 1, {RH - 1})
         ELSE CAST(FLOOR(src_jf) AS INT) END AS sj
  FROM winners
),
gathered AS (
  SELECT s.t, n.dst_j, n.dst_i, s.value
  FROM nearest n JOIN src s ON s.j = n.sj AND s.i = n.si
),
grid AS (
  SELECT CAST(0 AS INT) AS t,
         CAST(id // {tw} AS INT) AS j, CAST(id % {tw} AS INT) AS i
  FROM (SELECT range AS id FROM range({tw * th}))
)
SELECT g.t, g.j, g.i,
       ROUND(COALESCE(ga.value, {FILL}), 6) AS value
FROM grid g LEFT JOIN gathered ga
  ON ga.t = g.t AND ga.dst_j = g.j AND ga.dst_i = g.i
"""


_RECTIFY_GRID_TAIL = f""",
grid AS (
  SELECT CAST(0 AS INT) AS t,
         CAST(id // {RECT_W} AS INT) AS j, CAST(id % {RECT_W} AS INT) AS i
  FROM (SELECT range AS id FROM range({RECT_W * RECT_H}))
)
SELECT g.t, g.j, g.i,
       ROUND(COALESCE(ga.value, {FILL}), 6) AS value
FROM grid g LEFT JOIN gathered ga
  ON ga.t = g.t AND ga.dst_j = g.j AND ga.dst_i = g.i
"""

_RECTIFY_NEAREST_TAIL = f""",
nearest AS (
  SELECT dst_j, dst_i,
    CASE WHEN src_if - FLOOR(src_if) > 0.5
         THEN LEAST(CAST(FLOOR(src_if) AS INT) + 1, {RW - 1})
         ELSE CAST(FLOOR(src_if) AS INT) END AS si,
    CASE WHEN src_jf - FLOOR(src_jf) > 0.5
         THEN LEAST(CAST(FLOOR(src_jf) AS INT) + 1, {RH - 1})
         ELSE CAST(FLOOR(src_jf) AS INT) END AS sj
  FROM winners
),
gathered AS (
  SELECT s.t, n.dst_j, n.dst_i, s.value
  FROM nearest n JOIN src s ON s.j = n.sj AND s.i = n.si
)""" + _RECTIFY_GRID_TAIL

SQL_RECTIFY = _RECTIFY_WINNERS_SQL + _RECTIFY_NEAREST_TAIL

# anti-meridian variant: the swath's longitudes wrap at 180; both engines
# normalize to lon-360 space (x in [179, ~186.5]) before the scatter.  Only
# the x-side literals of the winners template change; the lat formula and
# every y literal stay identical.
_ANTIM_WRAP = "((179.0 + 0.2 * i + 0.07 * j + 180.0) % 360.0) - 180.0"
SQL_RECTIFY_ANTIMERIDIAN = (
    _RECTIFY_WINNERS_SQL
    .replace(
        "i + 0.35 * j AS x",
        f"CASE WHEN {_ANTIM_WRAP} < 0.0 THEN {_ANTIM_WRAP} + 360.0 "
        f"ELSE {_ANTIM_WRAP} END AS x",
    )
    .replace("- 0.0) / 1.0", "- 179.0) / 0.2")
    .replace(
        "0.0 + (dst_i + 0.5) * 1.0 AS dx",
        "179.0 + (dst_i + 0.5) * 0.2 AS dx",
    )
) + _RECTIFY_NEAREST_TAIL


def q_rectify_distributed_coords(spark, sf_dir):
    """rectify_dataset through the distributed-coords API: the 2-D lon/lat
    images are a Spark DataFrame derived from the events parquet (never
    driver numpy); grid stats (res/bbox/orientation) come from one window
    pass + aggregation (gridmapping/distributed.py).  Same swath and target
    as rectify_swath_nearest, so it shares SQL_RECTIFY."""
    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping.distributed import GridMappingDF

    r = _raster(spark, sf_dir)
    coords = r.select(
        "j", "i",
        (F.col("i") + 0.35 * F.col("j")).cast("double").alias("x"),
        (50.0 - F.col("j") - 0.15 * F.col("i")).cast("double").alias("y"),
    )
    gmdf = GridMappingDF.from_coords_df(
        coords, CRS_WGS84, size=(RW, RH)
    )
    return _rectify_value(spark, r, gmdf, _rect_target_gm(), "nearest")


def _q_rectify_fused(interp):
    """Fused two-shuffle rectify (scatter kernel emits final interpolated
    values; FWW + densify in the second kernel -- rectify.py
    rectify_fused_tiled).  Same swath and target as rectify_swath_*, so it
    shares those oracles."""

    def q(spark, sf_dir):
        from xcube_resampling_spark.crs import CRS_WGS84
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.rectify import (
            fuse_coords_values,
            rectify_fused_tiled,
        )

        r = _raster(spark, sf_dir)
        coords = r.select(
            "j", "i",
            (F.col("i") + 0.35 * F.col("j")).cast("double").alias("x"),
            (50.0 - F.col("j") - 0.15 * F.col("i")).cast("double").alias("y"),
        )
        target_gm = GridMapping.regular(
            (RECT_W, RECT_H), (0.0, 6.0), 1.0, CRS_WGS84
        )
        fused = fuse_coords_values(coords, r, 1)
        out = rectify_fused_tiled(
            fused, target_gm, (RW, RH), 1, interp, FILL, False,
            block_rows=16, dst_block_rows=16,
        )
        return out.select(
            "t", "j", "i", F.round("value", 6).alias("value")
        )

    return q


q_rectify_fused_nearest = _q_rectify_fused("nearest")
q_rectify_fused_bilinear = _q_rectify_fused("bilinear")


# rotated-pole rectification: swath defined in a CORDEX-style rotated CRS
# (pole 39.25N, -162E), rectified onto a true-WGS84 regular grid.  The
# DuckDB oracle applies the same spherical pole rotation in SQL.
ROTP_LAT, ROTP_LON = 39.25, -162.0
ROTP_W, ROTP_H = 58, 43
ROTP_XMIN, ROTP_YMIN, ROTP_RES = 10.5, 45.0, 0.25


def q_rectify_rotated_pole(spark, sf_dir):
    from xcube_resampling_spark.crs import CRS
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.gridmapping.distributed import GridMappingDF

    rp_crs = CRS.from_cf(dict(
        grid_mapping_name="rotated_latitude_longitude",
        grid_north_pole_latitude=ROTP_LAT,
        grid_north_pole_longitude=ROTP_LON,
    ))
    r = _raster(spark, sf_dir)
    coords = r.select(
        "j", "i",
        (F.lit(-4.0) + 0.25 * F.col("i") + 0.08 * F.col("j"))
        .cast("double").alias("x"),
        (F.lit(4.0) - 0.25 * F.col("j") + 0.05 * F.col("i"))
        .cast("double").alias("y"),
    )
    gmdf = GridMappingDF.from_coords_df(
        coords, rp_crs, size=(RW, RH)
    )
    target_gm = GridMapping.regular(
        (ROTP_W, ROTP_H), (ROTP_XMIN, ROTP_YMIN), ROTP_RES, "EPSG:4326"
    )
    return _rectify_value(spark, r, gmdf, target_gm, "nearest")


def _rotpole_rectify_sql() -> str:
    import math

    sin_tp = repr(math.sin(math.radians(ROTP_LAT)))
    cos_tp = repr(math.cos(math.radians(ROTP_LAT)))
    coords_sql = f"""
  SELECT j, i,
         degrees(atan2(sin(radians(lon0)), cos(radians(lon0)))) AS x,
         degrees(phi) AS y
  FROM (
    SELECT j, i, phi,
           {ROTP_LON} + degrees(atan2(
             cos(phi_r) * sin(lam_r),
             CAST({cos_tp} AS DOUBLE) * sin(phi_r)
             - CAST({sin_tp} AS DOUBLE) * cos(phi_r) * cos(lam_r)
           )) AS lon0
    FROM (
      SELECT j, i, lam_r, phi_r,
             asin(LEAST(GREATEST(
               CAST({sin_tp} AS DOUBLE) * sin(phi_r)
               + CAST({cos_tp} AS DOUBLE) * cos(phi_r) * cos(lam_r),
               -1.0), 1.0)) AS phi
      FROM (
        SELECT j, i,
               radians(-4.0 + 0.25 * i + 0.08 * j) AS lam_r,
               radians(4.0 - 0.25 * j + 0.05 * i) AS phi_r
        FROM src
      )
    )
  )
"""
    return _rectify_sql_custom(
        coords_sql, ROTP_W, ROTP_H, ROTP_XMIN,
        ROTP_YMIN + ROTP_H * ROTP_RES, ROTP_RES,
    )


# Geostationary rectify: a GOES/SEVIRI-style scan-angle swath (sheared in
# geos scan space, satellite at lon 9, sweep x, 53N oblique view) rectified
# onto a regular WGS84 grid.  Grid picked by offset scan: min frac-from-0.5
# margin 2.8e-4, min u/v epsilon margin 3.2e-4, coord-res/target-res scale
# 1.010 (> SCALE_LIMIT 0.95, pre-downscale never fires), 890/1260 covered.
GRECT_SX0, GRECT_SAX, GRECT_SBX = -300.0, 55.0, 7.0
GRECT_SY0, GRECT_SCY, GRECT_SDY = 4719800.0, -52.0, 6.0
GRECT_W, GRECT_H = 28, 45
GRECT_X0 = 8.994546553551718
GRECT_YMAX = 53.23291724104777
GRECT_RES = 0.00099
GRECT_YMIN = GRECT_YMAX - GRECT_H * GRECT_RES


def q_rectify_geos(spark, sf_dir):
    """Rectification of a geostationary fixed-grid swath: per-pixel coords
    live in the geos CRS, so the rectify path drives the full
    ray/ellipsoid geos inverse through transform_coords_df (reference
    rectify.py:127-129; transform.py:40-77) before the scatter."""
    from xcube_resampling_spark.crs import CRS
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.gridmapping.distributed import GridMappingDF

    geo_crs = CRS.geostationary(lon_0=GEO_LON0, sweep="x", h=GEO_H_SAT)
    r = _raster(spark, sf_dir)
    coords = r.select(
        "j", "i",
        (F.lit(GRECT_SX0) + GRECT_SAX * F.col("i")
         + GRECT_SBX * F.col("j")).cast("double").alias("x"),
        (F.lit(GRECT_SY0) + GRECT_SCY * F.col("j")
         + GRECT_SDY * F.col("i")).cast("double").alias("y"),
    )
    gmdf = GridMappingDF.from_coords_df(coords, geo_crs, size=(RW, RH))
    target_gm = GridMapping.regular(
        (GRECT_W, GRECT_H), (GRECT_X0, GRECT_YMIN), GRECT_RES, "EPSG:4326"
    )
    return _rectify_value(spark, r, gmdf, target_gm, "nearest")


def _geos_rectify_sql() -> str:
    from xcube_resampling_spark.crs import CRS, _geos_setup

    geo = CRS.geostationary(lon_0=GEO_LON0, sweep="x", h=GEO_H_SAT)
    _, rg1, rg, bigc, rp = _geos_setup(geo)
    rp2 = rp * rp
    ga = repr(geo.ellipsoid.a)
    coords_sql = f"""
  SELECT j, i,
         {GEO_LON0} + degrees(atan2(py, px)) AS x,
         degrees(atan(tan(atan(pz * cos(atan2(py, px)) / px))
                      / {rp2!r})) AS y
  FROM (
    SELECT j, i, {rg!r} - k AS px, k * vy AS py, k * vz AS pz
    FROM (
      SELECT j, i, vy, vz,
             ((2.0 * {rg!r}) - sqrt((2.0 * {rg!r}) * (2.0 * {rg!r})
                - 4.0 * aq * {bigc!r})) / (2.0 * aq) AS k
      FROM (
        SELECT j, i, vy, vz,
               vy * vy + (vz / {rp!r}) * (vz / {rp!r}) + 1.0 AS aq
        FROM (
          SELECT j, i,
                 tan(xn / {rg1!r})
                   * sqrt(1.0 + tan(yn / {rg1!r}) * tan(yn / {rg1!r}))
                   AS vy,
                 tan(yn / {rg1!r}) AS vz
          FROM (
            SELECT j, i,
                   ({GRECT_SX0!r} + {GRECT_SAX!r} * i
                    + {GRECT_SBX!r} * j) / {ga} AS xn,
                   ({GRECT_SY0!r} + {GRECT_SCY!r} * j
                    + {GRECT_SDY!r} * i) / {ga} AS yn
            FROM src
          )
        )
      )
    )
  )
"""
    return _rectify_sql_custom(
        coords_sql, GRECT_W, GRECT_H, GRECT_X0, GRECT_YMAX, GRECT_RES,
    )


def q_rectify_antimeridian(spark, sf_dir):
    """Rectification of a swath crossing the anti-meridian: wrapped
    longitudes are normalized with to_lon_360 (reference
    helpers.py:97-110, coords.py:160-172), scatter runs in lon-360 space."""
    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.functions import to_lon_360
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.gridmapping.distributed import GridMappingDF

    r = _raster(spark, sf_dir)
    raw = F.lit(179.0) + 0.2 * F.col("i") + 0.07 * F.col("j")
    wrapped = ((raw + 180.0) % 360.0) - 180.0
    coords = r.select(
        "j", "i",
        to_lon_360(wrapped).alias("x"),
        (F.lit(50.0) - F.col("j") - 0.15 * F.col("i")).alias("y"),
    )
    target_gm = GridMapping.regular(
        (RECT_W, RECT_H), (179.0, 6.0), (0.2, 1.0), CRS_WGS84
    )
    gmdf = GridMappingDF.from_coords_df(coords, CRS_WGS84, size=(RW, RH))
    return _rectify_value(spark, r, gmdf, target_gm, "nearest")


# 4-neighbor gather shared by bilinear/triangular (mirrors the rectify
# kernel's stencil: i1/j1 clamped to the source edge)
_RECTIFY_4N_SQL = f""",
bil AS (
  SELECT dst_j, dst_i,
         CAST(FLOOR(src_if) AS INT) AS i0,
         LEAST(CAST(FLOOR(src_if) AS INT) + 1, {RW - 1}) AS i1,
         CAST(FLOOR(src_jf) AS INT) AS j0,
         LEAST(CAST(FLOOR(src_jf) AS INT) + 1, {RH - 1}) AS j1,
         src_if - FLOOR(src_if) AS u, src_jf - FLOOR(src_jf) AS v
  FROM winners
),
n4 AS (
  SELECT b.dst_j, b.dst_i, s00.t, b.u, b.v,
         s00.value AS v00, s01.value AS v01,
         s10.value AS v10, s11.value AS v11
  FROM bil b
  JOIN src s00 ON s00.j = b.j0 AND s00.i = b.i0
  JOIN src s01 ON s01.j = b.j0 AND s01.i = b.i1
  JOIN src s10 ON s10.j = b.j1 AND s10.i = b.i0
  JOIN src s11 ON s11.j = b.j1 AND s11.i = b.i1
)"""

SQL_RECTIFY_BILINEAR = _RECTIFY_WINNERS_SQL + _RECTIFY_4N_SQL + """,
gathered AS (
  SELECT t, dst_j, dst_i,
         (v00 + u * (v01 - v00))
         + v * ((v10 + u * (v11 - v10)) - (v00 + u * (v01 - v00)))
           AS value
  FROM n4
)""" + _RECTIFY_GRID_TAIL

SQL_RECTIFY_TRIANGULAR = _RECTIFY_WINNERS_SQL + _RECTIFY_4N_SQL + """,
gathered AS (
  SELECT t, dst_j, dst_i,
         CASE WHEN u + v < 1.0
              THEN v00 + u * (v01 - v00) + v * (v10 - v00)
              ELSE v11 + (1.0 - u) * (v10 - v11)
                   + (1.0 - v) * (v01 - v11) END AS value
  FROM n4
)""" + _RECTIFY_GRID_TAIL


def _q_coarsen_positional(method):
    """first/last/center reducers: the engine's positional path gathers
    exactly one subpixel per window (coarsen.position_for)."""

    def q(spark, sf_dir):
        from xcube_resampling_spark.operators.coarsen import position_for

        pj, pi = position_for(method, 8, 5)
        r = _raster(spark, sf_dir)
        return r.filter(
            (F.col("j") % 8 == pj) & (F.col("i") % 5 == pi)
        ).select(
            "t",
            (F.col("j") / 8).cast("int").alias("j"),
            (F.col("i") / 5).cast("int").alias("i"),
            F.round("value", 6).alias("value"),
        )

    return q


def _sql_coarsen_positional(pj, pi):
    return f"""
WITH src AS ({RASTER_SQL})
SELECT t, CAST(j // 8 AS INT) AS j, CAST(i // 5 AS INT) AS i,
       ROUND(value, 6) AS value
FROM src WHERE j % 8 = {pj} AND i % 5 = {pi}
"""


def q_affine_3d_shift_nearest(spark, sf_dir):
    """3-D (t, j, i) variable through the affine path: the time axis is an
    ordinary column, never interpolated across (reference
    affine.py:329-335)."""
    from xcube_resampling_spark.operators.affine import resample_pixels

    ev = _table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    r3 = ev.select(
        (F.col("event_id") / 1000).cast("int").alias("t"),
        ((F.col("event_id") % 1000) / RW).cast("int").alias("j"),
        (F.col("event_id") % 1000 % RW).cast("int").alias("i"),
        F.col("value"),
    )
    out = resample_pixels(
        spark, r3, ((1.0, 0.0, 5.5), (0.0, 1.0, -3.5)),
        (RW, RH), (RW, RH), 2, 0, "mean", False, FILL, False,
    )
    return out.select("t", "j", "i", F.round("value", 6).alias("value"))


SQL_AFFINE_3D = f"""
WITH src3 AS (
  SELECT CAST(event_id // 1000 AS INT) AS t,
         CAST((event_id % 1000) // {RW} AS INT) AS j,
         CAST(event_id % 1000 % {RW} AS INT) AS i,
         value
  FROM events WHERE event_id < 2000
),
grid AS (
  SELECT CAST(t.range AS INT) AS t,
         CAST(id // {RW} AS INT) AS j, CAST(id % {RW} AS INT) AS i
  FROM (SELECT range AS id FROM range({RW * RH})) CROSS JOIN range(2) t
),
c AS (
  SELECT t, j, i,
         CAST(FLOOR(1.0 * i + 5.5 + 0.5) AS INT) AS si,
         CAST(FLOOR(1.0 * j + -3.5 + 0.5) AS INT) AS sj
  FROM grid
),
d AS (
  SELECT t, j, i, si, sj,
         (si >= 0 AND si <= {RW - 1} AND sj >= 0 AND sj <= {RH - 1}) AS in_b
  FROM c
)
SELECT d.t, d.j, d.i,
       ROUND(CASE WHEN in_b THEN COALESCE(s.value, {FILL})
             ELSE {FILL} END, 6) AS value
FROM d LEFT JOIN src3 s ON s.t = d.t AND s.j = d.sj AND s.i = d.si
"""


NAN_SENTINEL = -111.0


def q_affine_recover_nans(spark, sf_dir):
    """Bilinear x2 upscale with NaN recovery (reference affine.py:344-360):
    blend the zero-filled image and the inverse NaN mask separately, divide.
    NaNs in the output are mapped to a sentinel for value-hash stability."""
    from xcube_resampling_spark.operators.affine import resample_pixels

    r = _raster(spark, sf_dir).withColumn(
        "value",
        F.when(
            F.col("value").cast("int") % 5 == 0, F.lit(float("nan"))
        ).otherwise(F.col("value")),
    )
    out = resample_pixels(
        spark, r, ((0.5, 0.0, -0.25), (0.0, 0.5, -0.25)),
        (RW, RH), (50, 80), 1, 1, "mean", True, FILL, False,
    )
    return out.select(
        "t", "j", "i",
        F.round(
            F.when(F.isnan("value"), F.lit(NAN_SENTINEL))
            .otherwise(F.col("value")),
            6,
        ).alias("value"),
    )


SQL_AFFINE_RECOVER = f"""
WITH src0 AS ({RASTER_SQL}),
src AS (
  SELECT t, j, i,
         CASE WHEN CAST(trunc(value) AS INT) % 5 = 0
              THEN CAST('nan' AS DOUBLE) ELSE value END AS value
  FROM src0
),
grid AS (
  SELECT CAST(id // 50 AS INT) AS j, CAST(id % 50 AS INT) AS i
  FROM (SELECT range AS id FROM range(4000))
),
c AS (
  SELECT j, i, 0.5 * i + -0.25 AS sif, 0.5 * j + -0.25 AS sjf FROM grid
),
d AS (
  SELECT j, i, sif, sjf,
         (sif >= 0 AND sif <= {RW - 1} AND sjf >= 0 AND sjf <= {RH - 1})
           AS in_b,
         LEAST(CAST(FLOOR(sif) AS INT), {RW - 2}) AS i0,
         LEAST(CAST(FLOOR(sjf) AS INT), {RH - 2}) AS j0
  FROM c
),
e AS (SELECT d.*, sif - i0 AS fx, sjf - j0 AS fy FROM d),
f AS (
  SELECT e.j, e.i, e.in_b, e.fx, e.fy,
         s00.value AS v00, s01.value AS v01,
         s10.value AS v10, s11.value AS v11
  FROM e
  LEFT JOIN src s00 ON s00.j = e.j0 AND s00.i = e.i0
  LEFT JOIN src s01 ON s01.j = e.j0 AND s01.i = e.i0 + 1
  LEFT JOIN src s10 ON s10.j = e.j0 + 1 AND s10.i = e.i0
  LEFT JOIN src s11 ON s11.j = e.j0 + 1 AND s11.i = e.i0 + 1
),
z AS (
  SELECT j, i, in_b, fx, fy,
         CASE WHEN isnan(v00) THEN 0.0 ELSE v00 END AS z00,
         CASE WHEN isnan(v01) THEN 0.0 ELSE v01 END AS z01,
         CASE WHEN isnan(v10) THEN 0.0 ELSE v10 END AS z10,
         CASE WHEN isnan(v11) THEN 0.0 ELSE v11 END AS z11,
         CASE WHEN isnan(v00) THEN 0.0 ELSE 1.0 END AS m00,
         CASE WHEN isnan(v01) THEN 0.0 ELSE 1.0 END AS m01,
         CASE WHEN isnan(v10) THEN 0.0 ELSE 1.0 END AS m10,
         CASE WHEN isnan(v11) THEN 0.0 ELSE 1.0 END AS m11
  FROM f
),
b AS (
  SELECT j, i, in_b,
         (z00 + fx * (z01 - z00))
         + fy * ((z10 + fx * (z11 - z10)) - (z00 + fx * (z01 - z00)))
           AS scaled,
         (m00 + fx * (m01 - m00))
         + fy * ((m10 + fx * (m11 - m10)) - (m00 + fx * (m01 - m00)))
           AS norm
  FROM z
)
SELECT CAST(0 AS INT) AS t, j, i,
       ROUND(CASE WHEN NOT in_b THEN {FILL}
                  WHEN abs(norm) <= 1e-8 THEN {NAN_SENTINEL}
                  ELSE scaled / norm END, 6) AS value
FROM b
"""


def q_lon360_roundtrip(spark, sf_dir):
    """Anti-meridian normalization round-trip (SURVEY 2.8 #38)."""
    from xcube_resampling_spark.functions import from_lon_360, to_lon_360

    ev = _table(spark, sf_dir, "events").filter(F.col("event_id") < 10000)
    d = ev.select(
        "event_id", (F.col("event_id") % 360 - 180 + 0.25).alias("lon")
    )
    return d.select(
        "event_id",
        F.round("lon", 6).alias("lon"),
        F.round(to_lon_360(F.col("lon")), 6).alias("lon_360"),
        F.round(
            from_lon_360(to_lon_360(F.col("lon"))), 6
        ).alias("lon_back"),
    )


SQL_LON360 = """
WITH d AS (
  SELECT event_id, event_id % 360 - 180 + 0.25 AS lon
  FROM events WHERE event_id < 10000
),
n AS (
  SELECT event_id, lon,
         CASE WHEN lon < 0.0 THEN lon + 360.0 ELSE lon END AS lon_360
  FROM d
)
SELECT event_id, ROUND(lon, 6) AS lon, ROUND(lon_360, 6) AS lon_360,
       ROUND(CASE WHEN lon_360 > 180.0 THEN lon_360 - 360.0
                  ELSE lon_360 END, 6) AS lon_back
FROM n
"""


def _raster3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-slice 3-D raster (t, j, i, value) from the first 2000 events."""
    ev = _table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return ev.select(
        (F.col("event_id") / 1000).cast("int").alias("t"),
        ((F.col("event_id") % 1000) / RW).cast("int").alias("j"),
        (F.col("event_id") % 1000 % RW).cast("int").alias("i"),
        F.col("value"),
    )


RASTER3_SQL = f"""
  SELECT CAST(event_id // 1000 AS INT) AS t,
         CAST((event_id % 1000) // {RW} AS INT) AS j,
         CAST(event_id % 1000 % {RW} AS INT) AS i,
         value
  FROM events WHERE event_id < 2000
"""


def q_rectify_swath_3d_nearest(spark, sf_dir):
    """3-D rectification: the scatter runs once over the 2-D coords and
    its kernel gathers every t-plane of the stencil (reference
    rectify.py:285-296 loops t-chunks; here the planes travel as wide
    per-t columns)."""
    import numpy as np

    return _rectify_value(
        spark, _raster3(spark, sf_dir), _swath_gm(), _rect_target_gm(),
        "nearest", coords={"time": np.arange(2)},
    )


SQL_RECTIFY_3D = _RECTIFY_WINNERS_SQL.replace(
    f"WITH src AS ({RASTER_SQL}),",
    f"WITH src3 AS ({RASTER3_SQL}),\n"
    "src AS (SELECT j, i, value FROM src3 WHERE t = 0),",
) + f""",
nearest AS (
  SELECT dst_j, dst_i,
    CASE WHEN src_if - FLOOR(src_if) > 0.5
         THEN LEAST(CAST(FLOOR(src_if) AS INT) + 1, {RW - 1})
         ELSE CAST(FLOOR(src_if) AS INT) END AS si,
    CASE WHEN src_jf - FLOOR(src_jf) > 0.5
         THEN LEAST(CAST(FLOOR(src_jf) AS INT) + 1, {RH - 1})
         ELSE CAST(FLOOR(src_jf) AS INT) END AS sj
  FROM winners
),
gathered AS (
  SELECT s.t, n.dst_j, n.dst_i, s.value
  FROM nearest n JOIN src3 s ON s.j = n.sj AND s.i = n.si
),
grid AS (
  SELECT CAST(t.range AS INT) AS t,
         CAST(id // {RECT_W} AS INT) AS j, CAST(id % {RECT_W} AS INT) AS i
  FROM (SELECT range AS id FROM range({RECT_W * RECT_H}))
  CROSS JOIN range(2) t
)
SELECT g.t, g.j, g.i,
       ROUND(COALESCE(ga.value, {FILL}), 6) AS value
FROM grid g LEFT JOIN gathered ga
  ON ga.t = g.t AND ga.dst_j = g.j AND ga.dst_i = g.i
"""


def q_coarsen_int_mean(spark, sf_dir):
    """Integer-dtype window mean: float intermediate rounded half-to-even
    and cast back (reference coarsen.py:104-111, np.rint)."""
    from xcube_resampling_spark.operators.coarsen import aggregate_windows

    r = _raster(spark, sf_dir).select(
        "t",
        (F.col("j") / 8).cast("int").alias("J"),
        (F.col("i") / 5).cast("int").alias("I"),
        F.col("value").cast("int").cast("double").alias("value"),
    )
    out = aggregate_windows(r, "mean", 8, 5, True)
    return out.select(
        "t", F.col("J").alias("j"), F.col("I").alias("i"),
        F.round("value", 6).alias("value"),
    )


SQL_COARSEN_INT_MEAN = f"""
WITH src AS ({RASTER_SQL}),
w AS (
  SELECT t, CAST(j // 8 AS INT) AS J, CAST(i // 5 AS INT) AS I,
         CAST(CAST(trunc(value) AS INT) AS DOUBLE) AS value
  FROM src
)
SELECT t, J AS j, I AS i,
       ROUND(CAST(roundbankers(AVG(value), 0) AS DOUBLE), 6) AS value
FROM w GROUP BY t, J, I
"""


def _coarsen_variants():
    """All 13 reducers + the int-mean rounding rule as (name, query, sql)
    triples -- driver-checked as ONE unioned registry entry so the registry
    stays inside the driver's 50-query correctness window (each reducer was
    individually green in rounds 1-2; see CORRECTNESS_r0{1,2}.json)."""
    return [
        ("mean", _q_coarsen("mean", lambda: F.col("value"), False),
         _sql_coarsen("AVG(value)")),
        ("median", _q_coarsen("median", lambda: F.col("value"), False),
         _sql_coarsen("MEDIAN(value)")),
        ("std", _q_coarsen("std", lambda: F.col("value"), False),
         _sql_coarsen("STDDEV_POP(value)")),
        ("count", _q_coarsen(
            "count",
            lambda: (F.col("value").cast("int") % 3).cast("double"),
            False,
        ), _sql_coarsen(
            "CAST(40 - COUNT(CASE WHEN value = 0.0 THEN 1 END) AS DOUBLE)",
            "CAST(CAST(trunc(value) AS INT) % 3 AS DOUBLE)",
        )),
        ("mode", _q_coarsen(
            "mode",
            lambda: (F.col("value").cast("int") % 7).cast("double"),
            True,
        ), SQL_COARSEN_MODE),
        ("min", _q_coarsen("min", lambda: F.col("value"), False),
         _sql_coarsen("MIN(value)")),
        ("max", _q_coarsen("max", lambda: F.col("value"), False),
         _sql_coarsen("MAX(value)")),
        ("sum", _q_coarsen("sum", lambda: F.col("value"), False),
         _sql_coarsen("SUM(value)")),
        ("var", _q_coarsen("var", lambda: F.col("value"), False),
         _sql_coarsen("VAR_POP(value)")),
        ("prod", _q_coarsen(
            "prod",
            lambda: (F.abs(F.col("value").cast("int")) % 2 + 1)
            .cast("double"),
            False,
        ), _sql_coarsen(
            "PRODUCT(value)",
            "CAST(abs(CAST(trunc(value) AS INT)) % 2 + 1 AS DOUBLE)",
        )),
        ("first", _q_coarsen_positional("first"),
         _sql_coarsen_positional(0, 0)),
        ("last", _q_coarsen_positional("last"),
         _sql_coarsen_positional(7, 4)),
        ("center", _q_coarsen_positional("center"),
         _sql_coarsen_positional(4, 2)),
        ("int_mean", q_coarsen_int_mean, SQL_COARSEN_INT_MEAN),
    ]


def q_coarsen_reducers(spark, sf_dir):
    """Every coarsen reducer over the same 8x5 windows, unioned and tagged
    (reference coarsen.py:30-152; one registry slot for 14 code paths)."""
    out = None
    for name, q, _ in _coarsen_variants():
        d = q(spark, sf_dir).select(
            F.lit(name).alias("reducer"), "t", "j", "i", "value"
        )
        out = d if out is None else out.unionByName(d)
    return out


SQL_COARSEN_REDUCERS = "\nUNION ALL\n".join(
    f"SELECT '{name}' AS reducer, q.* FROM ({sql}) q"
    for name, _, sql in _coarsen_variants()
)


_BBOXES = [
    (0, 2.0, 10.0, 12.0, 25.0),
    (1, 20.0, 30.0, 45.0, 48.0),
    (2, -30.0, -30.0, -5.0, -5.0),   # disjoint from the swath
    (3, 0.0, 0.0, 60.0, 60.0),       # covers everything
]


def q_ij_bbox_containment(spark, sf_dir):
    """Distributed ij-bbox planning (SURVEY 2.4 #19): broadcast containment
    join + one aggregation replaces the reference's O(boxes x pixels) Numba
    scan (bboxes.py:28-106).  Coords = the sheared swath of the rectify
    queries; border semantics included."""
    from xcube_resampling_spark.operators.utils import ij_bboxes_containment

    r = _raster(spark, sf_dir)
    coords = r.select(
        "j", "i",
        (F.col("i") + 0.35 * F.col("j")).alias("x"),
        (50.0 - F.col("j") - 0.15 * F.col("i")).alias("y"),
    )
    bboxes = spark.createDataFrame(
        _BBOXES, "box_id int, x_min double, y_min double,"
        " x_max double, y_max double",
    )
    return ij_bboxes_containment(
        coords, bboxes, xy_border=0.5, ij_border=1, size=(RW, RH)
    )


SQL_IJ_BBOX = f"""
WITH src AS ({RASTER_SQL}),
coords AS (
  SELECT j, i, i + 0.35 * j AS x, 50.0 - j - 0.15 * i AS y FROM src
),
bboxes(box_id, x_min, y_min, x_max, y_max) AS (
  VALUES {", ".join(str(b) for b in _BBOXES)}
),
joined AS (
  SELECT b.box_id, c.i, c.j
  FROM coords c JOIN bboxes b
    ON c.x >= b.x_min - 0.5 AND c.x <= b.x_max + 0.5
   AND c.y >= b.y_min - 0.5 AND c.y <= b.y_max + 0.5
)
SELECT box_id,
       CAST(GREATEST(MIN(i) - 1, 0) AS INT) AS i_min,
       CAST(GREATEST(MIN(j) - 1, 0) AS INT) AS j_min,
       CAST(LEAST(MAX(i) + 2, {RW}) AS INT) AS i_max,
       CAST(LEAST(MAX(j) + 2, {RH}) AS INT) AS j_max
FROM joined GROUP BY box_id
"""


# Reprojection target grid: chosen to overlap the UTM source raster in
# EPSG:3035 (859 of 936 target pixels hit the source; 77 exercise the fill
# path).  Margins: every transformed fractional source index is >= 1.3e-4
# away from both integer and half-integer boundaries, so the independent
# DuckDB re-derivation of the projection math (fp differences ~1e-11) can
# never flip a floor/rint decision.
RP_W, RP_H = 26, 36
RP_XMIN, RP_YMIN = 4254100.0, 3345300.0
RP_YMAX = RP_YMIN + RP_H * 100.0

# Web-mercator reprojection target (margins >= 1e-4, 1000 of 1232 pixels
# in-bounds, pre-downscale scales ~1.01 -> no downscale branch)
WM_W, WM_H = 28, 44
WM_XMIN, WM_YMIN = 1001700.0, 7022300.0
WM_RES = 165.0
WM_YMAX = WM_YMIN + WM_H * WM_RES

# Polar-stereographic reprojection target (EPSG:3413; the 3413 grid is
# rotated ~54 deg against the UTM source, so the finer 72 m step keeps the
# pre-downscale scale estimate above SCALE_LIMIT; margins >= 2.5e-4)
PS_W, PS_H = 40, 44
PS_XMIN, PS_YMIN = 3332323.0, -2422500.0
PS_RES = 72.0
PS_YMAX = PS_YMIN + PS_H * PS_RES

# Lambert-93 (EPSG:2154, LCC 2SP) reprojection target (grid rotated by the
# meridian-convergence difference vs UTM 32N -> 86 m step keeps scales
# >= 1.05; 1306 of 1536 pixels in-bounds; margins >= 3.8e-3)
LCC_W, LCC_H = 32, 48
LCC_XMIN, LCC_YMIN = 1102893.0, 7363078.0
LCC_RES = 86.0
LCC_YMAX = LCC_YMIN + LCC_H * LCC_RES

# Conus Albers (EPSG:5070, AEA 2SP) target: the cone is ~105 deg of
# longitude away, so the grid is rotated ~50 deg vs UTM 32N -> 68 m step;
# scales >= 1.07, 1747 of 2256 pixels in-bounds, margins >= 2.7e-4
AEA_W, AEA_H = 47, 48
AEA_XMIN, AEA_YMIN = 5878293.0, 6972344.0
AEA_RES = 68.0
AEA_YMAX = AEA_YMIN + AEA_H * AEA_RES

# MODIS sinusoidal (sphere R = 6371007.181) target: ~7 deg shear vs UTM
# 32N at 9E/53N widens the transformed bbox, so an 85 m step is needed to
# keep the bbox-derived scales >= 1.0 (no downscale branch; x 1.002,
# y 1.176); 1338 of 1564 pixels in-bounds, margins >= 9.1e-4
# (offset-scanned against rint half-integer boundaries)
SINU_W, SINU_H = 34, 46
SINU_XMIN, SINU_YMIN = 598953.92, 5917074.95
SINU_RES = 85.0
SINU_YMAX = SINU_YMIN + SINU_H * SINU_RES
SINU_R = 6371007.181

# EASE-Grid 2.0 Global (EPSG:6933, cylindrical equal-area, lat_ts 30)
# target: at 53N the projection compresses y by ~0.69, so a 60 m step
# keeps bbox scales >= 1 (x 2.41, y 1.15); 1845 of 2100 in-bounds,
# margins >= 1.5e-2 (offset-scanned)
CEA_W, CEA_H = 50, 42
CEA_XMIN, CEA_YMIN = 868093.23, 5870639.41
CEA_RES = 60.0
CEA_YMAX = CEA_YMIN + CEA_H * CEA_RES

# Hotine Oblique Mercator variant B (EPSG:29873, Timbalai 1948 / RSO
# Borneo, EPSG method 9815 -- the EPSG GN7-2 worked-example CRS) target:
# the German source footprint sits ~50 deg off the Bornean central line,
# where the conformal scale is ~8.7 with a ~57 deg grid rotation, so a
# 600 m step keeps bbox scales >= 0.98 and ~51% of the axis-aligned
# target rect intersects the rotated swath; margins 4.8e-4
# (offset-scanned, tools/scan_rectify_grid.py method).  INTEGER origin
# (see the somerc note: to_int_or_float snaps fractional origins)
OM_W, OM_H = 68, 61
OM_XMIN = 4642870.0
OM_YMAX = 26193841.0
OM_RES = 600.0
OM_YMIN = OM_YMAX - OM_H * OM_RES

# Swiss Oblique Mercator (EPSG:2056, CH1903+/LV95, method 9814) target:
# the German footprint sits ~600 km from Bern where the conformal scale
# is ~1.004, so a 93 m step keeps bbox scales >= 1.05; 94% in-bounds,
# margins 6.7e-4 (offset-scanned).  INTEGER origin: GridMapping.regular
# snaps near-integer floats via to_int_or_float (reference
# helpers.py:39-48, rel_tol 1e-5 -- at 2.7e6 m ANY fractional origin
# snaps to the nearest meter), so tight-margin grids must be anchored
# on exact integers or the spark grid shifts off the oracle's
SOM_W, SOM_H = 28, 44
SOM_XMIN = 2704751.0
SOM_YMAX = 1902804.0
SOM_RES = 93.0
SOM_YMIN = SOM_YMAX - SOM_H * SOM_RES

# Geostationary fixed grid (PROJ geos semantics; satellite at lon 9,
# sweep x, h = 35785831, WGS84): the oblique view at 53N compresses
# ground northing to ~0.44x in scan space, so a 40 m step keeps bbox
# scales >= 1 (x 2.31, y 1.13); 2430 of 2880 in-bounds, margins >= 1e-2
GEO_W, GEO_H = 60, 48
GEO_XMIN, GEO_YMIN = -238.27, 4718936.41
GEO_RES = 40.0
GEO_YMAX = GEO_YMIN + GEO_H * GEO_RES
GEO_H_SAT = 35785831.0
GEO_LON0 = 9.0

# World Mollweide (ESRI:54009): source footprint maps to
# x [654314, 657267], y [6205751, 6209328].  res = 89 m keeps BOTH bbox
# scales above SCALE_LIMIT (x 1.10, y 1.03) so the reference's
# pre-downscale path (reproject.py:338-382) does not rewrite the source
# grid under the oracle; offsets chosen so nearest-rounding margins
# stay >= 1.5e-3 in index space (engines agree ~1e-11)
MOLL_W, MOLL_H = 34, 40
MOLL_XMIN = 654406.0
MOLL_YMAX = 6209300.0
MOLL_RES = 89.0
MOLL_YMIN = MOLL_YMAX - MOLL_H * MOLL_RES

# spherical azimuthal equidistant centered at (52N, 10E), R = 6371000
# (the oblique closed-form regime; footprint x [-66540, -64093],
# y [135391, 139322], margins >= 6e-2)
AEQ_W, AEQ_H = 22, 37
AEQ_XMIN = -66450.0
AEQ_YMAX = 139250.0
AEQ_RES = 100.0
AEQ_YMIN = AEQ_YMAX - AEQ_H * AEQ_RES
AEQ_R = 6371000.0
AEQ_LAT0, AEQ_LON0 = 52.0, 10.0

# orthographic view from over (52N, 10E); the UTM source footprint maps
# to x [-66802, -64246], y [135431, 139465] in that frame
ORT_W, ORT_H = 24, 39
ORT_XMIN = -66700.0
ORT_YMAX = 139400.0
ORT_RES = 100.0
ORT_YMIN = ORT_YMAX - ORT_H * ORT_RES
ORT_LAT0, ORT_LON0 = 52.0, 10.0


def _q_reproject(interp: str, crs_id=3035,
                 grid=((26, 36), (4254100.0, 3345300.0), 100.0),
                 qbits="auto"):
    def q(spark, sf_dir):
        """CRS reprojection (UTM 32632 -> target family) of the raster.
        The DuckDB oracle re-derives the full projection chain (LAEA inverse
        per EPSG guidance note 7-2 method 9820, Krueger-series transverse
        Mercator forward) in pure SQL -- an independent value-level check of
        the pandas-UDF transform (reference reproject.py:268-335)."""
        from xcube_resampling_spark.crs import CRS
        from xcube_resampling_spark.dataset import SparkDataset
        from xcube_resampling_spark.gridmapping import GridMapping
        from xcube_resampling_spark.operators.reproject import reproject_dataset
        from xcube_resampling_spark.dataset import Variable

        r = _raster(spark, sf_dir)
        src = SparkDataset(
            spark=spark,
            data_vars={
                "value": Variable("value", r, ("y", "x"), "float64", {})
            },
            coords={
                "x": __import__("numpy").arange(
                    500000.0 + 50.0, 500000.0 + 100.0 * RW, 100.0
                ),
                "y": __import__("numpy").arange(
                    5900000.0 - 50.0, 5900000.0 - 100.0 * RH, -100.0
                ),
            },
            yx_dims=("y", "x"),
        )
        source_gm = GridMapping.from_coords(
            src.coords["x"], src.coords["y"], CRS.from_epsg(32632),
            xy_var_names=("x", "y"), xy_dim_names=("x", "y"),
        )
        target_crs = crs_id() if callable(crs_id) \
            else CRS.from_user_input(crs_id)
        target_gm = GridMapping.regular(
            grid[0], grid[1], grid[2], target_crs
        )
        # bilinear blends amplify ~1e-11 cross-engine transcendental noise
        # into round(value, 6) ties; quantizing the fractional indices to a
        # binary 2**-10 grid makes both engines' blends bit-identical
        # (nearest is tie-robust by the grid's engineered margins already).
        # The production default (exact indices, qbits=None) is pinned to
        # the quantized path by tests/test_reproject.py's driver-scale
        # envelope test.
        q = (10 if interp != "nearest" else None) if qbits == "auto" \
            else qbits
        out = reproject_dataset(src, target_gm, source_gm=source_gm,
                                interp_methods=interp, fill_values=FILL,
                                index_quantization_bits=q)
        return out.data_vars["value"].df.select(
            "t", "j", "i", F.round("value", 6).alias("value")
        )

    return q


q_reproject_raster = _q_reproject("nearest")
q_reproject_webmercator = _q_reproject(
    "nearest", 3857, ((WM_W, WM_H), (WM_XMIN, WM_YMIN), WM_RES)
)
q_reproject_polar_stereo = _q_reproject(
    "nearest", 3413, ((PS_W, PS_H), (PS_XMIN, PS_YMIN), PS_RES)
)
# the LCC leg specifies its CRS as WKT2 text instead of an EPSG code:
# same projection parameters as EPSG:2154, so the values are identical
# and the WKT parse path (wkt.crs_from_wkt) sits under the driver's
# value-level oracle gate
LCC_WKT2 = """PROJCRS["RGF93 v1 / Lambert-93",
 BASEGEOGCRS["RGF93 v1",DATUM["Reseau Geodesique Francais 1993 v1",
  ELLIPSOID["GRS 1980",6378137,298.257222101,LENGTHUNIT["metre",1]]]],
 CONVERSION["Lambert-93",METHOD["Lambert Conic Conformal (2SP)"],
  PARAMETER["Latitude of false origin",46.5],
  PARAMETER["Longitude of false origin",3],
  PARAMETER["Latitude of 1st standard parallel",49],
  PARAMETER["Latitude of 2nd standard parallel",44],
  PARAMETER["Easting at false origin",700000,LENGTHUNIT["metre",1]],
  PARAMETER["Northing at false origin",6600000,LENGTHUNIT["metre",1]]],
 CS[Cartesian,2],AXIS["(E)",east,LENGTHUNIT["metre",1]],
 AXIS["(N)",north,LENGTHUNIT["metre",1]],ID["EPSG",2154]]"""
q_reproject_lcc = _q_reproject(
    "nearest", LCC_WKT2, ((LCC_W, LCC_H), (LCC_XMIN, LCC_YMIN), LCC_RES)
)
q_reproject_albers = _q_reproject(
    "nearest", 5070, ((AEA_W, AEA_H), (AEA_XMIN, AEA_YMIN), AEA_RES)
)
# the sinusoidal leg specifies the MODIS grid as a PROJ string (same
# sphere radius and parameters as the MODIS registry alias), putting
# wkt.crs_from_proj under the oracle gate alongside the WKT leg above
q_reproject_sinu = _q_reproject(
    "nearest", "+proj=sinu +R=6371007.181 +lon_0=0 +x_0=0 +y_0=0",
    ((SINU_W, SINU_H), (SINU_XMIN, SINU_YMIN), SINU_RES),
)
q_reproject_ease2 = _q_reproject(
    "nearest", 6933,
    ((CEA_W, CEA_H), (CEA_XMIN, CEA_YMIN), CEA_RES),
)


def _geos_crs():
    from xcube_resampling_spark.crs import CRS

    return CRS.geostationary(lon_0=GEO_LON0, sweep="x", h=GEO_H_SAT)


q_reproject_geos = _q_reproject(
    "nearest", _geos_crs,
    ((GEO_W, GEO_H), (GEO_XMIN, GEO_YMIN), GEO_RES),
)
def _ortho_crs():
    from xcube_resampling_spark.crs import CRS

    return CRS.orthographic(lat_0=ORT_LAT0, lon_0=ORT_LON0)


q_reproject_ortho = _q_reproject(
    "nearest", _ortho_crs,
    ((ORT_W, ORT_H), (ORT_XMIN, ORT_YMIN), ORT_RES),
)
q_reproject_omerc = _q_reproject(
    "nearest", 29873,
    ((OM_W, OM_H), (OM_XMIN, OM_YMIN), OM_RES),
)
# the Mollweide leg uses the ESRI authority alias, the aeqd leg a +proj
# string with +R -- both input paths sit under the oracle gate
q_reproject_moll = _q_reproject(
    "nearest", "ESRI:54009",
    ((MOLL_W, MOLL_H), (MOLL_XMIN, MOLL_YMIN), MOLL_RES),
)
q_reproject_aeqd = _q_reproject(
    "nearest",
    f"+proj=aeqd +R={AEQ_R} +lat_0={AEQ_LAT0} +lon_0={AEQ_LON0} "
    "+x_0=0 +y_0=0",
    ((AEQ_W, AEQ_H), (AEQ_XMIN, AEQ_YMIN), AEQ_RES),
)
q_reproject_somerc = _q_reproject(
    "nearest", 2056,
    ((SOM_W, SOM_H), (SOM_XMIN, SOM_YMIN), SOM_RES),
)
q_reproject_triangular = _q_reproject("triangular")


def q_reproject_crs_families(spark, sf_dir):
    """Twelve projection families (web mercator, polar stereo north,
    LCC 2SP, Albers 2SP, MODIS sinusoidal, EASE-Grid 2.0 cylindrical
    equal-area, geostationary satellite view, Hotine oblique Mercator
    variant B, Swiss oblique Mercator, orthographic, Mollweide,
    spherical azimuthal equidistant) verified value-level in ONE
    tagged union entry so the
    whole registry stays inside the driver's 50-query correctness
    window (same pattern as coarsen_reducers)."""
    parts = [
        ("webmerc", q_reproject_webmercator),
        ("stere", q_reproject_polar_stereo),
        ("lcc", q_reproject_lcc),
        ("aea", q_reproject_albers),
        ("sinu", q_reproject_sinu),
        ("cea", q_reproject_ease2),
        ("geos", q_reproject_geos),
        ("omerc", q_reproject_omerc),
        ("somerc", q_reproject_somerc),
        ("ortho", q_reproject_ortho),
        ("moll", q_reproject_moll),
        ("aeqd", q_reproject_aeqd),
    ]
    out = None
    for tag, fn in parts:
        df = fn(spark, sf_dir).select(
            F.lit(tag).alias("crs"), "t", "j", "i", "value"
        )
        out = df if out is None else out.unionAll(df)
    return out


def _reproject_families_oracle_sql() -> str:
    """DuckDB twin of q_reproject_crs_families: the five per-family
    oracle derivations unioned with a crs tag column."""
    return "\nUNION ALL\n".join(
        _reproject_oracle_sql("nearest", t, tag=t)
        for t in ("webmerc", "stere", "lcc", "aea", "sinu", "cea",
                  "geos", "omerc", "somerc", "ortho", "moll", "aeqd")
    )


def _reproject_oracle_sql(interp: str, target: str = "laea",
                          tag: str | None = None) -> str:
    """Build the DuckDB twin of the UTM->{LAEA|web-mercator} reprojection.

    Projection constants are derived from the same public formulas as
    crs.py (Krueger 2011 series coefficients, EPSG 9820 LAEA setup, EPSG
    1024 spherical pseudo-Mercator) and embedded as full-precision
    literals; the per-point math is spelled out in SQL with the same
    association order as the numpy code so both engines agree to ~1e-11
    in fractional index space.
    """
    import math

    from xcube_resampling_spark.crs import (
        CRS, _laea_setup, _tm_coeffs,
    )

    laea = CRS.from_epsg(3035)
    utm = CRS.from_epsg(32632)
    # LAEA (EPSG:3035 / GRS80) setup constants
    _, qp, beta0, rq, d = _laea_setup(laea)
    e2 = laea.ellipsoid.e2
    e4, e6 = e2 * e2, e2 * e2 * e2
    c1 = e2 / 3 + 31 * e4 / 180 + 517 * e6 / 5040
    c2 = 23 * e4 / 360 + 251 * e6 / 3780
    c3 = 761 * e6 / 45360
    sb0, cb0 = math.sin(beta0), math.cos(beta0)
    # UTM (WGS84) Krueger forward constants
    ell = utm.ellipsoid
    alpha, _, rect_a = _tm_coeffs(ell.n)
    ka = utm.param("k_0") * (ell.a / (1 + ell.n) * rect_a)
    e = ell.e

    if target == "laea":
        gw, gh = RP_W, RP_H
        gxmin, gymax, gres = RP_XMIN, RP_YMAX, 100.0
    elif target == "stere":
        gw, gh = PS_W, PS_H
        gxmin, gymax, gres = PS_XMIN, PS_YMAX, PS_RES
    elif target == "lcc":
        gw, gh = LCC_W, LCC_H
        gxmin, gymax, gres = LCC_XMIN, LCC_YMAX, LCC_RES
    elif target == "aea":
        gw, gh = AEA_W, AEA_H
        gxmin, gymax, gres = AEA_XMIN, AEA_YMAX, AEA_RES
    elif target == "sinu":
        gw, gh = SINU_W, SINU_H
        gxmin, gymax, gres = SINU_XMIN, SINU_YMAX, SINU_RES
    elif target == "cea":
        gw, gh = CEA_W, CEA_H
        gxmin, gymax, gres = CEA_XMIN, CEA_YMAX, CEA_RES
    elif target == "geos":
        gw, gh = GEO_W, GEO_H
        gxmin, gymax, gres = GEO_XMIN, GEO_YMAX, GEO_RES
    elif target == "omerc":
        gw, gh = OM_W, OM_H
        gxmin, gymax, gres = OM_XMIN, OM_YMAX, OM_RES
    elif target == "somerc":
        gw, gh = SOM_W, SOM_H
        gxmin, gymax, gres = SOM_XMIN, SOM_YMAX, SOM_RES
    elif target == "ortho":
        gw, gh = ORT_W, ORT_H
        gxmin, gymax, gres = ORT_XMIN, ORT_YMAX, ORT_RES
    elif target == "moll":
        gw, gh = MOLL_W, MOLL_H
        gxmin, gymax, gres = MOLL_XMIN, MOLL_YMAX, MOLL_RES
    elif target == "aeqd":
        gw, gh = AEQ_W, AEQ_H
        gxmin, gymax, gres = AEQ_XMIN, AEQ_YMAX, AEQ_RES
    else:  # webmerc
        gw, gh = WM_W, WM_H
        gxmin, gymax, gres = WM_XMIN, WM_YMAX, WM_RES

    def r(v: float) -> str:
        # DuckDB parses long plain-decimal literals as DECIMAL(38) whose
        # products overflow; force binary double semantics
        return f"CAST({v!r} AS DOUBLE)"

    xi_terms = " + ".join(
        f"{r(a)} * sin({2 * k}.0 * xip) * ((exp({2 * k}.0 * etap)"
        f" + exp(-({2 * k}.0 * etap))) / 2.0)"
        for k, a in enumerate(alpha, start=1)
    )
    eta_terms = " + ".join(
        f"{r(a)} * cos({2 * k}.0 * xip) * ((exp({2 * k}.0 * etap)"
        f" - exp(-({2 * k}.0 * etap))) / 2.0)"
        for k, a in enumerate(alpha, start=1)
    )

    if interp == "nearest":
        gather = f"""
g AS (
  SELECT t, j, i,
         CAST(roundbankers(ix, 0) AS INT) AS si,
         CAST(roundbankers(iy, 0) AS INT) AS sj,
         (si >= 0 AND si <= {RW - 1} AND sj >= 0 AND sj <= {RH - 1}) AS in_b
  FROM idx
)
SELECT g.t, g.j, g.i,
       ROUND(CASE WHEN g.in_b THEN COALESCE(s.value, {FILL})
                  ELSE {FILL} END, 6) AS value
FROM g LEFT JOIN src s ON s.t = g.t AND s.j = g.sj AND s.i = g.si
"""
    elif interp == "triangular":
        # same quantized corner reads as bilinear; the two-triangle blend
        # (reference reproject.py:285-314) branches on fx + fy < 1 --
        # exact either way, because quantized fx/fy are dyadic rationals
        gather = f"""
gq AS (
  SELECT t, j, i,
         roundbankers(ix * 1024.0, 0) / 1024.0 AS ix,
         roundbankers(iy * 1024.0, 0) / 1024.0 AS iy
  FROM idx
),
g AS (
  SELECT t, j, i,
         CAST(floor(ix) AS INT) AS i0, CAST(ceil(ix) AS INT) AS i1,
         CAST(floor(iy) AS INT) AS j0, CAST(ceil(iy) AS INT) AS j1,
         ix - floor(ix) AS fx, iy - floor(iy) AS fy
  FROM gq
),
p AS (
  SELECT g.t, g.j, g.i, g.fx, g.fy,
         COALESCE(s00.value, {FILL}) AS v00,
         COALESCE(s01.value, {FILL}) AS v01,
         COALESCE(s10.value, {FILL}) AS v10,
         COALESCE(s11.value, {FILL}) AS v11
  FROM g
  LEFT JOIN src s00 ON s00.t = g.t AND s00.j = g.j0 AND s00.i = g.i0
  LEFT JOIN src s01 ON s01.t = g.t AND s01.j = g.j0 AND s01.i = g.i1
  LEFT JOIN src s10 ON s10.t = g.t AND s10.j = g.j1 AND s10.i = g.i0
  LEFT JOIN src s11 ON s11.t = g.t AND s11.j = g.j1 AND s11.i = g.i1
)
SELECT t, j, i,
       ROUND(CASE WHEN fx + fy < 1.0
                  THEN v00 + fx * (v01 - v00) + fy * (v10 - v00)
                  ELSE v11 + (1.0 - fx) * (v10 - v11)
                       + (1.0 - fy) * (v01 - v11)
             END, 6) AS value
FROM p
"""
    else:  # bilinear
        # binary-grid index quantization: bit-identical twin of
        # reproject_dataset(index_quantization_bits=10) -- power-of-two
        # scaling is IEEE-exact, roundbankers == np.rint/F.bround
        gather = f"""
gq AS (
  SELECT t, j, i,
         roundbankers(ix * 1024.0, 0) / 1024.0 AS ix,
         roundbankers(iy * 1024.0, 0) / 1024.0 AS iy
  FROM idx
),
g AS (
  SELECT t, j, i,
         CAST(floor(ix) AS INT) AS i0, CAST(ceil(ix) AS INT) AS i1,
         CAST(floor(iy) AS INT) AS j0, CAST(ceil(iy) AS INT) AS j1,
         ix - floor(ix) AS fx, iy - floor(iy) AS fy
  FROM gq
),
p AS (
  SELECT g.t, g.j, g.i, g.fx, g.fy,
         COALESCE(s00.value, {FILL}) AS v00,
         COALESCE(s01.value, {FILL}) AS v01,
         COALESCE(s10.value, {FILL}) AS v10,
         COALESCE(s11.value, {FILL}) AS v11
  FROM g
  LEFT JOIN src s00 ON s00.t = g.t AND s00.j = g.j0 AND s00.i = g.i0
  LEFT JOIN src s01 ON s01.t = g.t AND s01.j = g.j0 AND s01.i = g.i1
  LEFT JOIN src s10 ON s10.t = g.t AND s10.j = g.j1 AND s10.i = g.i0
  LEFT JOIN src s11 ON s11.t = g.t AND s11.j = g.j1 AND s11.i = g.i1
)
SELECT t, j, i,
       ROUND((v00 + fx * (v01 - v00))
             + fy * ((v10 + fx * (v11 - v10))
                     - (v00 + fx * (v01 - v00))), 6) AS value
FROM p
"""

    if target == "laea":
        inverse_sql = f"""
-- LAEA (EPSG:3035) inverse: EPSG guidance note 7-2, method 9820
l1 AS (
  SELECT t, j, i,
         (tx - 4321000.0) / {r(d)} AS xr,
         (ty - 3210000.0) * {r(d)} AS yr
  FROM txy
),
l2 AS (SELECT *, sqrt(xr * xr + yr * yr) AS rho FROM l1),
l3 AS (SELECT *, 2.0 * asin(rho / (2.0 * {r(rq)})) AS c FROM l2),
l4 AS (
  SELECT t, j, i,
         asin(cos(c) * {r(sb0)} + (yr * sin(c) * {r(cb0)}) / rho) AS bp,
         atan2(xr * sin(c),
               rho * {r(cb0)} * cos(c) - yr * {r(sb0)} * sin(c)) AS lam
  FROM l3
),
ll AS (
  SELECT t, j, i,
         degrees(lam) + 10.0 AS lon,
         degrees(bp + {r(c1)} * sin(2.0 * bp) + {r(c2)} * sin(4.0 * bp)
                 + {r(c3)} * sin(6.0 * bp)) AS lat
  FROM l4
),"""
    elif target == "stere":
        from xcube_resampling_spark.crs import _stere_setup

        ps = CRS.from_epsg(3413)
        _, rho_factor, _ = _stere_setup(ps)
        pe2 = ps.ellipsoid.e2
        pe4, pe6, pe8 = pe2 * pe2, pe2 ** 3, pe2 ** 4
        sA = r(pe2 / 2 + 5 * pe4 / 24 + pe6 / 12 + 13 * pe8 / 360)
        sB = r(7 * pe4 / 48 + 29 * pe6 / 240 + 811 * pe8 / 11520)
        sC = r(7 * pe6 / 120 + 81 * pe8 / 1120)
        sD = r(4279 * pe8 / 161280)
        inverse_sql = f"""
-- polar stereographic north (EPSG method 9829) inverse: Snyder sec. 21
s1 AS (
  SELECT t, j, i, tx AS xr, ty AS yr,
         sqrt(tx * tx + ty * ty) / {r(rho_factor)} AS tt
  FROM txy
),
s2 AS (
  SELECT t, j, i, xr, yr, PI() / 2 - 2.0 * atan(tt) AS chi FROM s1
),
ll AS (
  SELECT t, j, i,
         -45.0 + degrees(atan2(xr, -yr)) AS lon,
         degrees(chi + {sA} * sin(2.0 * chi) + {sB} * sin(4.0 * chi)
                 + {sC} * sin(6.0 * chi) + {sD} * sin(8.0 * chi)) AS lat
  FROM s2
),"""
    elif target == "aea":
        from xcube_resampling_spark.crs import _aea_setup

        aea = CRS.from_epsg(5070)
        _, an, ac, arho0, aqp = _aea_setup(aea)
        ae2 = aea.ellipsoid.e2
        ae4, ae6 = ae2 * ae2, ae2 ** 3
        aA = r(ae2 / 3 + 31 * ae4 / 180 + 517 * ae6 / 5040)
        aB = r(23 * ae4 / 360 + 251 * ae6 / 3780)
        aC = r(761 * ae6 / 45360)
        a_maj = r(aea.ellipsoid.a)
        inverse_sql = f"""
-- Albers equal-area 2SP (EPSG method 9822) inverse: Snyder sec. 14
a1 AS (
  SELECT t, j, i, tx AS xr, {r(arho0)} - ty AS yr FROM txy
),
a2 AS (
  SELECT t, j, i, xr, yr, sqrt(xr * xr + yr * yr) AS rho FROM a1
),
a3 AS (
  SELECT t, j, i, atan2(xr, yr) AS theta,
         asin((({r(ac)} - (rho * {r(an)} / {a_maj})
                          * (rho * {r(an)} / {a_maj})) / {r(an)})
              / {r(aqp)}) AS beta
  FROM a2
),
ll AS (
  SELECT t, j, i,
         -96.0 + degrees(theta / {r(an)}) AS lon,
         degrees(beta + {aA} * sin(2.0 * beta) + {aB} * sin(4.0 * beta)
                 + {aC} * sin(6.0 * beta)) AS lat
  FROM a3
),"""
    elif target == "lcc":
        from xcube_resampling_spark.crs import _lcc_setup

        lcc = CRS.from_epsg(2154)
        ln, laf, lrho0 = _lcc_setup(lcc)
        le2 = lcc.ellipsoid.e2
        le4, le6, le8 = le2 * le2, le2 ** 3, le2 ** 4
        cA = r(le2 / 2 + 5 * le4 / 24 + le6 / 12 + 13 * le8 / 360)
        cB = r(7 * le4 / 48 + 29 * le6 / 240 + 811 * le8 / 11520)
        cC = r(7 * le6 / 120 + 81 * le8 / 1120)
        cD = r(4279 * le8 / 161280)
        inverse_sql = f"""
-- Lambert Conformal Conic 2SP (EPSG method 9802) inverse: Snyder sec. 15
c1s AS (
  SELECT t, j, i, tx - 700000.0 AS xr,
         {r(lrho0)} - (ty - 6600000.0) AS yr
  FROM txy
),
c2s AS (
  SELECT t, j, i, xr, yr, sqrt(xr * xr + yr * yr) AS rho FROM c1s
),
c3s AS (
  SELECT t, j, i, atan2(xr, yr) AS theta,
         PI() / 2 - 2.0 * atan(pow(rho / {r(laf)}, {r(1.0 / ln)})) AS chi
  FROM c2s
),
ll AS (
  SELECT t, j, i,
         3.0 + degrees(theta / {r(ln)}) AS lon,
         degrees(chi + {cA} * sin(2.0 * chi) + {cB} * sin(4.0 * chi)
                 + {cC} * sin(6.0 * chi) + {cD} * sin(8.0 * chi)) AS lat
  FROM c3s
),"""
    elif target == "cea":
        from xcube_resampling_spark.crs import _cea_setup

        cea = CRS.from_epsg(6933)
        _, ck0, cqp = _cea_setup(cea)
        ce2 = cea.ellipsoid.e2
        ce4, ce6 = ce2 * ce2, ce2 ** 3
        bA = r(ce2 / 3 + 31 * ce4 / 180 + 517 * ce6 / 5040)
        bB = r(23 * ce4 / 360 + 251 * ce6 / 3780)
        bC = r(761 * ce6 / 45360)
        inverse_sql = f"""
-- Lambert cylindrical equal area / EASE-Grid 2.0 (EPSG method 9835)
-- inverse: beta = asin(2 y k0 / (a qp)), then the authalic series
e1s AS (
  SELECT t, j, i, tx, asin(2.0 * ty * {r(ck0)}
         / ({r(cea.ellipsoid.a)} * {r(cqp)})) AS beta
  FROM txy
),
ll AS (
  SELECT t, j, i,
         degrees(tx / ({r(cea.ellipsoid.a)} * {r(ck0)})) AS lon,
         degrees(beta + {bA} * sin(2.0 * beta) + {bB} * sin(4.0 * beta)
                 + {bC} * sin(6.0 * beta)) AS lat
  FROM e1s
),"""
    elif target == "geos":
        from xcube_resampling_spark.crs import _geos_setup

        geo = CRS.geostationary(lon_0=GEO_LON0, sweep="x", h=GEO_H_SAT)
        _, rg1, rg, bigc, rp = _geos_setup(geo)
        rp2 = rp * rp
        ga = r(geo.ellipsoid.a)
        inverse_sql = f"""
-- geostationary view (PROJ geos, sweep x) inverse: scan angles ->
-- view-ray direction -> ray/ellipsoid quadratic -> geocentric ->
-- geodetic latitude
q1 AS (
  SELECT t, j, i, tx / {ga} AS xn, ty / {ga} AS yn FROM txy
),
q2 AS (
  SELECT t, j, i,
         tan(xn / {r(rg1)})
           * sqrt(1.0 + tan(yn / {r(rg1)}) * tan(yn / {r(rg1)})) AS vy,
         tan(yn / {r(rg1)}) AS vz
  FROM q1
),
q3 AS (
  SELECT t, j, i, vy, vz,
         vy * vy + (vz / {r(rp)}) * (vz / {r(rp)}) + 1.0 AS aq
  FROM q2
),
q4 AS (
  SELECT t, j, i, vy, vz,
         ((2.0 * {r(rg)}) - sqrt((2.0 * {r(rg)}) * (2.0 * {r(rg)})
            - 4.0 * aq * {r(bigc)})) / (2.0 * aq) AS k
  FROM q3
),
q5 AS (
  SELECT t, j, i, {r(rg)} - k AS px, k * vy AS py, k * vz AS pz
  FROM q4
),
ll AS (
  SELECT t, j, i,
         {GEO_LON0} + degrees(atan2(py, px)) AS lon,
         degrees(atan(tan(atan(pz * cos(atan2(py, px)) / px))
                      / {r(rp2)})) AS lat
  FROM q5
),"""
    elif target == "omerc":
        import math as _math

        from xcube_resampling_spark.crs import _omerc_setup

        om = CRS.from_epsg(29873)
        (o_a, o_b, o_h, o_g0, o_l0, o_gc, o_uoff) = _omerc_setup(om)
        oe2 = om.ellipsoid.e2
        oe4, oe6, oe8 = oe2 * oe2, oe2 ** 3, oe2 ** 4
        oA = r(oe2 / 2 + 5 * oe4 / 24 + oe6 / 12 + 13 * oe8 / 360)
        oB = r(7 * oe4 / 48 + 29 * oe6 / 240 + 811 * oe8 / 11520)
        oC = r(7 * oe6 / 120 + 81 * oe8 / 1120)
        oD = r(4279 * oe8 / 161280)
        ofe, ofn = om.param("x_0"), om.param("y_0")
        cgc, sgc = _math.cos(o_gc), _math.sin(o_gc)
        cg0, sg0 = _math.cos(o_g0), _math.sin(o_g0)
        uc_term = o_uoff
        inverse_sql = f"""
-- Hotine oblique Mercator variant B (EPSG method 9815) inverse:
-- rectified grid -> aposphere u/v -> conformal latitude series
o1 AS (
  SELECT t, j, i,
         (tx - {r(ofe)}) * {r(cgc)} - (ty - {r(ofn)}) * {r(sgc)} AS av,
         (ty - {r(ofn)}) * {r(cgc)} + (tx - {r(ofe)}) * {r(sgc)}
           + {r(uc_term)} AS au
  FROM txy
),
o2 AS (
  SELECT t, j, i, au,
         exp(-{r(o_b)} * av / {r(o_a)}) AS qq
  FROM o1
),
o3 AS (
  SELECT t, j, i,
         (qq - 1.0 / qq) / 2.0 AS ss,
         (qq + 1.0 / qq) / 2.0 AS tt,
         sin({r(o_b)} * au / {r(o_a)}) AS sv,
         cos({r(o_b)} * au / {r(o_a)}) AS cu
  FROM o2
),
o4 AS (
  SELECT t, j, i, ss, sv, cu,
         (sv * {r(cg0)} + ss * {r(sg0)}) / tt AS bu
  FROM o3
),
o5 AS (
  SELECT t, j, i, ss, sv, cu,
         PI() / 2 - 2.0 * atan(
           pow({r(o_h)} / sqrt((1.0 + bu) / (1.0 - bu)),
               1.0 / {r(o_b)})) AS chi
  FROM o4
),
ll AS (
  SELECT t, j, i,
         degrees({r(o_l0)} - atan2(ss * {r(cg0)} - sv * {r(sg0)}, cu)
                 / {r(o_b)}) AS lon,
         degrees(chi + {oA} * sin(2.0 * chi) + {oB} * sin(4.0 * chi)
                 + {oC} * sin(6.0 * chi) + {oD} * sin(8.0 * chi)) AS lat
  FROM o5
),"""
    elif target == "somerc":
        import math as _math

        from xcube_resampling_spark.crs import _somerc_setup

        sw = CRS.from_epsg(2056)
        s_alpha, s_b0, s_k, s_r = _somerc_setup(sw)
        se = sw.ellipsoid.e
        sfe, sfn = sw.param("x_0"), sw.param("y_0")
        lam0 = _math.radians(sw.param("lon_0"))
        sb0, cb0 = _math.sin(s_b0), _math.cos(s_b0)
        # unrolled fixed point: conformal-sphere latitude b ->
        # ellipsoidal phi (linear convergence factor ~e^2 = 6.7e-3;
        # 8 steps reach machine epsilon, matching the python kernel's
        # 12-step loop bit-for-bit at double precision)
        it = "b"
        steps = ""
        for k in range(8):
            steps += f""",
it{k} AS (
  SELECT t, j, i, elam, ss,
         2.0 * (atan(exp((ss - {r(s_k)}) / {r(s_alpha)}
           + ({r(se)} / 2.0) * ln((1.0 + {r(se)} * sin({it}))
                                  / (1.0 - {r(se)} * sin({it})))))
           - PI() / 4.0) AS phi{k}
  FROM {"w3" if k == 0 else f"it{k - 1}"}
)"""
            it = f"phi{k}"
        inverse_sql = f"""
-- Swiss oblique Mercator (EPSG method 9814, Rosenmund) inverse:
-- Mercator -> pseudo-equator rotation -> conformal sphere ->
-- ellipsoid (unrolled fixed point)
w1 AS (
  SELECT t, j, i,
         (tx - {r(sfe)}) / {r(s_r)} AS lb,
         2.0 * (atan(exp((ty - {r(sfn)}) / {r(s_r)})) - PI() / 4.0)
           AS bb
  FROM txy
),
w2 AS (
  SELECT t, j, i,
         asin(LEAST(GREATEST(
           {r(cb0)} * sin(bb) + {r(sb0)} * cos(bb) * cos(lb),
           -1.0), 1.0)) AS b,
         atan2(cos(bb) * sin(lb),
               {r(cb0)} * cos(bb) * cos(lb) - {r(sb0)} * sin(bb))
           AS elam
  FROM w1
),
w3 AS (
  SELECT t, j, i, elam, b,
         ln(tan(PI() / 4.0 + b / 2.0)) AS ss
  FROM w2
){steps},
ll AS (
  SELECT t, j, i,
         degrees({r(lam0)} + elam / {r(s_alpha)}) AS lon,
         degrees({it}) AS lat
  FROM it7
),"""
    elif target == "ortho":
        import math as _math

        from xcube_resampling_spark.crs import _ortho_setup

        oc = _ortho_crs()
        oell, _, os0, oc0, onu0 = _ortho_setup(oc)
        oa2 = oell.a * oell.a
        ob2 = oa2 * (1.0 - oell.e2)
        o_off = oell.e2 * onu0 * os0 * oc0
        oA = oc0 * oc0 / oa2 + os0 * os0 / ob2
        o_bdiff = 1.0 / ob2 - 1.0 / oa2
        inverse_sql = f"""
-- ellipsoidal orthographic (EPSG method 9840) inverse: exact
-- ray/ellipsoid intersection in the origin's tangent frame
-- (crs.py _ortho_inverse; the e2 offset makes N' = n-hat . P)
o1 AS (
  SELECT t, j, i, tx AS ep, ty - {r(o_off)} AS npp FROM txy
),
o2 AS (
  SELECT t, j, i, ep, npp,
         2.0 * npp * {r(os0)} * {r(oc0)} * {r(o_bdiff)} AS bq,
         ((npp * {r(os0)}) * (npp * {r(os0)}) + ep * ep) / {r(oa2)}
           + (npp * {r(oc0)}) * (npp * {r(oc0)}) / {r(ob2)} - 1.0 AS cq
  FROM o1
),
o3 AS (
  SELECT t, j, i, ep, npp,
         (-bq + sqrt(bq * bq - 4.0 * {r(oA)} * cq)) / (2.0 * {r(oA)})
           AS w
  FROM o2
),
o4 AS (
  SELECT t, j, i,
         w * {r(oc0)} - npp * {r(os0)} AS gx,
         ep AS gy,
         w * {r(os0)} + npp * {r(oc0)} AS gz
  FROM o3
),
ll AS (
  SELECT t, j, i,
         {r(ORT_LON0)} + degrees(atan2(gy, gx)) AS lon,
         degrees(atan2(gz, {r(1.0 - oell.e2)} * sqrt(gx * gx + gy * gy)))
           AS lat
  FROM o4
),"""
    elif target == "moll":
        ma = r(6378137.0)
        msq2 = r(math.sqrt(2.0))
        inverse_sql = f"""
-- Mollweide (ESRI:54009, Snyder sec. 31) inverse: closed form --
-- theta from y, then phi from the defining equation and lam from x
m1 AS (
  SELECT t, j, i, tx AS xr, asin(ty / ({ma} * {msq2})) AS th FROM txy
),
ll AS (
  SELECT t, j, i,
         degrees(PI() * xr / (2.0 * {ma} * {msq2} * cos(th))) AS lon,
         degrees(asin((2.0 * th + sin(2.0 * th)) / PI())) AS lat
  FROM m1
),"""
    elif target == "aeqd":
        ar = r(AEQ_R)
        as0 = r(math.sin(math.radians(AEQ_LAT0)))
        ac0 = r(math.cos(math.radians(AEQ_LAT0)))
        inverse_sql = f"""
-- spherical azimuthal equidistant (Snyder sec. 25) inverse:
-- c = rho / R, then the generic oblique-azimuthal phi/lam forms
a1 AS (
  SELECT t, j, i, tx AS xr, ty AS yr,
         sqrt(tx * tx + ty * ty) AS rho
  FROM txy
),
a2 AS (SELECT *, rho / {ar} AS c FROM a1),
ll AS (
  SELECT t, j, i,
         {r(AEQ_LON0)} + degrees(atan2(
           xr * sin(c),
           rho * {ac0} * cos(c) - yr * {as0} * sin(c))) AS lon,
         degrees(asin(cos(c) * {as0}
                      + yr * sin(c) * {ac0} / rho)) AS lat
  FROM a2
),"""
    elif target == "sinu":
        rr = r(SINU_R)
        inverse_sql = f"""
-- spherical sinusoidal (EPSG method 9835, MODIS sphere) inverse:
-- phi = y / R, lam = x / (R cos phi)
ll AS (
  SELECT t, j, i,
         degrees(tx / ({rr} * cos(ty / {rr}))) AS lon,
         degrees(ty / {rr}) AS lat
  FROM txy
),"""
    else:
        a_sph = r(ell.a)
        inverse_sql = f"""
-- spherical pseudo-Mercator (EPSG method 1024) inverse
ll AS (
  SELECT t, j, i,
         degrees((tx - 0.0) / {a_sph}) + 0.0 AS lon,
         degrees(PI() / 2 - 2.0 * atan(exp((-(ty - 0.0)) / {a_sph})))
           AS lat
  FROM txy
),"""

    tag_col = f"SELECT '{tag}' AS crs, * FROM (" if tag else ""
    tag_end = ") tagged" if tag else ""
    return f"""
{tag_col}
WITH src AS ({RASTER_SQL}),
grid AS (
  SELECT CAST(0 AS INT) AS t,
         CAST(id // {gw} AS INT) AS j, CAST(id % {gw} AS INT) AS i
  FROM (SELECT range AS id FROM range({gw * gh}))
),
txy AS (
  SELECT t, j, i,
         CAST({gxmin} AS DOUBLE) + (i + 0.5) * CAST({gres} AS DOUBLE) AS tx,
         CAST({gymax} AS DOUBLE) - (j + 0.5) * CAST({gres} AS DOUBLE) AS ty
  FROM grid
),
{inverse_sql}
-- transverse Mercator (UTM 32N) forward: Krueger series, order n^6
tm1 AS (
  SELECT t, j, i, radians(lat) AS phi, radians(lon - 9.0) AS lam0
  FROM ll
),
tm2 AS (
  SELECT t, j, i, atan2(sin(lam0), cos(lam0)) AS lam, sin(phi) AS s
  FROM tm1
),
tm3 AS (
  SELECT t, j, i, lam,
         0.5 * ln((1.0 + s) / (1.0 - s))
         - {r(e)} * (0.5 * ln((1.0 + {r(e)} * s) / (1.0 - {r(e)} * s))) AS u
  FROM tm2
),
tm4 AS (
  SELECT t, j, i, lam, (exp(u) - exp(-u)) / 2.0 AS tt FROM tm3
),
tm5 AS (
  SELECT t, j, i, tt, lam,
         sin(lam) / sqrt(tt * tt + cos(lam) * cos(lam)) AS v
  FROM tm4
),
tm6 AS (
  SELECT t, j, i,
         atan2(tt, cos(lam)) AS xip,
         ln(v + sqrt(v * v + 1.0)) AS etap
  FROM tm5
),
tm7 AS (
  SELECT t, j, i,
         xip + {xi_terms} AS xi,
         etap + {eta_terms} AS eta
  FROM tm6
),
sxy AS (
  SELECT t, j, i,
         500000.0 + {r(ka)} * eta AS sx,
         {r(ka)} * xi AS sy
  FROM tm7
),
idx AS (
  SELECT t, j, i,
         (sx - 500050.0) / 100.0 AS ix,
         (sy - 5899950.0) / -100.0 AS iy
  FROM sxy
),
{gather}
{tag_end}
"""


# ------------------------------------------------------------------ #
# text / dedup / similarity / streaming-batch operators


def q_text_stats(spark, sf_dir):
    from xcube_resampling_spark.extensions.text import text_stats

    return text_stats(_docs(spark, sf_dir))


_STOPS_SQL = "['" + "', '".join(
    w for w in __import__(
        "xcube_resampling_spark.extensions.text", fromlist=["EN_STOPWORDS"]
    ).EN_STOPWORDS
) + "']"

SQL_TEXT_STATS = f"""
WITH base AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
         CAST(length(text) AS DOUBLE) AS n_chars
  FROM documents
),
c AS (
  SELECT doc_id, text, n_chars,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(
           text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)
           AS n_bpe_tokens,
         CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
           AS n_punct,
         CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS DOUBLE)
           AS n_alpha,
         CAST(len(list_filter(toks,
           t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE) AS n_stop
  FROM base
)
SELECT doc_id, n_tokens, n_bpe_tokens,
       ROUND(n_chars / n_tokens, 6) AS mean_token_len,
       ROUND(n_punct / n_chars, 6) AS punct_ratio,
       ROUND(n_alpha / n_chars, 6) AS alpha_ratio,
       ROUND(n_stop / n_tokens, 6) AS stop_hit_ratio,
       ((LEAST(n_tokens, 100) * 40000
         + CAST(ROUND(n_alpha * 1000000 / n_chars) AS BIGINT) * 3
         + CAST(ROUND(n_stop * 1000000 / n_tokens) AS BIGINT) * 2
         + CASE WHEN CAST(ROUND(n_punct * 1000000 / n_chars) AS BIGINT)
                     < 200000
                THEN 1000000 ELSE 0 END
         + 5) // 10) / 1000000.0 AS quality_score
FROM c
"""


def q_language_id(spark, sf_dir):
    from xcube_resampling_spark.extensions.text import language_id

    return language_id(_docs(spark, sf_dir))


def _lang_markers_sql():
    from xcube_resampling_spark.extensions.text import LANG_MARKERS

    parts = []
    for lang, words in sorted(LANG_MARKERS.items()):
        arr = "['" + "', '".join(words) + "']"
        parts.append(
            f"SELECT doc_id, lang, '{lang}' AS cand, "
            f"CAST(len(list_intersect(toks, {arr})) AS INT) AS score "
            f"FROM base"
        )
    return " UNION ALL ".join(parts)


SQL_LANGUAGE_ID = f"""
WITH base AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
scores AS ({_lang_markers_sql()}),
ranked AS (
  SELECT doc_id, lang, cand, score,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score DESC, cand ASC
         ) AS rn
  FROM scores
)
SELECT doc_id, lang AS lang_true, cand AS lang_pred,
       CAST(score AS BIGINT) AS marker_hits
FROM ranked WHERE rn = 1
"""

def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction (extensions/pii.py) -- the standard
    pre-training scrub stage (C4/Dolma/FineWeb all run one).  The
    corpus is augmented with deterministic synthetic PII (email +
    phone + IPv4 derived from doc_id, so every row has known-true
    hits on any scale factor), then per-kind ``regexp_count`` stats
    and a typed-placeholder ``regexp_replace`` rewrite -- all
    whole-stage codegen, zero UDFs, zero shuffles: a pure map over
    the corpus scan at any scale.  The DuckDB twin is generated from
    the same PII_PATTERNS dict so the engines can never drift."""
    from xcube_resampling_spark.extensions.pii import (
        pii_stats,
        redact_pii,
    )

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 300).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-202-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 end."),
        ).alias("text"),
    )
    return pii_stats(d).join(redact_pii(d), "doc_id").select(
        "doc_id", "n_email", "n_cc16", "n_ssn", "n_phone", "n_ipv4",
        "n_pii", "redacted",
    )


def _pii_sql():
    from xcube_resampling_spark.extensions.pii import PII_PATTERNS

    counts = ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) "
        f"AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    repl = "text"
    for k, p in PII_PATTERNS.items():
        repl = f"regexp_replace({repl}, '{p}', '[{k.upper()}]', 'g')"
    return f"""
WITH d AS (
  SELECT doc_id,
         text || ' Contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-202-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.7 end.' AS text
  FROM documents WHERE doc_id < 300
),
s AS (SELECT doc_id, {counts}, {repl} AS redacted FROM d)
SELECT doc_id, n_email, n_cc16, n_ssn, n_phone, n_ipv4,
       CAST({total} AS BIGINT) AS n_pii, redacted
FROM s
"""


_SHINGLES_SQL = """
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(len(toks) - 2 AS BIGINT)),
           x -> array_to_string(list_slice(toks, x + 1, x + 3), ' ')
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM {src}
  ) WHERE len(toks) >= 3
"""

_H32 = "CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)"

SQL_FINGERPRINT = f"""
WITH sh AS ({_SHINGLES_SQL.format(src="documents")}),
hashed AS (SELECT DISTINCT doc_id, {_H32} AS h FROM sh),
fp AS (
  SELECT 'fp' AS tag, doc_id, MIN(h) AS v1, MAX(h) AS v2,
         CAST(COUNT(*) AS BIGINT) AS v3
  FROM hashed GROUP BY doc_id
),
bench AS (SELECT DISTINCT h FROM hashed WHERE doc_id % 19 = 3),
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
  FROM hashed GROUP BY doc_id
),
hits AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM hashed JOIN bench USING (h) GROUP BY doc_id
),
dec AS (
  SELECT 'decon' AS tag, hits.doc_id, n_hits AS v1, n_sh AS v2,
         (10000 * n_hits) // n_sh AS v3
  FROM hits JOIN sizes ON hits.doc_id = sizes.doc_id
  WHERE n_hits >= 2
)
SELECT * FROM fp UNION ALL SELECT * FROM dec
"""


def q_doc_fingerprint(spark, sf_dir):
    """Tagged union: 'fp' = rolling-hash fingerprints of every document;
    'decon' = benchmark decontamination hits, where the benchmark corpus
    is the deterministic doc_id % 19 == 3 slice of the same table (a
    leaked-test-set scenario: those docs and their near-duplicates get
    flagged with distinct-shingle hit counts and basis-point fractions).
    """
    from xcube_resampling_spark.extensions.dedup import decontaminate
    from xcube_resampling_spark.extensions.text import doc_fingerprint

    docs = _docs(spark, sf_dir)
    fp = doc_fingerprint(docs).select(
        F.lit("fp").alias("tag"), "doc_id",
        F.col("fp_min").cast("bigint").alias("v1"),
        F.col("fp_max").cast("bigint").alias("v2"),
        F.col("n_shingles").cast("bigint").alias("v3"),
    )
    bench = docs.filter(F.col("doc_id") % 19 == 3)
    dec = decontaminate(docs, bench, min_hits=2).select(
        F.lit("decon").alias("tag"), "doc_id",
        F.col("n_hits").cast("bigint").alias("v1"),
        F.col("n_shingles").cast("bigint").alias("v2"),
        F.col("hit_bp").cast("bigint").alias("v3"),
    )
    return fp.unionByName(dec)


def q_dedup_paragraph(spark, sf_dir):
    """Paragraph-level exact dedup (extensions/dedup.py::dedup_paragraph,
    the C4/Dolma scrub shape).  The corpus has single-line documents, so
    the query synthesizes two-paragraph docs by pairing each document's
    text with the text of doc (doc_id + 7) mod n: every original text
    then appears as paragraph 0 of one doc AND paragraph 1 of another,
    giving known-true cross-document paragraph duplicates with a
    non-trivial first-occurrence structure."""
    from xcube_resampling_spark.extensions.dedup import dedup_paragraph

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    n = docs.count()
    second = docs.select(
        ((F.col("doc_id") + 7) % n).alias("doc_id"),
        F.col("text").alias("text2"),
    )
    synth = docs.join(second, "doc_id").select(
        "doc_id", F.concat_ws("\n", "text", "text2").alias("text")
    )
    return dedup_paragraph(synth, sep="\n")


SQL_DEDUP_PARAGRAPH = """
WITH synth AS (
  SELECT a.doc_id, a.text || chr(10) || b.text AS text
  FROM documents a
  JOIN documents b
    ON a.doc_id = (b.doc_id + 7) % (SELECT COUNT(*) FROM documents)
), paras AS (
  SELECT doc_id,
         CAST(unnest(range(0, CAST(len(ps) AS BIGINT))) AS INT) AS pos,
         unnest(ps) AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM synth)
), np AS (
  SELECT * FROM paras WHERE length(trim(para)) > 0
), first AS (
  -- lexicographic (doc_id, pos) min, encoded scalar (pos < 1e6 here)
  SELECT md5(para) AS ph, MIN(doc_id * 1000000 + pos) AS f
  FROM np GROUP BY md5(para)
), kept AS (
  SELECT np.doc_id, np.pos, np.para,
         (np.doc_id * 1000000 + np.pos = f.f) AS keep
  FROM np JOIN first f ON f.ph = md5(np.para)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_para,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CASE WHEN SUM(CASE WHEN keep THEN 1 ELSE 0 END) > 0 THEN
         md5(string_agg(CASE WHEN keep THEN para END, chr(10)
                        ORDER BY pos))
       END AS clean_hash
FROM kept GROUP BY doc_id
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (extensions/packing.py) --
    'span' rows are the (doc x sequence) overlap plan at seq_len=64,
    'stat' rows the per-sequence packing summary.  The Spark side uses
    the two-phase range-partitioned prefix sum (no global sort); the
    oracle's plain ORDER BY window is the semantic twin.

    'bpe_tok' / 'bpe_span' legs run the REAL tokenizer (extensions/
    bpe.py, Sennrich BPE with the pinned 40-rule merge table): bpe_tok
    value-checks every document's full token sequence (count + hash32
    of the joined tokens), bpe_span re-packs at seq_len=64 using BPE
    token counts through pack_sequences(n_tokens_col=...) -- the
    whitespace-count seam the packing docstring flags, now closed.

    The 'assemble' leg materializes the actual training sequences from
    the plan (packing.assemble_sequences): every sequence's full token
    stream is value-checked by count + hash32 of the joined tokens.

    The 'shards' leg runs the FULL sharded training-output writer
    (packing.write_token_shards / read_token_shards): vocab-encode,
    write binary .bin/.idx shard files through the ChunkPut seam,
    read them back, and value-check per shard the sequence count, the
    sum of decoded token ids, the token count, and the manifest byte
    size."""
    from xcube_resampling_spark.extensions.bpe import (
        bpe_token_count_col,
        bpe_tokenize,
        pinned_merges,
    )
    from xcube_resampling_spark.extensions.packing import (
        assemble_sequences,
        pack_sequences,
        packing_stats,
        shuffle_shards,
    )
    from xcube_resampling_spark.extensions.text import (
        hash32,
        tokens_col,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    plan = pack_sequences(docs, seq_len=64, n_buckets=16)
    spans = plan.select(
        F.lit("span").alias("tag"), F.col("doc_id").alias("id"),
        F.col("seq_id").alias("k"), F.col("doc_off").alias("v1"),
        F.col("seq_off").alias("v2"), F.col("n_tok").alias("v3"),
    )
    stats = packing_stats(docs, seq_len=64, spans=plan).select(
        F.lit("stat").alias("tag"), F.col("seq_id").alias("id"),
        F.col("n_docs").cast("bigint").alias("k"),
        F.col("n_continuations").alias("v1"),
        F.col("n_tok").alias("v2"),
        F.expr("n_tok * 1000000 DIV 64").alias("v3"),
    )
    shards = shuffle_shards(plan, n_shards=4, seed="sh").select(
        F.lit("shard").alias("tag"), F.col("seq_id").alias("id"),
        F.col("shard").cast("bigint").alias("k"),
        F.col("pos").alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
        F.lit(0).cast("bigint").alias("v3"),
    )
    merges = pinned_merges(40)
    bpe_tok = bpe_tokenize(docs, merges, method="sql").select(
        F.lit("bpe_tok").alias("tag"), F.col("doc_id").alias("id"),
        F.col("n_tokens").alias("k"),
        hash32(F.array_join("tokens", " ")).alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
        F.lit(0).cast("bigint").alias("v3"),
    )
    bplan = pack_sequences(
        docs, seq_len=64,
        n_tokens_col=bpe_token_count_col(merges), n_buckets=16,
    )
    bpe_span = bplan.select(
        F.lit("bpe_span").alias("tag"), F.col("doc_id").alias("id"),
        F.col("seq_id").alias("k"), F.col("doc_off").alias("v1"),
        F.col("seq_off").alias("v2"), F.col("n_tok").alias("v3"),
    )
    tok_df = docs.select(
        "doc_id",
        F.filter(
            tokens_col(F.col("text")), lambda t: t != F.lit("")
        ).alias("tokens"),
    )
    seq_df = assemble_sequences(tok_df, plan)
    asm = seq_df.select(
        F.lit("assemble").alias("tag"), F.col("seq_id").alias("id"),
        F.col("n_tok").alias("k"),
        hash32(F.array_join("tokens", " ")).alias("v1"),
        F.lit(0).cast("bigint").alias("v2"),
        F.lit(0).cast("bigint").alias("v3"),
    )
    # 'shards' leg: the FULL writer loop -- vocab-encode, write the
    # binary .bin/.idx shard files through the ChunkPut seam, read
    # them BACK, and value-check per shard: k = sequences decoded,
    # v1 = sum of decoded token ids (validates vocab mapping + byte
    # layout), v2 = tokens decoded, v3 = manifest byte size
    import tempfile

    from xcube_resampling_spark.extensions.packing import (
        build_token_vocab,
        read_token_shards,
        write_token_shards,
    )
    from xcube_resampling_spark.sources.zarr import FsChunkPut

    shard_plan = shuffle_shards(plan, n_shards=4, seed="sh")
    vocab = build_token_vocab(seq_df)
    put = FsChunkPut(tempfile.mkdtemp(prefix="xrs_shards_"))
    man_rows = write_token_shards(
        seq_df, shard_plan, put, vocab=vocab, dtype="uint32"
    ).collect()  # materializes the writes; 4 manifest rows
    man_df = spark.createDataFrame(
        [(int(r["shard"]), int(r["nbytes"])) for r in man_rows],
        schema="shard int, nbytes bigint",
    )
    back = read_token_shards(spark, put, n_shards=4).select(
        "shard",
        F.size("tokens").cast("bigint").alias("n_tok"),
        F.aggregate(
            F.col("tokens"), F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("id_sum"),
    )
    shard_files = (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("id_sum").alias("v1"),
            F.sum("n_tok").alias("v2"),
        )
        .join(F.broadcast(man_df), "shard")
        .select(
            F.lit("shards").alias("tag"),
            F.col("shard").cast("bigint").alias("id"),
            "k", "v1", "v2",
            F.col("nbytes").alias("v3"),
        )
    )
    return (
        spans.unionByName(stats).unionByName(shards)
        .unionByName(bpe_tok).unionByName(bpe_span)
        .unionByName(asm).unionByName(shard_files)
    )


def _pack_sequences_sql() -> str:
    from xcube_resampling_spark.extensions.bpe import (
        merges_sql,
        pinned_merges,
    )
    from xcube_resampling_spark.extensions.text import hash32_sql

    SHARD_HASH = hash32_sql(
        "'shard|sh|' || 'v' || CAST(seq_id AS VARCHAR)")
    BPE_CHAIN = merges_sql("w", pinned_merges(40))
    TOK_HASH = hash32_sql("array_to_string(toks, ' ')")
    return f"""
WITH c AS (
  -- non-empty split fields only (split keeps empty edge fields)
  SELECT doc_id,
         CAST(len(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           x -> x != '')) AS BIGINT) AS n_tok
  FROM documents
), placed AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS strt
  FROM c WHERE n_tok > 0
), spans AS (
  SELECT doc_id, n_tok, strt,
         CAST(unnest(range(strt // 64, (strt + n_tok - 1) // 64 + 1))
              AS BIGINT) AS seq_id
  FROM placed
), seg AS (
  SELECT doc_id, seq_id,
         GREATEST(strt, seq_id * 64) - strt AS doc_off,
         GREATEST(strt, seq_id * 64) - seq_id * 64 AS seq_off,
         LEAST(strt + n_tok, (seq_id + 1) * 64)
           - GREATEST(strt, seq_id * 64) AS n_tok
  FROM spans
), tw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)),
                     '\\s+'), x -> x != '') AS toks
  FROM documents
), asm_str AS (
  SELECT seq_id, flatten(list(piece ORDER BY seq_off)) AS toks
  FROM (
    SELECT s.seq_id, s.seq_off,
           list_slice(tw.toks, s.doc_off + 1,
                      s.doc_off + s.n_tok) AS piece
    FROM seg s JOIN tw ON tw.doc_id = s.doc_id
  ) GROUP BY seq_id
), shrd AS (
  SELECT seq_id, hx % 4 AS shard,
         row_number() OVER (
           PARTITION BY hx % 4 ORDER BY hx ASC, seq_id ASC) AS pos
  FROM (SELECT DISTINCT seq_id, {SHARD_HASH} AS hx FROM seg)
), vid AS (
  -- build_token_vocab twin: id by count desc, tok asc, 0-based
  SELECT tok, CAST(row_number() OVER (ORDER BY n DESC, tok ASC) - 1
                   AS BIGINT) AS tok_id
  FROM (SELECT tok, COUNT(*) AS n
        FROM (SELECT unnest(toks) AS tok FROM asm_str) GROUP BY tok)
), seq_ids AS (
  SELECT seq_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(tok_id) AS BIGINT) AS id_sum
  FROM (SELECT seq_id, unnest(toks) AS tok FROM asm_str) st
  JOIN vid USING (tok)
  GROUP BY seq_id
)
SELECT 'span' AS tag, doc_id AS id, seq_id AS k,
       CAST(doc_off AS BIGINT) AS v1, CAST(seq_off AS BIGINT) AS v2,
       CAST(n_tok AS BIGINT) AS v3
FROM seg
UNION ALL
SELECT 'stat' AS tag, seq_id AS id, CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN doc_off > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS v1,
       CAST(SUM(n_tok) AS BIGINT) AS v2,
       CAST(SUM(n_tok) * 1000000 // 64 AS BIGINT) AS v3
FROM seg GROUP BY seq_id
UNION ALL
SELECT 'shard' AS tag, seq_id AS id, CAST(shard AS BIGINT) AS k,
       CAST(pos AS BIGINT) AS v1,
       CAST(0 AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
FROM shrd
UNION ALL
SELECT 'bpe_tok' AS tag, doc_id AS id,
       CAST(len(toks) AS BIGINT) AS k,
       {TOK_HASH} AS v1,
       CAST(0 AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
FROM (
  SELECT doc_id,
         flatten(list_transform(
           list_filter(regexp_split_to_array(trim(lower(text)),
                       '\\s+'), x -> x != ''),
           w -> string_split(trim({BPE_CHAIN}, ' '), '  ')
         )) AS toks
  FROM documents
)
UNION ALL
SELECT 'assemble' AS tag, seq_id AS id,
       CAST(len(toks) AS BIGINT) AS k,
       {TOK_HASH} AS v1,
       CAST(0 AS BIGINT) AS v2, CAST(0 AS BIGINT) AS v3
FROM asm_str
UNION ALL
SELECT 'shards' AS tag, CAST(sh.shard AS BIGINT) AS id,
       CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(si.id_sum) AS BIGINT) AS v1,
       CAST(SUM(si.n_tok) AS BIGINT) AS v2,
       -- nbytes of shard-k.bin + .idx: uint32 ids + 24-byte header
       -- + 12 bytes (seq_id u64 + len u32) per sequence
       CAST(4 * SUM(si.n_tok) + 24 + 12 * COUNT(*) AS BIGINT) AS v3
FROM shrd sh JOIN seq_ids si USING (seq_id)
GROUP BY sh.shard
UNION ALL
SELECT 'bpe_span' AS tag, doc_id AS id, seq_id AS k,
       CAST(doc_off AS BIGINT) AS v1, CAST(seq_off AS BIGINT) AS v2,
       CAST(n_tok AS BIGINT) AS v3
FROM (
  SELECT doc_id, seq_id,
         GREATEST(strt, seq_id * 64) - strt AS doc_off,
         GREATEST(strt, seq_id * 64) - seq_id * 64 AS seq_off,
         LEAST(strt + n_tok, (seq_id + 1) * 64)
           - GREATEST(strt, seq_id * 64) AS n_tok
  FROM (
    SELECT doc_id, n_tok, strt,
           CAST(unnest(range(strt // 64, (strt + n_tok - 1) // 64 + 1))
                AS BIGINT) AS seq_id
    FROM (
      SELECT doc_id, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS strt
      FROM (
        SELECT doc_id,
               CAST(len(flatten(list_transform(
                 list_filter(regexp_split_to_array(trim(lower(text)),
                             '\\s+'), x -> x != ''),
                 w -> string_split(trim({BPE_CHAIN}, ' '), '  ')
               ))) AS BIGINT) AS n_tok
        FROM documents
      ) WHERE n_tok > 0
    )
  )
)
"""


def q_quality_classifier(spark, sf_dir):
    """fastText-shape quality scoring (extensions/classifier.py
    ::linear_score): binary hashed-linear model over unigram + bigram
    features, weights in integer micro-units so the margin sum and the
    hard label are exact bigint arithmetic on both engines.  Uses the
    pinned deterministic weight table (dim=256, bias=-50000); prob is
    intentionally excluded from the oracle columns (sigmoid's exp is
    the one op whose last ulp may differ between JVM and DuckDB)."""
    from xcube_resampling_spark.extensions.classifier import (
        linear_score,
        pinned_weights,
    )

    docs = _docs(spark, sf_dir)
    return linear_score(
        docs, pinned_weights(256), bias_micro=-50000
    ).select("doc_id", "n_feats", "sum_micro", "label")


def _quality_classifier_sql() -> str:
    from xcube_resampling_spark.extensions.classifier import (
        pinned_weights,
    )

    wl = "[" + ", ".join(str(w) for w in pinned_weights(256)) + "]"
    bias = -50000
    return f"""
WITH ws AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     t -> t != '') AS w
  FROM documents
),
feats AS (
  SELECT doc_id,
         list_concat(w, list_transform(
           range(1, greatest(len(w) - 1, 0) + 1),
           i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS fs
  FROM ws
),
scored AS (
  SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_feats,
    CAST(COALESCE(list_sum(list_transform(fs,
      t -> ({wl})[(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                   % 256) + 1])), 0) AS BIGINT) AS sum_micro
  FROM feats
)
SELECT doc_id, n_feats, sum_micro,
  CAST(CASE WHEN n_feats > 0
            THEN CASE WHEN n_feats * ({bias}) + sum_micro > 0
                      THEN 1 ELSE 0 END
            ELSE CASE WHEN {bias} > 0 THEN 1 ELSE 0 END
       END AS INT) AS label
FROM scored
"""


def q_lm_quality(spark, sf_dir):
    """LM perplexity quality scores (the CCNet filter shape), tagged
    union of both corpus-fitted models:

    * ``uni``: unigram (extensions/text.py::unigram_logprob).
    * ``bi``: bigram with additive-smoothed unigram backoff
      (text.py::bigram_logprob) -- sees word order, one step toward
      CCNet's KenLM 5-gram.
    * ``tri``: trigram with recursive additive backoff through the
      bigram and unigram (text.py::trigram_logprob).

    Per-token log-probs round to integer micro-nats before the
    per-document sum, so the reduction is an exact bigint in both
    engines regardless of summation order."""
    from xcube_resampling_spark.extensions.text import (
        bigram_logprob,
        trigram_logprob,
        unigram_logprob,
    )

    docs = _docs(spark, sf_dir)
    uni = unigram_logprob(docs).select(
        F.lit("uni").alias("leg"), "doc_id", "n_tokens", "nll_micro")
    bi = bigram_logprob(docs).select(
        F.lit("bi").alias("leg"), "doc_id", "n_tokens", "nll_micro")
    tri = trigram_logprob(docs).select(
        F.lit("tri").alias("leg"), "doc_id", "n_tokens", "nll_micro")
    return uni.unionByName(bi).unionByName(tri)


SQL_LM_QUALITY = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\\s+'),
           x -> x != '')) AS tok
  FROM documents
), model AS (
  SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok
), consts AS (
  SELECT CAST(SUM(tf) AS DOUBLE) + 0.5 * (COUNT(*) + 1.0) AS denom
  FROM model
), lp AS (
  SELECT tok,
         CAST(ROUND(ln((tf + 0.5) / (SELECT denom FROM consts))
                    * 1000000) AS BIGINT) AS lpm
  FROM model
),
t2 AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS ws
  FROM documents
), pr AS (
  SELECT doc_id,
         CASE WHEN i > 0 THEN ws[i] END AS prev,
         ws[i + 1] AS tok
  FROM (
    SELECT doc_id,
           CAST(unnest(range(0, CAST(len(ws) AS BIGINT))) AS INT) AS i,
           ws
    FROM t2
  )
), big AS (
  SELECT prev, tok, COUNT(*) AS c2 FROM pr
  WHERE prev IS NOT NULL GROUP BY prev, tok
), ctx AS (
  SELECT prev, COUNT(*) AS cctx FROM pr
  WHERE prev IS NOT NULL GROUP BY prev
), sc AS (
  SELECT pr.doc_id,
         CAST(ROUND(CASE WHEN pr.prev IS NULL
           THEN ln((COALESCE(u.tf, 0) + 0.5)
                   / (SELECT denom FROM consts))
           ELSE ln((COALESCE(b.c2, 0)
                    + 0.5 * ((COALESCE(u.tf, 0) + 0.5)
                             / (SELECT denom FROM consts)))
                   / (COALESCE(c.cctx, 0) + 0.5))
           END * 1000000) AS BIGINT) AS lpm
  FROM pr
  LEFT JOIN model u ON u.tok = pr.tok
  LEFT JOIN big b ON b.prev = pr.prev AND b.tok = pr.tok
  LEFT JOIN ctx c ON c.prev = pr.prev
), pr3 AS (
  SELECT doc_id,
         CASE WHEN i > 1 THEN ws[i - 1] END AS prev2,
         CASE WHEN i > 0 THEN ws[i] END AS prev,
         ws[i + 1] AS tok
  FROM (
    SELECT doc_id,
           CAST(unnest(range(0, CAST(len(ws) AS BIGINT))) AS INT) AS i,
           ws
    FROM t2
  )
), tri AS (
  SELECT prev2, prev, tok, COUNT(*) AS c3 FROM pr3
  WHERE prev2 IS NOT NULL GROUP BY prev2, prev, tok
), ctx2 AS (
  SELECT prev2, prev, COUNT(*) AS cctx2 FROM pr3
  WHERE prev2 IS NOT NULL GROUP BY prev2, prev
), sc3 AS (
  SELECT pr3.doc_id,
         CAST(ROUND(CASE
           WHEN pr3.prev IS NULL
           THEN ln((COALESCE(u.tf, 0) + 0.5)
                   / (SELECT denom FROM consts))
           WHEN pr3.prev2 IS NULL
           THEN ln((COALESCE(b.c2, 0)
                    + 0.5 * ((COALESCE(u.tf, 0) + 0.5)
                             / (SELECT denom FROM consts)))
                   / (COALESCE(c.cctx, 0) + 0.5))
           ELSE ln((COALESCE(tr.c3, 0)
                    + 0.5 * ((COALESCE(b.c2, 0)
                              + 0.5 * ((COALESCE(u.tf, 0) + 0.5)
                                       / (SELECT denom FROM consts)))
                             / (COALESCE(c.cctx, 0) + 0.5)))
                   / (COALESCE(x2.cctx2, 0) + 0.5))
           END * 1000000) AS BIGINT) AS lpm
  FROM pr3
  LEFT JOIN model u ON u.tok = pr3.tok
  LEFT JOIN big b ON b.prev = pr3.prev AND b.tok = pr3.tok
  LEFT JOIN ctx c ON c.prev = pr3.prev
  LEFT JOIN tri tr ON tr.prev2 = pr3.prev2 AND tr.prev = pr3.prev
                  AND tr.tok = pr3.tok
  LEFT JOIN ctx2 x2 ON x2.prev2 = pr3.prev2 AND x2.prev = pr3.prev
)
SELECT 'uni' AS leg, t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(-SUM(lp.lpm) AS BIGINT) AS nll_micro
FROM toks t JOIN lp ON lp.tok = t.tok
GROUP BY t.doc_id
UNION ALL
SELECT 'bi' AS leg, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(-SUM(lpm) AS BIGINT) AS nll_micro
FROM sc GROUP BY doc_id
UNION ALL
SELECT 'tri' AS leg, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(-SUM(lpm) AS BIGINT) AS nll_micro
FROM sc3 GROUP BY doc_id
"""


def q_dedup_substring(spark, sf_dir):
    """Exact-substring dedup spans (extensions/dedup.py::
    dedup_substring_spans, the Lee et al. 2021 shape), two legs:

    * ``corpus``: the doc+clone corpus at k=8 -- every clone is fully
      covered by duplicated 8-token windows, organic repeats contribute
      partial spans.
    * ``runs``: degenerate self-overlapping repeats at k=2 -- each doc
      is its own first token repeated 10 times, so every window after
      pos 0 duplicates window 0.  The cut span must start at 2 (not 1):
      the kept first copy survives intact (the r6 caveat, now fixed by
      the clamp in dedup_substring_spans).

    All integer token positions, so the oracle comparison is exact."""
    from xcube_resampling_spark.extensions.dedup import (
        dedup_substring_spans,
    )
    from xcube_resampling_spark.extensions.text import tokens_col

    corpus = dedup_substring_spans(_docs2(spark, sf_dir), k=8).select(
        F.lit("corpus").alias("leg"), "doc_id", "span_start", "span_end",
    )
    runs_src = _docs(spark, sf_dir).filter(F.col("doc_id") < 5).select(
        "doc_id",
        F.array_join(
            F.array_repeat(
                F.element_at(
                    F.filter(
                        tokens_col(F.col("text")),
                        lambda t: t != F.lit(""),
                    ),
                    1,
                ),
                10,
            ),
            " ",
        ).alias("text"),
    )
    runs = dedup_substring_spans(runs_src, k=2).select(
        F.lit("runs").alias("leg"), "doc_id", "span_start", "span_end",
    )
    return corpus.unionByName(runs)


def _substring_spans_sql(src_sql: str, k: int) -> str:
    """DuckDB twin of dedup_substring_spans(src, k) -- k-gram hash
    occurrence table, global-first selection via the doc_id*1e6+pos
    lexicographic encoding, same-doc self-overlap clamp, doc-bounded
    span merge."""
    return f"""
WITH d2 AS ({src_sql}),
t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)),
                     '\\s+'), x -> x != '') AS toks
  FROM d2
), g AS (
  SELECT doc_id,
     CAST(unnest(range(0, CAST(len(toks) - {k - 1} AS BIGINT))) AS INT)
       AS pos,
     unnest(list_transform(
       range(0, CAST(len(toks) - {k - 1} AS BIGINT)),
       i -> md5(array_to_string(
         list_slice(toks, CAST(i + 1 AS BIGINT),
                    CAST(i + {k} AS BIGINT)), ' ')))) AS gh
  FROM t WHERE len(toks) >= {k}
), firsts AS (
  SELECT gh, MIN(doc_id * 1000000 + pos) AS f, COUNT(*) AS cnt
  FROM g GROUP BY gh
), cuts AS (
  SELECT g.doc_id,
     CASE WHEN g.doc_id = fs.f // 1000000
               AND g.pos < fs.f % 1000000 + {k}
          THEN CAST(fs.f % 1000000 + {k} AS INT)
          ELSE g.pos END AS pos,
     g.pos + {k} AS e
  FROM g JOIN firsts fs ON fs.gh = g.gh
  WHERE fs.cnt > 1 AND g.doc_id * 1000000 + g.pos <> fs.f
), marked AS (
  SELECT doc_id, pos, e,
     CASE WHEN pos > COALESCE(MAX(e) OVER (
       PARTITION BY doc_id ORDER BY pos
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
     THEN 1 ELSE 0 END AS brk
  FROM cuts
), grps AS (
  SELECT doc_id, pos, e, SUM(brk) OVER (
    PARTITION BY doc_id ORDER BY pos
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM marked
)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(e) AS BIGINT) AS span_end
FROM grps GROUP BY doc_id, grp
"""


_RUNS_SRC_SQL = """
  SELECT doc_id,
         trim(repeat(
           list_filter(regexp_split_to_array(trim(lower(text)),
                       '\\s+'), x -> x != '')[1] || ' ', 10)) AS text
  FROM documents WHERE doc_id < 5
"""

SQL_DEDUP_SUBSTRING = (
    "SELECT 'corpus' AS leg, q.* FROM ("
    + _substring_spans_sql(DOCS2_SQL, 8) + ") q\nUNION ALL\n"
    "SELECT 'runs' AS leg, q.* FROM ("
    + _substring_spans_sql(_RUNS_SRC_SQL, 2) + ") q"
)


def q_dedup_exact(spark, sf_dir):
    from xcube_resampling_spark.extensions.dedup import dedup_exact

    return dedup_exact(_docs2(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH d2 AS ({DOCS2_SQL})
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM d2 GROUP BY md5(text) HAVING COUNT(*) > 1
"""

_SHINGLE_HASHES_SQL = f"""
  SELECT DISTINCT doc_id, {_H32} AS h
  FROM ({_SHINGLES_SQL.format(src="d2")})
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    from xcube_resampling_spark.extensions.dedup import dedup_ngram_jaccard

    return dedup_ngram_jaccard(_docs2(spark, sf_dir), threshold=0.5)


SQL_DEDUP_JACCARD = f"""
WITH d2 AS ({DOCS2_SQL}),
sh AS ({_SHINGLE_HASHES_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       ROUND(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    from xcube_resampling_spark.extensions.dedup import dedup_minhash_lsh

    return dedup_minhash_lsh(_docs2(spark, sf_dir), threshold=0.5)


def q_dedup_components(spark, sf_dir):
    """Pairs -> clusters: connected components (iterative min-label
    propagation, dedup.py dup_components) over the MinHash near-duplicate
    pairs.  The DuckDB oracle recomputes the same pairs and resolves the
    components with a recursive CTE -- an independent fixpoint formulation
    of the same graph closure."""
    from xcube_resampling_spark.extensions.dedup import (
        dedup_minhash_lsh,
        dup_components,
    )

    pairs = dedup_minhash_lsh(_docs2(spark, sf_dir), threshold=0.5)
    return dup_components(pairs).select("node", "component")


def _minhash_perm_sql():
    from xcube_resampling_spark.extensions.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_PERM,
    )

    rows = ", ".join(
        f"({p}, {MINHASH_A[p]}, {MINHASH_B[p]})" for p in range(NUM_PERM)
    )
    return rows, MINHASH_P


_PERM_ROWS, _P = _minhash_perm_sql()

SQL_DEDUP_MINHASH = f"""
WITH d2 AS ({DOCS2_SQL}),
sh AS ({_SHINGLE_HASHES_SQL}),
perms(perm, a, b) AS (VALUES {_PERM_ROWS}),
sig AS (
  SELECT sh.doc_id, perms.perm,
         MIN((perms.a * sh.h + perms.b) % {_P}) AS minhash
  FROM sh CROSS JOIN perms
  GROUP BY sh.doc_id, perms.perm
),
bands AS (
  SELECT doc_id, CAST(perm // 4 AS INT) AS band,
         md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm))
           AS band_key
  FROM sig GROUP BY doc_id, CAST(perm // 4 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       ROUND(n_common / (za.n + zb.n - n_common), 6) AS jaccard
FROM common
JOIN sizes za ON za.doc_id = id_a
JOIN sizes zb ON zb.doc_id = id_b
WHERE ROUND(n_common / (za.n + zb.n - n_common), 6) >= 0.5
"""


# components oracle: same pairs, closure via recursive CTE (independent
# fixpoint formulation of the min-reachable-id semantics)
SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, lab) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node, MIN(lab) AS component FROM reach GROUP BY node
"""


def q_dedup_pipeline(spark, sf_dir):
    """End-to-end training-data dedup pipeline: MinHash near-dup pairs ->
    connected components -> drop every non-keeper (node != component min)
    -> per-kept-corpus stats.  One composed lazy plan plus the bounded
    label-propagation loop; the oracle recomputes the whole chain in SQL
    (recursive CTE for the closure)."""
    from xcube_resampling_spark.extensions.dedup import (
        dedup_minhash_lsh,
        dup_components,
    )

    docs = _docs2(spark, sf_dir)
    pairs = dedup_minhash_lsh(docs, threshold=0.5)
    comp = dup_components(pairs)
    # docs that appear in no pair are trivially keepers (left anti on the
    # non-keeper set keeps them without a components row)
    non_keepers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(non_keepers, "doc_id", "left_anti")
    return kept.agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SQL_DEDUP_PIPELINE = f"""
WITH RECURSIVE pairs AS ({SQL_DEDUP_MINHASH}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach(node, lab) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
),
d2 AS ({DOCS2_SQL}),
kept AS (
  SELECT d2.* FROM d2
  LEFT JOIN comp ON comp.node = d2.doc_id AND comp.node != comp.component
  WHERE comp.node IS NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM kept
"""


def q_dedup_simhash(spark, sf_dir):
    from xcube_resampling_spark.extensions.dedup import dedup_simhash

    return dedup_simhash(_docs2(spark, sf_dir), max_hamming=3)


def _simhash_bits_sql():
    terms = []
    for w, base in (("h_lo", 0), ("h_hi", 32)):
        for b in range(32):
            terms.append(
                f"SUM(CASE WHEN ({w} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                f" AS b{base + b}"
            )
    return ", ".join(terms)


def _simhash_recombine_sql(base):
    return " + ".join(
        f"CASE WHEN b{base + b} > 0 THEN {2 ** b} ELSE 0 END"
        for b in range(32)
    )


SQL_DEDUP_SIMHASH = f"""
WITH d2 AS ({DOCS2_SQL}),
toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM d2
),
hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h_lo,
         CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS h_hi
  FROM toks
),
agg AS (
  SELECT doc_id, {_simhash_bits_sql()} FROM hashed GROUP BY doc_id
),
sim AS (
  SELECT doc_id,
         CAST({_simhash_recombine_sql(0)} AS BIGINT) AS sh_lo,
         CAST({_simhash_recombine_sql(32)} AS BIGINT) AS sh_hi
  FROM agg
),
bands AS (
  SELECT doc_id, sh_lo, sh_hi, 0 AS band, sh_lo & 65535 AS key FROM sim
  UNION ALL
  SELECT doc_id, sh_lo, sh_hi, 1, (sh_lo >> 16) & 65535 FROM sim
  UNION ALL
  SELECT doc_id, sh_lo, sh_hi, 2, sh_hi & 65535 FROM sim
  UNION ALL
  SELECT doc_id, sh_lo, sh_hi, 3, (sh_hi >> 16) & 65535 FROM sim
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh_lo AS lo_a, a.sh_hi AS hi_a,
         b.sh_lo AS lo_b, b.sh_hi AS hi_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS INT)
         AS hamming
FROM cand
WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 3
"""


def q_dedup_embedding_cosine(spark, sf_dir):
    """Tagged union of the two exact-cosine dedup strategies:

    * ``exact``: brute-force all-pairs cosine >= 0.35 (the tiny-input
      cross-check; the LSH entry is the scale path).
    * ``semantic``: SemDeDup cluster-then-verify (dedup.semantic_dedup:
      8 k-means centroids, 2 distributed Lloyd iterations, exact cosine
      ONLY within a cluster) -- the DuckDB twin unrolls the Lloyd
      iterations with the same generated CTEs the knn_ivf kmeans leg
      uses, then self-joins within cent_id, so the full train->assign->
      pair pipeline is value-level verified.
    """
    from xcube_resampling_spark.extensions.dedup import (
        dedup_embedding_cosine,
        semantic_dedup,
    )

    emb = _spread(spark, _table(spark, sf_dir, "embeddings"))
    ex = dedup_embedding_cosine(emb, threshold=0.35).select(
        F.lit("exact").alias("variant"),
        F.lit(None).cast("long").alias("cluster"),
        "id_a", "id_b", "cosine",
    )
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    sm = semantic_dedup(
        emb_d, num_clusters=8, threshold=0.35, iterations=2
    ).select(
        F.lit("semantic").alias("variant"),
        F.col("cluster").cast("long").alias("cluster"),
        "id_a", "id_b", "cosine",
    )
    return ex.unionByName(sm)


_EMB_D = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _semantic_dedup_sql() -> str:
    """DuckDB twin of the q_dedup_embedding_cosine union."""
    return f"""
WITH e AS (
  SELECT vec_id, {_EMB_D} AS v,
         sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nrm
  FROM embeddings
),
sd0 AS (
  SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 8
),
{_lloyd_iter_cte('sd0', 'sd1', 'sdi1')},
{_lloyd_iter_cte('sd1', 'sd2', 'sdi2')},
{_lloyd_assign_cte('sd2', 'sdf')},
en AS (
  SELECT a.cent_id, a.vec_id, a.v,
         sqrt(list_dot_product(a.v, a.v)) AS nrm
  FROM a_sdf a
)
SELECT 'exact' AS variant, CAST(NULL AS BIGINT) AS cluster,
       a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35
UNION ALL
SELECT 'semantic' AS variant, a.cent_id AS cluster,
       a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
FROM en a JOIN en b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35
"""


def q_dedup_embedding_cosine_lsh(spark, sf_dir):
    from xcube_resampling_spark.extensions.dedup import (
        dedup_embedding_cosine_lsh,
    )

    return dedup_embedding_cosine_lsh(
        _spread(spark, _table(spark, sf_dir, "embeddings")), threshold=0.35
    )


def _sql_dedup_emb_lsh():
    """DuckDB twin of the sign-LSH bucketing: identical +-1 hyperplanes
    (exact integer-parity construction), identical band keys, identical
    exact-cosine verify -- bit-deterministic both sides."""
    from xcube_resampling_spark.extensions.dedup import (
        HYP_BANDS, HYP_ROWS, hyperplane_sign,
    )

    dim = 64
    band_selects = []
    for band in range(HYP_BANDS):
        bits = []
        for r in range(HYP_ROWS):
            hyp = ", ".join(
                repr(hyperplane_sign((band * HYP_ROWS + r) * dim + d))
                for d in range(dim)
            )
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{hyp}]) >= 0 "
                f"THEN 1 ELSE 0 END) * {2 ** r}"
            )
        band_selects.append(
            f"SELECT vec_id, {band} AS band, {' + '.join(bits)} AS key FROM e"
        )
    bands_sql = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH e AS (
  SELECT vec_id, {_EMB_D} AS v,
         sqrt(list_dot_product({_EMB_D}, {_EMB_D})) AS nrm
  FROM embeddings
),
bands AS (
{bands_sql}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) AS cosine
FROM cand c
JOIN e ea ON ea.vec_id = c.id_a
JOIN e eb ON eb.vec_id = c.id_b
WHERE ROUND(list_dot_product(ea.v, eb.v) / (ea.nrm * eb.nrm), 6) >= 0.35
"""


def q_knn_brute_force(spark, sf_dir):
    from xcube_resampling_spark.extensions.similarity import (
        _dot,
        _norm,
    )

    emb = _spread(spark, _table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            _dot(F.col("embedding"), F.col("q_emb"))
            / (_norm(F.col("embedding")) * _norm(F.col("q_emb"))),
            6,
        ).alias("cosine"),
    )
    return (
        scored.filter(F.col("vec_id") != 0)
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
    )


SQL_KNN = f"""
WITH q AS (SELECT {_EMB_D} AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         ROUND(list_dot_product({_EMB_D}, q.qv)
               / (sqrt(list_dot_product({_EMB_D}, {_EMB_D}))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, cosine FROM scored WHERE vec_id != 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def q_knn_ivf(spark, sf_dir):
    """IVF ANN, tagged union of both index constructions:

    * ``seed``: centroids = the 10 lowest vec_ids (the deterministic
      default).
    * ``kmeans``: centroids trained by 2 distributed Lloyd iterations
      (extensions/similarity.py:93) — the oracle twin unrolls both
      iterations plus the final assignment as generated CTEs, so the
      trained index is value-level-verified end-to-end (r4 advice #5).
    * ``pq``: product-quantization ADC top-10 (pq_train/pq_encode/
      pq_topk; 4 subspaces x 8 codes, 2 Lloyd iterations each) — the
      twin re-generates the Lloyd CTEs per subspace slice.  ``score``
      is the cosine for the IVF variants, the ADC L2 distance for pq.
    """
    from xcube_resampling_spark.extensions.similarity import (
        ivf_topk,
        kmeans_centroids,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _spread(spark, _table(spark, sf_dir, "embeddings"))
    query = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    seed = ivf_topk(
        emb, query, k=10, num_centroids=10, nprobe=2, exclude_vec_id=0
    )
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    trained = kmeans_centroids(emb_d, num_centroids=10, iterations=2)
    km = ivf_topk(
        emb_d, query, k=10, num_centroids=10, nprobe=2, exclude_vec_id=0,
        centroids=trained,
    )
    books = pq_train(emb_d, m=4, ksub=8, iterations=2)
    codes = pq_encode(emb_d, books)
    pq = pq_topk(
        codes.filter(F.col("vec_id") != 0), books, query, k=10
    )
    return seed.select(
        F.lit("seed").alias("variant"), "vec_id",
        F.col("cosine").alias("score"),
    ).unionByName(
        km.select(
            F.lit("kmeans").alias("variant"), "vec_id",
            F.col("cosine").alias("score"),
        )
    ).unionByName(
        pq.select(
            F.lit("pq").alias("variant"), "vec_id",
            F.col("adc_dist").alias("score"),
        )
    )


def _lloyd_assign_cte(prev: str, tag: str, src: str = "e") -> str:
    """Nearest-centroid assignment CTE (cosine argmax, lowest cent_id on
    ties) against centroid table ``prev`` — twin of
    extensions/similarity.py:62 ``assign_centroids``."""
    return f"""a_{tag} AS (
  SELECT vec_id, cent_id, v FROM (
    SELECT e.vec_id, c.cent_id, e.v,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cent_id ASC) AS rn
    FROM {src} e CROSS JOIN {prev} c) WHERE rn = 1
)"""


def _lloyd_iter_cte(prev: str, cur: str, tag: str, src: str = "e") -> str:
    """One Lloyd iteration: assignment + positional mean; empty clusters
    keep their previous centroid — twin of similarity.py:93
    ``kmeans_centroids``'s loop body."""
    return f"""{_lloyd_assign_cte(prev, tag, src)},
m_{tag} AS (
  SELECT cent_id, pos, avg(val) AS m
  FROM (SELECT cent_id, unnest(v) AS val,
               generate_subscripts(v, 1) AS pos FROM a_{tag})
  GROUP BY cent_id, pos
),
n_{tag} AS (
  SELECT cent_id, list(m ORDER BY pos) AS cv FROM m_{tag} GROUP BY cent_id
),
{cur} AS (
  SELECT p.cent_id, COALESCE(n.cv, p.cv) AS cv
  FROM {prev} p LEFT JOIN n_{tag} n USING (cent_id)
)"""


_L2 = ("list_sum(list_transform(list_zip({a}, {b}),"
       " z -> (z[1] - z[2]) * (z[1] - z[2])))")


def _pq_sql(m: int, ksub: int, dim: int) -> str:
    """CTE block for the PQ variant (twin of similarity.py pq_train /
    pq_encode / pq_topk at m subspaces, ksub codes, 2 Lloyd iterations
    per subspace): per-subspace slices train with the same generated
    Lloyd CTEs (cosine assignment, as kmeans_centroids does), codes are
    re-keyed densely by seed id, vectors encode by L2 argmin, and the
    asymmetric distance is the sum of per-subspace query-to-centroid
    L2 entries — all over the shared ``e`` / ``q`` CTEs."""
    sd = dim // m
    parts = []
    for s in range(m):
        lo, hi = s * sd + 1, (s + 1) * sd
        d2 = _L2.format(a="t.v", b="c.cv")
        qd = _L2.format(a=f"list_slice(q.qv, {lo}, {hi})", b="c.cv")
        parts.append(f"""e_{s} AS (
  SELECT vec_id, list_slice(v, {lo}, {hi}) AS v FROM e
),
cs0_{s} AS (
  SELECT vec_id AS cent_id, v AS cv FROM e_{s} ORDER BY vec_id
  LIMIT {ksub}
),
{_lloyd_iter_cte(f'cs0_{s}', f'cs1_{s}', f's{s}i1', f'e_{s}')},
{_lloyd_iter_cte(f'cs1_{s}', f'cs2_{s}', f's{s}i2', f'e_{s}')},
cb_{s} AS (
  SELECT CAST(row_number() OVER (ORDER BY cent_id) - 1 AS INT) AS code,
         cv
  FROM cs2_{s}
),
enc_{s} AS (
  SELECT vec_id, code FROM (
    SELECT t.vec_id, c.code,
           row_number() OVER (
             PARTITION BY t.vec_id
             ORDER BY {d2} ASC, c.code ASC) AS rn
    FROM e_{s} t CROSS JOIN cb_{s} c) WHERE rn = 1
),
lut_{s} AS (
  SELECT c.code, {qd} AS qd FROM cb_{s} c CROSS JOIN q
)""")
    joins = "\n  ".join(
        f"JOIN enc_{s} x{s} USING (vec_id)\n  "
        f"JOIN lut_{s} l{s} ON l{s}.code = x{s}.code"
        for s in range(1, m)
    )
    adc = "l0.qd"
    for s in range(1, m):
        adc = f"({adc} + l{s}.qd)"
    return ",\n".join(parts) + f""",
pq_scored AS (
  SELECT x0.vec_id, ROUND({adc}, 6) AS score
  FROM enc_0 x0
  JOIN lut_0 l0 ON l0.code = x0.code
  {joins}
  WHERE x0.vec_id != 0
)"""


def _ivf_probe_sql(cent_table: str, assign_table: str, variant: str) -> str:
    """Probe-and-score tail shared by the two IVF variants."""
    return f"""
  SELECT '{variant}' AS variant, vec_id, cosine AS score FROM (
    WITH probes_{variant} AS (
      SELECT c.cent_id FROM {cent_table} c CROSS JOIN q
      ORDER BY list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv))
                  * sqrt(list_dot_product(q.qv, q.qv))) DESC,
               c.cent_id ASC
      LIMIT 2
    ),
    bucket_{variant} AS (
      SELECT a.vec_id, a.v FROM {assign_table} a
      JOIN probes_{variant} p USING (cent_id)
    )
    SELECT b.vec_id,
           ROUND(list_dot_product(b.v, q.qv)
                 / (sqrt(list_dot_product(b.v, b.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
    FROM bucket_{variant} b CROSS JOIN q
    WHERE b.vec_id != 0
    ORDER BY cosine DESC, vec_id ASC LIMIT 10
  )"""


# seed variant: centroids = 10 lowest vec_ids; kmeans variant: 2 unrolled
# Lloyd iterations (deterministic seeding => bit-stable across engines at
# 6-dp rounding) + a final assignment, mirroring ivf_topk(centroids=
# kmeans_centroids(...)); pq variant: product-quantization ADC top-10
# (4 subspaces x 8 codes, each subspace trained with the same Lloyd CTEs).
SQL_KNN_IVF = f"""
WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
q AS (SELECT {_EMB_D} AS qv FROM embeddings WHERE vec_id = 0),
c_0 AS (SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 10),
{_lloyd_assign_cte('c_0', 'seed')},
{_lloyd_iter_cte('c_0', 'c_1', 'i1')},
{_lloyd_iter_cte('c_1', 'c_2', 'i2')},
{_lloyd_assign_cte('c_2', 'fin')},
{_pq_sql(4, 8, 64)}
{_ivf_probe_sql('c_0', 'a_seed', 'seed')}
UNION ALL
{_ivf_probe_sql('c_2', 'a_fin', 'kmeans')}
UNION ALL
SELECT 'pq' AS variant, vec_id, score FROM (
  SELECT vec_id, score FROM pq_scored
  ORDER BY score ASC, vec_id ASC LIMIT 10
)
"""


def q_windowed_event_stats(spark, sf_dir):
    ev = _table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("win.start").cast("long").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


SQL_WINDOWED = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
         AS win_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(value), 4) AS sum_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
"""


def q_sessionize(spark, sf_dir):
    from xcube_resampling_spark.streaming.windows import sessionize

    ev = _table(spark, sf_dir, "events")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "user_id",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


SQL_SESSIONIZE = """
WITH o AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS UNBOUNDED PRECEDING
         ) AS session_id
  FROM o
)
SELECT CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
       CAST(FLOOR(epoch(MAX(ts) + INTERVAL '30 minutes')) AS BIGINT)
         AS session_end,
       user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(ROUND(SUM(value), 6), 4) AS sum_value
FROM s GROUP BY user_id, session_id
"""


def q_stream_first_event(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState): first
    event per user across micro-batches, state = one boolean per key.  The
    query materializes the stream through a single-batch availableNow run
    (one input file -> deterministic winner = global (ts, event_id) min),
    so the result has an exact SQL twin (row_number window)."""
    import tempfile

    from xcube_resampling_spark.streaming.stateful import first_event_per_key

    ev = _table(spark, sf_dir, "events").filter(
        F.col("event_id") < 20000
    ).select("event_id", "ts", "user_id", "event_type", "value")
    src = tempfile.gettempdir() + "/xcrs_stream_first_event"
    ev.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    ).parquet(src)
    out = first_event_per_key(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("xcrs_first_event")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(300)
    finally:
        q.stop()
    return spark.table("xcrs_first_event").select(
        "user_id",
        F.unix_micros("first_ts").alias("first_ts_us"),
        "first_event_id",
        F.round("first_value", 6).alias("first_value"),
    )


SQL_STREAM_FIRST_EVENT = """
WITH e AS (
  SELECT user_id, ts, event_id, value,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS rn
  FROM events WHERE event_id < 20000
)
SELECT user_id,
       CAST(epoch_ns(ts) // 1000 AS BIGINT) AS first_ts_us,
       event_id AS first_event_id,
       ROUND(value, 6) AS first_value
FROM e WHERE rn = 1
"""


_MEDIA_N = 50


def _media(spark, sf_dir):
    """Media table derived from the documents parquet: payload = UTF-8 text
    bytes (the corpus is pure ASCII, so DuckDB's character functions see
    the same bytes), kind/width/n_frames derived from doc_id.  Gives the
    multimodal operators a value-level oracle on real stored data."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < _MEDIA_N)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    is_img = F.col("doc_id") % 3 == 0
    is_aud = F.col("doc_id") % 3 == 1
    is_vid = F.col("doc_id") % 3 == 2
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.when(is_img, (F.lit(4) + (F.col("doc_id") % 9) / 3).cast("int"))
        .alias("width"),
        F.when(is_img, F.lit(4)).cast("int").alias("height"),
        F.when(is_aud, F.lit(16000)).cast("int").alias("sample_rate"),
        F.when(is_vid, F.lit(6)).cast("int").alias("n_frames"),
    )


_MEDIA_DOCS_SQL = f"""
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id < {_MEDIA_N}
"""


def q_multimodal_features(spark, sf_dir):
    """Arrow-batched binary feature extraction (decode stubbed -- see
    extensions/multimodal.py).  Media payloads are documents text bytes, so
    the byte histogram/mean/entropy have an exact DuckDB twin."""
    from xcube_resampling_spark.extensions.multimodal import (
        extract_features,
    )

    media = _media(spark, sf_dir)
    return extract_features(media).select(
        "media_id", "n_bytes", F.round("byte_mean", 6).alias("byte_mean"),
        F.round("byte_entropy", 6).alias("byte_entropy"),
    )


SQL_MULTIMODAL_FEATURES = f"""
WITH m AS ({_MEDIA_DOCS_SQL}),
b AS (
  SELECT media_id, ascii(substr(text, CAST(k AS INT), 1)) AS code
  FROM (
    SELECT media_id, text,
           unnest(generate_series(1, length(text))) AS k
    FROM m
  )
),
c AS (
  SELECT media_id, code, CAST(count(*) AS DOUBLE) AS cnt
  FROM b GROUP BY media_id, code
),
tot AS (
  SELECT media_id, CAST(length(text) AS BIGINT) AS n_bytes FROM m
)
SELECT tot.media_id, tot.n_bytes,
       ROUND(SUM(c.code * c.cnt) / tot.n_bytes, 6) AS byte_mean,
       ROUND(-SUM((c.cnt / tot.n_bytes) * log2(c.cnt / tot.n_bytes)), 6)
         AS byte_entropy
FROM tot JOIN c ON c.media_id = tot.media_id
GROUP BY tot.media_id, tot.n_bytes
"""


def _raster_dataset(spark, sf_dir):
    """SparkDataset wrapper of the synthetic raster on a regular geographic
    grid (x: 0..25, y: 0..40, res 1, j axis down)."""
    import numpy as np

    from xcube_resampling_spark.dataset import SparkDataset, Variable

    r = _raster(spark, sf_dir)
    return SparkDataset(
        spark=spark,
        data_vars={
            "value": Variable("value", r, ("lat", "lon"), "float64", {})
        },
        coords={
            "lon": np.arange(0.5, RW, 1.0),
            "lat": np.arange(RH - 0.5, 0.0, -1.0),
        },
        yx_dims=("lat", "lon"),
    )


def q_resample_dispatch_affine(spark, sf_dir):
    """resample_in_space dispatcher: regular source + same-CRS target
    routes to the affine path (reference spatial.py:147-157).  The target
    grid is the source shifted by (+5.5, -3.5) pixels, so the result equals
    the direct affine-shift query and shares its oracle."""
    import numpy as np

    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.operators.spatial import resample_in_space

    ds = _raster_dataset(spark, sf_dir)
    source_gm = GridMapping.from_coords(
        np.arange(0.5, RW, 1.0), np.arange(RH - 0.5, 0.0, -1.0),
        CRS_WGS84, xy_var_names=("lon", "lat"), xy_dim_names=("lon", "lat"),
    )
    target_gm = GridMapping.regular(
        (RW, RH), (5.5, 3.5), 1.0, CRS_WGS84
    )
    out = resample_in_space(
        ds, target_gm, source_gm=source_gm,
        interp_methods="nearest", fill_values=FILL,
    )
    return out.data_vars["value"].df.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


def q_resample_identity(spark, sf_dir):
    """Dispatcher identity elimination: target is_close(source) -> the input
    DataFrame is returned untouched (reference spatial.py:144-145) -- the
    cheapest possible plan, a bare scan."""
    import numpy as np

    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.operators.spatial import resample_in_space

    ds = _raster_dataset(spark, sf_dir)
    source_gm = GridMapping.from_coords(
        np.arange(0.5, RW, 1.0), np.arange(RH - 0.5, 0.0, -1.0),
        CRS_WGS84, xy_var_names=("lon", "lat"), xy_dim_names=("lon", "lat"),
    )
    target_gm = GridMapping.regular((RW, RH), (0.0, 0.0), 1.0, CRS_WGS84)
    out = resample_in_space(ds, target_gm, source_gm=source_gm)
    return out.data_vars["value"].df.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


SQL_IDENTITY = f"""
WITH src AS ({RASTER_SQL})
SELECT t, j, i, ROUND(value, 6) AS value FROM src
"""


def q_resample_dispatch(spark, sf_dir):
    """Tagged union over the resample_in_space dispatcher's two pure
    routing outcomes (reference spatial.py:144-157): 'affine' = regular
    source + same-CRS shifted target routes to the affine path;
    'identity' = target is_close(source) returns the input untouched
    (a bare scan).  One registry slot for both (the rectify/reproject
    routes have their own query families)."""
    a = q_resample_dispatch_affine(spark, sf_dir)
    b = q_resample_identity(spark, sf_dir)
    return a.select(
        F.lit("affine").alias("leg"), "t", "j", "i", "value"
    ).unionByName(
        b.select(F.lit("identity").alias("leg"), "t", "j", "i", "value")
    )


def q_multimodal_resize(spark, sf_dir):
    """Image resize over documents-derived payloads; output exploded to
    one row per output byte so every pixel value is oracle-checked (the
    fake decode tiles payload bytes, which DuckDB replicates with
    character indexing over the ASCII text)."""
    from xcube_resampling_spark.extensions.multimodal import resize_images

    out_w, out_h = 8, 6
    n_out = out_w * out_h * 3
    out = resize_images(_media(spark, sf_dir), out_w, out_h)
    hexed = out.select(
        "media_id", "width", "height", F.hex("pixels").alias("hx")
    )
    return hexed.select(
        "media_id", "width", "height",
        F.explode(F.sequence(F.lit(0), F.lit(n_out - 1))).alias("pos"),
        "hx",
    ).select(
        "media_id", "width", "height", "pos",
        F.conv(
            F.substring(F.col("hx"), F.col("pos") * 2 + 1, 2), 16, 10
        ).cast("int").alias("byte"),
    )


SQL_MULTIMODAL_RESIZE = f"""
WITH m AS (
  SELECT doc_id AS media_id, text,
         CAST(4 + (doc_id % 9) // 3 AS INT) AS w, 4 AS h
  FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 0
),
p AS (
  SELECT media_id, text, w, h, CAST(k AS INT) AS pos
  FROM m, generate_series(0, 143) t(k)
)
SELECT media_id, CAST(8 AS INT) AS width, CAST(6 AS INT) AS height, pos,
       ascii(substr(text,
         CAST((((pos // 24) * h // 6 * w + ((pos // 3) % 8) * w // 8) * 3
               + pos % 3) % length(text) AS INT) + 1,
         1)) AS byte
FROM p
"""


def q_multimodal_frames(spark, sf_dir):
    """Video frame sampling fan-out (mapInPandas); frames are byte slices
    of the documents text payload, md5-checked against DuckDB substr."""
    from xcube_resampling_spark.extensions.multimodal import sample_frames

    out = sample_frames(_media(spark, sf_dir), every_nth=2)
    return out.select(
        "media_id", "frame_idx",
        F.length("frame").alias("n_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


SQL_MULTIMODAL_FRAMES = f"""
WITH m AS (
  SELECT doc_id AS media_id, text
  FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
),
f AS (
  SELECT media_id, text, CAST(k AS INT) AS frame_idx,
         greatest(1, length(text) // 6) AS per
  FROM m, (SELECT unnest([0, 2, 4]) AS k) t
)
SELECT media_id, frame_idx,
       CAST(length(substr(text, frame_idx * per + 1, CAST(per AS INT)))
            AS INT) AS n_bytes,
       md5(substr(text, frame_idx * per + 1, CAST(per AS INT))) AS frame_md5
FROM f
"""


def q_store_roundtrip(spark, sf_dir):
    """Sink + source end-to-end: write the raster to a tile-partitioned
    pixel store (CRS sidecar attached), read a bbox window back through
    partition-pruned scans (SURVEY 2.2 #5/#6)."""
    import tempfile

    from xcube_resampling_spark.crs import CRS_WGS84
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.sources import read_pixels, write_pixels

    path = tempfile.gettempdir() + "/xcrs_store_roundtrip"
    px = _raster(spark, sf_dir).select(
        F.lit("value").alias("var"), "t", "j", "i", "value"
    )
    gm = GridMapping.regular((RW, RH), (0.0, 0.0), 1.0, CRS_WGS84)
    write_pixels(px, path, gm, tile_size=(16, 16))
    back = read_pixels(spark, path, bbox_ij=(5, 10, 20, 30))
    return back.select(
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )


def q_zarr_roundtrip(spark, sf_dir):
    """Zarr v2 sink + source end-to-end, tagged union over the three
    chunk-store bindings (SURVEY 2.2 #5; reference opens Zarr via
    zarr.open, cfconv.py:343-358 -- its real stores live on S3):

    * ``fs``: local directory store; the driver prunes the chunk keys,
      executors fetch them by key (``spark.range`` tasks, no file
      listing) and decode in mapInPandas.
    * ``kv``: the generic object-store adapter (FlatKVChunkPut): write
      AND read go through the flat put/get contract an S3 client
      satisfies -- opaque keys, no directory hierarchy, distributed
      executor-side GETs over the pruned key list.
    * ``zip``: the same store zipped into one archive, read back
      through the read-only ZipChunkStore (the reference examples ship
      zipped stores).
    * ``http``: write AND read over real HTTP against an in-process
      object-store server (sources/httpstore.py) -- executor PUTs and
      GETs travel over actual sockets, so an S3/fsspec client is a
      verified drop-in behind the same contract.
    * ``blosc`` / ``blosc_lz4`` / ``lz4``: the same roundtrip through
      the pure-numpy blosc1 frame codec (sources/blosc1.py) with zlib
      and LZ4 inner streams and through numcodecs' plain-LZ4 framing
      (sources/lz4.py, clean-room block codec) -- ``blosc(cname='lz4')``
      is the numcodecs DEFAULT, i.e. the byte format of essentially
      every real-world zarr v2 store, including the reference's own S3
      ``.levels`` input (reference cfconv.py:343-358).

    * ``filters``: a numcodecs filter chain (byte Shuffle) ahead of the
      zstd compressor (sources/numcodecs_filters.py) -- the packed-EO
      store shape (CMEMS/ESA cubes filter before compressing).

    Every leg reads the same bbox window, so the oracle is SQL_CLIP
    replayed per tag."""
    import os
    import tempfile
    import zipfile

    from xcube_resampling_spark.sources import (
        FlatKVChunkPut,
        HttpChunkStore,
        LocalHttpStoreServer,
        ZipChunkStore,
        read_zarr,
        write_zarr,
    )

    raster = _raster(spark, sf_dir)
    base = tempfile.gettempdir()
    path = base + "/xcrs_zarr_roundtrip"
    write_zarr(
        raster, path, "value", (RH, RW), (16, 16), compressor="zlib",
    )
    fs = read_zarr(spark, path, "value", bbox_ij=(5, 10, 20, 30))

    kv_store = FlatKVChunkPut(base + "/xcrs_zarr_kv", prefix="cube")
    write_zarr(
        raster, "ignored", "value", (RH, RW), (16, 16),
        compressor="zlib", chunk_put=kv_store,
    )
    kv = read_zarr(spark, "ignored", "value", bbox_ij=(5, 10, 20, 30),
                   store=kv_store)

    zpath = base + "/xcrs_zarr_roundtrip.zip"
    if os.path.exists(zpath):
        os.remove(zpath)
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(path):
            for f in files:
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, path))
    zp = read_zarr(spark, "ignored", "value", bbox_ij=(5, 10, 20, 30),
                   store=ZipChunkStore(zpath))

    # http leg: the server must outlive the returned DataFrame's
    # EXECUTION, not just its construction -- materialize inside the
    # server scope and return the rows as a local DataFrame
    with LocalHttpStoreServer(base + "/xcrs_zarr_http") as srv:
        http_store = HttpChunkStore(srv.url)
        write_zarr(
            raster, "ignored", "value", (RH, RW), (16, 16),
            compressor="zlib", chunk_put=http_store,
        )
        ht_rows = read_zarr(
            spark, "ignored", "value", bbox_ij=(5, 10, 20, 30),
            store=http_store,
        ).collect()
    ht = spark.createDataFrame(ht_rows, "t int, j int, i int, value double")

    comp_legs = {}
    for comp in ("blosc", "blosc-lz4", "lz4"):
        cpath = base + "/xcrs_zarr_roundtrip_" + comp.replace("-", "_")
        write_zarr(
            raster, cpath, "value", (RH, RW), (16, 16), compressor=comp,
        )
        comp_legs[comp.replace("-", "_")] = read_zarr(
            spark, cpath, "value", bbox_ij=(5, 10, 20, 30))

    # numcodecs filter chain ahead of the compressor: byte Shuffle is
    # the bit-exact choice for a value-hash oracle leg (Delta's f8
    # cumsum decode can re-round ULPs on arbitrary doubles -- it gets
    # golden + interop coverage in tests/test_zarr_filters.py instead)
    fpath = base + "/xcrs_zarr_roundtrip_filters"
    write_zarr(
        raster, fpath, "value", (RH, RW), (16, 16), compressor="zstd",
        filters=[{"id": "shuffle", "elementsize": 8}],
    )
    comp_legs["filters"] = read_zarr(
        spark, fpath, "value", bbox_ij=(5, 10, 20, 30))

    def leg(df, tag):
        return df.select(
            F.lit(tag).alias("variant"),
            "t",
            (F.col("j") - 10).cast("int").alias("j"),
            (F.col("i") - 5).cast("int").alias("i"),
            F.round("value", 6).alias("value"),
        )

    out = (
        leg(fs, "fs")
        .unionByName(leg(kv, "kv"))
        .unionByName(leg(zp, "zip"))
        .unionByName(leg(ht, "http"))
    )
    for tag, df in comp_legs.items():
        out = out.unionByName(leg(df, tag))
    return out


def q_zarr3_roundtrip(spark, sf_dir):
    """Zarr v3 sink + source end-to-end (sources/zarr3.py), one leg
    per codec chain in a tagged union: v3 array metadata (zarr.json,
    default c/<j>/<i> chunk keys), distributed chunk write,
    chunk-pruned read -- the current zarr core spec next to the v2
    path.  Legs: 'gzip' (bytes+gzip) and 'zstd' (bytes+zstd, the v3
    DEFAULT compressor, spec-framed RFC 8878 chunks through the
    in-repo codec).  Same window as store_roundtrip, so both legs
    share SQL_CLIP."""
    import tempfile

    from xcube_resampling_spark.sources import read_zarr3, write_zarr3

    legs = []
    for codec in ("gzip", "zstd"):
        path = tempfile.gettempdir() + f"/xcrs_zarr3_roundtrip_{codec}"
        write_zarr3(
            _raster(spark, sf_dir), path, "value", (RH, RW), (16, 16),
            codec=codec,
        )
        back = read_zarr3(spark, path, "value", bbox_ij=(5, 10, 20, 30))
        legs.append(back.select(
            F.lit(codec).alias("fmt"),
            "t",
            (F.col("j") - 10).cast("int").alias("j"),
            (F.col("i") - 5).cast("int").alias("i"),
            F.round("value", 6).alias("value"),
        ))
    return legs[0].unionByName(legs[1])


def q_zarr_affine_pipeline(spark, sf_dir):
    """Source-to-operator composition: the raster lands in a blosc zarr
    store, is read back through the chunk-pruned decode path, and flows
    straight into the affine mean-downscale -- one job, distributed end
    to end, proving the source's output schema drops into the operator
    layer unchanged.  Oracle twin = downscale SQL over the raw raster
    (the store roundtrip is the identity on values)."""
    import tempfile

    from xcube_resampling_spark.operators.affine import resample_pixels
    from xcube_resampling_spark.sources import read_zarr, write_zarr

    path = tempfile.gettempdir() + "/xcrs_zarr_affine_pipeline"
    write_zarr(
        _raster(spark, sf_dir), path, "value", (RH, RW), (16, 16),
        compressor="blosc",
    )
    out = resample_pixels(
        spark, read_zarr(spark, path, "value"),
        ((2.5, 0.0, 0.0), (0.0, 2.5, 0.0)),
        (RW, RH), (10, 16), 1, 1, "mean", False, FILL, False,
    )
    return out.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


def q_zarr_levels(spark, sf_dir):
    """Multi-level ``.levels`` pyramid store (sources/levels.py; the
    reference workflow's first step opens such a store -- BASELINE.md
    "Open remote Zarr multi-level store" row, notebook cell 3): write a
    two-level pyramid (level 1 = NaN-aware 2x2 mean of the base --
    one map-side-combinable shuffle), reopen level 1 cold through the
    CF store reader, return its pixels.  Oracle twin = the same 2x2
    window mean over the raw raster (the store roundtrip is the
    identity on values)."""
    import tempfile

    from xcube_resampling_spark.crs import CRS
    from xcube_resampling_spark.gridmapping import GridMapping
    from xcube_resampling_spark.sources import (
        open_zarr_levels,
        write_zarr_levels,
    )

    gm = GridMapping.regular(
        (RW, RH), (500000.0, 5000000.0), 100.0, CRS.from_epsg(32632),
        tile_size=(16, 16),
    )
    path = tempfile.gettempdir() + "/xcrs_zarr_levels"
    write_zarr_levels(
        _raster(spark, sf_dir), path, "value", gm,
        num_levels=2, agg_method="mean",
    )
    ds1, gm1 = open_zarr_levels(spark, path, level=1)
    assert gm1.size == ((RW + 1) // 2, (RH + 1) // 2)
    return ds1.data_vars["value"].df.select(
        "t", "j", "i", F.round("value", 6).alias("value")
    )


SQL_ZARR_LEVELS = f"""
WITH src AS ({RASTER_SQL})
SELECT t, CAST(j // 2 AS INT) AS j, CAST(i // 2 AS INT) AS i,
       ROUND(AVG(value), 6) AS value
FROM src GROUP BY t, j // 2, i // 2
"""


def q_dedup_stream_keepone(spark, sf_dir):
    """Batch twin of streaming.stateful.dedup_stream (the streaming face
    of exact dedup): lowest-doc_id keeper per content hash.  The
    streaming path (applyInPandasWithState, one bool per distinct hash)
    is exercised by tests/test_extensions.py against this same twin."""
    from xcube_resampling_spark.streaming.stateful import dedup_stream

    return dedup_stream(_docs(spark, sf_dir)).select(
        "content_hash", "keep_id", F.md5(F.col("text")).alias("text_md5")
    )


SQL_DEDUP_STREAM = """
SELECT content_hash, keep_id, md5(text) AS text_md5 FROM (
  SELECT md5(text) AS content_hash, doc_id AS keep_id, text,
         row_number() OVER (
           PARTITION BY md5(text) ORDER BY doc_id
         ) AS rn
  FROM documents
) WHERE rn = 1
"""


def q_netcdf_roundtrip(spark, sf_dir):
    """NetCDF sink + source end-to-end, BOTH container generations in a
    tagged union (SURVEY 2.2 #5; the reference consumes NetCDF datasets
    via xarray): classic NetCDF-3 (sources/netcdf3.py), CDF-5
    ("64-bit data" container, 8-byte NON_NEG header fields per the
    PnetCDF spec) and NetCDF-4's
    HDF5 container (sources/hdf5.py: superblock v0, v1 object headers,
    chunked deflate+shuffle datasets, v1 chunk B-trees), plus a
    'compound' leg (class-6 table datasets through the distributed
    write_hdf5_table/read_hdf5_table pair) and a 'vlen' leg (class-9
    variable-length string dataset through the global heap).  Each
    raster format:
    distributed row-band granule write through the ChunkPut seam,
    band-pruned granule listing on the driver, granules fetched by key
    and struct/numpy-decoded in mapInPandas.
    Same window as zarr_roundtrip, so both twins share SQL_CLIP."""
    import tempfile

    from xcube_resampling_spark.sources import (
        read_hdf5,
        read_netcdf3,
        write_hdf5,
        write_netcdf3,
    )

    def clipped(back):
        return back.select(
            "t",
            (F.col("j") - 10).cast("int").alias("j"),
            (F.col("i") - 5).cast("int").alias("i"),
            F.round("value", 6).alias("value"),
        )

    nc_path = tempfile.gettempdir() + "/xcrs_netcdf_roundtrip"
    write_netcdf3(
        _raster(spark, sf_dir), nc_path, "value", (RH, RW), band_rows=16
    )
    nc = clipped(
        read_netcdf3(spark, nc_path, "value", bbox_ij=(5, 10, 20, 30))
    )
    # 'cdf5' leg: the same granules in the CDF-5 ("64-bit data")
    # container -- every NON_NEG header field 8-byte per the PnetCDF
    # spec -- through the same distributed write/read pair
    nc5_path = tempfile.gettempdir() + "/xcrs_netcdf5_roundtrip"
    write_netcdf3(
        _raster(spark, sf_dir), nc5_path, "value", (RH, RW),
        band_rows=16, version=5,
    )
    nc5 = clipped(
        read_netcdf3(spark, nc5_path, "value", bbox_ij=(5, 10, 20, 30))
    )
    # 'kerchunk' leg: the classic granule DIRECTORY lifted into ONE
    # virtual zarr cube by reference (sources/kerchunk.py) -- no byte
    # rewritten, executors ranged-read the original .nc files through
    # the zarr chunk-store seam with chunk pruning intact
    from xcube_resampling_spark.sources import (
        RefChunkStore,
        granule_dir_refs,
        read_zarr,
    )

    kc = clipped(read_zarr(
        spark, "virtual", "value", bbox_ij=(5, 10, 20, 30),
        store=RefChunkStore(granule_dir_refs(nc_path)),
    ))
    # 'kerchunk_parquet' leg: the SAME references shipped as a
    # parquet-refs (v2) manifest (.zmetadata + refs.N.parq record
    # files) through the lazy ParquetRefChunkStore -- executors load
    # the manifest once per process instead of carrying the ref dict
    # in every task closure (how multi-million-ref virtual cubes ship)
    from xcube_resampling_spark.sources import (
        ParquetRefChunkStore,
        save_refs_parquet,
    )

    kp_path = tempfile.gettempdir() + "/xcrs_kerchunk_parquet_refs"
    save_refs_parquet(
        granule_dir_refs(nc_path), kp_path, record_size=2
    )
    kp = clipped(read_zarr(
        spark, "virtual", "value", bbox_ij=(5, 10, 20, 30),
        store=ParquetRefChunkStore(kp_path),
    ))
    h5_path = tempfile.gettempdir() + "/xcrs_hdf5_roundtrip"
    write_hdf5(
        _raster(spark, sf_dir), h5_path, "value", (RH, RW), band_rows=16
    )
    h5 = clipped(
        read_hdf5(spark, h5_path, "value", bbox_ij=(5, 10, 20, 30))
    )
    # libver=latest layout: OHDR v2 headers + DENSE fractal-heap link
    # storage + name-index v2 B-tree (what h5py/netCDF-4 emit for
    # link-heavy groups -- a real Sentinel granule's shape)
    hd_path = tempfile.gettempdir() + "/xcrs_hdf5_dense_roundtrip"
    write_hdf5(
        _raster(spark, sf_dir), hd_path, "value", (RH, RW),
        band_rows=16, header_version=2, group_style="dense",
    )
    hd = clipped(
        read_hdf5(spark, hd_path, "value", bbox_ij=(5, 10, 20, 30))
    )
    # 'szip' leg: the CCSDS 121 extended-Rice filter (HDF5 filter 4,
    # the NASA HDF-EOS compressor; clean-room codec in
    # sources/szip.py) through the same distributed granule pair --
    # int32 FLOOR(value*100) samples so the round-trip is
    # integer-exact on both engines (szip tops out at 32-bit samples)
    sz_path = tempfile.gettempdir() + "/xcrs_hdf5_szip_roundtrip"
    write_hdf5(
        _raster(spark, sf_dir).withColumn(
            "value", F.floor(F.col("value") * 100).cast("double")),
        sz_path, "value", (RH, RW), band_rows=16,
        compress="szip", dtype="<i4", fill_value=0,
    )
    sz = read_hdf5(
        spark, sz_path, "value", bbox_ij=(5, 10, 20, 30)
    ).select(
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.col("value"),
    )
    # 'compound' leg: the same raster rows as a NetCDF-4 table-like
    # product -- a 1-D COMPOUND dataset per shard file (class 6
    # datatype), distributed write + read through the table pair
    # (sources/hdf5.py write_hdf5_table/read_hdf5_table)
    from xcube_resampling_spark.sources.hdf5 import (
        decode_hdf5,
        encode_hdf5,
        read_hdf5_table,
        write_hdf5_table,
    )

    tcols = {"rid": "<i8", "t": "<i4", "j": "<i4", "i": "<i4",
             "value": "<f8"}
    tb_path = tempfile.gettempdir() + "/xcrs_hdf5_table_roundtrip"
    write_hdf5_table(
        _raster(spark, sf_dir).withColumn(
            "rid", (F.col("j") * RW + F.col("i")).cast("long")),
        tb_path, "rid", tcols, rows_per_file=256,
    )
    tb = read_hdf5_table(spark, tb_path, tcols).filter(
        (F.col("i") >= 5) & (F.col("i") < 20)
        & (F.col("j") >= 10) & (F.col("j") < 30)
    ).select(
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )
    # 'vlen' leg: a variable-length STRING dataset (class 9 datatype +
    # global heap, the stock netCDF-4 string-variable layout) over the
    # same window; the decoded strings surface as integer-exact
    # signals (t = length, value = codepoint sum)
    vals = [
        f"r{j}c{i}" for j in range(10, 30) for i in range(5, 20)
    ]
    import numpy as _np

    varr = _np.array(vals, dtype=object).reshape(20, 15)
    vparsed = decode_hdf5(encode_hdf5("names", varr, ("y", "x")))
    vgot = vparsed["vars"]["names"]["data"]
    vrows = [
        (int(len(s)), jj, ii, float(sum(ord(c) for c in s)))
        for jj in range(20) for ii in range(15)
        for s in [str(vgot[jj, ii])]
    ]
    vl = spark.createDataFrame(
        vrows, "t int, j int, i int, value double")
    return (
        nc.select(F.lit("netcdf3").alias("fmt"), "t", "j", "i", "value")
        .unionByName(
            nc5.select(F.lit("cdf5").alias("fmt"),
                       "t", "j", "i", "value")
        )
        .unionByName(
            kc.select(F.lit("kerchunk").alias("fmt"),
                      "t", "j", "i", "value")
        )
        .unionByName(
            kp.select(F.lit("kerchunk_parquet").alias("fmt"),
                      "t", "j", "i", "value")
        )
        .unionByName(
            h5.select(F.lit("hdf5").alias("fmt"), "t", "j", "i", "value")
        )
        .unionByName(
            hd.select(F.lit("hdf5_dense").alias("fmt"),
                      "t", "j", "i", "value")
        )
        .unionByName(
            tb.select(F.lit("compound").alias("fmt"),
                      "t", "j", "i", "value")
        )
        .unionByName(
            sz.select(F.lit("szip").alias("fmt"),
                      "t", "j", "i", "value")
        )
        .unionByName(
            vl.select(F.lit("vlen").alias("fmt"),
                      "t", "j", "i", "value")
        )
    )


def q_geotiff_roundtrip(spark, sf_dir):
    """GeoTIFF/COG sink + source end-to-end, five legs in a tagged
    union (SURVEY 2.2 #5 -- the reference's users feed it
    rioxarray-opened GeoTIFFs, reference cfconv.py:66-212 handles
    their CRS-84 coord naming; here the container itself is parsed
    clean-room, sources/geotiff.py):

    * ``deflate``: float64 tiled+Deflate write, ranged-read with tile
      pruning to the shared clip window (SQL_CLIP twin);
    * ``lzw_int``: int32 + TIFF-LZW + horizontal-differencing
      predictor (the early-change code-width variant), integer-valued
      doubles so the cast is exact on both engines;
    * ``pred3``: float64 + Deflate under the TechNote-3
      floating-point predictor (GDAL PREDICTOR=3, the float-DEM COG
      shape);
    * ``overview``: BigTIFF with one reduced level; reading overview 1
      returns the NaN-aware 2x2 mean (the ``mean`` coarsen reducer
      semantics), the COG pyramid analogue of ``zarr_levels``.
    * ``http``: the deflate file re-read over real HTTP ranged GETs
      (HttpRangeReader against an in-process server) -- the actual COG
      access pattern, proving the RangeReader seam over sockets.

    Write is the multipart shape (one applyInPandas task per tile,
    driver streams parts into the final file); read prunes the tile
    table driver-side and range-reads per executor -- no full-file IO.
    """
    import shutil
    import tempfile

    from xcube_resampling_spark.sources import (
        HttpRangeReader,
        LocalHttpStoreServer,
        read_geotiff,
        write_geotiff,
    )

    base = tempfile.gettempdir()
    r = _raster(spark, sf_dir)

    p1 = base + "/xcrs_gtiff_deflate.tif"
    write_geotiff(
        r, p1, (RH, RW), crs="EPSG:32633", xy_min=(500000.0, 4.0e6),
        xy_res=10.0, tile_size=16, compression="deflate",
        dtype="float64",
    )
    t1 = read_geotiff(spark, p1, bbox_ij=(5, 10, 20, 30)).select(
        F.lit("deflate").alias("fmt"),
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )

    ri = r.select(
        "t", "j", "i",
        F.floor(F.col("value") * 100).cast("double").alias("value"),
    )
    p2 = base + "/xcrs_gtiff_lzw.tif"
    write_geotiff(
        ri, p2, (RH, RW), crs="EPSG:3035", xy_min=(4.0e6, 3.0e6),
        xy_res=100.0, tile_size=16, compression="lzw", dtype="int32",
    )
    t2 = read_geotiff(spark, p2, bbox_ij=(5, 10, 20, 30)).select(
        F.lit("lzw_int").alias("fmt"),
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )

    # 'pred3' leg: TechNote-3 floating-point predictor (GDAL
    # PREDICTOR=3, the float-DEM COG shape) over the same deflate
    # container; float64, so the round-trip is bit-exact
    p5 = base + "/xcrs_gtiff_pred3.tif"
    write_geotiff(
        r, p5, (RH, RW), crs="EPSG:32633", xy_min=(500000.0, 4.0e6),
        xy_res=10.0, tile_size=16, compression="deflate",
        dtype="float64", predictor=3,
    )
    t5 = read_geotiff(spark, p5, bbox_ij=(5, 10, 20, 30)).select(
        F.lit("pred3").alias("fmt"),
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )

    p3 = base + "/xcrs_gtiff_cog.tif"
    write_geotiff(
        r, p3, (RH, RW), crs="EPSG:32633", xy_min=(500000.0, 4.0e6),
        xy_res=10.0, tile_size=16, compression="deflate",
        dtype="float64", bigtiff=True, overviews=1,
    )
    t3 = read_geotiff(spark, p3, overview=1).select(
        F.lit("overview").alias("fmt"),
        "t", "j", "i",
        F.round("value", 6).alias("value"),
    )

    # http leg: materialize while the in-process server is up
    srv_root = base + "/xcrs_gtiff_http"
    with LocalHttpStoreServer(srv_root) as srv:
        shutil.copy(p1, srv_root + "/scene.tif")
        ht_rows = read_geotiff(
            spark, HttpRangeReader(srv.url + "/scene.tif"),
            bbox_ij=(5, 10, 20, 30),
        ).collect()
    t4 = spark.createDataFrame(
        ht_rows, "t int, j int, i int, value double"
    ).select(
        F.lit("http").alias("fmt"),
        "t",
        (F.col("j") - 10).cast("int").alias("j"),
        (F.col("i") - 5).cast("int").alias("i"),
        F.round("value", 6).alias("value"),
    )
    return (t1.unionByName(t2).unionByName(t5)
            .unionByName(t3).unionByName(t4))


SQL_GEOTIFF = f"""
WITH src AS ({RASTER_SQL})
SELECT 'deflate' AS fmt, t, CAST(j - 10 AS INT) AS j,
       CAST(i - 5 AS INT) AS i, ROUND(value, 6) AS value
FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
UNION ALL
SELECT 'lzw_int' AS fmt, t, CAST(j - 10 AS INT) AS j,
       CAST(i - 5 AS INT) AS i,
       ROUND(CAST(FLOOR(value * 100) AS DOUBLE), 6) AS value
FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
UNION ALL
SELECT 'pred3' AS fmt, t, CAST(j - 10 AS INT) AS j,
       CAST(i - 5 AS INT) AS i, ROUND(value, 6) AS value
FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
UNION ALL
SELECT 'overview' AS fmt, t, CAST(j // 2 AS INT) AS j,
       CAST(i // 2 AS INT) AS i, ROUND(AVG(value), 6) AS value
FROM src GROUP BY t, j // 2, i // 2
UNION ALL
SELECT 'http' AS fmt, t, CAST(j - 10 AS INT) AS j,
       CAST(i - 5 AS INT) AS i, ROUND(value, 6) AS value
FROM src WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30
"""


def q_pricing_summary(spark, sf_dir):
    """Classic relational baseline (TPC-H Q1 shape) proving scan +
    filter + groupBy parity on lineitem."""
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ),
                4,
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


# ------------------------------------------------------------------ #
# tagged unions (the driver's correctness window is 50 entries; these
# fold same-schema variants into one slot, precedent coarsen_reducers /
# reproject_crs_families)


def _affine_variant_list():
    return [
        ("upscale_bilinear", q_affine_upscale_bilinear,
         SQL_AFFINE_UPSCALE),
        ("shift_nearest", q_affine_shift_nearest, SQL_AFFINE_SHIFT),
        ("downscale_mean", q_affine_downscale_mean,
         SQL_AFFINE_DOWNSCALE),
        ("shift_nearest_3d", q_affine_3d_shift_nearest, SQL_AFFINE_3D),
        ("recover_nans", q_affine_recover_nans, SQL_AFFINE_RECOVER),
    ]


def q_affine_variants(spark, sf_dir):
    """All five affine variants (reference affine.py:55-360), tagged and
    unioned: bilinear x2 upscale, integer nearest shift, mean downscale,
    3-D time passthrough, NaN recovery -- one registry slot for the full
    affine matrix of SURVEY 2.2."""
    out = None
    for name, q, _ in _affine_variant_list():
        d = q(spark, sf_dir).select(
            F.lit(name).alias("variant"), "t", "j", "i", "value"
        )
        out = d if out is None else out.unionByName(d)
    return out


def _affine_variants_sql():
    return "\nUNION ALL\n".join(
        f"SELECT '{name}' AS variant, q.* FROM ({sql}) q"
        for name, _, sql in _affine_variant_list()
    )


def q_corpus_sample(spark, sf_dir):
    """Deterministic corpus sampling pipeline (extensions/sampling.py):
    hash-Bernoulli sample at 60%, per-language cap of 30 docs in hash
    order, then disjoint 80/10/10 train/valid/test split -- every stage
    a pure function of (seed, doc_id), so the DuckDB twin is exact.
    Distinct seeds per stage keep the decisions independent."""
    from xcube_resampling_spark.extensions.sampling import (
        sample_by_hash,
        split_by_hash,
        stratified_cap,
    )

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    d = sample_by_hash(d, "doc_id", 0.6, seed="samp")
    d = stratified_cap(d, "lang", "doc_id", cap=30, seed="cap")
    d = split_by_hash(
        d, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.1},
        seed="split",
    )
    return d.select("doc_id", "lang", "strata_rank", "split")


def q_corpus_mix(spark, sf_dir):
    """Weighted training mix with epoch upsampling
    (extensions/sampling.py::mix_sources): src0 3x, src1 at 40%,
    src2 2.5x (two full epochs + a deterministic half epoch), src3
    dropped, all other sources dropped by omission.  A single narrow
    projection -- zero shuffles -- so the per-(source, epoch) counts
    come from one groupBy on the mixed frame."""
    from xcube_resampling_spark.extensions.sampling import mix_sources

    d = _docs(spark, sf_dir).select("doc_id", "source")
    mixed = mix_sources(
        d,
        {"src0": 3.0, "src1": 0.4, "src2": 2.5, "src3": 0.0},
        seed="mix",
    )
    per_doc = mixed.select(
        F.lit("doc").alias("tag"), "doc_id", "source",
        F.col("epoch").cast("bigint").alias("v"),
    )
    per_src = mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("nd"),
    ).select(
        F.lit("src").alias("tag"), F.lit(-1).cast("bigint")
        .alias("doc_id"), "source",
        (F.col("n") * 1000000 + F.col("nd")).cast("bigint").alias("v"),
    )
    return per_doc.unionByName(per_src)


def _corpus_mix_sql() -> str:
    from xcube_resampling_spark.extensions.text import hash32_sql

    h = hash32_sql(
        "'mix|mix|' || COALESCE('v' || CAST(doc_id AS VARCHAR), 'n')")
    space = float(2 ** 32)
    return f"""
WITH w AS (
  SELECT doc_id, source,
         CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 0.4
                     WHEN 'src2' THEN 2.5 WHEN 'src3' THEN 0.0
                     ELSE 0.0 END AS wt,
         {h} AS hx
  FROM documents
), ne AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS INT)
         + CASE WHEN hx < FLOOR((wt - FLOOR(wt)) * {space})
                THEN 1 ELSE 0 END AS n_epochs
  FROM w
), mixed AS (
  SELECT doc_id, source,
         CAST(unnest(range(0, n_epochs)) AS BIGINT) AS epoch
  FROM ne WHERE n_epochs > 0
)
SELECT 'doc' AS tag, doc_id, source, epoch AS v FROM mixed
UNION ALL
SELECT 'src' AS tag, CAST(-1 AS BIGINT) AS doc_id, source,
       CAST(COUNT(*) * 1000000 + COUNT(DISTINCT doc_id) AS BIGINT) AS v
FROM mixed GROUP BY source
"""


def _sampling_sql() -> str:
    space = float(2 ** 32)
    t_samp = int(0.6 * space)
    t_train = int(0.8 * space)
    t_valid = int(0.9 * space)

    from xcube_resampling_spark.extensions.text import hash32_sql

    def h(salt, seed):
        return hash32_sql(
            f"'{salt}|{seed}|' || "
            "COALESCE('v' || CAST(doc_id AS VARCHAR), 'n')")

    return f"""
WITH h AS (
  SELECT doc_id, lang,
         {h("sample", "samp")} AS h_samp,
         {h("strata", "cap")} AS h_cap,
         {h("split", "split")} AS h_split
  FROM documents
),
samp AS (SELECT * FROM h WHERE h_samp < {t_samp}),
capd AS (
  SELECT doc_id, lang, h_split,
         CAST(row_number() OVER (
           PARTITION BY lang ORDER BY h_cap ASC, doc_id ASC
         ) AS INT) AS strata_rank
  FROM samp
)
SELECT doc_id, lang, strata_rank,
       CASE WHEN h_split < {t_train} THEN 'train'
            WHEN h_split < {t_valid} THEN 'valid'
            ELSE 'test' END AS split
FROM capd WHERE strata_rank <= 30
"""


def q_vocab_stats(spark, sf_dir):
    """Corpus vocabulary analysis, tagged union of both derived tables:

    * ``vocab``: per-token tf / df / frequency rank (min_df=2) --
      stopword derivation and tokenizer-vocabulary decisions.
    * ``tfidf``: per-document top-3 TF-IDF keywords (smoothed sklearn
      idf), previously golden-tested only -- the union gives the
      keyword extractor a value-level oracle row without spending a
      registry slot.
    * ``rep``: Gopher-style repetition signals per document
      (``text.repetition_stats``) -- tok = most frequent word 2-gram,
      tf = its count, df = distinct-token count, score = the bigram's
      character fraction, rank = total tokens, frac = duplicate-token
      fraction.
    * ``gopher_counts`` / ``gopher_lines`` / ``gopher_flags``: the
      Gopher A1.1 quality-rule gate (``text.gopher_rules``) -- counts
      (tf=n_words, df=sum_word_len, score=n_alpha_words,
      rank=n_req_stops), line stats (tf=n_lines, df=n_bullet,
      score=n_ellipsis, rank=n_symbols), and the rule bits
      (tf=flag_bits, rank=pass_all); every flag is an integer-exact
      cross-multiplied inequality, so the rows hash identically in
      both engines.
    * ``linerep`` / ``pararep`` / ``topgram`` / ``dupgram``: the full
      Gopher A1.2 repetition table (``text.line_repetition_stats``)
      over deterministically synthesized multi-line docs -- duplicate
      line/paragraph counts+fractions (linerep carries the combined
      rep_pass bit in rank), top 2/3/4-gram char fractions (rank=n,
      tok=the gram), and duplicate 5..10-gram occupancy fractions
      (rank=n).

    Shared superset schema (absent fields NULL per variant):
    (variant, doc_id, tok, tf, df, score, rank, frac).
    """
    from xcube_resampling_spark.extensions.text import (
        gopher_rules,
        line_repetition_stats,
        repetition_stats,
        tfidf_topk,
        vocab_stats,
    )

    docs = _docs(spark, sf_dir)
    null_frac = F.lit(None).cast("double").alias("frac")
    vs = vocab_stats(docs, min_df=2).select(
        F.lit("vocab").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        "tok", "tf", "df",
        F.lit(None).cast("double").alias("score"),
        "rank", null_frac,
    )
    tk = tfidf_topk(docs, k=3).select(
        F.lit("tfidf").alias("variant"),
        "doc_id", "tok",
        "tf",
        F.lit(None).cast("long").alias("df"),
        "score",
        F.col("term_rank").alias("rank"), null_frac,
    )
    rp = repetition_stats(docs).select(
        F.lit("rep").alias("variant"),
        "doc_id",
        F.col("top_bigram").alias("tok"),
        F.col("top_bigram_n").cast("bigint").alias("tf"),
        F.col("n_distinct").cast("bigint").alias("df"),
        F.col("top_bigram_char_frac").alias("score"),
        F.col("n_tokens").cast("int").alias("rank"),
        F.col("dup_frac").alias("frac"),
    )
    g = gopher_rules(docs)
    ns_tok = F.lit(None).cast("string").alias("tok")
    gc = g.select(
        F.lit("gopher_counts").alias("variant"), "doc_id", ns_tok,
        F.col("n_words").alias("tf"),
        F.col("sum_word_len").alias("df"),
        F.col("n_alpha_words").cast("double").alias("score"),
        F.col("n_req_stops").cast("int").alias("rank"), null_frac,
    )
    gl = g.select(
        F.lit("gopher_lines").alias("variant"), "doc_id", ns_tok,
        F.col("n_lines").alias("tf"),
        F.col("n_bullet_lines").alias("df"),
        F.col("n_ellipsis_lines").cast("double").alias("score"),
        F.col("n_symbols").cast("int").alias("rank"), null_frac,
    )
    gf = g.select(
        F.lit("gopher_flags").alias("variant"), "doc_id", ns_tok,
        F.col("flag_bits").alias("tf"),
        F.lit(None).cast("bigint").alias("df"),
        F.lit(None).cast("double").alias("score"),
        F.col("pass_all").cast("int").alias("rank"), null_frac,
    )
    # A1.2 repetition legs: the corpus is single-line, so synthesize
    # line/paragraph structure deterministically (doc_id % 3 == 0 ->
    # duplicate line; % 5 == 0 -> duplicate paragraph) in BOTH engines
    synth = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws("\n", "text", "text"),
        ).when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\n\n"), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    lr = line_repetition_stats(synth)
    # ONE pass over the (mapInPandas) stats: each doc emits its 11
    # repetition rows as an exploded array of leg structs, instead of
    # 11 unions each recomputing the stats stage

    def leg(variant, tok, tf, df, score, rank, frac):
        return F.struct(
            F.lit(variant).alias("variant"),
            tok.alias("tok"),
            tf.cast("bigint").alias("tf"),
            df.cast("bigint").alias("df"),
            score.cast("double").alias("score"),
            rank.cast("int").alias("rank"),
            frac.cast("double").alias("frac"),
        )

    ns = F.lit(None).cast("string")
    nl = F.lit(None).cast("bigint")
    nd = F.lit(None).cast("double")
    ni = F.lit(None).cast("int")
    legs = [
        leg("linerep", ns, F.col("n_lines"), F.col("dup_lines"),
            F.col("dup_line_char_frac"), F.col("rep_pass"),
            F.col("dup_line_frac")),
        leg("pararep", ns, F.col("n_paras"), F.col("dup_paras"),
            F.col("dup_para_char_frac"), ni, F.col("dup_para_frac")),
    ]
    for n in (2, 3, 4):
        legs.append(leg(
            "topgram", F.col(f"top{n}_gram"), F.col(f"top{n}_n"),
            F.col("norm_len"), nd, F.lit(n), F.col(f"top{n}_char_frac"),
        ))
    for n in range(5, 11):
        legs.append(leg(
            "dupgram", ns, nl, nl, nd, F.lit(n),
            F.col(f"dup{n}_char_frac"),
        ))
    lx = lr.select(
        "doc_id", F.explode(F.array(*legs)).alias("r")
    ).select(
        F.col("r.variant").alias("variant"), "doc_id",
        F.col("r.tok").alias("tok"), F.col("r.tf").alias("tf"),
        F.col("r.df").alias("df"), F.col("r.score").alias("score"),
        F.col("r.rank").alias("rank"), F.col("r.frac").alias("frac"),
    )
    # 'html' leg: HTML text-extraction structural counters
    # (extensions/html.py) over deterministically wrapped documents --
    # tag count, decoded text chars, micro-unit link density, block
    # count, anchor-text chars; all integer-exact in both engines.
    from xcube_resampling_spark.extensions.html import (
        html_stats,
        synthesize_html,
    )

    hm = html_stats(docs.select(
        "doc_id",
        synthesize_html(F.col("text"), F.col("doc_id")).alias("html"),
    ))
    hleg = hm.select(
        F.lit("html").alias("variant"), "doc_id",
        F.lit(None).cast("string").alias("tok"),
        F.col("n_tags").alias("tf"),
        F.col("text_chars").alias("df"),
        (F.col("link_density_micro") / F.lit(1000000.0)).alias("score"),
        F.col("n_blocks").cast("int").alias("rank"),
        F.col("link_chars").cast("double").alias("frac"),
    )
    return (
        vs.unionByName(tk).unionByName(rp)
        .unionByName(gc).unionByName(gl).unionByName(gf)
        .unionByName(lx).unionByName(hleg)
    )


SQL_VOCAB = """
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
agg AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks WHERE tok <> '' GROUP BY tok
  HAVING COUNT(DISTINCT doc_id) >= 2
),
doc_tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
idf AS (
  SELECT tok,
         ln((1.0 + (SELECT COUNT(DISTINCT doc_id) FROM documents))
            / (1.0 + COUNT(*))) + 1.0 AS idf
  FROM doc_tf GROUP BY tok
),
tfidf AS (
  SELECT t.doc_id, t.tok, t.tf,
         ROUND(t.tf * i.idf, 6) AS score,
         CAST(row_number() OVER (
           PARTITION BY t.doc_id
           ORDER BY ROUND(t.tf * i.idf, 6) DESC, t.tok ASC
         ) AS INT) AS rank
  FROM doc_tf t JOIN idf i USING (tok)
),
per_doc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
  FROM toks WHERE tok <> '' GROUP BY doc_id
  HAVING COUNT(*) >= 2
),
bg AS (
  SELECT doc_id, sh, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(0, CAST(len(toks) - 1 AS BIGINT)),
             x -> array_to_string(list_slice(toks, x + 1, x + 2), ' ')
           )) AS sh
    FROM (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ) WHERE len(toks) >= 2
  ) GROUP BY doc_id, sh
),
topbg AS (
  SELECT doc_id, sh, n FROM (
    SELECT doc_id, sh, n,
           row_number() OVER (
             PARTITION BY doc_id ORDER BY n DESC, sh ASC) AS rn
    FROM bg
  ) WHERE rn = 1
),
norm_len AS (
  SELECT doc_id,
         CAST(length(regexp_replace(
           trim(lower(text)), '\\s+', ' ', 'g')) AS BIGINT) AS nl
  FROM documents
),
rep AS (
  SELECT p.doc_id, t.sh AS tok, t.n AS tf, p.n_distinct AS df,
         ROUND(CAST(length(t.sh) * t.n AS DOUBLE) / l.nl, 6) AS score,
         CAST(p.n_tokens AS INT) AS rank,
         ROUND(1.0 - CAST(p.n_distinct AS DOUBLE) / p.n_tokens, 6)
           AS frac
  FROM per_doc p
  JOIN topbg t ON p.doc_id = t.doc_id
  JOIN norm_len l ON p.doc_id = l.doc_id
),
gw AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                     x -> x != '') AS ws,
         lower(text) AS lt
  FROM documents
),
gc AS (
  SELECT doc_id, ws, lt,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(COALESCE(
           list_sum(list_transform(ws, w -> length(w))), 0)
           AS BIGINT) AS sum_len,
         CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
           AS BIGINT) AS n_alpha,
         CAST(len(regexp_extract_all(lt, '#|\\.\\.\\.|…'))
           AS BIGINT) AS n_sym,
         CAST((CASE WHEN list_contains(ws, 'the') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'be') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'to') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'of') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'and') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'that') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'have') THEN 1 ELSE 0 END)
            + (CASE WHEN list_contains(ws, 'with') THEN 1 ELSE 0 END)
           AS BIGINT) AS n_req,
         list_filter(list_transform(string_split(lt, chr(10)),
                                    l -> trim(l)),
                     l -> l != '') AS lns
  FROM gw
),
gl2 AS (
  SELECT doc_id, n_words, sum_len, n_alpha, n_sym, n_req,
         CAST(len(lns) AS BIGINT) AS n_lines,
         CAST(len(list_filter(lns,
           l -> regexp_matches(l, '^[-*•] '))) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lns,
           l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
           AS BIGINT) AS n_ell
  FROM gc
),
gfl AS (
  SELECT *,
    CASE WHEN n_words >= 50 AND n_words <= 100000
         THEN 1 ELSE 0 END AS f1,
    CASE WHEN n_words > 0 AND sum_len >= 3 * n_words
              AND sum_len <= 10 * n_words THEN 1 ELSE 0 END AS f2,
    CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS f3,
    CASE WHEN 10 * n_bullet <= n_lines THEN 1 ELSE 0 END AS f4,
    CASE WHEN 10 * n_ell <= 3 * n_lines THEN 1 ELSE 0 END AS f5,
    CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END AS f6,
    CASE WHEN n_req >= 2 THEN 1 ELSE 0 END AS f7
  FROM gl2
),
lsyn AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
              WHEN doc_id % 5 = 0
                THEN text || chr(10) || chr(10) || text
              ELSE text END AS text
  FROM documents
),
lbase AS (
  SELECT doc_id,
    list_sort(list_filter(
      list_transform(string_split(text, chr(10)), x -> trim(x)),
      x -> x != '')) AS slines,
    list_sort(list_filter(
      list_transform(string_split_regex(text, '\\n\\n+'),
                     x -> trim(x)),
      x -> x != '')) AS sparas,
    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                t -> t != '') AS toks
  FROM lsyn
),
lstat AS (
  SELECT doc_id, toks,
    CAST(len(slines) AS BIGINT) AS n_lines,
    CAST(COALESCE(list_sum(list_transform(slines, x -> length(x))),
                  0) AS BIGINT) AS line_chars,
    CAST(len(list_filter(range(2, len(slines) + 1),
                         i -> slines[i] = slines[i-1]))
         AS BIGINT) AS dup_lines,
    CAST(COALESCE(list_sum(list_transform(
           list_filter(range(2, len(slines) + 1),
                       i -> slines[i] = slines[i-1]),
           i -> length(slines[i]))), 0) AS BIGINT) AS dup_line_chars,
    CAST(len(sparas) AS BIGINT) AS n_paras,
    CAST(COALESCE(list_sum(list_transform(sparas, x -> length(x))),
                  0) AS BIGINT) AS para_chars,
    CAST(len(list_filter(range(2, len(sparas) + 1),
                         i -> sparas[i] = sparas[i-1]))
         AS BIGINT) AS dup_paras,
    CAST(COALESCE(list_sum(list_transform(
           list_filter(range(2, len(sparas) + 1),
                       i -> sparas[i] = sparas[i-1]),
           i -> length(sparas[i]))), 0) AS BIGINT) AS dup_para_chars,
    CAST(length(array_to_string(toks, ' ')) AS BIGINT) AS norm_len,
    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))),
                  0) AS BIGINT) AS tok_chars
  FROM lbase
),
lgram AS (
  SELECT *,
    list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2,
    list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3,
    list_transform(range(1, greatest(len(toks) - 3, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 3), ' ')) AS g4,
    list_transform(range(1, greatest(len(toks) - 4, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 4), ' ')) AS g5,
    list_transform(range(1, greatest(len(toks) - 5, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 5), ' ')) AS g6,
    list_transform(range(1, greatest(len(toks) - 6, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 6), ' ')) AS g7,
    list_transform(range(1, greatest(len(toks) - 7, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 7), ' ')) AS g8,
    list_transform(range(1, greatest(len(toks) - 8, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 8), ' ')) AS g9,
    list_transform(range(1, greatest(len(toks) - 9, 0) + 1),
      i -> array_to_string(list_slice(toks, i, i + 9), ' ')) AS g10
  FROM lstat
),
ltop AS (
  SELECT doc_id, n_lines, dup_lines, line_chars, dup_line_chars,
         n_paras, dup_paras, para_chars, dup_para_chars,
         norm_len, tok_chars,
    list_aggregate(list_transform(list_distinct(g2),
      s -> {'negn': -len(list_filter(g2, x -> x = s)), 's': s}),
      'min') AS t2,
    list_aggregate(list_transform(list_distinct(g3),
      s -> {'negn': -len(list_filter(g3, x -> x = s)), 's': s}),
      'min') AS t3,
    list_aggregate(list_transform(list_distinct(g4),
      s -> {'negn': -len(list_filter(g4, x -> x = s)), 's': s}),
      'min') AS t4,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g5) + 1),
                    i -> len(list_filter(g5, x -> x = g5[i])) > 1),
        i -> range(i, i + 5)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov5,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g6) + 1),
                    i -> len(list_filter(g6, x -> x = g6[i])) > 1),
        i -> range(i, i + 6)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov6,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g7) + 1),
                    i -> len(list_filter(g7, x -> x = g7[i])) > 1),
        i -> range(i, i + 7)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov7,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g8) + 1),
                    i -> len(list_filter(g8, x -> x = g8[i])) > 1),
        i -> range(i, i + 8)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov8,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g9) + 1),
                    i -> len(list_filter(g9, x -> x = g9[i])) > 1),
        i -> range(i, i + 9)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov9,
    CAST(COALESCE(list_sum(list_transform(
      list_distinct(flatten(list_transform(
        list_filter(range(1, len(g10) + 1),
                    i -> len(list_filter(g10, x -> x = g10[i])) > 1),
        i -> range(i, i + 10)))),
      j -> length(toks[j]))), 0) AS BIGINT) AS cov10
  FROM lgram
),
lrep AS (
  SELECT *,
    CAST(COALESCE(-t2.negn, 0) AS BIGINT) AS n2,
    CAST(COALESCE(-t2.negn * length(t2.s), 0) AS BIGINT) AS c2,
    CAST(COALESCE(-t3.negn, 0) AS BIGINT) AS n3,
    CAST(COALESCE(-t3.negn * length(t3.s), 0) AS BIGINT) AS c3,
    CAST(COALESCE(-t4.negn, 0) AS BIGINT) AS n4,
    CAST(COALESCE(-t4.negn * length(t4.s), 0) AS BIGINT) AS c4
  FROM ltop
),
lpass AS (
  SELECT *,
    CASE WHEN 100 * dup_lines <= 30 * n_lines
          AND 100 * dup_line_chars <= 20 * line_chars
          AND 100 * dup_paras <= 30 * n_paras
          AND 100 * dup_para_chars <= 20 * para_chars
          AND 100 * c2 <= 20 * norm_len
          AND 100 * c3 <= 18 * norm_len
          AND 100 * c4 <= 16 * norm_len
          AND 100 * cov5 <= 15 * tok_chars
          AND 100 * cov6 <= 14 * tok_chars
          AND 100 * cov7 <= 13 * tok_chars
          AND 100 * cov8 <= 12 * tok_chars
          AND 100 * cov9 <= 11 * tok_chars
          AND 100 * cov10 <= 10 * tok_chars
         THEN 1 ELSE 0 END AS rep_pass
  FROM lrep
)
SELECT 'vocab' AS variant, CAST(NULL AS BIGINT) AS doc_id, tok, tf, df,
       CAST(NULL AS DOUBLE) AS score,
       CAST(row_number() OVER (ORDER BY tf DESC, tok ASC) AS INT) AS rank,
       CAST(NULL AS DOUBLE) AS frac
FROM agg
UNION ALL
SELECT 'tfidf' AS variant, doc_id, tok, tf, CAST(NULL AS BIGINT) AS df,
       score, rank, CAST(NULL AS DOUBLE) AS frac
FROM tfidf WHERE rank <= 3
UNION ALL
SELECT 'rep' AS variant, doc_id, tok, tf, df, score, rank, frac
FROM rep
UNION ALL
SELECT 'gopher_counts' AS variant, doc_id,
       CAST(NULL AS VARCHAR) AS tok, n_words AS tf, sum_len AS df,
       CAST(n_alpha AS DOUBLE) AS score, CAST(n_req AS INT) AS rank,
       CAST(NULL AS DOUBLE) AS frac
FROM gfl
UNION ALL
SELECT 'gopher_lines' AS variant, doc_id,
       CAST(NULL AS VARCHAR) AS tok, n_lines AS tf, n_bullet AS df,
       CAST(n_ell AS DOUBLE) AS score, CAST(n_sym AS INT) AS rank,
       CAST(NULL AS DOUBLE) AS frac
FROM gfl
UNION ALL
SELECT 'gopher_flags' AS variant, doc_id,
       CAST(NULL AS VARCHAR) AS tok,
       CAST(f1 + 2 * f2 + 4 * f3 + 8 * f4 + 16 * f5 + 32 * f6
            + 64 * f7 AS BIGINT) AS tf,
       CAST(NULL AS BIGINT) AS df, CAST(NULL AS DOUBLE) AS score,
       CAST(CASE WHEN f1 + f2 + f3 + f4 + f5 + f6 + f7 = 7
                 THEN 1 ELSE 0 END AS INT) AS rank,
       CAST(NULL AS DOUBLE) AS frac
FROM gfl
UNION ALL
SELECT 'linerep' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tok,
       n_lines AS tf, dup_lines AS df,
       CASE WHEN line_chars > 0 THEN ROUND(
         CAST(dup_line_chars AS DOUBLE) / line_chars, 6)
         ELSE 0.0 END AS score,
       CAST(rep_pass AS INT) AS rank,
       CASE WHEN n_lines > 0 THEN ROUND(
         CAST(dup_lines AS DOUBLE) / n_lines, 6)
         ELSE 0.0 END AS frac
FROM lpass
UNION ALL
SELECT 'pararep' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tok,
       n_paras AS tf, dup_paras AS df,
       CASE WHEN para_chars > 0 THEN ROUND(
         CAST(dup_para_chars AS DOUBLE) / para_chars, 6)
         ELSE 0.0 END AS score,
       CAST(NULL AS INT) AS rank,
       CASE WHEN n_paras > 0 THEN ROUND(
         CAST(dup_paras AS DOUBLE) / n_paras, 6)
         ELSE 0.0 END AS frac
FROM lpass
UNION ALL
SELECT 'topgram' AS variant, doc_id, t2.s AS tok, n2 AS tf,
       norm_len AS df, CAST(NULL AS DOUBLE) AS score,
       CAST(2 AS INT) AS rank,
       CASE WHEN norm_len > 0 THEN ROUND(
         CAST(c2 AS DOUBLE) / norm_len, 6) ELSE 0.0 END AS frac
FROM lpass
UNION ALL
SELECT 'topgram' AS variant, doc_id, t3.s AS tok, n3 AS tf,
       norm_len AS df, CAST(NULL AS DOUBLE) AS score,
       CAST(3 AS INT) AS rank,
       CASE WHEN norm_len > 0 THEN ROUND(
         CAST(c3 AS DOUBLE) / norm_len, 6) ELSE 0.0 END AS frac
FROM lpass
UNION ALL
SELECT 'topgram' AS variant, doc_id, t4.s AS tok, n4 AS tf,
       norm_len AS df, CAST(NULL AS DOUBLE) AS score,
       CAST(4 AS INT) AS rank,
       CASE WHEN norm_len > 0 THEN ROUND(
         CAST(c4 AS DOUBLE) / norm_len, 6) ELSE 0.0 END AS frac
FROM lpass
UNION ALL
SELECT 'dupgram' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tok,
       CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS df,
       CAST(NULL AS DOUBLE) AS score, CAST(n AS INT) AS rank,
       CASE WHEN tok_chars > 0 THEN ROUND(CAST(
         CASE n WHEN 5 THEN cov5 WHEN 6 THEN cov6 WHEN 7 THEN cov7
                WHEN 8 THEN cov8 WHEN 9 THEN cov9 ELSE cov10 END
         AS DOUBLE) / tok_chars, 6) ELSE 0.0 END AS frac
FROM lpass, (SELECT unnest(range(5, 11)) AS n)
"""


def _html_variant_sql() -> str:
    from xcube_resampling_spark.extensions.html import (
        SQL_HTML_STATS_EXPRS,
        synthesize_html_sql,
    )

    x = SQL_HTML_STATS_EXPRS(synthesize_html_sql("text", "doc_id"))
    return f"""
UNION ALL
SELECT 'html' AS variant, doc_id, CAST(NULL AS VARCHAR) AS tok,
       {x['n_tags']} AS tf,
       {x['text_chars']} AS df,
       CAST({x['link_density_micro']} AS DOUBLE) / 1000000.0 AS score,
       {x['n_blocks']} AS rank,
       CAST({x['link_chars']} AS DOUBLE) AS frac
FROM documents
"""


SQL_VOCAB += _html_variant_sql()


# ------------------------------------------------------------------ #
# round-7 folds: the driver's correctness gate checks at most 50 registry
# entries, so the r6 tail (ann / event / multimodal / fused-rectify /
# reproject-method singles) folds into tagged unions -- every operator
# stays value-level-checked every round.  Harmonized superset schemas,
# absent fields NULL per leg (precedent: affine_variants / vocab_stats).


def q_rectify_fused(spark, sf_dir):
    """Fused-kernel rectify (rectify_fused_tiled), nearest + bilinear in
    one tagged union; both legs share the swath oracles."""
    n = q_rectify_fused_nearest(spark, sf_dir).select(
        F.lit("nearest").alias("variant"), "t", "j", "i", "value"
    )
    b = q_rectify_fused_bilinear(spark, sf_dir).select(
        F.lit("bilinear").alias("variant"), "t", "j", "i", "value"
    )
    return n.unionByName(b)


def _rectify_fused_sql():
    return (
        f"SELECT 'nearest' AS variant, q.* FROM ({SQL_RECTIFY}) q\n"
        f"UNION ALL\n"
        f"SELECT 'bilinear' AS variant, q.* FROM ({SQL_RECTIFY_BILINEAR}) q"
    )


def q_reproject_methods(spark, sf_dir):
    """UTM 32632 -> LAEA 3035 reprojection, all three interpolation
    methods (reference reproject.py:268-335) in one tagged union."""
    out = None
    for m in ("nearest", "bilinear", "triangular"):
        d = _q_reproject(m)(spark, sf_dir).select(
            F.lit(m).alias("variant"), "t", "j", "i", "value"
        )
        out = d if out is None else out.unionByName(d)
    return out


def _reproject_methods_sql():
    return "\nUNION ALL\n".join(
        f"SELECT '{m}' AS variant, q.* "
        f"FROM ({_reproject_oracle_sql(m)}) q"
        for m in ("nearest", "bilinear", "triangular")
    )


def q_ann_suite(spark, sf_dir):
    """Embedding similarity suite in one tagged union:

    * ``brute``: exact top-10 cosine (knn_brute_force shape).
    * ``seed`` / ``kmeans`` / ``pq``: the three IVF/PQ index variants
      (q_knn_ivf's union, unchanged).
    * ``exact`` / ``semantic``: the two exact-cosine dedup strategies
      (q_dedup_embedding_cosine's union, unchanged).
    * ``ivfpq``: the composed IVFADC production shape
      (similarity.py::ivf_pq_topk) -- seed-centroid IVF probing, PQ
      asymmetric-distance scoring restricted to the probed buckets.
    * ``recall_ivfpq``: one row reporting recall@10 of the ivfpq leg
      against the exact brute-force top-10 (id_a = hits, id_b = k,
      score = recall) -- the quality metric a production ANN ships
      with, value-checked cross-engine.
    * ``knn_cluster``: cluster-bounded k-NN graph
      (similarity.py::knn_within_clusters, k=3, seed centroids) --
      each vector's top-3 cosine neighbors within its own IVF
      cluster, the SemDeDup candidate structure (cluster=cent_id,
      id_a=vec_id, id_b=neighbor_id, score=cosine).

    Superset schema (variant, cluster, id_a, id_b, score); pair legs
    carry id_b, single-vector legs leave it NULL."""
    from xcube_resampling_spark.extensions.similarity import (
        ivf_pq_topk,
        ivf_topk,
        kmeans_centroids,
        knn_within_clusters,
        pq_encode,
        pq_topk,
        pq_train,
    )

    nul = F.lit(None).cast("long")
    brute10 = q_knn_brute_force(spark, sf_dir)
    brute = brute10.select(
        F.lit("brute").alias("variant"), nul.alias("cluster"),
        F.col("vec_id").alias("id_a"), nul.alias("id_b"),
        F.col("cosine").alias("score"),
    )
    cos = q_dedup_embedding_cosine(spark, sf_dir).select(
        "variant", "cluster", "id_a", "id_b",
        F.col("cosine").alias("score"),
    )
    # the q_knn_ivf legs, rebuilt here so the PQ codebooks train ONCE
    # and feed both the 'pq' and the composed 'ivfpq' legs
    emb = _spread(spark, _table(spark, sf_dir, "embeddings"))
    emb_d = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    query = [
        float(v)
        for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    seed10 = ivf_topk(
        emb, query, k=10, num_centroids=10, nprobe=2, exclude_vec_id=0)
    trained = kmeans_centroids(emb_d, num_centroids=10, iterations=2)
    km10 = ivf_topk(
        emb_d, query, k=10, num_centroids=10, nprobe=2,
        exclude_vec_id=0, centroids=trained,
    )
    books = pq_train(emb_d, m=4, ksub=8, iterations=2)
    codes = pq_encode(emb_d, books)
    pq10 = pq_topk(codes.filter(F.col("vec_id") != 0), books, query, k=10)

    def ivf_leg(df, tag, score_col):
        return df.select(
            F.lit(tag).alias("variant"), nul.alias("cluster"),
            F.col("vec_id").alias("id_a"), nul.alias("id_b"),
            F.col(score_col).alias("score"),
        )

    ivf = (
        ivf_leg(seed10, "seed", "cosine")
        .unionByName(ivf_leg(km10, "kmeans", "cosine"))
        .unionByName(ivf_leg(pq10, "pq", "adc_dist"))
    )
    ivfpq10 = ivf_pq_topk(
        emb_d, query, k=10, num_centroids=10, nprobe=2,
        codebooks=books, codes=codes,
        exclude_vec_id=0,
    )
    ivfpq = ivfpq10.select(
        F.lit("ivfpq").alias("variant"), nul.alias("cluster"),
        F.col("vec_id").alias("id_a"), nul.alias("id_b"),
        F.col("adc_dist").alias("score"),
    )
    rec = (
        ivfpq10.select("vec_id")
        .join(brute10.select("vec_id"), "vec_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(
            F.lit("recall_ivfpq").alias("variant"), nul.alias("cluster"),
            F.col("hits").cast("long").alias("id_a"),
            F.lit(10).cast("long").alias("id_b"),
            F.round(F.col("hits") / 10.0, 6).alias("score"),
        )
    )
    knnc = knn_within_clusters(emb_d, k=3, num_centroids=10).select(
        F.lit("knn_cluster").alias("variant"),
        F.col("cent_id").cast("long").alias("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        F.col("cosine").alias("score"),
    )
    return (
        brute.unionByName(ivf).unionByName(cos)
        .unionByName(ivfpq).unionByName(rec).unionByName(knnc)
    )


def _ivfpq_top10_sql() -> str:
    """Subquery: IVFADC top-10 (seed IVF probe + in-bucket PQ ADC) --
    twin of similarity.py::ivf_pq_topk at the ann_suite parameters."""
    return f"""(
  WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
  q AS (SELECT {_EMB_D} AS qv FROM embeddings WHERE vec_id = 0),
  c_0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
          ORDER BY vec_id LIMIT 10),
  {_lloyd_assign_cte('c_0', 'seed')},
  {_pq_sql(4, 8, 64)},
  probes_pq AS (
    SELECT c.cent_id FROM c_0 c CROSS JOIN q
    ORDER BY list_dot_product(c.cv, q.qv)
             / (sqrt(list_dot_product(c.cv, c.cv))
                * sqrt(list_dot_product(q.qv, q.qv))) DESC,
             c.cent_id ASC
    LIMIT 2
  ),
  bucket_pq AS (
    SELECT a.vec_id FROM a_seed a JOIN probes_pq p USING (cent_id)
  )
  SELECT s.vec_id, s.score
  FROM pq_scored s JOIN bucket_pq b USING (vec_id)
  ORDER BY s.score ASC, s.vec_id ASC LIMIT 10
)"""


def _ann_suite_sql():
    return f"""
SELECT 'brute' AS variant, CAST(NULL AS BIGINT) AS cluster,
       vec_id AS id_a, CAST(NULL AS BIGINT) AS id_b, cosine AS score
FROM ({SQL_KNN}) q
UNION ALL
SELECT variant, CAST(NULL AS BIGINT) AS cluster, vec_id AS id_a,
       CAST(NULL AS BIGINT) AS id_b, score
FROM ({SQL_KNN_IVF}) q
UNION ALL
SELECT variant, cluster, id_a, id_b, cosine AS score
FROM ({_semantic_dedup_sql()}) q
UNION ALL
SELECT 'ivfpq' AS variant, CAST(NULL AS BIGINT) AS cluster,
       vec_id AS id_a, CAST(NULL AS BIGINT) AS id_b, score
FROM {_ivfpq_top10_sql()} t
UNION ALL
SELECT 'recall_ivfpq' AS variant, CAST(NULL AS BIGINT) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS id_a, CAST(10 AS BIGINT) AS id_b,
       ROUND(COUNT(*) / 10.0, 6) AS score
FROM {_ivfpq_top10_sql()} iv
JOIN (SELECT vec_id FROM ({SQL_KNN}) b) br USING (vec_id)
UNION ALL
SELECT 'knn_cluster' AS variant, CAST(cent_id AS BIGINT) AS cluster,
       id_a, id_b, score
FROM (
  WITH e AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
  c_0 AS (SELECT vec_id AS cent_id, v AS cv FROM e
          ORDER BY vec_id LIMIT 10),
  {_lloyd_assign_cte('c_0', 'knnc')},
  prs AS (
    SELECT a1.cent_id, a1.vec_id AS id_a, a2.vec_id AS id_b,
           ROUND(list_dot_product(a1.v, a2.v)
                 / (sqrt(list_dot_product(a1.v, a1.v))
                    * sqrt(list_dot_product(a2.v, a2.v))), 6) AS score
    FROM a_knnc a1 JOIN a_knnc a2 USING (cent_id)
    WHERE a1.vec_id != a2.vec_id
  )
  SELECT cent_id, id_a, id_b, score,
         row_number() OVER (
           PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS rn
  FROM prs
) t WHERE rn <= 3
"""


_URL_N = 3000


def _synth_urls(spark, sf_dir):
    """Deterministic URL column over documents (the corpus has no URL
    field): four case shapes exercising uppercase scheme/host, www
    prefixes, default ports, tracking params, fragments, trailing
    slashes, and a multi-part public suffix.  The DuckDB twin
    replays the same synthesis, then states the CANONICAL form
    analytically -- so the whole parse+normalize pipeline is verified
    against a known answer."""
    docs = _table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _URL_N)
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(
            F.lit("HTTPS://www."), F.col("source"),
            F.lit(".Example.COM:443/a/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("/?utm_source=feed&x=1#top")))
        .when(F.col("doc_id") % 4 == 1, F.concat(
            F.lit("http://"), F.col("source"),
            F.lit(".example.com:80/a/"),
            (F.col("doc_id") % 50).cast("string")))
        .when(F.col("doc_id") % 4 == 2, F.concat(
            F.lit("https://sub."), F.col("source"),
            F.lit(".example.co.uk/b/"),
            F.col("doc_id").cast("string"), F.lit("/")))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"),
            F.lit(".example.com/a/"),
            ((F.col("doc_id") + 4) % 50).cast("string"),
            F.lit("?x=1")))
    )
    return docs.select("doc_id", "source", url.alias("url"))


def q_url_suite(spark, sf_dir):
    """URL curation operators (extensions/urlops.py -- the CCNet/
    RefinedWeb stage upstream of text filtering), five legs:

    * ``norm``: canonical URL per doc (lowercase scheme/host, www +
      default ports dropped, utm_* params and fragments removed,
      trailing slash trimmed) -- pure Catalyst, no UDF.
    * ``domain``: PSL-style registered domain (multi-part suffix set).
    * ``dedup``: exact URL dedup on the canonical form (min doc_id
      per URL + dup count; ONE map-side-combinable shuffle).
    * ``domstats``: docs per registered domain.
    * ``blocked``: broadcast anti-join against a domain blocklist.
    """
    from xcube_resampling_spark.extensions.urlops import (
        domain_stats,
        filter_blocked_domains,
        normalize_url,
        url_dedup,
        url_domain,
    )

    docs = _synth_urls(spark, sf_dir)
    nl = F.lit(None).cast("long")
    norm = docs.select(
        F.lit("norm").alias("leg"), "doc_id", nl.alias("k1"),
        normalize_url(F.col("url")).alias("s"))
    dom = docs.select(
        F.lit("domain").alias("leg"), "doc_id", nl.alias("k1"),
        url_domain(F.col("url")).alias("s"))
    ded = url_dedup(docs).select(
        F.lit("dedup").alias("leg"), "doc_id",
        F.col("n_dups").alias("k1"), F.col("norm_url").alias("s"))
    dstats = domain_stats(docs).select(
        F.lit("domstats").alias("leg"),
        F.lit(0).cast("long").alias("doc_id"),
        F.col("count").alias("k1"), F.col("domain").alias("s"))
    blocklist = spark.createDataFrame(
        [("example.co.uk",)], "domain string")
    blocked = filter_blocked_domains(docs, blocklist).select(
        F.lit("blocked").alias("leg"), "doc_id",
        F.lit(1).cast("long").alias("k1"),
        F.lit(None).cast("string").alias("s"))
    return (norm.unionByName(dom).unionByName(ded)
            .unionByName(dstats).unionByName(blocked))


def _url_suite_sql():
    canon = f"""
    SELECT doc_id,
           CASE CAST(doc_id % 4 AS INT)
             WHEN 0 THEN 'https://' || source || '.example.com/a/'
                         || CAST(doc_id % 50 AS VARCHAR) || '?x=1'
             WHEN 1 THEN 'http://' || source || '.example.com/a/'
                         || CAST(doc_id % 50 AS VARCHAR)
             WHEN 2 THEN 'https://sub.' || source
                         || '.example.co.uk/b/'
                         || CAST(doc_id AS VARCHAR)
             ELSE 'https://' || source || '.example.com/a/'
                  || CAST((doc_id + 4) % 50 AS VARCHAR) || '?x=1'
           END AS norm,
           CASE WHEN doc_id % 4 = 2 THEN 'example.co.uk'
                ELSE 'example.com' END AS dom
    FROM documents WHERE doc_id < {_URL_N}
    """
    return f"""
SELECT 'norm' AS leg, doc_id, CAST(NULL AS BIGINT) AS k1, norm AS s
FROM ({canon}) c
UNION ALL
SELECT 'domain' AS leg, doc_id, CAST(NULL AS BIGINT) AS k1, dom AS s
FROM ({canon}) c
UNION ALL
SELECT 'dedup' AS leg, MIN(doc_id) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS k1, norm AS s
FROM ({canon}) c GROUP BY norm
UNION ALL
SELECT 'domstats' AS leg, CAST(0 AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS k1, dom AS s
FROM ({canon}) c GROUP BY dom
UNION ALL
SELECT 'blocked' AS leg, doc_id, CAST(1 AS BIGINT) AS k1,
       CAST(NULL AS VARCHAR) AS s
FROM ({canon}) c WHERE dom <> 'example.co.uk'
"""


def q_event_suite(spark, sf_dir):
    """Event analytics + relational baseline in one tagged union:

    * ``windowed``: 1-hour tumbling windows (k1=win_start,
      k3=event_type, n=n_events, v1=sum_value, v2=n_users).
    * ``sessionize``: 30-min gap sessions (k1=start, k2=end,
      k3=user_id, n=n_events, v1=sum_value).
    * ``first_event``: stateful-streaming first event per user
      (k1=first_ts_us, k2=first_event_id, k3=user_id, v1=first_value).
    * ``pricing``: TPC-H Q1 on lineitem (k3=returnflag|linestatus,
      n=count_order, v1=sum_qty, v2=sum_base_price, v3=sum_disc_price,
      v4=avg_qty)."""
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    w = q_windowed_event_stats(spark, sf_dir).select(
        F.lit("windowed").alias("leg"),
        F.col("win_start").alias("k1"), nl.alias("k2"),
        F.col("event_type").alias("k3"),
        F.col("n_events").alias("n"),
        F.col("sum_value").alias("v1"),
        F.col("n_users").cast("double").alias("v2"),
        nd.alias("v3"), nd.alias("v4"),
    )
    s = q_sessionize(spark, sf_dir).select(
        F.lit("sessionize").alias("leg"),
        F.col("session_start").alias("k1"),
        F.col("session_end").alias("k2"),
        F.col("user_id").cast("string").alias("k3"),
        F.col("n_events").alias("n"),
        F.col("sum_value").alias("v1"),
        nd.alias("v2"), nd.alias("v3"), nd.alias("v4"),
    )
    fe = q_stream_first_event(spark, sf_dir).select(
        F.lit("first_event").alias("leg"),
        F.col("first_ts_us").alias("k1"),
        F.col("first_event_id").alias("k2"),
        F.col("user_id").cast("string").alias("k3"),
        nl.alias("n"),
        F.col("first_value").alias("v1"),
        nd.alias("v2"), nd.alias("v3"), nd.alias("v4"),
    )
    pr = q_pricing_summary(spark, sf_dir).select(
        F.lit("pricing").alias("leg"),
        nl.alias("k1"), nl.alias("k2"),
        F.concat_ws(
            "|", "l_returnflag", "l_linestatus"
        ).alias("k3"),
        F.col("count_order").alias("n"),
        F.col("sum_qty").alias("v1"),
        F.col("sum_base_price").alias("v2"),
        F.col("sum_disc_price").alias("v3"),
        F.col("avg_qty").alias("v4"),
    )
    return w.unionByName(s).unionByName(fe).unionByName(pr)


def _event_suite_sql():
    return f"""
SELECT 'windowed' AS leg, win_start AS k1, CAST(NULL AS BIGINT) AS k2,
       event_type AS k3, n_events AS n, sum_value AS v1,
       CAST(n_users AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3,
       CAST(NULL AS DOUBLE) AS v4
FROM ({SQL_WINDOWED}) q
UNION ALL
SELECT 'sessionize' AS leg, session_start AS k1, session_end AS k2,
       CAST(user_id AS VARCHAR) AS k3, n_events AS n, sum_value AS v1,
       CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3,
       CAST(NULL AS DOUBLE) AS v4
FROM ({SQL_SESSIONIZE}) q
UNION ALL
SELECT 'first_event' AS leg, first_ts_us AS k1, first_event_id AS k2,
       CAST(user_id AS VARCHAR) AS k3, CAST(NULL AS BIGINT) AS n,
       first_value AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS DOUBLE) AS v4
FROM ({SQL_STREAM_FIRST_EVENT}) q
UNION ALL
SELECT 'pricing' AS leg, CAST(NULL AS BIGINT) AS k1,
       CAST(NULL AS BIGINT) AS k2,
       l_returnflag || '|' || l_linestatus AS k3, count_order AS n,
       sum_qty AS v1, sum_base_price AS v2, sum_disc_price AS v3,
       avg_qty AS v4
FROM ({SQL_PRICING}) q
"""


def q_multimodal_suite(spark, sf_dir):
    """The three multimodal operators in one tagged union:

    * ``features``: byte histogram stats (k1=n_bytes, v1=byte_mean,
      v2=byte_entropy).
    * ``resize``: per-output-byte resize check (k1=width, k2=height,
      k3=pos, v1=byte).
    * ``frames``: frame sampling (k1=frame_idx, k2=n_bytes,
      s=frame_md5).
    * ``png`` / ``bmp`` / ``gif``: REAL codec round-trips --
      payloads are encoded executor-side with the clean-room
      PNG/BMP/GIF encoders (extensions/imagecodec.py + gifcodec.py,
      GIF lossless at <= 256 colors), decoded with decode_image, and
      every decoded byte is oracle-checked (the codecs are lossless,
      so decoded bytes equal the deterministic tiling of the document
      text the DuckDB twin replays).  Same column mapping as
      ``resize``.
    * ``wav``: REAL audio decode -- payload bytes containerized as
      16-bit PCM WAV executor-side (audiocodec.py), decoded back, and
      integer-exact signal features (n_samples, zero crossings,
      sum |s|) checked against the DuckDB twin's little-endian sample
      reconstruction from the document text (k1=n_samples,
      k2=zero_crossings, k3=sum_abs, v1=sample_rate).
    * ``y4m``: REAL video decode -- payload bytes containerized as
      uncompressed YUV4MPEG2 executor-side (videocodec.py, 6 mono
      4x4 frames), decoded back, per-frame integer features
      (k1=frame_idx, k2=sum_bytes, k3=order-pinning weighted sum,
      v1=n_px) against the twin's byte-tiling reconstruction."""
    nl = F.lit(None).cast("long")
    nd = F.lit(None).cast("double")
    ns = F.lit(None).cast("string")
    ft = q_multimodal_features(spark, sf_dir).select(
        F.lit("features").alias("leg"), "media_id",
        F.col("n_bytes").cast("long").alias("k1"),
        nl.alias("k2"), nl.alias("k3"),
        F.col("byte_mean").alias("v1"),
        F.col("byte_entropy").alias("v2"),
        ns.alias("s"),
    )
    rz = q_multimodal_resize(spark, sf_dir).select(
        F.lit("resize").alias("leg"), "media_id",
        F.col("width").cast("long").alias("k1"),
        F.col("height").cast("long").alias("k2"),
        F.col("pos").cast("long").alias("k3"),
        F.col("byte").cast("double").alias("v1"),
        nd.alias("v2"), ns.alias("s"),
    )
    fr = q_multimodal_frames(spark, sf_dir).select(
        F.lit("frames").alias("leg"), "media_id",
        F.col("frame_idx").cast("long").alias("k1"),
        F.col("n_bytes").cast("long").alias("k2"),
        nl.alias("k3"), nd.alias("v1"), nd.alias("v2"),
        F.col("frame_md5").alias("s"),
    )
    out = ft.unionByName(rz).unionByName(fr)
    from xcube_resampling_spark.extensions.multimodal import (
        audio_features,
        decode_images,
        encode_audio_wav,
        encode_images,
        encode_video_y4m,
        video_frame_features,
    )

    media = _media(spark, sf_dir)
    wav = audio_features(encode_audio_wav(media)).select(
        F.lit("wav").alias("leg"), "media_id",
        F.col("n_samples").alias("k1"),
        F.col("zero_crossings").alias("k2"),
        F.col("sum_abs").alias("k3"),
        F.col("sample_rate").cast("double").alias("v1"),
        nd.alias("v2"), ns.alias("s"),
    )
    # 'flac' leg: REAL COMPRESSED audio round-trip -- the same PCM
    # interpretation Rice-compressed through the clean-room FLAC
    # codec (extensions/flaccodec.py, lossless), decoded back via
    # decode_audio's FLAC branch; features must equal the wav leg's
    # (empty payloads become one zero sample -- GREATEST in the twin).
    from xcube_resampling_spark.extensions.multimodal import (
        encode_audio_flac,
    )

    flacs = encode_audio_flac(media)
    flac = audio_features(flacs).select(
        F.lit("flac").alias("leg"), "media_id",
        F.col("n_samples").alias("k1"),
        F.col("zero_crossings").alias("k2"),
        F.col("sum_abs").alias("k3"),
        F.col("sample_rate").cast("double").alias("v1"),
        nd.alias("v2"), ns.alias("s"),
    )
    # 'audio_fp' leg: energy-envelope near-dup fingerprint
    # (Haitsma-Kalker shape, pure integer) computed over the FLAC
    # round-trip -- decode + windowed |s| sums + threshold bits all
    # integer-exact against the twin's sample reconstruction
    from xcube_resampling_spark.extensions.multimodal import (
        audio_fingerprint,
    )

    afp = audio_fingerprint(flacs).select(
        F.lit("audio_fp").alias("leg"), "media_id",
        F.col("fp_hi").alias("k1"),
        F.col("fp_lo").alias("k2"),
        nl.alias("k3"), nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    wav = wav.unionByName(flac).unionByName(afp)
    y4ms = encode_video_y4m(media)
    y4m = video_frame_features(y4ms).select(
        F.lit("y4m").alias("leg"), "media_id",
        F.col("frame_idx").cast("long").alias("k1"),
        F.col("sum_bytes").alias("k2"),
        F.col("wsum_bytes").alias("k3"),
        F.col("n_px").cast("double").alias("v1"),
        nd.alias("v2"), ns.alias("s"),
    )
    # 'avi' leg: REAL video CONTAINER round-trip -- payload bytes
    # tiled into RGB frames, written as an uncompressed-DIB AVI
    # (extensions/avicodec.py: RIFF hdrl/movi/idx1, bottom-up padded
    # BGR rows -- lossless), decoded back through decode_video's AVI
    # branch (luma = integer (r+g+b)//3), per-frame integer features
    # against the twin's byte-tiling reconstruction.
    from xcube_resampling_spark.extensions.multimodal import (
        encode_video_avi,
    )

    avi = video_frame_features(encode_video_avi(media)).select(
        F.lit("avi").alias("leg"), "media_id",
        F.col("frame_idx").cast("long").alias("k1"),
        F.col("sum_bytes").alias("k2"),
        F.col("wsum_bytes").alias("k3"),
        F.col("n_px").cast("double").alias("v1"),
        nd.alias("v2"), ns.alias("s"),
    )
    # 'video_fp' leg: the same integer energy-envelope near-dup hash
    # over the decoded Y4M luma stream (96 tiled bytes per video)
    from xcube_resampling_spark.extensions.multimodal import (
        video_fingerprint,
    )

    vfp = video_fingerprint(y4ms).select(
        F.lit("video_fp").alias("leg"), "media_id",
        F.col("fp_hi").alias("k1"),
        F.col("fp_lo").alias("k2"),
        nl.alias("k3"), nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    # 'probe' leg: header-only container metadata (no decode) over
    # one real container per modality -- the curation pre-filter
    # (extensions/mediaprobe.py; MP4/ISO-BMFF gets the deeper
    # sample-level treatment in the 'mp4' demux leg below)
    from xcube_resampling_spark.extensions.mediaprobe import (
        media_probe,
    )
    from xcube_resampling_spark.extensions.multimodal import (
        encode_images,
    )

    probe_src = (
        encode_images(media, "gif")
        .unionByName(flacs)
        .unionByName(y4ms)
    )
    pr = media_probe(probe_src).select(
        F.lit("probe").alias("leg"), "media_id",
        F.coalesce(F.col("width"), F.col("sample_rate")).alias("k1"),
        F.coalesce(F.col("height"), F.col("channels")).alias("k2"),
        F.coalesce(F.col("n_frames"), F.col("duration_ms")).alias("k3"),
        nd.alias("v1"), nd.alias("v2"),
        F.col("format").alias("s"),
    )
    out = (out.unionByName(wav).unionByName(y4m).unionByName(avi)
           .unionByName(vfp).unionByName(pr))
    # gif joins the lossless legs: the synthetic tiles have <= 28
    # distinct colors, so the clean-room GIF palette round-trip is
    # byte-exact like PNG/BMP
    for codec in ("png", "bmp", "gif"):
        dec = decode_images(encode_images(media, codec))
        hexed = dec.select(
            "media_id", "width", "height", F.hex("pixels").alias("hx")
        )
        leg = hexed.select(
            "media_id", "width", "height",
            F.explode(F.sequence(
                F.lit(0), F.col("width") * F.col("height") * 3 - 1
            )).alias("pos"),
            "hx",
        ).select(
            F.lit(codec).alias("leg"), "media_id",
            F.col("width").cast("long").alias("k1"),
            F.col("height").cast("long").alias("k2"),
            F.col("pos").cast("long").alias("k3"),
            F.conv(
                F.substring(F.col("hx"), F.col("pos") * 2 + 1, 2), 16, 10
            ).cast("double").alias("v1"),
            nd.alias("v2"), ns.alias("s"),
        )
        out = out.unionByName(leg)
    # 'jpeg' leg: the lossy clean-room codec -- dims + round-trip
    # pass bit.  The byte-tiled fake images are noise-like (JPEG's
    # worst case), measured max err 6 at q=98; tol=10 still fails
    # loudly for any DCT/Huffman defect (those produce errors ~100+).
    # Exact-byte checks only make sense for the lossless codecs above.
    from xcube_resampling_spark.extensions.multimodal import (
        jpeg_roundtrip_check,
    )

    jpc = jpeg_roundtrip_check(media, quality=98, tol=10)
    jp = jpc.select(
        F.lit("jpeg").alias("leg"), "media_id",
        F.col("width").cast("long").alias("k1"),
        F.col("height").cast("long").alias("k2"),
        F.col("ok").cast("long").alias("k3"),
        nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    # 'jpeg_prog' leg: the progressive (SOF2) encoding of the same
    # pixels must decode BIT-IDENTICAL to the baseline decode (shared
    # quantized coefficients) -- an exact pass bit, not a tolerance.
    jp2 = jpc.select(
        F.lit("jpeg_prog").alias("leg"), "media_id",
        F.col("width").cast("long").alias("k1"),
        F.col("height").cast("long").alias("k2"),
        F.col("prog_exact").cast("long").alias("k3"),
        nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    # 'dhash' / 'dhash_pairs' legs: perceptual image near-dup -- the
    # 64-bit difference hash as two exact int halves, and the banded
    # Hamming pair join over the media plus an id-shifted duplicate
    # copy (guaranteeing distance-0 pairs).  max_distance=3 keeps the
    # 4x16-bit banding EXHAUSTIVE by pigeonhole, so the twin's
    # all-pairs SQL finds the identical set.
    from xcube_resampling_spark.extensions.multimodal import (
        dhash_pairs,
        image_dhash,
    )

    dh = image_dhash(media)
    dleg = dh.select(
        F.lit("dhash").alias("leg"), "media_id",
        F.col("dhash_hi").alias("k1"),
        F.col("dhash_lo").alias("k2"),
        nl.alias("k3"), nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    dup = dh.unionByName(dh.select(
        (F.col("media_id") + 100000).alias("media_id"),
        "dhash_hi", "dhash_lo"))
    pleg = dhash_pairs(dup, max_distance=3).select(
        F.lit("dhash_pairs").alias("leg"),
        F.col("id_a").alias("media_id"),
        F.col("id_b").cast("long").alias("k1"),
        F.col("distance").cast("long").alias("k2"),
        nl.alias("k3"), nd.alias("v1"), nd.alias("v2"), ns.alias("s"),
    )
    # 'mp4' leg: ISO BMFF SAMPLE-LEVEL DEMUX (extensions/mp4demux.py,
    # container plumbing, no codec decode).  The video-kind payloads
    # are containerized executor-side into real single-track MP4s --
    # 16-byte samples, run-length stts (alternating 40/20 ms), v0
    # ctts (+10*(k%3)), stss every 3rd sample, 3-samples-per-chunk
    # stsc/stco with a short last chunk -- then demuxed back
    # distributed; per-sample dts/pts/size/keyframe AND the payload
    # substring are value-checked against the twin's closed forms.
    from xcube_resampling_spark.extensions.mp4demux import (
        demux_mp4,
        encode_fmp4_media,
        encode_mp4_media,
    )

    vids = media.filter(F.col("kind") == "video")
    mp4 = demux_mp4(encode_mp4_media(vids)).select(
        F.lit("mp4").alias("leg"), "media_id",
        F.col("sample_idx").cast("long").alias("k1"),
        F.col("dts").alias("k2"),
        F.col("size").alias("k3"),
        F.col("keyframe").cast("double").alias("v1"),
        F.col("pts").cast("double").alias("v2"),
        F.decode("data", "UTF-8").alias("s"),
    )
    # 'fmp4' leg: FRAGMENTED MP4 (moof/traf -- the DASH/CMAF layout,
    # ISO 14496-12 8.8).  Same deterministic per-sample closed forms
    # as 'mp4', but the container routes through trex defaults, tfhd
    # default-base-is-moof addressing, v1 tfdt anchors and per-sample
    # trun entries -- the fragment walk, not the stbl tables, is what
    # the oracle checks here.
    fmp4 = demux_mp4(encode_fmp4_media(vids)).select(
        F.lit("fmp4").alias("leg"), "media_id",
        F.col("sample_idx").cast("long").alias("k1"),
        F.col("dts").alias("k2"),
        F.col("size").alias("k3"),
        F.col("keyframe").cast("double").alias("v1"),
        F.col("pts").cast("double").alias("v2"),
        F.decode("data", "UTF-8").alias("s"),
    )
    # 'mpeg_frames' leg: MPEG AUDIO FRAME SPLITTING (extensions/
    # mpegaudio.py, probe-and-route, no decode).  Audio-kind payloads
    # become MPEG-1 Layer II streams with 4 + media_id % 5 frames,
    # kbps alternating 64/96 at 32 kHz (sizes 288/432, zero padding)
    # -- per-frame offset/size/bitrate/timing checked against the
    # twin's closed forms; an error row here fails the gate loudly.
    from xcube_resampling_spark.extensions.mpegaudio import (
        encode_mpeg_media,
        split_mpeg_audio,
    )

    auds = media.filter(F.col("kind") == "audio")
    mpa = split_mpeg_audio(encode_mpeg_media(auds)).select(
        F.lit("mpeg_frames").alias("leg"), "media_id",
        F.col("frame_idx").cast("long").alias("k1"),
        F.col("offset").alias("k2"),
        F.col("size").alias("k3"),
        F.col("kbps").cast("double").alias("v1"),
        F.col("duration_us").cast("double").alias("v2"),
        F.col("codec").alias("s"),
    )
    return (out.unionByName(jp).unionByName(jp2)
            .unionByName(dleg).unionByName(pleg).unionByName(mp4)
            .unionByName(fmp4).unionByName(mpa))


def _multimodal_suite_sql():
    return f"""
SELECT 'features' AS leg, media_id, CAST(n_bytes AS BIGINT) AS k1,
       CAST(NULL AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS k3,
       byte_mean AS v1, byte_entropy AS v2, CAST(NULL AS VARCHAR) AS s
FROM ({SQL_MULTIMODAL_FEATURES}) q
UNION ALL
SELECT 'resize' AS leg, media_id, CAST(width AS BIGINT) AS k1,
       CAST(height AS BIGINT) AS k2, CAST(pos AS BIGINT) AS k3,
       CAST(byte AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM ({SQL_MULTIMODAL_RESIZE}) q
UNION ALL
SELECT 'frames' AS leg, media_id, CAST(frame_idx AS BIGINT) AS k1,
       CAST(n_bytes AS BIGINT) AS k2, CAST(NULL AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       frame_md5 AS s
FROM ({SQL_MULTIMODAL_FRAMES}) q
UNION ALL
SELECT leg, media_id, k1, k2, k3, v1, v2, s FROM (
  WITH m AS (
    SELECT doc_id AS media_id, text,
           CAST(4 + (doc_id % 9) // 3 AS INT) AS w, 4 AS h
    FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 0
  ),
  p AS (
    SELECT media_id, text, w, h, CAST(k AS INT) AS pos
    FROM m, generate_series(0, 71) t(k) WHERE k < w * h * 3
  )
  SELECT c.leg, media_id, CAST(w AS BIGINT) AS k1,
         CAST(h AS BIGINT) AS k2, CAST(pos AS BIGINT) AS k3,
         CAST(ascii(substr(
           text, CAST(pos % length(text) AS INT) + 1, 1)) AS DOUBLE)
           AS v1,
         CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR) AS s
  FROM p CROSS JOIN (VALUES ('png'), ('bmp'), ('gif')) AS c(leg)
) q
UNION ALL
SELECT 'wav' AS leg, m.media_id,
       CAST(length(m.text) // 2 AS BIGINT) AS k1,
       CAST(COALESCE(z.zc, 0) AS BIGINT) AS k2,
       CAST(COALESCE(z.sa, 0) AS BIGINT) AS k3,
       CAST(16000 AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT doc_id AS media_id, text FROM documents
  WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
) m
LEFT JOIN (
  SELECT media_id,
         SUM(CASE WHEN prev_sgn IS NOT NULL AND sgn <> prev_sgn
                  THEN 1 ELSE 0 END) AS zc,
         SUM(ABS(v)) AS sa
  FROM (
    SELECT media_id, k, v,
           CASE WHEN v >= 0 THEN 1 ELSE -1 END AS sgn,
           lag(CASE WHEN v >= 0 THEN 1 ELSE -1 END) OVER (
             PARTITION BY media_id ORDER BY k) AS prev_sgn
    FROM (
      SELECT media_id, k,
             CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
      FROM (
        SELECT doc_id AS media_id,
               CAST(unnest(range(0, CAST(length(text) // 2 AS BIGINT)))
                    AS INT) AS k,
               text
        FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
      ) idx,
      LATERAL (SELECT
        ascii(substr(text, CAST(2 * k + 1 AS INT), 1))
        + 256 * ascii(substr(text, CAST(2 * k + 2 AS INT), 1)) AS raw
      ) r
    )
  ) GROUP BY media_id
) z ON z.media_id = m.media_id
UNION ALL
SELECT 'flac' AS leg, m.media_id,
       CAST(GREATEST(length(m.text) // 2, 1) AS BIGINT) AS k1,
       CAST(COALESCE(z.zc, 0) AS BIGINT) AS k2,
       CAST(COALESCE(z.sa, 0) AS BIGINT) AS k3,
       CAST(16000 AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT doc_id AS media_id, text FROM documents
  WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
) m
LEFT JOIN (
  SELECT media_id,
         SUM(CASE WHEN prev_sgn IS NOT NULL AND sgn <> prev_sgn
                  THEN 1 ELSE 0 END) AS zc,
         SUM(ABS(v)) AS sa
  FROM (
    SELECT media_id, k, v,
           CASE WHEN v >= 0 THEN 1 ELSE -1 END AS sgn,
           lag(CASE WHEN v >= 0 THEN 1 ELSE -1 END) OVER (
             PARTITION BY media_id ORDER BY k) AS prev_sgn
    FROM (
      SELECT media_id, k,
             CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
      FROM (
        SELECT doc_id AS media_id,
               CAST(unnest(range(0, CAST(length(text) // 2 AS BIGINT)))
                    AS INT) AS k,
               text
        FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
      ) idx,
      LATERAL (SELECT
        ascii(substr(text, CAST(2 * k + 1 AS INT), 1))
        + 256 * ascii(substr(text, CAST(2 * k + 2 AS INT), 1)) AS raw
      ) r
    )
  ) GROUP BY media_id
) z ON z.media_id = m.media_id
UNION ALL
SELECT 'audio_fp' AS leg, media_id,
       CAST(SUM(CASE WHEN w >= 32 AND w < 64 AND bit = 1
                THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INT))
                ELSE 0 END) AS BIGINT) AS k1,
       CAST(SUM(CASE WHEN w < 32 AND bit = 1
                THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
                ELSE 0 END) AS BIGINT) AS k2,
       CAST(NULL AS BIGINT) AS k3, CAST(NULL AS DOUBLE) AS v1,
       CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT media_id, w,
         CASE WHEN lead(en) OVER (PARTITION BY media_id ORDER BY w)
                   > en THEN 1 ELSE 0 END AS bit
  FROM (
    SELECT m.media_id, g.w, COALESCE(e.en, 0) AS en
    FROM (
      SELECT doc_id AS media_id, text,
             CAST(length(text) // 2 AS BIGINT) AS n
      FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
    ) m
    CROSS JOIN (SELECT CAST(unnest(range(0, 65)) AS INT) AS w) g
    LEFT JOIN (
      SELECT media_id, CAST(k * 65 // n AS INT) AS w,
             SUM(ABS(v)) AS en
      FROM (
        SELECT media_id, k, n,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END
                 AS v
        FROM (
          SELECT doc_id AS media_id, text,
                 CAST(length(text) // 2 AS BIGINT) AS n,
                 CAST(unnest(range(0,
                      CAST(length(text) // 2 AS BIGINT))) AS INT) AS k
          FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
        ) idx,
        LATERAL (SELECT
          ascii(substr(text, CAST(2 * k + 1 AS INT), 1))
          + 256 * ascii(substr(text, CAST(2 * k + 2 AS INT), 1))
            AS raw
        ) r
      ) GROUP BY media_id, w
    ) e ON e.media_id = m.media_id AND e.w = g.w
  )
) GROUP BY media_id
UNION ALL
SELECT 'y4m' AS leg, media_id, frame_idx AS k1,
       CAST(SUM(byte) AS BIGINT) AS k2,
       CAST(SUM((p + 1) * byte) AS BIGINT) AS k3,
       CAST(16 AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT media_id, CAST(t // 16 AS BIGINT) AS frame_idx,
         CAST(t % 16 AS BIGINT) AS p,
         ascii(substr(text, CAST(t % length(text) AS INT) + 1, 1))
           AS byte
  FROM (
    SELECT doc_id AS media_id, text,
           CAST(unnest(range(0, 96)) AS INT) AS t
    FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
  )
) GROUP BY media_id, frame_idx
UNION ALL
SELECT 'probe' AS leg, doc_id AS media_id,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4 + (doc_id % 9) // 3
            WHEN 1 THEN 16000 ELSE 4 END AS BIGINT) AS k1,
       CAST(CASE doc_id % 3 WHEN 0 THEN 4
            WHEN 1 THEN 1 ELSE 4 END AS BIGINT) AS k2,
       CAST(CASE doc_id % 3 WHEN 0 THEN 1
            WHEN 1 THEN GREATEST(length(text) // 2, 1) * 1000 // 16000
            ELSE 6 END AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CASE doc_id % 3 WHEN 0 THEN 'gif'
            WHEN 1 THEN 'flac' ELSE 'y4m' END AS s
FROM documents WHERE doc_id < {_MEDIA_N}
UNION ALL
SELECT 'video_fp' AS leg, media_id,
       CAST(SUM(CASE WHEN w >= 32 AND w < 64 AND bit = 1
                THEN (CAST(1 AS BIGINT) << CAST(w - 32 AS INT))
                ELSE 0 END) AS BIGINT) AS k1,
       CAST(SUM(CASE WHEN w < 32 AND bit = 1
                THEN (CAST(1 AS BIGINT) << CAST(w AS INT))
                ELSE 0 END) AS BIGINT) AS k2,
       CAST(NULL AS BIGINT) AS k3, CAST(NULL AS DOUBLE) AS v1,
       CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT media_id, w,
         CASE WHEN lead(en) OVER (PARTITION BY media_id ORDER BY w)
                   > en THEN 1 ELSE 0 END AS bit
  FROM (
    SELECT media_id, CAST(t * 65 // 96 AS INT) AS w,
           SUM(ascii(substr(text,
               CAST(t % length(text) AS INT) + 1, 1))) AS en
    FROM (
      SELECT doc_id AS media_id, text,
             CAST(unnest(range(0, 96)) AS INT) AS t
      FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
    ) GROUP BY media_id, w
  )
) GROUP BY media_id
UNION ALL
SELECT 'avi' AS leg, media_id, frame_idx AS k1,
       CAST(SUM(luma) AS BIGINT) AS k2,
       CAST(SUM((p + 1) * luma) AS BIGINT) AS k3,
       CAST(16 AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM (
  SELECT media_id, CAST(t // 16 AS BIGINT) AS frame_idx,
         CAST(t % 16 AS BIGINT) AS p,
         (ascii(substr(text, CAST((3*t) % length(text) AS INT) + 1, 1))
        + ascii(substr(text,
                       CAST((3*t+1) % length(text) AS INT) + 1, 1))
        + ascii(substr(text,
                       CAST((3*t+2) % length(text) AS INT) + 1, 1)))
           // 3 AS luma
  FROM (
    SELECT doc_id AS media_id, text,
           CAST(unnest(range(0, 96)) AS INT) AS t
    FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
  )
) GROUP BY media_id, frame_idx
UNION ALL
SELECT 'jpeg' AS leg, doc_id AS media_id,
       CAST(4 + (doc_id % 9) // 3 AS BIGINT) AS k1,
       CAST(4 AS BIGINT) AS k2,
       CAST(1 AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 0
UNION ALL
SELECT 'jpeg_prog' AS leg, doc_id AS media_id,
       CAST(4 + (doc_id % 9) // 3 AS BIGINT) AS k1,
       CAST(4 AS BIGINT) AS k2,
       CAST(1 AS BIGINT) AS k3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       CAST(NULL AS VARCHAR) AS s
FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 0
UNION ALL
SELECT leg, media_id, k1, k2, k3, v1, v2, s FROM (
  WITH m AS (
    SELECT doc_id AS media_id, text,
           CAST(4 + (doc_id % 9) // 3 AS INT) AS w, 4 AS h
    FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 0
  ),
  cells AS (
    SELECT media_id, y, x,
           (ascii(substr(text, CAST(
              ((y*h//8)*w + (x*w//9))*3 % length(text) AS INT)+1, 1))
          + ascii(substr(text, CAST(
              (((y*h//8)*w + (x*w//9))*3 + 1) % length(text) AS INT)+1,
              1))
          + ascii(substr(text, CAST(
              (((y*h//8)*w + (x*w//9))*3 + 2) % length(text) AS INT)+1,
              1))) // 3 AS g
    FROM m,
         (SELECT unnest(range(0, 8)) AS y),
         (SELECT unnest(range(0, 9)) AS x)
  ),
  hashes AS (
    SELECT c1.media_id,
           CAST(COALESCE(SUM(CASE WHEN c1.g > c2.g
                 AND c1.y*8 + c1.x >= 32
                 THEN (CAST(1 AS BIGINT)
                       << CAST(c1.y*8 + c1.x - 32 AS INT))
                 ELSE 0 END), 0) AS BIGINT) AS hi,
           CAST(COALESCE(SUM(CASE WHEN c1.g > c2.g
                 AND c1.y*8 + c1.x < 32
                 THEN (CAST(1 AS BIGINT) << CAST(c1.y*8 + c1.x AS INT))
                 ELSE 0 END), 0) AS BIGINT) AS lo
    FROM cells c1 JOIN cells c2
      ON c1.media_id = c2.media_id AND c1.y = c2.y
         AND c2.x = c1.x + 1
    WHERE c1.x < 8
    GROUP BY c1.media_id
  ),
  dup AS (
    SELECT media_id, hi, lo FROM hashes
    UNION ALL SELECT media_id + 100000, hi, lo FROM hashes
  ),
  prs AS (
    SELECT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.hi, b.hi))
             + bit_count(xor(a.lo, b.lo)) AS d
    FROM dup a JOIN dup b ON a.media_id < b.media_id
  )
  SELECT 'dhash' AS leg, media_id, hi AS k1, lo AS k2,
         CAST(NULL AS BIGINT) AS k3, CAST(NULL AS DOUBLE) AS v1,
         CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR) AS s
  FROM hashes
  UNION ALL
  SELECT 'dhash_pairs' AS leg, id_a AS media_id,
         CAST(id_b AS BIGINT) AS k1, CAST(d AS BIGINT) AS k2,
         CAST(NULL AS BIGINT) AS k3, CAST(NULL AS DOUBLE) AS v1,
         CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS VARCHAR) AS s
  FROM prs WHERE d <= 3
) q
UNION ALL
SELECT 'mp4' AS leg, media_id, CAST(k AS BIGINT) AS k1,
       CAST(30 * k + 10 * (k % 2) AS BIGINT) AS k2,
       CAST(LEAST(16, length(text) - 16 * k) AS BIGINT) AS k3,
       CASE WHEN k % 3 = 0 THEN 1.0 ELSE 0.0 END AS v1,
       CAST(30 * k + 10 * (k % 2) + 10 * (k % 3) AS DOUBLE) AS v2,
       substr(text, CAST(16 * k + 1 AS INT),
              CAST(LEAST(16, length(text) - 16 * k) AS INT)) AS s
FROM (
  SELECT doc_id AS media_id, text,
         CAST(unnest(range(0,
           CAST((length(text) + 15) // 16 AS BIGINT))) AS INT) AS k
  FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
) m
UNION ALL
SELECT 'fmp4' AS leg, media_id, CAST(k AS BIGINT) AS k1,
       CAST(30 * k + 10 * (k % 2) AS BIGINT) AS k2,
       CAST(LEAST(16, length(text) - 16 * k) AS BIGINT) AS k3,
       CASE WHEN k % 3 = 0 THEN 1.0 ELSE 0.0 END AS v1,
       CAST(30 * k + 10 * (k % 2) + 10 * (k % 3) AS DOUBLE) AS v2,
       substr(text, CAST(16 * k + 1 AS INT),
              CAST(LEAST(16, length(text) - 16 * k) AS INT)) AS s
FROM (
  SELECT doc_id AS media_id, text,
         CAST(unnest(range(0,
           CAST((length(text) + 15) // 16 AS BIGINT))) AS INT) AS k
  FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 2
) m
UNION ALL
SELECT 'mpeg_frames' AS leg, media_id, CAST(k AS BIGINT) AS k1,
       CAST(720 * (k // 2) + 288 * (k % 2) AS BIGINT) AS k2,
       CAST(288 + 144 * (k % 2) AS BIGINT) AS k3,
       CAST(64 + 32 * (k % 2) AS DOUBLE) AS v1,
       CAST(36000 AS DOUBLE) AS v2,
       'mpeg1_layer2' AS s
FROM (
  SELECT doc_id AS media_id,
         CAST(unnest(range(0, 4 + doc_id % 5)) AS INT) AS k
  FROM documents WHERE doc_id < {_MEDIA_N} AND doc_id % 3 = 1
) a
"""


# ------------------------------------------------------------------ #
# temporal resampling suite (operators/temporal.py): downsample-with-
# reducers, interpolating upsample, forward gap-fill, best-pixel
# composite -- the resample_in_time family, one registry slot.

# 10 frames x 10x10 pixels carved from events (event_id < 1000 exists at
# every SF).  Frame labels are IRREGULAR epoch days so the interp legs
# prove real bracket search, not stride arithmetic.
TDAYS = (1, 2, 4, 7, 11, 16, 22, 29, 37, 46)
TPERIOD = 15                       # agg bucket width (days)
TTARGETS = (1, 3, 9, 20, 33, 46)   # interp targets: exact hits + between


def _time_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, j, i, value) cube; every 7th observation NaN (gap pattern)."""
    ev = _table(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    tf = (F.col("event_id") / 100).cast("int")
    j = ((F.col("event_id") % 100) / 10).cast("int")
    i = (F.col("event_id") % 10).cast("int")
    day = F.element_at(
        F.array(*[F.lit(d) for d in TDAYS]), tf + 1
    ).cast("long")
    val = F.when(
        (i + 2 * j + 3 * tf) % 7 == 0, F.lit(float("nan"))
    ).otherwise(F.col("value"))
    return ev.select(
        day.alias("t"), j.alias("j"), i.alias("i"), val.alias("value")
    )


TIME_CUBE_SQL = f"""
  SELECT CAST(list_extract({list(TDAYS)},
              CAST(event_id // 100 AS INT) + 1) AS BIGINT) AS t,
         CAST((event_id % 100) // 10 AS INT) AS j,
         CAST(event_id % 10 AS INT) AS i,
         CASE WHEN (event_id % 10 + 2 * ((event_id % 100) // 10)
                    + 3 * (event_id // 100)) % 7 = 0
              THEN CAST('NaN' AS DOUBLE) ELSE value END AS value
  FROM events WHERE event_id < 1000
"""


def q_time_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resample_in_time family over an irregular 10-frame cube: NaN-aware
    bucket reducers (mean/max/count), linear + nearest interpolation via
    the broadcast weighted gather, forward gap-fill, max-value composite
    (operators/temporal.py; xcube's public resample_in_time surface)."""
    from xcube_resampling_spark.operators import temporal as TT

    cube = _time_cube(spark, sf_dir)
    legs: list[tuple[str, DataFrame]] = []
    for m in ("mean", "max", "count"):
        legs.append((f"agg_{m}", TT.resample_time_agg(cube, m, TPERIOD)))
    for m in ("linear", "nearest"):
        legs.append(
            (f"interp_{m}",
             TT.resample_time_interp(cube, TDAYS, TTARGETS, m))
        )
    legs.append(("ffill", TT.forward_fill_time(cube)))
    legs.append(("bfill", TT.backward_fill_time(cube)))
    legs.append(("interp_na", TT.interpolate_na_time(cube)))
    legs.append(("rolling_mean", TT.rolling_time_agg(cube, "mean", 15)))
    # row-count frame (xarray rolling(time=3) semantics: trailing 3
    # OBSERVATIONS, value only when all 3 are valid -- min_periods
    # defaults to the window in rows mode)
    legs.append(
        ("rolling_rows", TT.rolling_time_agg(cube, "mean", 3,
                                             frame="rows"))
    )
    # centered even window (pandas/xarray center=True: the extra
    # element sits BEFORE the label), min_periods relaxed to 2
    legs.append(
        ("rolling_center", TT.rolling_time_agg(
            cube, "mean", 4, frame="rows", center=True,
            min_periods=2))
    )
    legs.append(("composite", TT.composite_best_pixel(cube)))
    # CF time decoding over the frame axis (functions/cftime.py):
    # 'cf_decode' = real-calendar decode (hours unit, epoch with a
    # time-of-day, negative inputs included) surfaced as unix seconds;
    # 'cf_360day' = fixed-calendar component decode packed as
    # y*10000 + m*100 + d
    from xcube_resampling_spark.functions.cftime import (
        decode_cf_time,
        decode_cf_time_components,
    )

    days = cube.select("t").distinct()
    v = (F.col("t") - 30).cast("double")  # negatives: pre-epoch legs
    dec = decode_cf_time(v, "hours since 2000-01-01 06:00:00")
    legs.append((
        "cf_decode",
        days.select(
            "t", F.lit(0).alias("j"), F.lit(0).alias("i"),
            (F.unix_micros(dec) / F.lit(1_000_000))
            .cast("double").alias("value"),
        ),
    ))
    comp = decode_cf_time_components(
        v, "days since 1999-12-27", "360_day"
    )
    legs.append((
        "cf_360day",
        days.select(
            "t", F.lit(0).alias("j"), F.lit(0).alias("i"),
            (comp.year * 10000 + comp.month * 100 + comp.day)
            .cast("double").alias("value"),
        ),
    ))
    # proleptic Julian calendar (every 4th year leap, no century
    # rule): same component packing; the window crosses the 1999/2000
    # year boundary including Julian-only arithmetic
    jcomp = decode_cf_time_components(
        v, "days since 1999-12-27", "julian"
    )
    legs.append((
        "cf_julian",
        days.select(
            "t", F.lit(0).alias("j"), F.lit(0).alias("i"),
            (jcomp.year * 10000 + jcomp.month * 100 + jcomp.day)
            .cast("double").alias("value"),
        ),
    ))
    out = None
    for name, d in legs:
        d = d.select(
            F.lit(name).alias("leg"),
            F.col("t").cast("long").alias("t"),
            F.col("j").cast("int").alias("j"),
            F.col("i").cast("int").alias("i"),
            F.col("value").cast("double").alias("value"),
        )
        out = d if out is None else out.unionByName(d)
    return out


def _time_suite_sql() -> str:
    from xcube_resampling_spark.operators.temporal import interp_weights

    nv = "CASE WHEN isnan(value) THEN NULL ELSE value END"
    nan = "CAST('NaN' AS DOUBLE)"
    parts = []
    for m, expr in (
        ("mean", f"COALESCE(AVG({nv}), {nan})"),
        ("max", f"COALESCE(MAX({nv}), {nan})"),
        ("count", f"CAST(COUNT({nv}) AS DOUBLE)"),
    ):
        parts.append(f"""
SELECT 'agg_{m}' AS leg, t, j, i, {expr} AS value
FROM (SELECT CAST((t // {TPERIOD}) * {TPERIOD} AS BIGINT) AS t,
             j, i, value
      FROM ({TIME_CUBE_SQL}))
GROUP BY t, j, i""")
    for m in ("linear", "nearest"):
        wrows = interp_weights(TDAYS, TTARGETS, m)
        n_exp: dict = {}
        for _, to, _ in wrows:
            n_exp[to] = n_exp.get(to, 0) + 1
        vals = ", ".join(
            f"({ts}, {to}, CAST({w!r} AS DOUBLE), {n_exp[to]})"
            for ts, to, w in wrows
        )
        parts.append(f"""
SELECT 'interp_{m}' AS leg, CAST(m.t_out AS BIGINT) AS t, c.j, c.i,
       CASE WHEN COUNT(*) = MAX(m.n_exp)
            THEN SUM(c.value * m.weight)
            ELSE CAST('NaN' AS DOUBLE) END AS value
FROM ({TIME_CUBE_SQL}) c
JOIN (VALUES {vals}) m(t, t_out, weight, n_exp) ON c.t = m.t
GROUP BY m.t_out, c.j, c.i""")
    parts.append(f"""
SELECT 'ffill' AS leg, t, j, i,
       COALESCE(last_value({nv} IGNORE NULLS) OVER (
           PARTITION BY j, i ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), {nan})
       AS value
FROM ({TIME_CUBE_SQL})""")
    parts.append(f"""
SELECT 'bfill' AS leg, t, j, i,
       COALESCE(first_value({nv} IGNORE NULLS) OVER (
           PARTITION BY j, i ORDER BY t
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), {nan})
       AS value
FROM ({TIME_CUBE_SQL})""")
    parts.append(f"""
SELECT 'interp_na' AS leg, t, j, i,
       COALESCE(
         CASE WHEN nv IS NOT NULL THEN nv
              WHEN pv IS NOT NULL AND nx IS NOT NULL
              THEN pv + (nx - pv) * (t - pt) / (nt2 - pt) END,
         {nan}) AS value
FROM (
  SELECT t, j, i, nv,
         last_value(nv IGNORE NULLS) OVER wprev AS pv,
         last_value(CASE WHEN nv IS NOT NULL THEN t END
                    IGNORE NULLS) OVER wprev AS pt,
         first_value(nv IGNORE NULLS) OVER wnext AS nx,
         first_value(CASE WHEN nv IS NOT NULL THEN t END
                     IGNORE NULLS) OVER wnext AS nt2
  FROM (SELECT t, j, i, {nv} AS nv FROM ({TIME_CUBE_SQL}))
  WINDOW wprev AS (PARTITION BY j, i ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wnext AS (PARTITION BY j, i ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)""")
    parts.append(f"""
SELECT 'rolling_mean' AS leg, t, j, i,
       COALESCE(AVG({nv}) OVER (
           PARTITION BY j, i ORDER BY t
           RANGE BETWEEN 14 PRECEDING AND CURRENT ROW), {nan})
       AS value
FROM ({TIME_CUBE_SQL})""")
    parts.append(f"""
SELECT 'rolling_rows' AS leg, t, j, i,
       COALESCE(CASE WHEN COUNT({nv}) OVER w >= 3
                     THEN AVG({nv}) OVER w END, {nan}) AS value
FROM ({TIME_CUBE_SQL})
WINDOW w AS (PARTITION BY j, i ORDER BY t
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""")
    parts.append(f"""
SELECT 'rolling_center' AS leg, t, j, i,
       COALESCE(CASE WHEN COUNT({nv}) OVER w >= 2
                     THEN AVG({nv}) OVER w END, {nan}) AS value
FROM ({TIME_CUBE_SQL})
WINDOW w AS (PARTITION BY j, i ORDER BY t
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING)""")
    parts.append(f"""
SELECT 'composite' AS leg, t, j, i, value FROM (
  SELECT t, j, i, value,
         row_number() OVER (PARTITION BY j, i
                            ORDER BY value DESC, t ASC) AS rn
  FROM ({TIME_CUBE_SQL}) WHERE NOT isnan(value)
) WHERE rn = 1""")
    # cf_decode: epoch 2000-01-01 06:00:00 UTC = 946706400 s; input
    # (t - 30) hours, so unix seconds = 946706400 + (t-30)*3600
    parts.append(f"""
SELECT 'cf_decode' AS leg, t, 0 AS j, 0 AS i,
       CAST(946706400 + (t - 30) * 3600 AS DOUBLE) AS value
FROM (SELECT DISTINCT t FROM ({TIME_CUBE_SQL}))""")
    # cf_360day: epoch 1999-12-27 in the 360-day calendar is
    # day-of-era 1999*360 + 330 + 26; all inputs stay positive there,
    # so truncating division == floor
    doe0 = 1999 * 360 + 330 + 26
    parts.append(f"""
SELECT 'cf_360day' AS leg, t, 0 AS j, 0 AS i,
       CAST((doe // 360) * 10000
            + ((doe % 360) // 30 + 1) * 100
            + (doe % 360) % 30 + 1 AS DOUBLE) AS value
FROM (SELECT DISTINCT t, {doe0} + (t - 30) AS doe
      FROM ({TIME_CUBE_SQL}))""")
    # cf_julian: the same epoch read on the proleptic Julian calendar;
    # doe is the March-based Julian day-of-era (1461-day eras, leap at
    # March-year 3).  All values positive here, so DuckDB's truncating
    # // equals floor.
    from xcube_resampling_spark.functions.cftime import (
        _JULIAN_EPOCH_DOE,
        _days_from_julian,
    )

    jdoe0 = _days_from_julian(1999, 12, 27) + _JULIAN_EPOCH_DOE
    parts.append(f"""
SELECT 'cf_julian' AS leg, t, 0 AS j, 0 AS i,
       CAST((era * 4 + yoe + CASE WHEN month <= 2 THEN 1 ELSE 0 END)
            * 10000 + month * 100 + day AS DOUBLE) AS value
FROM (
  SELECT t, era, yoe,
         CASE WHEN mp < 10 THEN mp + 3 ELSE mp - 9 END AS month,
         doy - (153 * mp + 2) // 5 + 1 AS day
  FROM (
    SELECT t, era, yoe, doy, (5 * doy + 2) // 153 AS mp
    FROM (
      SELECT t, era, yoe, die - 365 * yoe AS doy
      FROM (
        SELECT t, era, die, (die - die // 1460) // 365 AS yoe
        FROM (
          SELECT t, doe // 1461 AS era, doe % 1461 AS die
          FROM (SELECT DISTINCT t, {jdoe0} + (t - 30) AS doe
                FROM ({TIME_CUBE_SQL}))
        )
      )
    )
  )
)""")
    return "\nUNION ALL\n".join(f"SELECT * FROM ({p}\n) u" for p in parts)


# ------------------------------------------------------------------ #
# contract surface


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: rectification of a sheared
    synthetic swath (the engine's hardest operator, SURVEY.md section 2 #20)."""
    return q_rectify_swath_nearest(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "affine_variants": q_affine_variants,
        "coarsen_reducers": q_coarsen_reducers,
        "clip_bbox": q_clip_bbox,
        "ij_bbox_containment": q_ij_bbox_containment,
        "store_roundtrip": q_store_roundtrip,
        "zarr_roundtrip": q_zarr_roundtrip,
        "zarr_levels": q_zarr_levels,
        "rectify_swath_nearest": q_rectify_swath_nearest,
        "rectify_swath_bilinear": _q_rectify("bilinear"),
        "rectify_fused": q_rectify_fused,
        "rectify_swath_triangular": _q_rectify("triangular"),
        "rectify_swath_3d_nearest": q_rectify_swath_3d_nearest,
        "rectify_antimeridian": q_rectify_antimeridian,
        "rectify_distributed_coords": q_rectify_distributed_coords,
        "rectify_rotated_pole": q_rectify_rotated_pole,
        "rectify_geos": q_rectify_geos,
        "lon360_roundtrip": q_lon360_roundtrip,
        # one slot for both pure dispatcher routes (affine + identity)
        # -- merged in r11 to free a registry slot (driver cap: 50)
        "resample_dispatch": q_resample_dispatch,
        "multimodal_suite": q_multimodal_suite,
        "reproject_methods": q_reproject_methods,
        "reproject_crs_families": q_reproject_crs_families,
        "zarr3_roundtrip": q_zarr3_roundtrip,
        "netcdf_roundtrip": q_netcdf_roundtrip,
        "geotiff_roundtrip": q_geotiff_roundtrip,
        "dedup_stream_keepone": q_dedup_stream_keepone,
        "zarr_affine_pipeline": q_zarr_affine_pipeline,
        "text_stats": q_text_stats,
        "language_id": q_language_id,
        "pii_scrub": q_pii_scrub,
        "doc_fingerprint": q_doc_fingerprint,
        "vocab_stats": q_vocab_stats,
        "quality_classifier": q_quality_classifier,
        "lm_quality": q_lm_quality,
        "corpus_sample": q_corpus_sample,
        "corpus_mix": q_corpus_mix,
        "dedup_exact": q_dedup_exact,
        "dedup_paragraph": q_dedup_paragraph,
        "dedup_substring": q_dedup_substring,
        "pack_sequences": q_pack_sequences,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_components": q_dedup_components,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_embedding_cosine_lsh": q_dedup_embedding_cosine_lsh,
        "dedup_simhash": q_dedup_simhash,
        "ann_suite": q_ann_suite,
        "event_suite": q_event_suite,
        "url_suite": q_url_suite,
        "time_suite": q_time_suite,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "affine_variants": _affine_variants_sql(),
        "coarsen_reducers": SQL_COARSEN_REDUCERS,
        "clip_bbox": SQL_CLIP,
        "ij_bbox_containment": SQL_IJ_BBOX,
        "store_roundtrip": SQL_CLIP,
        "zarr_roundtrip": SQL_ZARR_STORES,
        "zarr_levels": SQL_ZARR_LEVELS,
        "multimodal_suite": _multimodal_suite_sql(),
        "rectify_swath_nearest": SQL_RECTIFY,
        "rectify_swath_bilinear": SQL_RECTIFY_BILINEAR,
        "rectify_fused": _rectify_fused_sql(),
        "rectify_swath_triangular": SQL_RECTIFY_TRIANGULAR,
        "rectify_swath_3d_nearest": SQL_RECTIFY_3D,
        "rectify_antimeridian": SQL_RECTIFY_ANTIMERIDIAN,
        "rectify_distributed_coords": SQL_RECTIFY,
        "rectify_rotated_pole": _rotpole_rectify_sql(),
        "rectify_geos": _geos_rectify_sql(),
        "lon360_roundtrip": SQL_LON360,
        "resample_dispatch": (
            f"SELECT 'affine' AS leg, q.* FROM ({SQL_AFFINE_SHIFT}) q\n"
            f"UNION ALL\n"
            f"SELECT 'identity' AS leg, q.* FROM ({SQL_IDENTITY}) q"
        ),
        "reproject_methods": _reproject_methods_sql(),
        "reproject_crs_families": _reproject_families_oracle_sql(),
        "zarr3_roundtrip": (
            f"SELECT 'gzip' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\n"
            f"SELECT 'zstd' AS fmt, q.* FROM ({SQL_CLIP}) q"
        ),
        "netcdf_roundtrip": (
            f"SELECT 'netcdf3' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\nSELECT 'cdf5' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\n"
            f"SELECT 'kerchunk' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\n"
            f"SELECT 'kerchunk_parquet' AS fmt, q.* "
            f"FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\nSELECT 'hdf5' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\n"
            f"SELECT 'hdf5_dense' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            f"UNION ALL\n"
            f"SELECT 'compound' AS fmt, q.* FROM ({SQL_CLIP}) q\n"
            "UNION ALL\n"
            "SELECT 'szip' AS fmt, t, j, i,\n"
            "       CAST(FLOOR(raw * 100) AS DOUBLE) AS value\n"
            f"FROM (SELECT t, CAST(j - 10 AS INT) AS j,\n"
            f"             CAST(i - 5 AS INT) AS i, value AS raw\n"
            f"      FROM ({RASTER_SQL}) src\n"
            f"      WHERE i >= 5 AND i < 20 AND j >= 10 AND j < 30) q\n"
            "UNION ALL\n"
            "SELECT 'vlen' AS fmt, CAST(length(s) AS INT) AS t,\n"
            "       CAST(j - 10 AS INT) AS j, CAST(i - 5 AS INT) AS i,\n"
            "       CAST(list_sum(list_transform(\n"
            "         regexp_extract_all(s, '.'), c -> ascii(c)))\n"
            "         AS DOUBLE) AS value\n"
            "FROM (SELECT j, i,\n"
            "        'r' || CAST(j AS VARCHAR) || 'c'\n"
            "          || CAST(i AS VARCHAR) AS s\n"
            "      FROM (SELECT unnest(range(10, 30)) AS j),\n"
            "           (SELECT unnest(range(5, 20)) AS i))"
        ),
        "geotiff_roundtrip": SQL_GEOTIFF,
        "dedup_stream_keepone": SQL_DEDUP_STREAM,
        "zarr_affine_pipeline": SQL_AFFINE_DOWNSCALE,
        "text_stats": SQL_TEXT_STATS,
        "language_id": SQL_LANGUAGE_ID,
        "pii_scrub": _pii_sql(),
        "doc_fingerprint": SQL_FINGERPRINT,
        "vocab_stats": SQL_VOCAB,
        "quality_classifier": _quality_classifier_sql(),
        "lm_quality": SQL_LM_QUALITY,
        "corpus_sample": _sampling_sql(),
        "corpus_mix": _corpus_mix_sql(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_paragraph": SQL_DEDUP_PARAGRAPH,
        "dedup_substring": SQL_DEDUP_SUBSTRING,
        "pack_sequences": _pack_sequences_sql(),
        "dedup_ngram_jaccard": SQL_DEDUP_JACCARD,
        "dedup_minhash_lsh": SQL_DEDUP_MINHASH,
        "dedup_components": SQL_DEDUP_COMPONENTS,
        "dedup_pipeline": SQL_DEDUP_PIPELINE,
        "dedup_embedding_cosine_lsh": _sql_dedup_emb_lsh(),
        "dedup_simhash": SQL_DEDUP_SIMHASH,
        "ann_suite": _ann_suite_sql(),
        "event_suite": _event_suite_sql(),
        "url_suite": _url_suite_sql(),
        "time_suite": _time_suite_sql(),
    }
