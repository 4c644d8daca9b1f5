"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial-join + tile-assignment query
on sf0.001. ``queries()``/``oracle_sql()`` expose the implemented
operators (SURVEY.md §2) against the driver's parquet tables, each with
a DuckDB-equivalent ANSI-SQL oracle where SQL can express the
semantics (rows-only checks otherwise).

The spatial queries derive a deterministic image table from
``customer`` (same integer arithmetic in Spark expressions and in the
oracle SQL — all dyadic rationals, bit-identical doubles in both
engines) and join it against the synthetic KSJ-style polygon layer
(ksj2gp_spark.fixtures). The Spark side runs the real engine path
(cell index → candidate join → exact PIP refine); the oracle expresses
the same result relationally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ksj2gp_spark import fixtures  # noqa: E402
from ksj2gp_spark.geo import grid  # noqa: E402
from ksj2gp_spark.operators import spatial  # noqa: E402

GRID_RES = 10
_MIX = 2654435761
_MOD = 1 << 20

# ---------------------------------------------------------------------------
# Deterministic image-table derivation from `customer` — the Spark
# expressions and the SQL CTE below MUST stay in lockstep; both use only
# integer arithmetic and dyadic divisions so doubles are bit-identical.
# ---------------------------------------------------------------------------


def _images_from_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    k = F.col("c_custkey")
    sel = (k * F.lit(_MIX) % F.lit(_MOD)) / F.lit(float(_MOD))
    lon_u = ((k * F.lit(97) + F.lit(13)) * F.lit(_MIX) % F.lit(_MOD)) / F.lit(
        float(_MOD)
    )
    lat_u = ((k * F.lit(31) + F.lit(7)) * F.lit(_MIX) % F.lit(_MOD)) / F.lit(
        float(_MOD)
    )
    third2 = F.lit(2.0) / F.lit(3.0)
    band = (k % F.lit(2)).cast("double")
    lon = (
        F.when(sel >= F.lit(0.95), F.lit(141.5) + lon_u)
        .otherwise(F.lit(139.0) + lon_u * F.lit(2.0))
    )
    lat = (
        F.when(sel < F.lit(0.70), F.lit(35.0) + band * third2 + lat_u * third2)
        .when(sel >= F.lit(0.95), F.lit(35.0) + lat_u * F.lit(2.0))
        .otherwise(F.lit(35.0) + F.lit(4.0) / F.lit(3.0) + lat_u * third2)
    )
    return c.select(
        F.concat(F.lit("img"), F.lpad(k.cast("string"), 8, "0")).alias(
            "image_id"
        ),
        lon.alias("lon"),
        lat.alias("lat"),
        F.concat(F.lit("caption "), k.cast("string"), F.lit(" "), F.col("c_name")).alias(
            "caption"
        ),
    )


_IMAGES_CTE = f"""
images AS (
  SELECT 'img' || lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS image_id,
         CASE WHEN (c_custkey * {_MIX} % {_MOD}) / {float(_MOD)} >= 0.95
              THEN 141.5 + ((c_custkey * 97 + 13) * {_MIX} % {_MOD}) / {float(_MOD)}
              ELSE 139.0 + ((c_custkey * 97 + 13) * {_MIX} % {_MOD}) / {float(_MOD)} * 2.0
         END AS lon,
         CASE WHEN (c_custkey * {_MIX} % {_MOD}) / {float(_MOD)} < 0.70
              THEN 35.0 + CAST(c_custkey % 2 AS DOUBLE) * (2.0/3.0)
                   + ((c_custkey * 31 + 7) * {_MIX} % {_MOD}) / {float(_MOD)} * (2.0/3.0)
              WHEN (c_custkey * {_MIX} % {_MOD}) / {float(_MOD)} >= 0.95
              THEN 35.0 + ((c_custkey * 31 + 7) * {_MIX} % {_MOD}) / {float(_MOD)} * 2.0
              ELSE 35.0 + (4.0/3.0)
                   + ((c_custkey * 31 + 7) * {_MIX} % {_MOD}) / {float(_MOD)} * (2.0/3.0)
         END AS lat,
         'caption ' || CAST(c_custkey AS VARCHAR) || ' ' || c_name AS caption
  FROM customer
)
"""


def _polys_values_sql() -> str:
    """The fixture polygon layer as a SQL VALUES literal (rectangles),
    full-precision reprs so DuckDB parses the identical doubles."""
    from ksj2gp_spark.geo import wkb as _wkb

    rows = []
    for _, r in fixtures.polygon_layer().iterrows():
        minx, miny, maxx, maxy = _wkb.loads(r["geometry"]).bounds()
        rows.append(
            f"('{r['polygon_id']}', '{r['行政区域コード']}', "
            f"{minx!r}, {miny!r}, {maxx!r}, {maxy!r})"
        )
    return (
        "polys(polygon_id, admin_code, xmin, ymin, xmax, ymax) AS (VALUES "
        + ", ".join(rows)
        + ")"
    )


_CELL_SQL = grid.oracle_sql_expr("lon", "lat", GRID_RES)

_TILES_SQL = f"""
WITH {_IMAGES_CTE.strip().rstrip()},
{_polys_values_sql()}
SELECT i.image_id,
       {_CELL_SQL} AS cell,
       p.polygon_id,
       p.admin_code
FROM images i
JOIN polys p
  ON i.lon >= p.xmin AND i.lon <= p.xmax
 AND i.lat >= p.ymin AND i.lat <= p.ymax
"""


def _tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _images_from_customer(spark, sf_dir)
    return spatial.spatial_join_tiles(
        imgs, fixtures.polygon_layer(), scheme="grid", res=GRID_RES
    ).select("image_id", "cell", "polygon_id", "admin_code")


# ---------------------------------------------------------------------------
# queries / oracles
# ---------------------------------------------------------------------------


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tiles(spark, sf_dir)


def q_tile_assign_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully distributed big-layer join WITH the hot-polygon
    auto-split forced on (operators/spatial.py::
    spatial_join_tiles_dist, max_group_rows far below the per-polygon
    candidate counts, n_sub=4): distributed cover → shuffle candidate
    join → salted cogroup PIP refine. Same oracle as tile_assign —
    the split path must reproduce the broadcast path's row set
    exactly, now pinned against SQL rather than only path-vs-path."""
    imgs = _images_from_customer(spark, sf_dir)
    return spatial.spatial_join_tiles_dist(
        imgs,
        spark.createDataFrame(fixtures.polygon_layer()),
        scheme="grid",
        res=GRID_RES,
        max_group_rows=20,
        n_sub=4,
    ).select("image_id", "cell", "polygon_id", "admin_code")


def q_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tiles(spark, sf_dir)
        .groupBy("admin_code")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.countDistinct("image_id").alias("n_images"),
            F.countDistinct("cell").alias("n_cells"),
        )
    )


def q_knn_ocean(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _images_from_customer(spark, sf_dir)
    sel = (
        (F.col("c_custkey") * F.lit(_MIX) % F.lit(_MOD)) / F.lit(float(_MOD))
    )
    del sel
    # ocean lane: anti-join against the tile assignments
    tiles = _tiles(spark, sf_dir)
    ocean = imgs.join(tiles.select("image_id"), "image_id", "left_anti")
    knn = spatial.knn_join(ocean, fixtures.polygon_layer(), k=3)
    return knn.select("image_id", "rank", "admin_code")


def q_hex_tiles_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-scheme join (engine-native cell ids → no SQL oracle for the
    ids themselves, but per-admin counts must equal the grid lane's)."""
    imgs = _images_from_customer(spark, sf_dir)
    tiles = spatial.spatial_join_tiles(
        imgs, fixtures.polygon_layer(), scheme="hex", res=7
    )
    return tiles.groupBy("admin_code").agg(
        F.countDistinct("image_id").alias("n_images")
    )


def q_s2_tiles_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = _images_from_customer(spark, sf_dir)
    tiles = spatial.spatial_join_tiles(
        imgs, fixtures.polygon_layer(), scheme="s2", res=12
    )
    return tiles.groupBy("admin_code").agg(
        F.countDistinct("image_id").alias("n_images")
    )


_KNN_SQL = f"""
WITH {_IMAGES_CTE.strip()},
{_polys_values_sql()},
tiles AS (
  SELECT i.image_id
  FROM images i JOIN polys p
    ON i.lon >= p.xmin AND i.lon <= p.xmax
   AND i.lat >= p.ymin AND i.lat <= p.ymax
),
ocean AS (
  SELECT * FROM images WHERE image_id NOT IN (SELECT image_id FROM tiles)
),
dists AS (
  SELECT o.image_id, p.admin_code,
         sqrt(power(greatest(p.xmin - o.lon, o.lon - p.xmax, 0.0), 2)
            + power(greatest(p.ymin - o.lat, o.lat - p.ymax, 0.0), 2)) AS d
  FROM ocean o CROSS JOIN polys p
)
SELECT image_id,
       CAST(row_number() OVER (PARTITION BY image_id ORDER BY d, admin_code) AS INT) AS rank,
       admin_code
FROM dists
QUALIFY rank <= 3
"""


def q_codelist_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 semantics demo on `nation`: broadcast-map translation with
    pass-through on miss (keys 20-24 intentionally missing)."""
    from ksj2gp_spark.operators.translate import codelist_expr
    from pyspark.sql import types as T

    mapping = {str(i): f"label_{i:02d}" for i in range(20)}
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return n.select(
        F.col("n_nationkey").alias("n_nationkey"),
        codelist_expr(F.col("n_nationkey"), T.IntegerType(), mapping).alias(
            "nation_label"
        ),
    )


_CODELIST_SQL = """
SELECT n_nationkey,
       CASE WHEN n_nationkey < 20
            THEN 'label_' || lpad(CAST(n_nationkey AS VARCHAR), 2, '0')
            ELSE CAST(n_nationkey AS VARCHAR) END AS nation_label
FROM nation
"""


# (family, col_id, year, target_shp) — 22 cases across 19 distinct KSJ
# dataset families, each resolved through the engine's real dispatch
# (registry + A03 region-file / A42 shapefile / L01 year-band special
# cases, ksj/codelists.py::get_codelist_map). Every code of the
# resolved map is translated, plus one guaranteed-miss code per case
# (pass-through semantics). W05_001 (5,475-entry 水系コード) runs
# through the broadcast-join path (codelist_join) instead of the
# create_map literal; its fixture draws a deterministic 1-in-18 subset
# so the oracle VALUES table stays small while Spark still broadcasts
# the full dictionary.
_CODELIST_FAMILY_CASES = [
    ("A03", "A03_007", 0, ""),
    ("A03", "A03_006", 0, "A03-03_SYUTO-g_PlannedArea.shp"),
    ("A10", "LAYER_NO", 0, ""),
    ("A15", "A15_003", 0, ""),
    ("A17", "A17_009", 0, ""),
    ("A22", "A22_100005", 0, ""),
    ("A26", "A26_005", 0, ""),
    ("A31", "A31_301", 0, ""),
    ("A33", "A33_001", 0, ""),
    ("A42", "A42_005", 0, "A42-20_Spacial_Preservation_Area_of_Historic_Landscape.shp"),
    ("A45", "A45_026", 0, ""),
    ("C02", "C02_001", 0, ""),
    ("G04a", "G04a_005", 0, ""),
    ("L01", "L01_001", 2020, ""),
    ("L01", "L01_007", 2018, ""),
    ("L03b", "土地利用種", 2009, ""),
    ("N02", "N02_001", 0, ""),
    ("N08", "N08_002", 0, ""),
    ("P13", "P13_004", 0, ""),
    ("P14", "P14_005", 0, ""),
    ("S12", "S12_004", 0, ""),
    ("W05", "W05_001", 0, ""),
]


def _codelist_family_fixture() -> list[tuple[int, str, str, str, dict[str, str]]]:
    """(case_id, family, col_id, codes..., full mapping) per case."""
    from ksj2gp_spark.ksj.codelists import get_codelist_map

    out = []
    for i, (fam, col_id, year, shp) in enumerate(_CODELIST_FAMILY_CASES):
        mapping = get_codelist_map(col_id, year, shp)
        assert mapping, f"no codelist resolved for {col_id}"
        codes = list(mapping)
        if col_id == "W05_001":
            codes = codes[::18]
        codes.append(f"miss_{i}")
        out.append((i, fam, col_id, codes, mapping))
    return out


def q_codelist_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 over the full reference data tables: per-column dictionary
    application across 19 dataset families. Small dictionaries go
    through the JVM create_map literal (codelist_expr); the 5,475-entry
    W05 water-system map goes through the broadcast-join variant
    (codelist_join) — both with pass-through-on-miss semantics."""
    from ksj2gp_spark.operators.translate import codelist_expr, codelist_join
    from pyspark.sql import types as T

    rows = []
    for case_id, fam, col_id, codes, _ in _codelist_family_fixture():
        rows.extend((case_id, fam, col_id, c) for c in codes)
    base = spark.createDataFrame(
        rows, "case_id int, family string, col_id string, code string"
    )
    parts = []
    for case_id, _, col_id, _, mapping in _codelist_family_fixture():
        sub = base.filter(F.col("case_id") == case_id)
        if len(mapping) > 1000:
            parts.append(codelist_join(sub, "code", mapping, out_col="label"))
        else:
            parts.append(
                sub.select(
                    "case_id",
                    "family",
                    "col_id",
                    "code",
                    codelist_expr(F.col("code"), T.StringType(), mapping).alias(
                        "label"
                    ),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _codelist_families_sql() -> str:
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    fixture_rows, lookup_rows = [], []
    for case_id, fam, col_id, codes, mapping in _codelist_family_fixture():
        for c in codes:
            fixture_rows.append(
                f"({case_id},'{esc(fam)}','{esc(col_id)}','{esc(c)}')"
            )
            if c in mapping:
                lookup_rows.append(
                    f"({case_id},'{esc(c)}','{esc(mapping[c])}')"
                )
    fv = ",\n".join(fixture_rows)
    lv = ",\n".join(lookup_rows)
    return f"""
WITH fixture(case_id, family, col_id, code) AS (VALUES {fv}),
lkp(case_id, code, label) AS (VALUES {lv})
SELECT CAST(f.case_id AS INT) AS case_id, f.family, f.col_id, f.code,
       COALESCE(l.label, f.code) AS label
FROM fixture f LEFT JOIN lkp l ON f.case_id = l.case_id AND f.code = l.code
"""


_EPOCH_SEC = 500 * 3600  # admin-boundary revision instant


def _temporal_layer():
    """Two epochs of the fixture layer: identical boxes, but epoch-2
    versions carry a 'B'-suffixed admin code — the shape of real KSJ
    admin layers, which are re-published per year."""
    import pandas as pd

    base = fixtures.polygon_layer()
    e1 = base.copy()
    e1["version_of"] = e1["polygon_id"]
    e1["polygon_id"] = e1["polygon_id"] + "-e1"
    e1["valid_from"] = 0
    e1["valid_to"] = _EPOCH_SEC
    e2 = base.copy()
    e2["version_of"] = e2["polygon_id"]
    e2["polygon_id"] = e2["polygon_id"] + "-e2"
    e2["行政区域コード"] = e2["行政区域コード"] + "B"
    e2["valid_from"] = _EPOCH_SEC
    e2["valid_to"] = 10**12
    return pd.concat([e1, e2], ignore_index=True)


def _images_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic event time: custkey % 1000 hours since epoch
    return _images_from_customer(spark, sf_dir).withColumn(
        "ts",
        (F.substring("image_id", 4, 10).cast("long") % 1000) * 3600,
    )


def q_temporal_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-temporal spatial join: each image matches the polygon
    VERSION valid at its timestamp (valid_from ≤ ts < valid_to) — the
    time predicate rides the broadcast candidate join as a residual,
    no extra shuffle."""
    imgs = _images_with_ts(spark, sf_dir)
    out = spatial.temporal_join_tiles(
        imgs, _temporal_layer(), scheme="grid", res=GRID_RES, mode="interval"
    )
    return out.select("image_id", "polygon_id", "admin_code", "ts")


def q_temporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of spatial join: revisions without closed windows; each image
    takes the LATEST version with valid_from ≤ ts per polygon lineage."""
    imgs = _images_with_ts(spark, sf_dir)
    out = spatial.temporal_join_tiles(
        imgs,
        _temporal_layer(),
        scheme="grid",
        res=GRID_RES,
        mode="asof",
        version_col="version_of",
    )
    return out.select("image_id", "polygon_id", "admin_code", "ts")


def _temporal_vers_sql() -> str:
    from ksj2gp_spark.geo import wkb as _wkb

    rows = []
    for _, r in fixtures.polygon_layer().iterrows():
        minx, miny, maxx, maxy = _wkb.loads(r["geometry"]).bounds()
        pid, adm = r["polygon_id"], r["行政区域コード"]
        rows.append(
            f"('{pid}-e1', '{adm}', '{pid}', {minx!r}, {miny!r}, "
            f"{maxx!r}, {maxy!r}, 0, {_EPOCH_SEC})"
        )
        rows.append(
            f"('{pid}-e2', '{adm}B', '{pid}', {minx!r}, {miny!r}, "
            f"{maxx!r}, {maxy!r}, {_EPOCH_SEC}, {10**12})"
        )
    return (
        "vers(polygon_id, admin_code, version_of, xmin, ymin, xmax, ymax, "
        "vf, vt) AS (VALUES " + ", ".join(rows) + ")"
    )


def _temporal_tiles_sql() -> str:
    return f"""
WITH {_IMAGES_CTE.strip()},
{_temporal_vers_sql()},
ts_img AS (
  SELECT image_id, lon, lat,
         (CAST(substr(image_id, 4) AS BIGINT) % 1000) * 3600 AS ts
  FROM images
)
SELECT i.image_id, v.polygon_id, v.admin_code, i.ts
FROM ts_img i JOIN vers v
  ON i.lon >= v.xmin AND i.lon <= v.xmax
 AND i.lat >= v.ymin AND i.lat <= v.ymax
 AND i.ts >= v.vf AND i.ts < v.vt
"""


def _temporal_asof_sql() -> str:
    return f"""
WITH {_IMAGES_CTE.strip()},
{_temporal_vers_sql()},
ts_img AS (
  SELECT image_id, lon, lat,
         (CAST(substr(image_id, 4) AS BIGINT) % 1000) * 3600 AS ts
  FROM images
),
cand AS (
  SELECT i.image_id, v.polygon_id, v.admin_code, v.version_of, v.vf, i.ts,
         row_number() OVER (
           PARTITION BY i.image_id, v.version_of
           ORDER BY v.vf DESC, v.polygon_id
         ) AS rn
  FROM ts_img i JOIN vers v
    ON i.lon >= v.xmin AND i.lon <= v.xmax
   AND i.lat >= v.ymin AND i.lat <= v.ymax
   AND i.ts >= v.vf
)
SELECT image_id, polygon_id, admin_code, ts FROM cand WHERE rn = 1
"""


def q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation (partial-agg / codegen showcase)."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    # Sums as exact integers (quantities are integral; prices to cents)
    # so the cross-engine value-hash is immune to float accumulation
    # order.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "sum_base_cents"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join: region → nation → customer →
    orders → lineitem → supplier, revenue per nation where customer and
    supplier share the nation. Dimension chains broadcast; the
    orders×lineitem fact join shuffles on the key — the classic
    star-join physical shape. Revenue in exact cents (cross-engine
    hash-stable)."""
    rd = os.path.join
    region = spark.read.parquet(rd(sf_dir, "region.parquet"))
    nation = spark.read.parquet(rd(sf_dir, "nation.parquet"))
    customer = spark.read.parquet(rd(sf_dir, "customer.parquet"))
    orders = spark.read.parquet(rd(sf_dir, "orders.parquet"))
    lineitem = spark.read.parquet(rd(sf_dir, "lineitem.parquet"))
    supplier = spark.read.parquet(rd(sf_dir, "supplier.parquet"))
    revenue_cents = F.sum(
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
    )
    return (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .join(orders, orders.o_custkey == customer.c_custkey)
        .join(lineitem, lineitem.l_orderkey == orders.o_orderkey)
        .join(
            supplier,
            (supplier.s_suppkey == lineitem.l_suppkey)
            & (supplier.s_nationkey == customer.c_nationkey),
        )
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01"))
        .filter(F.col("o_orderdate") < F.lit("1997-01-01"))
        .groupBy("n_name")
        .agg(
            revenue_cents.alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_REGIONAL_REVENUE_SQL = """
SELECT n.n_name,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
               AND s.s_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n.n_name
"""


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
    )


_TOP_ORDERS_SQL = """
SELECT o_custkey,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank,
       o_orderkey, o_totalprice
FROM orders
QUALIFY rank <= 2
"""


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows (batch shape of the streaming agg)."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    win = F.floor(F.unix_timestamp("ts") / F.lit(300)).cast("long")
    return (
        e.groupBy(win.alias("window_id"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
    )


_EVENTS_SQL = """
SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) AS window_id,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (15 min width, 5 min slide) via explode(sequence)
    — each event lands in width/slide = 3 windows; counts per
    (window_start, event_type). Integer-second arithmetic keeps the
    DuckDB oracle exact."""
    width, slide = 900, 300
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    t = F.unix_timestamp("ts")
    w_lo = (F.floor((t - F.lit(width)) / F.lit(slide)) + F.lit(1)).cast("long")
    w_hi = F.floor(t / F.lit(slide)).cast("long")
    return (
        e.withColumn("wid", F.explode(F.sequence(w_lo, w_hi)))
        .groupBy(
            (F.col("wid") * F.lit(slide)).alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_EVENTS_SLIDING_SQL = """
SELECT CAST(w.w * 300 AS BIGINT) AS window_start,
       event_type,
       count(*) AS n_events
FROM events e,
     LATERAL (SELECT unnest(generate_series(
         CAST(floor((epoch(e.ts) - 900) / 300) AS BIGINT) + 1,
         CAST(floor(epoch(e.ts) / 300) AS BIGINT))) AS w) AS w
GROUP BY 1, 2
"""


def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch shape of the stream-stream interval join
    (streaming/events.py::attribution_join): every purchase attributed
    to each same-user click in the preceding 30 minutes. Integer
    microsecond delay keeps the oracle exact."""
    from ksj2gp_spark.streaming import events as stream_ops

    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return stream_ops.attribution_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        max_delay="30 minutes",
    )


_ATTRIBUTION_SQL = """
WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
           WHERE event_type = 'click'),
     p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
           WHERE event_type = 'purchase')
SELECT c.click_id, p.purchase_id, c.user_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS delay_usec
FROM c JOIN p ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on documents (hash-groupBy canonical row)."""
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("canonical_doc_id", "dup_count")
    )


_DEDUP_SQL = """
SELECT min(doc_id) AS canonical_doc_id, count(*) AS dup_count
FROM documents GROUP BY text
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-doc repetition quality gate
    (operators/text.py::repetition_metrics): duplicate-3-gram
    occurrence fraction + top-2-gram fraction per document — the
    boilerplate/looping-text signal a pretraining pipeline filters on.
    Exact integer counting + one rounded division, so the whole lane
    replays in DuckDB."""
    from ksj2gp_spark.operators.text import repetition_metrics

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = repetition_metrics(d.select("doc_id", "text"))
    return out.select("doc_id", "dup_ngram_frac", "top_bigram_frac")


_DOC_REPETITION_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tri AS (
  SELECT doc_id, array_to_string(w[i:i+2], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
tc AS (SELECT doc_id, gram, count(*) AS c FROM tri GROUP BY 1, 2),
tstat AS (
  SELECT doc_id,
         round(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c), 6)
           AS dup_ngram_frac
  FROM tc GROUP BY doc_id
),
bi AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)
),
bc AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
bstat AS (
  SELECT doc_id, round(MAX(c) * 1.0 / SUM(c), 6) AS top_bigram_frac
  FROM bc GROUP BY doc_id
)
SELECT t.doc_id, t.dup_ngram_frac, b.top_bigram_frac
FROM tstat t JOIN bstat b USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.py::decontaminate):
    corpus docs sharing ≥1 distinct word 3-gram with a held-out eval
    set (here the deterministic doc_id % 97 == 0 slice of documents
    stands in for the benchmark). Broadcast-probe shape — the corpus
    side never shuffles; only matched (doc, gram) rows reach the
    per-doc aggregation."""
    from ksj2gp_spark.operators.text import decontaminate

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=3).select(
        "doc_id", "matched_grams", "bench_docs"
    )


_DECONTAMINATE_SQL = """
WITH b AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 97 = 0
),
bg AS (
  SELECT DISTINCT doc_id AS bench_id, array_to_string(w[i:i+2], ' ') AS gram
  FROM b, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
c AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 97 <> 0
),
cg AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS gram
  FROM c, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
)
SELECT cg.doc_id,
       count(DISTINCT cg.gram) AS matched_grams,
       count(DISTINCT bg.bench_id) AS bench_docs
FROM cg JOIN bg USING (gram)
GROUP BY cg.doc_id
HAVING count(DISTINCT cg.gram) >= 1
"""


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity quality gate (operators/text.py::
    lm_quality): train an add-0.5-smoothed unigram LM on the corpus
    itself, score every doc by mean negative log-likelihood. Token
    counting shuffles 8-byte hashed keys (map-side combined); the LM
    scalars are a two-number driver collect; the score join degrades
    from broadcast to shuffle as the vocabulary grows."""
    from ksj2gp_spark.operators.text import lm_quality

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return lm_quality(d)


_LM_QUALITY_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
s AS (SELECT CAST(sum(c) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V
      FROM c),
lp AS (
  SELECT tok, ln((c + 0.5) / (N + 0.5 * V)) AS logp FROM c, s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(-avg(logp), 6) AS nll
FROM tok JOIN lp USING (tok)
GROUP BY doc_id
"""


_DSIR_TARGETS = ["src0", "src1", "src2"]


def q_dsir_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (operators/text.py::dsir_score): two
    add-0.5-smoothed unigram LMs over a shared union vocabulary —
    target = sources src0-src2, raw = the rest — and per-doc mean log
    importance ratio. One 8-byte-key groupBy produces both sides'
    counts (conditional sums); the corpus text never shuffles."""
    from ksj2gp_spark.operators.text import dsir_score

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return dsir_score(d, _DSIR_TARGETS)


_DSIR_SQL = """
WITH tok AS (
  SELECT doc_id,
         (CASE WHEN source IN ('src0', 'src1', 'src2') THEN 1 ELSE 0
          END) AS is_t,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
c AS (SELECT tok, sum(is_t) AS ct, sum(1 - is_t) AS cr
      FROM tok GROUP BY tok),
s AS (SELECT CAST(sum(ct) AS DOUBLE) AS Nt,
             CAST(sum(cr) AS DOUBLE) AS Nr,
             CAST(count(*) AS DOUBLE) AS V
      FROM c),
lr AS (
  SELECT tok,
         ln((ct + 0.5) / (Nt + 0.5 * V))
           - ln((cr + 0.5) / (Nr + 0.5 * V)) AS lr
  FROM c, s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lr), 6) AS logratio
FROM tok JOIN lr USING (tok)
GROUP BY doc_id
"""


def _mixture_sample_oracle() -> str:
    from ksj2gp_spark.operators.curate import mixture_sample_sql

    return mixture_sample_sql()


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source-mixture sampling
    (operators/curate.py::mixture_sample): keep rate per source =
    min(1, 0.5·q_s/p_s) with q ∝ p^0.5 over token shares; keep
    decisions are the engine-portable mix_bucket hash, so the oracle
    reproduces the kept set exactly. Corpus never shuffles — one
    |sources|-key agg + a broadcast rate table + a map-side filter."""
    from ksj2gp_spark.operators.curate import mixture_sample

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return mixture_sample(d).select("doc_id", "source")


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity buckets per language:
    lm_quality NLL + exact type-1 tertile boundaries per lang
    (integer-rank arithmetic, stats.py::exact_group_quantiles), bucket
    assignment via a broadcast of the |langs|×2 boundary table."""
    from ksj2gp_spark.operators.stats import exact_group_quantiles
    from ksj2gp_spark.operators.text import lm_quality

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    scored = lm_quality(d).join(d.select("doc_id", "lang"), "doc_id")
    qs = exact_group_quantiles(scored, ["lang"], "nll", [0.333333, 0.666667])
    b = qs.groupBy("lang").agg(
        F.min(F.when(F.col("q") == 0.333333, F.col("value"))).alias("q1"),
        F.min(F.when(F.col("q") == 0.666667, F.col("value"))).alias("q2"),
    )
    return scored.join(F.broadcast(b), "lang").select(
        "doc_id",
        "lang",
        "nll",
        F.when(F.col("nll") <= F.col("q1"), "head")
        .when(F.col("nll") <= F.col("q2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


_PPL_BUCKETS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
c AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
s AS (SELECT CAST(sum(c) AS DOUBLE) AS N, CAST(count(*) AS DOUBLE) AS V
      FROM c),
lp AS (
  SELECT tok, ln((c + 0.5) / (N + 0.5 * V)) AS logp FROM c, s
),
nll AS (
  SELECT doc_id, round(-avg(logp), 6) AS nll
  FROM tok JOIN lp USING (tok) GROUP BY doc_id
),
sc AS (
  SELECT d.doc_id, d.lang, n.nll
  FROM documents d JOIN nll n USING (doc_id)
),
rk AS (
  SELECT lang, nll,
         row_number() OVER (PARTITION BY lang ORDER BY nll) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM sc
),
b AS (
  SELECT lang,
         min(CASE WHEN rn = greatest(1, (n * 333333 + 999999)
                                        // 1000000)
                  THEN nll END) AS q1,
         min(CASE WHEN rn = greatest(1, (n * 666667 + 999999)
                                        // 1000000)
                  THEN nll END) AS q2
  FROM rk GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.nll,
       CASE WHEN sc.nll <= b.q1 THEN 'head'
            WHEN sc.nll <= b.q2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM sc JOIN b USING (lang)
"""


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts + quality ratio columns."""
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        toks.alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias(
            "n_spaces"
        ),
    )


_TOKEN_SQL = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_text,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
"""


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors per embedding (the exactness
    baseline for ANN lanes), JVM-side via zip_with/aggregate."""
    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").cast("array<double>").alias("a_vec"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").cast("array<double>").alias("b_vec"),
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    pairs = a.crossJoin(b).filter(F.col("a_id") != F.col("b_id"))
    sim = dot(F.col("a_vec"), F.col("b_vec")) / (
        F.sqrt(dot(F.col("a_vec"), F.col("a_vec")))
        * F.sqrt(dot(F.col("b_vec"), F.col("b_vec")))
    )
    w = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.col("b_id"))
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            F.col("a_id").alias("vec_id"),
            F.col("rank"),
            F.col("b_id").alias("neighbor_id"),
            F.round("sim", 3).alias("sim3"),
        )
    )


_SIMILARITY_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec))
            * sqrt(list_dot_product(b.vec, b.vec))) AS sim
  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       neighbor_id,
       round(sim, 3) AS sim3
FROM pairs
QUALIFY rank <= 5
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining (operators/similarity.py::
    hard_negatives): top-5 most cosine-similar vectors with a DIFFERENT
    label per anchor — exact lane as the oracle-able baseline; the
    use_ivf=True lane is the bounded-list scale path (recall-tested in
    pytest)."""
    from ksj2gp_spark.operators.similarity import hard_negatives

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    out = hard_negatives(e, k=5)
    return out.select(
        "vec_id", "rank", "neighbor_id", F.round("sim", 3).alias("sim3")
    )


_HARD_NEGATIVES_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec, label
           FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec))
            * sqrt(list_dot_product(b.vec, b.vec))) AS sim
  FROM v a CROSS JOIN v b
  WHERE a.vec_id <> b.vec_id AND a.label <> b.label
)
SELECT vec_id,
       CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       neighbor_id,
       round(sim, 3) AS sim3
FROM pairs
QUALIFY rank <= 5
"""


def q_rasterize_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector→raster: every grid cell (res 7) over the polygon-layer
    bbox gets the admin code covering its center — the inverse
    direction of the tile join (raster↔vector, north_star). Pure
    Catalyst: cell generation via sequence/explode, centers by integer
    arithmetic, assignment via broadcast bbox join."""
    res = 12
    size = 360.0 / (1 << res)
    from ksj2gp_spark.geo import wkb as _wkb

    polys_rows = []
    for _, r in fixtures.polygon_layer().iterrows():
        minx, miny, maxx, maxy = _wkb.loads(r["geometry"]).bounds()
        polys_rows.append((r["polygon_id"], r["行政区域コード"], minx, miny, maxx, maxy))
    polys = spark.createDataFrame(
        polys_rows, "polygon_id string, admin_code string, xmin double, ymin double, xmax double, ymax double"
    )
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    cells = (
        spark.range(i0, i1 + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(
            spark.range(j0, j1 + 1).select(F.col("id").alias("j"))
        )
        .select(
            (F.lit(res) * F.lit(1 << 58) + F.col("i") * F.lit(1 << 29) + F.col("j")).alias("cell"),
            ((F.col("i") + F.lit(0.5)) * F.lit(size) - F.lit(180.0)).alias("cx"),
            ((F.col("j") + F.lit(0.5)) * F.lit(size) - F.lit(90.0)).alias("cy"),
        )
    )
    return (
        cells.join(
            F.broadcast(polys),
            (F.col("cx") >= F.col("xmin"))
            & (F.col("cx") <= F.col("xmax"))
            & (F.col("cy") >= F.col("ymin"))
            & (F.col("cy") <= F.col("ymax")),
        )
        .select("cell", "polygon_id", "admin_code")
    )


def _rasterize_sql() -> str:
    res = 12
    size = 360.0 / (1 << res)
    import numpy as _np

    from ksj2gp_spark.geo import wkb as _wkb

    i0 = int(_np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(_np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(_np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(_np.floor((fixtures.LAT1 + 90.0) / size))
    return f"""
WITH {_polys_values_sql()},
cells AS (
  SELECT {res} * 288230376151711744 + i.i * 536870912 + j.j AS cell,
         (i.i + 0.5) * {size!r} - 180.0 AS cx,
         (j.j + 0.5) * {size!r} - 90.0 AS cy
  FROM generate_series({i0}, {i1}) AS i(i)
  CROSS JOIN generate_series({j0}, {j1}) AS j(j)
)
SELECT c.cell, p.polygon_id, p.admin_code
FROM cells c JOIN polys p
  ON c.cx >= p.xmin AND c.cx <= p.xmax AND c.cy >= p.ymin AND c.cy <= p.ymax
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase) with first-touch
    attribution and exact microsecond lag sums
    (operators/stats.py::funnel)."""
    from ksj2gp_spark.operators.stats import funnel

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return funnel(ev, ["view", "click", "purchase"])


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t, MIN(s1.t) AS pt
  FROM events e JOIN s1 ON s1.user_id = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t, MIN(s2.t) AS pt
  FROM events e JOIN s2 ON s2.user_id = e.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT CAST(1 AS INT) AS step, 'view' AS event_type,
       COUNT(*) AS n_users, CAST(0 AS BIGINT) AS sum_lag_us
FROM s1
UNION ALL
SELECT CAST(2 AS INT), 'click', COUNT(*),
       CAST(COALESCE(SUM(epoch_us(t) - epoch_us(pt)), 0) AS BIGINT)
FROM s2
UNION ALL
SELECT CAST(3 AS INT), 'purchase', COUNT(*),
       CAST(COALESCE(SUM(epoch_us(t) - epoch_us(pt)), 0) AS BIGINT)
FROM s3
"""


def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing with PLANTED targets: every doc_id % 5 == 0
    gets a deterministic email appended and every doc_id % 7 == 0 a
    URL — both engines plant identically, then scrub
    (operators/curate.py::scrub_pii) — counts and cleaned lengths must
    match exactly."""
    from ksj2gp_spark.operators.curate import scrub_pii

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" https://example.org/d/"), F.col("doc_id")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return scrub_pii(planted).select(
        "doc_id", "n_emails", "n_urls", "clean_len"
    )


def _scrub_sql() -> str:
    from ksj2gp_spark.operators.curate import EMAIL_RE, URL_RE

    return f"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 5 = 0
                 THEN ' user' || doc_id || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' https://example.org/d/' || doc_id ELSE '' END
           AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INT)
           AS n_emails,
         regexp_replace(text, '{EMAIL_RE}', '<scrubbed>', 'g') AS t1
  FROM planted
)
SELECT doc_id, n_emails,
       CAST(len(regexp_extract_all(t1, '{URL_RE}')) AS INT) AS n_urls,
       CAST(length(
         regexp_replace(t1, '{URL_RE}', '<scrubbed>', 'g')
       ) AS INT) AS clean_len
FROM s1
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: top-100 corpus terms with support ≥ 3
    (operators/text.py::vocab_induction — map-side-combinable counts +
    TakeOrdered top-k, no global sort)."""
    from ksj2gp_spark.operators.text import vocab_induction

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return vocab_induction(d, min_count=3, top_n=100)


_VOCAB_SQL = """
WITH t AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
c AS (
  SELECT term, COUNT(*) AS n FROM t
  WHERE term <> '' GROUP BY term HAVING COUNT(*) >= 3
),
r AS (
  SELECT term, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rank
  FROM c
)
SELECT CAST(rank AS INT) AS rank, term, CAST(n AS BIGINT) AS n
FROM r WHERE rank <= 100
"""


def q_dwithin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-threshold join (ST_DWithin's join form): every
    (image, polygon) pair within 0.15 planar degrees —
    operators/spatial.py::dwithin_join (bbox-expanded prefilter +
    exact segment distance, zero shuffle). Oracle: the rectangle
    fixtures make the exact distance the clamp formula."""
    imgs = _images_from_customer(spark, sf_dir)
    return spatial.dwithin_join(imgs, fixtures.polygon_layer(), 0.15)


def _dwithin_sql() -> str:
    return f"""
WITH {_IMAGES_CTE.strip()},
{_polys_values_sql()},
j AS (
  SELECT i.image_id, p.polygon_id, p.admin_code,
         sqrt(
           pow(greatest(p.xmin - i.lon, 0.0, i.lon - p.xmax), 2)
           + pow(greatest(p.ymin - i.lat, 0.0, i.lat - p.ymax), 2)
         ) AS dist
  FROM images i CROSS JOIN polys p
)
SELECT image_id, polygon_id, admin_code, dist
FROM j WHERE dist <= 0.15
"""


def q_dwithin_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big × big distance join: the same pairs as dwithin_admin but
    through operators/spatial.py::dwithin_join_shuffle — the fully
    distributed variant (per-polygon d-expanded bbox cover via
    mapInPandas → ONE cell equi-join → cogroup exact segment-distance
    refine; the polygon layer is a DataFrame end-to-end, never
    broadcast from the driver). Bit-identical distances to the
    broadcast path, so the oracle is the same clamp formula."""
    imgs = _images_from_customer(spark, sf_dir)
    return spatial.dwithin_join_shuffle(
        imgs, spark.createDataFrame(fixtures.polygon_layer()), 0.15
    )


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (raster→vector): a synthetic res-12 value
    raster ((i*7 + j*13) % 1000 — BIGINT-exact) aggregated per admin
    polygon through the exact-PIP zonal join
    (operators/raster.py::zonal_stats). The oracle re-derives the grid,
    the value arithmetic, and the center-in-rectangle assignment
    relationally."""
    from ksj2gp_spark.operators.raster import zonal_stats

    res = 12
    size = 360.0 / (1 << res)
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    raster = (
        spark.range(i0, i1 + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(j0, j1 + 1).select(F.col("id").alias("j")))
        .select(
            (
                F.lit(res) * F.lit(1 << 58)
                + F.col("i") * F.lit(1 << 29)
                + F.col("j")
            ).alias("cell"),
            ((F.col("i") * 7 + F.col("j") * 13) % 1000).alias("value"),
        )
    )
    return zonal_stats(raster, fixtures.polygon_layer())


def _zonal_sql() -> str:
    res = 12
    size = 360.0 / (1 << res)
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    return f"""
WITH {_polys_values_sql()},
cells AS (
  SELECT (i.i + 0.5) * {size!r} - 180.0 AS cx,
         (j.j + 0.5) * {size!r} - 90.0 AS cy,
         (i.i * 7 + j.j * 13) % 1000 AS val
  FROM generate_series({i0}, {i1}) AS i(i)
  CROSS JOIN generate_series({j0}, {j1}) AS j(j)
)
SELECT p.polygon_id, p.admin_code,
       COUNT(*) AS n_cells,
       CAST(SUM(c.val) AS BIGINT) AS sum_val,
       CAST(MIN(c.val) AS BIGINT) AS min_val,
       CAST(MAX(c.val) AS BIGINT) AS max_val
FROM cells c JOIN polys p
  ON c.cx >= p.xmin AND c.cx <= p.xmax
 AND c.cy >= p.ymin AND c.cy <= p.ymax
GROUP BY p.polygon_id, p.admin_code
"""


def q_dissolve_pref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dissolve admin polygons by prefecture prefix at res 12
    (operators/raster.py::dissolve = exact rasterize → relabel →
    polygonize; shared boundaries between same-pref polygons cancel).
    The SQL-checkable invariant: Σ signed ring areas per pref = the
    pref's distinct center-covered cell count, which the oracle
    computes relationally from the same grid."""
    from ksj2gp_spark.operators.raster import dissolve

    rings = dissolve(
        spark,
        fixtures.polygon_layer(),
        res=12,
        group_expr=F.substring("admin_code", 1, 2),
    )
    return rings.groupBy(F.col("admin_code").alias("pref")).agg(
        F.round(F.sum("area_cells")).cast("long").alias("n_cells")
    )


def _dissolve_sql() -> str:
    res = 12
    size = 360.0 / (1 << res)
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    return f"""
WITH {_polys_values_sql()},
cells AS (
  SELECT {res} * 288230376151711744 + i.i * 536870912 + j.j AS cell,
         (i.i + 0.5) * {size!r} - 180.0 AS cx,
         (j.j + 0.5) * {size!r} - 90.0 AS cy
  FROM generate_series({i0}, {i1}) AS i(i)
  CROSS JOIN generate_series({j0}, {j1}) AS j(j)
)
SELECT substring(p.admin_code, 1, 2) AS pref,
       COUNT(DISTINCT c.cell) AS n_cells
FROM cells c JOIN polys p
  ON c.cx >= p.xmin AND c.cx <= p.xmax
 AND c.cy >= p.ymin AND c.cy <= p.ymax
GROUP BY 1
"""


def q_compact_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical cell compaction (operators/raster.py::compact_cells,
    H3-compact semantics on the grid scheme): the res-12 admin raster
    collapses complete 2×2 sibling groups bottom-up into the unique
    minimal mixed-resolution cover. The oracle unrolls the same
    promotion closure level-by-level in plain SQL (the closure is
    confluent, so level-ordered promotion is THE answer)."""
    from ksj2gp_spark.operators import raster as raster_ops

    ras = q_rasterize_admin(spark, sf_dir).select("admin_code", "cell")
    return raster_ops.compact_cells(ras, res=12)


def _compact_sql() -> str:
    c58, c29 = 1 << 58, 1 << 29
    parts = [
        f"""l12 AS (
  SELECT DISTINCT admin_code,
         (cell % {c58}) // {c29} AS i, cell % {c29} AS j
  FROM ({_rasterize_sql()})
)"""
    ]
    finals = []
    for r in range(12, 0, -1):
        parts.append(
            f"g{r} AS (SELECT admin_code, i // 2 AS pi, j // 2 AS pj, "
            f"count(*) AS n FROM l{r} GROUP BY 1, 2, 3)"
        )
        parts.append(
            f"f{r} AS (SELECT a.admin_code, "
            f"{r} * {c58} + a.i * {c29} + a.j AS cell "
            f"FROM l{r} a JOIN g{r} g ON g.admin_code = a.admin_code "
            f"AND g.pi = a.i // 2 AND g.pj = a.j // 2 WHERE g.n < 4)"
        )
        parts.append(
            f"l{r - 1} AS (SELECT admin_code, pi AS i, pj AS j "
            f"FROM g{r} WHERE n = 4)"
        )
        finals.append(f"SELECT admin_code, cell FROM f{r}")
    finals.append(f"SELECT admin_code, i * {c29} + j AS cell FROM l0")
    return (
        "WITH " + ",\n".join(parts) + "\n"
        + "\nUNION ALL\n".join(finals)
    )


def q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical tile rollup: res-10 assignments aggregated to their
    res-7 parent cells through the engine's ``cell_to_parent`` kernel
    (vectorized pandas UDF); the oracle reproduces the parent-id
    integer arithmetic relationally."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ksj2gp_spark.geo import grid as grid_mod

    parent7 = pandas_udf(
        lambda cells: pd.Series(
            grid_mod.cell_to_parent(cells.to_numpy(dtype="int64"), 7)
        ),
        "long",
    )

    tiles = _tiles(spark, sf_dir)
    return (
        tiles.withColumn("parent_cell", parent7(F.col("cell")))
        .groupBy("parent_cell")
        .agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.countDistinct("image_id").alias("n_images"),
            F.countDistinct("admin_code").alias("n_admins"),
        )
    )


_ROLLUP_SQL = f"""
WITH {_IMAGES_CTE.strip()},
{_polys_values_sql()},
t AS (
  SELECT i.image_id, {_CELL_SQL} AS cell, p.admin_code
  FROM images i JOIN polys p
    ON i.lon >= p.xmin AND i.lon <= p.xmax
   AND i.lat >= p.ymin AND i.lat <= p.ymax
)
SELECT 7 * 288230376151711744
       + (((cell // 536870912) % 536870912) // 8) * 536870912
       + ((cell % 536870912) // 8) AS parent_cell,
       count(*) AS n_tiles,
       count(DISTINCT image_id) AS n_images,
       count(DISTINCT admin_code) AS n_admins
FROM t GROUP BY 1
"""


_PYRAMID_LEVELS = [GRID_RES, GRID_RES - 1, GRID_RES - 2, GRID_RES - 3]


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-zoom tile pyramid (operators/cells.py::cell_pyramid): the
    res-10 image cells rolled up to every level 10..7 in ONE
    aggregation — per-level ancestor ids are pure Catalyst bit
    arithmetic (grid_parent_col), exploded map-side, one shuffle for
    the whole pyramid with map-side partial aggregation (plan pinned
    in tests/test_spatial_spark.py::TestCellPyramid). The oracle
    replays the parent arithmetic relationally per level."""
    from ksj2gp_spark.operators import cells as cells_mod

    imgs = _images_from_customer(spark, sf_dir)
    pts = cells_mod.with_cell(
        imgs.select("image_id", "lon", "lat"), "grid", GRID_RES
    )
    return cells_mod.cell_pyramid(
        pts, _PYRAMID_LEVELS, scheme="grid", base_res=GRID_RES
    )


_PYRAMID_SQL = f"""
WITH {_IMAGES_CTE.strip()},
c AS (SELECT {_CELL_SQL} AS cell FROM images),
e AS (
  SELECT L.lv,
         L.lv * 288230376151711744
         + (((c.cell // 536870912) % 536870912)
            // (1 << ({GRID_RES} - L.lv))) * 536870912
         + ((c.cell % 536870912) // (1 << ({GRID_RES} - L.lv))) AS pcell
  FROM c CROSS JOIN (VALUES {", ".join(f"({lv})" for lv in _PYRAMID_LEVELS)})
       AS L(lv)
)
SELECT lv AS level, pcell AS cell, count(*) AS n_points
FROM e GROUP BY 1, 2
"""


def q_tile_pyramid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted pyramid (cell_pyramid weight_cols): per-tile-per-zoom
    measure rollup — each tile carries count AND sum(caption bytes),
    the storage-planning shape (bytes per tile per zoom level).
    Weights ride the same map-side explode; the plan is identical to
    tile_pyramid (one shuffle, partial agg) — pinned in
    TestCellPyramid::test_weighted_plan_unchanged."""
    from ksj2gp_spark.operators import cells as cells_mod

    imgs = _images_from_customer(spark, sf_dir)
    pts = cells_mod.with_cell(
        imgs.select("lon", "lat", F.length("caption").alias("cap_len")),
        "grid",
        GRID_RES,
    )
    return cells_mod.cell_pyramid(
        pts,
        _PYRAMID_LEVELS,
        scheme="grid",
        base_res=GRID_RES,
        weight_cols=["cap_len"],
    )


_PYRAMID_WEIGHTED_SQL = f"""
WITH {_IMAGES_CTE.strip()},
c AS (SELECT {_CELL_SQL} AS cell, length(caption) AS cap_len FROM images),
e AS (
  SELECT L.lv, c.cap_len,
         L.lv * 288230376151711744
         + (((c.cell // 536870912) % 536870912)
            // (1 << ({GRID_RES} - L.lv))) * 536870912
         + ((c.cell % 536870912) // (1 << ({GRID_RES} - L.lv))) AS pcell
  FROM c CROSS JOIN (VALUES {", ".join(f"({lv})" for lv in _PYRAMID_LEVELS)})
       AS L(lv)
)
SELECT lv AS level, pcell AS cell, count(*) AS n_points,
       CAST(sum(cap_len) AS BIGINT) AS sum_cap_len
FROM e GROUP BY 1, 2
"""


# Concave staircase polygon with a rectangular hole — exercises the
# exact-PIP kernel (ray cast) against a pure-SQL ray-cast oracle whose
# float expression mirrors geo/geom.py::ring_contains term-for-term
# (x0 + (py - y0) * dx / dy, half-open vertical rule), so doubles are
# bit-identical across engines.
_CONCAVE_OUTER = [
    (139.07, 35.03), (140.93, 35.03), (140.93, 35.61), (139.81, 35.61),
    (139.81, 36.22), (140.93, 36.22), (140.93, 36.77), (139.07, 36.77),
    (139.07, 35.03),
]
_CONCAVE_HOLE = [
    (139.23, 35.17), (139.59, 35.17), (139.59, 35.43), (139.23, 35.43),
    (139.23, 35.17),
]


def q_concave_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Images inside a concave (staircase) polygon with a hole — the
    engine's real path (grid cell cover → candidate join → vectorized
    ray-cast PIP refine) vs a relational ray-cast oracle."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as _wkb

    imgs = _images_from_customer(spark, sf_dir)
    polys = pd.DataFrame(
        {
            "polygon_id": ["stair"],
            "行政区域コード": ["99001"],
            "geometry": [_wkb.polygon(_CONCAVE_OUTER, _CONCAVE_HOLE)],
        }
    )
    tiles = spatial.spatial_join_tiles(
        imgs, polys, scheme="grid", res=GRID_RES
    )
    return tiles.select("image_id", "cell")


def _concave_sql() -> str:
    def edges_values(ring, name):
        rows = ", ".join(
            f"({x0!r}, {y0!r}, {x1!r}, {y1!r})"
            for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:])
        )
        return f"{name}(x0, y0, x1, y1) AS (VALUES {rows})"

    def crossings(tbl):
        return (
            f"(SELECT count(*) FROM {tbl} e"
            f" WHERE ((e.y0 <= i.lat) <> (e.y1 <= i.lat))"
            f" AND i.lon < e.x0 + (i.lat - e.y0) * (e.x1 - e.x0) / (e.y1 - e.y0))"
        )

    return f"""
WITH {_IMAGES_CTE.strip()},
{edges_values(_CONCAVE_OUTER, "oedges")},
{edges_values(_CONCAVE_HOLE, "hedges")}
SELECT i.image_id, {_CELL_SQL} AS cell
FROM images i
WHERE {crossings("oedges")} % 2 = 1
  AND {crossings("hedges")} % 2 = 0
"""


def q_admin_geometry_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-admin geometry statistics through the WKB kernels — shoelace
    area and centroid computed in a vectorized Arrow pass over the
    distributed polygon layer; the oracle derives the same values
    relationally from the rectangle bounds."""
    import pandas as pd

    from ksj2gp_spark.geo import geom as geom_mod, wkb as _wkb

    layer = spark.createDataFrame(fixtures.polygon_layer())

    def stats(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                g = _wkb.loads(bytes(r["geometry"]))
                area = geom_mod.geometry_area(g)
                cx, cy = geom_mod.centroid(g)
                rows.append((r["polygon_id"], r["行政区域コード"], area, cx, cy))
            yield pd.DataFrame(
                rows,
                columns=["polygon_id", "admin_code", "area", "cx", "cy"],
            )

    out = layer.mapInPandas(
        stats,
        schema=(
            "polygon_id string, admin_code string, area double, "
            "cx double, cy double"
        ),
    )
    return out.select(
        "polygon_id",
        "admin_code",
        F.round("area", 9).alias("area9"),
        F.round("cx", 9).alias("cx9"),
        F.round("cy", 9).alias("cy9"),
    )


def _geometry_stats_sql() -> str:
    return f"""
WITH {_polys_values_sql()}
SELECT polygon_id, admin_code,
       round((xmax - xmin) * (ymax - ymin), 9) AS area9,
       round((xmin + xmax) / 2, 9) AS cx9,
       round((ymin + ymax) / 2, 9) AS cy9
FROM polys
"""


def q_vectorize_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster→vector: polygonize the rasterized admin grid back into
    boundary rings (edge cancellation + leftmost-turn tracing,
    operators/raster.py). The signed ring areas per admin must sum to
    the distinct raster cell count — which the oracle computes
    relationally from the same rasterization. A mistraced ring or
    wrong hole orientation breaks the equality."""
    from ksj2gp_spark.operators import raster as raster_ops

    ras = q_rasterize_admin(spark, sf_dir)
    vec = raster_ops.vectorize_cells(ras, res=12)
    return vec.groupBy("admin_code").agg(
        F.round(F.sum("area_cells")).cast("long").alias("n_cells")
    )


def _vectorize_sql() -> str:
    return f"""
WITH ras AS ({_rasterize_sql()})
SELECT admin_code, count(DISTINCT cell) AS n_cells
FROM ras GROUP BY admin_code
"""


def q_admin_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polygon × polygon spatial join (operators/spatial.py::
    polygon_overlap_join): which admin polygons touch or overlap.
    The engine runs the real path — cell-cover candidates from a
    broadcast cover, exact segment/containment refine — while the
    oracle expresses intersects() relationally (the fixture polygons
    are rectangles, where intersects ⇔ inclusive bbox overlap)."""
    layer = fixtures.polygon_layer()
    left = spark.createDataFrame(
        layer[["polygon_id", "geometry", "crs"]]
    )
    pairs = spatial.polygon_overlap_join(left, layer, scheme="grid", res=10)
    return pairs.filter(F.col("polygon_id") < F.col("other_id"))


def _adjacency_sql() -> str:
    return f"""
WITH {_polys_values_sql()}
SELECT a.polygon_id AS polygon_id, b.polygon_id AS other_id
FROM polys a JOIN polys b
  ON a.polygon_id < b.polygon_id
 AND a.xmin <= b.xmax AND b.xmin <= a.xmax
 AND a.ymin <= b.ymax AND b.ymin <= a.ymax
"""


# Convex query windows for the overlay join (dyadic coords; they span
# prefecture-band boundaries so windows hit multiple admin rectangles).
_OVERLAY_WINDOWS = [
    ("win0", 139.0, 35.0, 139.5, 35.5),
    ("win1", 139.25, 35.5, 140.75, 36.25),
    ("win2", 140.0, 35.25, 141.5, 36.75),
    ("win3", 138.5, 36.5, 139.75, 37.5),
]


def q_admin_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlay join (operators/spatial.py::polygon_overlay_join):
    intersection AREA of every admin polygon × convex query window via
    Sutherland-Hodgman clipping + shoelace, over the cell-cover
    candidate plan. On the rectangle fixture the oracle computes the
    same areas relationally (rect ∩ rect = clamped extent product)."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as _wkb

    layer = fixtures.polygon_layer()
    left = spark.createDataFrame(layer[["polygon_id", "geometry", "crs"]])
    wins = pd.DataFrame(
        {
            "polygon_id": [w[0] for w in _OVERLAY_WINDOWS],
            "geometry": [
                _wkb.polygon([(x0, y0), (x1, y0), (x1, y1), (x0, y1)])
                for _, x0, y0, x1, y1 in _OVERLAY_WINDOWS
            ],
        }
    )
    out = spatial.polygon_overlay_join(left, wins, scheme="grid", res=10)
    return out.select(
        "polygon_id",
        "other_id",
        F.round("intersection_area", 9).alias("area9"),
    )


def _overlay_sql() -> str:
    rows = ", ".join(
        f"('{w}', {x0!r}, {y0!r}, {x1!r}, {y1!r})"
        for w, x0, y0, x1, y1 in _OVERLAY_WINDOWS
    )
    return f"""
WITH {_polys_values_sql()},
wins(win_id, wx0, wy0, wx1, wy1) AS (VALUES {rows})
SELECT p.polygon_id, w.win_id AS other_id,
       round((least(p.xmax, w.wx1) - greatest(p.xmin, w.wx0))
           * (least(p.ymax, w.wy1) - greatest(p.ymin, w.wy0)), 9) AS area9
FROM polys p JOIN wins w
  ON least(p.xmax, w.wx1) > greatest(p.xmin, w.wx0)
 AND least(p.ymax, w.wy1) > greatest(p.ymin, w.wy0)
"""


# Planted Douglas-Peucker fixture: rectangles densified with collinear
# edge vertices (always removed), one outward "bump" vertex of height d
# at the bottom-edge midpoint (kept iff d > tol — its DP deviation is
# exactly d), and on some rows a tiny square hole whose max deviation is
# below tol (always dropped). All params are dyadic rationals, so vertex
# counts and shoelace areas are exact integers/doubles predictable in
# SQL. (polygon_id, x0, y0, w, h, m, d, hole)
_SIMPLIFY_PARAMS = [
    ("sp0", 0.0, 0.0, 1.0, 1.0, 3, 0.125, 0),
    ("sp1", 2.0, 0.0, 1.5, 1.0, 10, 0.25, 1),
    ("sp2", 4.0, 0.0, 2.0, 1.5, 40, 0.0009765625, 0),
    ("sp3", 0.0, 2.0, 0.5, 2.0, 5, 0.0009765625, 1),
    ("sp4", 2.0, 3.0, 1.0, 0.5, 8, 0.125, 0),
    ("sp5", 4.0, 3.0, 2.0, 2.0, 16, 0.25, 1),
]
_SIMPLIFY_TOL = 0.01
_SIMPLIFY_HOLE_S = 0.00390625  # 2^-8; ring diagonal deviation << tol


def _simplify_fixture_pdf():
    import pandas as pd

    from ksj2gp_spark.geo import wkb as _wkb

    rows = []
    for pid, x0, y0, w, h, m, d, hole in _SIMPLIFY_PARAMS:
        ext = [(x0, y0), (x0 + w / 2, y0 - d), (x0 + w, y0)]
        ext += [(x0 + w, y0 + (i + 1) * h / (m + 1)) for i in range(m)]
        ext += [(x0 + w, y0 + h)]
        ext += [(x0 + w - (i + 1) * w / (m + 1), y0 + h) for i in range(m)]
        ext += [(x0, y0 + h)]
        ext += [(x0, y0 + h - (i + 1) * h / (m + 1)) for i in range(m)]
        rings = [ext]
        if hole:
            s = _SIMPLIFY_HOLE_S
            cx, cy = x0 + w / 2, y0 + h / 2
            rings.append(
                [(cx, cy), (cx + s, cy), (cx + s, cy + s), (cx, cy + s)]
            )
        rows.append((pid, _wkb.polygon(*rings)))
    return pd.DataFrame(rows, columns=["polygon_id", "geometry"])


def q_simplify_admin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Douglas-Peucker simplification (geo/geom.py:
    simplify_geometry — the broadcast-shrink path of spatial_join_tiles'
    ``simplify_tol``): per-polygon vertex counts and shoelace areas
    before/after, which the planted fixture makes exactly predictable
    relationally (collinear vertices always drop, the bump survives iff
    its deviation d exceeds tol, sub-tol holes collapse)."""
    import pandas as pd

    from ksj2gp_spark.geo import geom as geom_mod, wkb as _wkb

    layer = spark.createDataFrame(_simplify_fixture_pdf())
    tol = _SIMPLIFY_TOL

    def stats(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                g = _wkb.loads(bytes(r["geometry"]))
                s = geom_mod.simplify_geometry(g, tol)
                rows.append(
                    (
                        r["polygon_id"],
                        len(g.all_coords()),
                        len(s.all_coords()),
                        geom_mod.geometry_area(g),
                        geom_mod.geometry_area(s),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "polygon_id", "n_before", "n_after",
                    "area_before", "area_after",
                ],
            )

    out = layer.mapInPandas(
        stats,
        schema=(
            "polygon_id string, n_before long, n_after long, "
            "area_before double, area_after double"
        ),
    )
    return out.select(
        "polygon_id",
        "n_before",
        "n_after",
        F.round("area_before", 9).alias("area_before9"),
        F.round("area_after", 9).alias("area_after9"),
    )


def _simplify_sql() -> str:
    rows = ", ".join(
        f"('{pid}', {w!r}, {h!r}, {m}, {d!r}, {hole})"
        for pid, _x0, _y0, w, h, m, d, hole in _SIMPLIFY_PARAMS
    )
    s2 = _SIMPLIFY_HOLE_S * _SIMPLIFY_HOLE_S
    return f"""
WITH params(polygon_id, w, h, m, d, hole) AS (VALUES {rows})
SELECT polygon_id,
       CAST(6 + 3 * m + 5 * hole AS BIGINT) AS n_before,
       CAST(CASE WHEN d > {_SIMPLIFY_TOL!r} THEN 6 ELSE 5 END AS BIGINT)
         AS n_after,
       round(w * h + w * d / 2 - hole * {s2!r}, 9) AS area_before9,
       round(w * h + CASE WHEN d > {_SIMPLIFY_TOL!r} THEN w * d / 2
                          ELSE 0.0 END, 9) AS area_after9
FROM params
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs — pure relational dedup."""
    from ksj2gp_spark.operators.dedup import ngram_jaccard_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return ngram_jaccard_pairs(d, n=3, threshold=0.2)


_NGRAM_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
co AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS co
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT co.id_a, co.id_b,
       co.co / (sa.sz + sb.sz - co.co) AS jaccard
FROM co
JOIN sizes sa ON sa.doc_id = co.id_a
JOIN sizes sb ON sb.doc_id = co.id_b
WHERE co.co / (sa.sz + sb.sz - co.co) >= 0.2
"""


# Relational MinHash+LSH: the hash family is (a_i·sid + b_i) mod p,
# where sid is the 31-bit polynomial CONTENT hash of the shingle (the
# operators/dedup.py family, base 131) computed as a per-row Catalyst
# expression — so the whole pipeline — shingling, signature mins,
# banding, bucket self-join — is exact integer relational algebra that
# DuckDB reproduces verbatim. Deriving sid from content (not a dense
# row_number ordinal) keeps the plan free of the single-partition
# global sort a no-partition Window.orderBy would need: at 100 TB that
# was one task sorting billions of distinct shingles
# (tests/test_entry_contract.py asserts no SinglePartition Exchange).
_MH_P = 2147483647
_MH_PARAMS = [(2 * i + 1, 7919 * (i + 1) % _MH_P) for i in range(16)]
_MH_BANDS = 4  # 16 hashes → 4 bands × 4 rows


def _poly_sid_expr(col):
    """31-bit polynomial rolling hash of a string column, term-for-term
    the SQL of ``_poly_hash_sql(col, 131)`` (and operators/dedup.py's
    ``_poly_hashes``): fold(acc·131 + codepoint) mod M31. Pure JVM
    expression — no UDF, no shuffle."""
    return F.aggregate(
        F.when(
            F.length(col) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(col)),
                lambda i: F.ascii(F.substr(F.col(col), i, F.lit(1))).cast(
                    "long"
                ),
            ),
        ).otherwise(F.array().cast("array<long>")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(131) + c) % F.lit(_MH_P),
    )


def q_minhash_relational(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = F.split(F.col("text"), " ")
    n_sh = F.greatest(F.size(toks) - F.lit(2), F.lit(1))
    sh = (
        d.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    hashes = spark.createDataFrame(
        [(h, a, b) for h, (a, b) in enumerate(_MH_PARAMS)],
        "h int, a long, b long",
    )
    sig = (
        sh.withColumn("sid", _poly_sid_expr("shingle"))
        .crossJoin(F.broadcast(hashes))
        .groupBy("doc_id", "h")
        .agg(
            F.min(
                (F.col("a") * F.col("sid") + F.col("b")) % F.lit(_MH_P)
            ).alias("minh")
        )
    )
    bands = (
        sig.withColumn("band", F.floor(F.col("h") / F.lit(_MH_BANDS)).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("h", "minh"))),
                    lambda s: s["minh"].cast("string"),
                ),
                "-",
            ).alias("band_val")
        )
    )
    a = bands.select(
        F.col("doc_id").alias("id_a"), "band", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"), "band", "band_val"
    )
    return (
        a.join(b, ["band", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_MINHASH_REL_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
hs0 AS (
  -- sid = 31-bit polynomial content hash (base 131), same fragment as
  -- _poly_hash_sql("shingle", 131) (defined later in this module)
  SELECT doc_id,
         list_reduce(list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(shingle) + 1),
             i -> CAST(unicode(shingle[i]) AS BIGINT))),
           (acc, c) -> (acc * 131 + c) % 2147483647) AS sid
  FROM sh
),
hashes(h, a, b) AS (VALUES {", ".join(f"({h}, {a}, {b})" for h, (a, b) in enumerate(_MH_PARAMS))}),
sig AS (
  SELECT s.doc_id, hs.h,
         min((hs.a * s.sid + hs.b) % {_MH_P}) AS minh
  FROM hs0 s
  CROSS JOIN hashes hs
  GROUP BY s.doc_id, hs.h
),
bands AS (
  SELECT doc_id, CAST(floor(h / {_MH_BANDS}) AS INT) AS band,
         string_agg(CAST(minh AS VARCHAR), '-' ORDER BY h) AS band_val
  FROM sig GROUP BY doc_id, 2
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ksj2gp_spark.operators.text import quality_score

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return quality_score(d).select(
        "doc_id", "n_tokens", "mean_token_len", "punct_ratio",
        "digit_ratio", "quality_score",
    )


_QUALITY_SQL = """
WITH f AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
  FROM documents
)
SELECT doc_id, n_tokens,
       round((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_token_len,
       round(n_punct / n_chars, 6) AS punct_ratio,
       round(n_digits / n_chars, 6) AS digit_ratio,
       round(CASE WHEN n_tokens < 5 THEN 0.0
             ELSE 1.0
                  - least(1.0, (n_punct / n_chars) * 4) * 0.25
                  - least(1.0, (n_digits / n_chars) * 4) * 0.25
                  - least(1.0, abs((n_chars - (n_tokens - 1)) / n_tokens - 5.0) / 5.0) * 0.25
             END, 6) AS quality_score
FROM f
"""


_PLANTED_BASE_SQL = """SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
         CAST(8 + (i * 7) % 13 AS INT) AS w,
         CAST(8 + (i * 5) % 11 AS INT) AS h,
         i * 2654435761 AS phash,
         'photo ' || CAST(i % 1600 AS VARCHAR)
           || repeat(' word', CAST(i % 4 AS INT)) AS caption
  FROM range(0, 2000) t(i)"""

_PLANTED_VARIANTS_SQL = """SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') || 'v' AS image_id,
         CAST(18 + (i * 7) % 13 AS INT) AS w,
         CAST(8 + (i * 5) % 11 AS INT) AS h,
         xor(i * 2654435761, 3) AS phash,
         'photo ' || CAST(i % 1600 AS VARCHAR)
           || repeat(' word', CAST(i % 4 AS INT)) || ' variant' AS caption
  FROM range(0, 150) t(i)"""


def _planted_image_table(spark: SparkSession) -> DataFrame:
    """Deterministic image+caption metadata table in the input_hint
    schema, with planted structure: ids ≥ 1600 repeat the caption of
    id−1600 (exact caption dups); ids < 150 get a 'v' twin with
    phash⊕3 (hamming 2 → near-dup), higher resolution (keep-best must
    prefer the twin), and a distinct caption (survives caption
    dedup)."""
    ids = spark.range(2000)
    base = ids.select(
        F.concat(
            F.lit("img"), F.lpad(F.col("id").cast("string"), 8, "0")
        ).alias("image_id"),
        (F.lit(8) + (F.col("id") * 7) % 13).cast("int").alias("w"),
        (F.lit(8) + (F.col("id") * 5) % 11).cast("int").alias("h"),
        (F.col("id") * F.lit(2654435761)).alias("phash"),
        F.concat(
            F.lit("photo "),
            (F.col("id") % 1600).cast("string"),
            F.expr("repeat(' word', CAST(id % 4 AS INT))"),
        ).alias("caption"),
    )
    variants = ids.filter(F.col("id") < 150).select(
        F.concat(
            F.lit("img"),
            F.lpad(F.col("id").cast("string"), 8, "0"),
            F.lit("v"),
        ).alias("image_id"),
        (F.lit(18) + (F.col("id") * 7) % 13).cast("int").alias("w"),
        (F.lit(8) + (F.col("id") * 5) % 11).cast("int").alias("h"),
        (F.col("id") * F.lit(2654435761))
        .bitwiseXOR(F.lit(3))
        .alias("phash"),
        F.concat(
            F.lit("photo "),
            (F.col("id") % 1600).cast("string"),
            F.expr("repeat(' word', CAST(id % 4 AS INT))"),
            F.lit(" variant"),
        ).alias("caption"),
    )
    return base.unionByName(variants)


def q_curate_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed image+caption curation (operators/curate.py::
    curate_image_captions) over a deterministically planted table in
    the input_hint schema: caption exact-dedup → phash-LSH connected
    components with keep-best-resolution → caption length →
    resolution/aspect geometry. All four stages are exact integer/
    string arithmetic, so the WHOLE pipeline (including the transitive
    phash components) has a DuckDB oracle."""
    from ksj2gp_spark.operators.curate import curate_image_captions

    kept, _ = curate_image_captions(
        _planted_image_table(spark),
        min_caption_tokens=3,
        min_dim=9,
        max_aspect=1.8,
    )
    return kept.select(
        "image_id",
        "w",
        "h",
        F.col("n_caption_tokens").cast("int").alias("n_tokens"),
        "component",
        F.col("csize").cast("long").alias("csize"),
    )


def _curate_images_sql() -> str:
    return f"""
WITH RECURSIVE base AS (
  {_PLANTED_BASE_SQL}
),
variants AS (
  {_PLANTED_VARIANTS_SQL}
),
allimg AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
s1 AS (
  SELECT a.* FROM allimg a
  JOIN (SELECT caption, min(image_id) AS keep FROM allimg GROUP BY caption) k
    ON a.image_id = k.keep
),
bands AS (
  SELECT image_id, phash, band, (phash >> (band * 16)) & 65535 AS band_val
  FROM s1 CROSS JOIN UNNEST(generate_series(0, 3)) AS t(band)
),
pairs AS (
  SELECT DISTINCT a.image_id AS id_a, b.image_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= 4
),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
sized AS (
  SELECT node, component,
         COUNT(*) OVER (PARTITION BY component) AS csize
  FROM comp
),
joined AS (
  SELECT s1.*, COALESCE(sz.component, s1.image_id) AS component,
         CAST(COALESCE(sz.csize, 1) AS BIGINT) AS csize
  FROM s1 LEFT JOIN sized sz ON sz.node = s1.image_id
),
s2 AS (
  SELECT * FROM joined
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY component
    ORDER BY CAST(w AS BIGINT) * h DESC, image_id ASC
  ) = 1
),
s3 AS (
  SELECT *, CAST(len(string_split(caption, ' ')) AS INT) AS n_tokens
  FROM s2 WHERE len(string_split(caption, ' ')) >= 3
)
SELECT image_id, w, h, n_tokens, component, csize
FROM s3
WHERE least(w, h) >= 9 AND greatest(w, h) * 1.0 / least(w, h) <= 1.8
"""


def q_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental visual dedup (operators/images.py::
    phash_near_dups_incremental): the 150 'v' variants arrive as a NEW
    batch and are probed against the 2000-image corpus via its banded
    phash index — bands computed only for the new rows, corpus side
    broadcast-probed, never shuffled. Pure BIGINT bit arithmetic, so
    the cross-set LSH pipeline replays exactly in DuckDB."""
    from ksj2gp_spark.operators.images import phash_near_dups_incremental

    allimg = _planted_image_table(spark)
    new = allimg.filter(F.col("image_id").endswith("v")).select(
        "image_id", "phash"
    )
    corpus = allimg.filter(~F.col("image_id").endswith("v")).select(
        "image_id", "phash"
    )
    return phash_near_dups_incremental(
        new, corpus, band_bits=16, max_hamming=4
    ).select("new_id", "corpus_id", F.col("hamming").cast("int").alias("hamming"))


def _phash_incremental_sql() -> str:
    return f"""
WITH base AS (
  {_PLANTED_BASE_SQL}
),
variants AS (
  {_PLANTED_VARIANTS_SQL}
),
cb AS (
  SELECT image_id, phash, band, (phash >> (band * 16)) & 65535 AS band_val
  FROM base CROSS JOIN UNNEST(generate_series(0, 3)) AS t(band)
),
nb AS (
  SELECT image_id, phash, band, (phash >> (band * 16)) & 65535 AS band_val
  FROM variants CROSS JOIN UNNEST(generate_series(0, 3)) AS t(band)
)
SELECT DISTINCT n.image_id AS new_id, c.image_id AS corpus_id,
       CAST(bit_count(xor(n.phash, c.phash)) AS INT) AS hamming
FROM nb n JOIN cb c ON n.band = c.band AND n.band_val = c.band_val
WHERE bit_count(xor(n.phash, c.phash)) <= 4
"""


def q_image_training_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed image-lane capstone: curate_image_captions (exact
    caption dedup → phash-LSH keep-best components → caption/geometry
    filters) feeding bucket_batches (aspect buckets → hash shards →
    fixed-size training batches) — curation output straight into the
    training loader's batch layout, end-to-end oracle-checkable. The
    shard key is the engine-portable mix of the numeric id embedded in
    image_id (+offset for the 'v' variants) so DuckDB reproduces the
    exact assignment."""
    from ksj2gp_spark.operators.curate import (
        curate_image_captions,
        mix_bucket,
    )
    from ksj2gp_spark.operators.pack import bucket_batches

    kept, _ = curate_image_captions(
        _planted_image_table(spark),
        min_caption_tokens=3,
        min_dim=9,
        max_aspect=1.8,
    )
    key = F.substring("image_id", 4, 8).cast("long") + F.when(
        F.col("image_id").endswith("v"), F.lit(500000)
    ).otherwise(F.lit(0))
    out = bucket_batches(
        kept.select("image_id", "w", "h"),
        batch_size=16,
        n_shards=4,
        shard_key=F.pmod(mix_bucket(key), F.lit(4)),
    )
    return out.select(
        "image_id", "w", "h", "bucket", "shard", "batch_idx",
        F.col("batch_n").cast("int").alias("batch_n"),
    )


def _image_training_batches_sql() -> str:
    from ksj2gp_spark.operators.curate import mix_bucket_sql

    mix = mix_bucket_sql(
        "CAST(substr(image_id, 4, 8) AS BIGINT)"
        " + CASE WHEN image_id LIKE '%v' THEN 500000 ELSE 0 END"
    )
    return f"""
WITH curated AS ({_curate_images_sql()}),
tagged AS (
  SELECT image_id, w, h,
         CASE WHEN CAST(w AS BIGINT) * 4 < CAST(h AS BIGINT) * 3 THEN 'portrait'
              WHEN CAST(w AS BIGINT) * 3 > CAST(h AS BIGINT) * 4 THEN 'landscape'
              ELSE 'square' END AS bucket,
         CAST((({mix}) % 4 + 4) % 4 AS INT) AS shard
  FROM curated
),
numbered AS (
  SELECT *,
         CAST((ROW_NUMBER() OVER (
           PARTITION BY bucket, shard ORDER BY image_id
         ) - 1) // 16 AS BIGINT) AS batch_idx
  FROM tagged
)
SELECT image_id, w, h, bucket, shard, batch_idx,
       CAST(COUNT(*) OVER (
         PARTITION BY bucket, shard, batch_idx
       ) AS INT) AS batch_n
FROM numbered
"""


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/pack.py::
    pack_sequences): global exclusive prefix sum of per-doc token
    counts via range partition + per-partition window + broadcast
    offsets — the distributed layout pass that turns a curated corpus
    into fixed-budget training sequences. Exact integer arithmetic,
    so seq assignment is oracle-checkable end-to-end."""
    from ksj2gp_spark.operators.pack import pack_sequences

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    packed = pack_sequences(
        toks, budget=512, num_partitions=8
    )
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "start_pos",
        "seq_id",
        F.col("seq_off").cast("long").alias("seq_off"),
    )


_SEQ_PACK_SQL = """
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_pos
  FROM t
)
SELECT doc_id, n_tokens, start_pos,
       CAST(start_pos // 512 AS BIGINT) AS seq_id,
       CAST(start_pos % 512 AS BIGINT) AS seq_off
FROM c
"""


def q_select_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget (operators/pack.py::
    select_under_budget): rank docs by n_chars descending (doc_id
    tie-break) and keep the maximal prefix whose cumulative tokens fit
    15,000 — the "spend compute on the best data" pass. Same
    distributed prefix-sum core as seq_pack; the budget cut is a
    map-side filter, so the selection is exact-integer and
    oracle-checkable."""
    from ksj2gp_spark.operators.pack import select_under_budget

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = d.select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    sel = select_under_budget(toks, budget=15_000, num_partitions=8)
    return sel.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "start_pos",
    )


_SELECT_BUDGET_SQL = """
WITH t AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (
           ORDER BY n_chars DESC, doc_id
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS cum
  FROM t
)
SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS start_pos
FROM c WHERE cum <= 15000
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (operators/dedup.py::
    duplicate_spans, Lee et al. 2022 semantics): maximal token spans
    whose every 5-token window occurs >= 2 times corpus-wide — the
    spans a pretraining pipeline cuts out of the text instead of
    dropping whole documents. Rolling-window inverted index (the
    distributed stand-in for the paper's suffix array) + per-doc
    gaps-and-islands merge."""
    from ksj2gp_spark.operators.dedup import duplicate_spans

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = duplicate_spans(d, k=5)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


_DUP_SPANS_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pg AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS gram
  FROM t, UNNEST(generate_series(1, len(w) - 4)) AS u(i)
  WHERE len(w) >= 5
),
dup AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM pg JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 5 AS BIGINT) AS span_end,
       CAST(max(pos) + 5 - min(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level corpus dedup (operators/dedup.py::
    line_dedup, Wenzek et al. 2020 semantics): every occurrence of a
    line appearing >= 2 times corpus-wide is removed and documents are
    rebuilt from surviving lines in order. The test corpus has no line
    structure, so the query first derives it deterministically —
    2-word chunks joined with newlines (the small chunk width makes
    corpus-wide duplicate lines common at sf0.01, so the contract
    exercises both drop and keep paths)."""
    from ksj2gp_spark.operators.dedup import line_dedup

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(2.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.concat_ws(" ", F.slice(words, i * F.lit(2) + F.lit(1), 2)),
    )
    structured = d.select("doc_id", F.concat_ws("\n", lines).alias("text"))
    return line_dedup(structured, min_count=2)


_LINE_DEDUP_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
d AS (
  SELECT doc_id,
         list_transform(
           generate_series(0, CAST(ceil(len(ws) / 2.0) AS INT) - 1),
           i -> array_to_string(ws[i * 2 + 1 : i * 2 + 2], ' ')
         ) AS lines
  FROM w
),
l AS (
  SELECT doc_id, i - 1 AS pos, lines[i] AS line
  FROM d, UNNEST(generate_series(1, len(lines))) AS t(i)
),
dup AS (SELECT line FROM l GROUP BY line HAVING count(*) >= 2),
tag AS (
  SELECT l.doc_id, l.pos, l.line, dup.line IS NOT NULL AS is_dup
  FROM l LEFT JOIN dup ON l.line = dup.line
)
SELECT doc_id,
       coalesce(
         string_agg(CASE WHEN NOT is_dup THEN line END, chr(10) ORDER BY pos),
         ''
       ) AS text,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM tag GROUP BY doc_id
"""


# Weights and bias are multiples of 0.25 on purpose: dyadic rationals
# of this magnitude sum EXACTLY in binary FP, so the per-doc logit is
# bit-identical across engines regardless of aggregation order and the
# keep decision can never straddle an FP tie.
_CLS_LEXICON = {
    "spark": 1.5,
    "fast": 1.0,
    "query": 0.75,
    "window": 0.5,
    "join": 0.5,
    "slow": -1.25,
    "a": -0.75,
    "the": -0.5,
}


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality gate (operators/text.py::
    classifier_score, Joulin et al. 2017 shape): sigmoid(bias + mean
    lexicon weight) per document against a planted 8-word lexicon,
    keep = score > 0.5. OOV tokens weigh 0 but count in the mean."""
    from ksj2gp_spark.operators.text import classifier_score

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return classifier_score(d, _CLS_LEXICON, bias=-0.25, threshold=0.5)


_CLASSIFIER_SQL = """
WITH lex(tok, w) AS (
  VALUES ('spark', 1.5), ('fast', 1.0), ('query', 0.75), ('window', 0.5),
         ('join', 0.5), ('slow', -1.25), ('a', -0.75), ('the', -0.5)
),
t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
j AS (
  SELECT doc_id, coalesce(lex.w, 0.0) AS w
  FROM t LEFT JOIN lex ON t.tok = lex.tok
),
s AS (
  SELECT doc_id, count(*) AS n_tokens,
         -0.25 + sum(w) / count(*) AS logit
  FROM j GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(1.0 / (1.0 + exp(-logit)), 6) AS score,
       1.0 / (1.0 + exp(-logit)) > 0.5 AS keep
FROM s
"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py::semdedup, Abbas et al. 2023):
    k-means cluster the planted 8-cluster vectors (same fixture and
    Lloyd trajectory as kmeans_clusters), then within each cluster
    drop every vector with a lower-id cluster-mate at cosine >=
    0.9965 (threshold sits 5e-4 from the nearest planted similarity,
    so the keep/drop set is FP-robust). 51 kept / 149 dropped."""
    from ksj2gp_spark.operators.similarity import semdedup

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = e.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.when(i == F.col("vec_id") % 8, F.lit(1.0)).otherwise(F.lit(0.0))
                + ((F.col("vec_id") * 31 + i * 17) % 7 - 3).cast("double") * 0.01
            ),
        ).alias("embedding"),
    )
    return semdedup(planted, k=8, dim=16, threshold=0.9965)


def _semdedup_sql() -> str:
    def dist(v: str, c: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, 16), "
            f"j -> ({v}.vec[j] - {c}.vec[j]) * ({v}.vec[j] - {c}.vec[j])))"
        )

    return f"""
WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
v AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, 15),
           i -> (CASE WHEN i = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + CAST((vec_id * 31 + i * 17) % 7 - 3 AS DOUBLE) * 0.01
         ) AS vec
  FROM ids
),
c0 AS (SELECT vec_id AS cl, vec FROM v WHERE vec_id < 8),
d1 AS (
  SELECT v.vec_id, v.vec, c.cl, {dist("v", "c")} AS d
  FROM v CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, vec, cl AS cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
),
c1 AS (
  SELECT cluster AS cl, list(m ORDER BY j) AS vec FROM (
    SELECT a1.cluster, t.j, AVG(a1.vec[t.j]) AS m
    FROM a1, generate_series(1, 16) t(j)
    GROUP BY a1.cluster, t.j
  ) GROUP BY cluster
),
d2 AS (
  SELECT v.vec_id, v.vec, c.cl, {dist("v", "c")} AS d
  FROM v CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, vec, cl AS cluster FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a2 a JOIN a2 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.vec, b.vec)
        / (sqrt(list_dot_product(a.vec, a.vec))
         * sqrt(list_dot_product(b.vec, b.vec))) >= 0.9965
)
SELECT a2.vec_id, CAST(a2.cluster AS INT) AS cluster,
       dropped.vec_id IS NULL AS kept
FROM a2 LEFT JOIN dropped ON a2.vec_id = dropped.vec_id
"""


def q_dihedral_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotation/mirror-invariant image near-dup (operators/images.py::
    dihedral_phash): 600 real codec images plus one dihedral variant
    each (orientation = id % 8, PNG re-encode so variant pixels are
    exact permutations); the canonical min-of-8 hash must match the
    base for EVERY variant, so per-orientation match counts are exact
    integers the oracle computes from id arithmetic — a single
    non-invariant hash breaks the count."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import dihedral_phash, dihedral_variants

    base = fixtures.images_df(spark, 600, with_bytes=True)
    hashes = dihedral_phash(
        base.unionByName(dihedral_variants(base))
    )
    b = hashes.filter(~F.col("image_id").endswith("r")).select(
        F.col("image_id").alias("base_id"),
        F.col("dihedral_phash").alias("base_hash"),
    )
    v = hashes.filter(F.col("image_id").endswith("r")).select(
        F.expr("substring(image_id, 1, length(image_id) - 1)").alias(
            "base_id"
        ),
        F.col("dihedral_phash").alias("var_hash"),
    )
    return (
        b.join(v, "base_id")
        .groupBy(
            (F.substring("base_id", 4, 8).cast("long") % 8)
            .cast("int")
            .alias("orientation")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("base_hash") == F.col("var_hash")).cast("long")).alias(
                "n_match"
            ),
        )
    )


_DIHEDRAL_SQL = """
SELECT CAST(i % 8 AS INT) AS orientation,
       count(*) AS n_pairs,
       count(*) AS n_match
FROM range(0, 600) t(i)
GROUP BY i % 8
"""


def q_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS value trend over the events table
    (operators/stats.py::group_trend): slope/intercept/r2 of value vs
    time-in-days via the five sufficient statistics — one map-side-
    combinable groupBy, closed-form solve in codegen. x is centered on
    2024-01-01 and scaled to days so the normal equations never
    cancel catastrophically at epoch magnitude."""
    from ksj2gp_spark.operators.stats import group_trend

    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # exact integer micros since the anchor, ONE IEEE division to days
    # (ts is TIMESTAMP_NTZ: a double cast is rejected, and a session-tz
    # dependent cast would not be engine-portable)
    days = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    ) / F.lit(86400000000.0)
    return group_trend(
        e.select("user_id", days.alias("x_days"), "value"),
        group_col="user_id",
        x_col="x_days",
        y_col="value",
    )


_GROUP_TREND_SQL = """
WITH pts AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00'))
           / 86400000000.0 AS x,
         value AS y
  FROM events
),
agg AS (
  SELECT user_id, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pts GROUP BY user_id
)
SELECT user_id, n AS n_points,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept,
       round(CASE WHEN n * syy - sy * sy = 0 THEN 1.0
                  ELSE (n * sxy - sx * sy) * (n * sxy - sx * sy)
                       / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             END, 6) AS r2
FROM agg
WHERE n >= 2 AND n * sxx - sx * sx <> 0
"""


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation detection (operators/text.py::bigram_pmi, Church &
    Hanks 1990): PMI over adjacent token pairs with count >= 5 — the
    corpus-analytics statistic behind multiword-expression mining."""
    from ksj2gp_spark.operators.text import bigram_pmi

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return bigram_pmi(d, min_count=5)


_BIGRAM_PMI_SQL = """
WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
pairs AS (
  SELECT ws[i] AS tok_a, ws[i + 1] AS tok_b
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2
),
big AS (SELECT tok_a, tok_b, count(*) AS n_ab FROM pairs GROUP BY 1, 2),
la AS (SELECT tok_a, count(*) AS n_a FROM pairs GROUP BY 1),
rb AS (SELECT tok_b, count(*) AS n_b FROM pairs GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM pairs)
SELECT b.tok_a, b.tok_b, b.n_ab,
       round(ln(b.n_ab * t.n / (b_n.n_a * b_m.n_b)), 6) AS pmi
FROM big b
JOIN la b_n ON b.tok_a = b_n.tok_a
JOIN rb b_m ON b.tok_b = b_m.tok_b
CROSS JOIN tot t
WHERE b.n_ab >= 5
"""


def q_batch_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-ratio bucketed training-batch assignment
    (operators/pack.py::bucket_batches) over a deterministically
    planted image-metadata table: integer cross-multiplied
    portrait/square/landscape buckets, engine-portable hash shards
    (so one hot bucket never serializes into one window task), and
    fixed-size batch numbering per (bucket, shard)."""
    from ksj2gp_spark.operators.curate import mix_bucket
    from ksj2gp_spark.operators.pack import bucket_batches

    ids = spark.range(5000)
    imgs = ids.select(
        F.concat(
            F.lit("img"), F.lpad(F.col("id").cast("string"), 8, "0")
        ).alias("image_id"),
        (F.lit(8) + (F.col("id") * 7) % 23).cast("int").alias("w"),
        (F.lit(8) + (F.col("id") * 5) % 19).cast("int").alias("h"),
        F.col("id").alias("seq"),
    )
    out = bucket_batches(
        imgs,
        batch_size=16,
        n_shards=4,
        shard_key=F.pmod(mix_bucket(F.col("seq")), F.lit(4)),
    )
    return out.select(
        "image_id", "w", "h", "bucket", "shard", "batch_idx",
        F.col("batch_n").cast("int").alias("batch_n"),
    )


def _batch_pack_sql() -> str:
    from ksj2gp_spark.operators.curate import mix_bucket_sql

    mix = mix_bucket_sql("seq")
    return f"""
WITH imgs AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
         CAST(8 + (i * 7) % 23 AS INT) AS w,
         CAST(8 + (i * 5) % 19 AS INT) AS h,
         i AS seq
  FROM range(0, 5000) t(i)
),
tagged AS (
  SELECT image_id, w, h,
         CASE WHEN CAST(w AS BIGINT) * 4 < CAST(h AS BIGINT) * 3 THEN 'portrait'
              WHEN CAST(w AS BIGINT) * 3 > CAST(h AS BIGINT) * 4 THEN 'landscape'
              ELSE 'square' END AS bucket,
         CAST((({mix}) % 4 + 4) % 4 AS INT) AS shard
  FROM imgs
),
numbered AS (
  SELECT *,
         CAST((ROW_NUMBER() OVER (
           PARTITION BY bucket, shard ORDER BY image_id
         ) - 1) // 16 AS BIGINT) AS batch_idx
  FROM tagged
)
SELECT image_id, w, h, bucket, shard, batch_idx,
       CAST(COUNT(*) OVER (
         PARTITION BY bucket, shard, batch_idx
       ) AS INT) AS batch_n
FROM numbered
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-data pipeline: exact dedup → MinHash
    near-dup dedup → language filter → quality filter, end-to-end in
    one call (operators/curate.py) — and end-to-end ORACLED, because
    every stage is exact relational/BIGINT arithmetic."""
    from ksj2gp_spark.operators.curate import curate_corpus

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kept, _ = curate_corpus(
        d, langs=("en",), min_quality=0.5, minhash_threshold=0.7
    )
    return kept.select("doc_id", "lang_guess", "quality_score")


def _curation_sql() -> str:
    return f"""
WITH s1 AS (
  SELECT d.doc_id, d.text
  FROM documents d
  JOIN (SELECT text, min(doc_id) AS keep FROM documents GROUP BY text) k
    ON d.doc_id = k.keep
),
{_minhash_pairs_ctes("s1")},
near_drops AS (
  SELECT DISTINCT id_b FROM est WHERE est_jaccard >= 0.7
),
s2 AS (
  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT id_b FROM near_drops)
),
s3 AS (
  SELECT doc_id, text, {_lang_case_sql()} AS lang_guess
  FROM (SELECT doc_id, text, ' ' || lower(text) || ' ' AS t FROM s2)
),
s3k AS (SELECT * FROM s3 WHERE lang_guess = 'en'),
f AS (
  SELECT doc_id, lang_guess,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
  FROM s3k
),
s4 AS (
  SELECT doc_id, lang_guess,
         round(CASE WHEN n_tokens < 5 THEN 0.0
               ELSE 1.0
                    - least(1.0, (n_punct / n_chars) * 4) * 0.25
                    - least(1.0, (n_digits / n_chars) * 4) * 0.25
                    - least(1.0, abs((n_chars - (n_tokens - 1)) / n_tokens - 5.0) / 5.0) * 0.25
               END, 6) AS quality_score
  FROM f
)
SELECT doc_id, lang_guess, quality_score FROM s4 WHERE quality_score >= 0.5
"""


_SPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}
_SPLIT_FRACS = {"short": 0.5, "medium": 0.25, "long": 1.0}


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/valid/test assignment + per-stratum
    downsampling (operators/curate.py::hash_split / stratified_sample):
    pure map-side hash-threshold expressions — rerun-stable and
    order-independent, which is exactly why DuckDB reproduces the
    assignment bit-for-bit from the same BIGINT arithmetic."""
    from ksj2gp_spark.operators import curate

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    d = d.withColumn(
        "stratum",
        F.when(F.col("n_chars") < 200, "short")
        .when(F.col("n_chars") < 400, "medium")
        .otherwise("long"),
    )
    d = curate.hash_split(
        d,
        key="doc_id",
        weights=_SPLIT_WEIGHTS,
        bucket=curate.mix_bucket("doc_id"),
    )
    sampled = curate.stratified_sample(
        d,
        "stratum",
        _SPLIT_FRACS,
        bucket=curate.mix_bucket("doc_id", 31, 7),
    )
    tot = d.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    smp = sampled.groupBy("stratum", "split").agg(
        F.count(F.lit(1)).alias("n_sampled")
    )
    return tot.join(smp, ["stratum", "split"], "left").withColumn(
        "n_sampled", F.coalesce("n_sampled", F.lit(0).cast("long"))
    )


def _corpus_split_sql() -> str:
    from ksj2gp_spark.operators.curate import _SPLIT_MOD, mix_bucket_sql

    # thresholds from the SAME float accumulation hash_split performs
    acc, cuts = 0.0, []
    names = list(_SPLIT_WEIGHTS)
    for name in names[:-1]:
        acc += _SPLIT_WEIGHTS[name]
        cuts.append((name, int(acc * _SPLIT_MOD)))
    split_case = " ".join(
        f"WHEN b1 < {cut} THEN '{name}'" for name, cut in cuts
    )
    frac_case = " ".join(
        f"WHEN '{val}' THEN {int(frac * _SPLIT_MOD)}"
        for val, frac in _SPLIT_FRACS.items()
    )
    return f"""
WITH d AS (
  SELECT CASE WHEN n_chars < 200 THEN 'short'
              WHEN n_chars < 400 THEN 'medium'
              ELSE 'long' END AS stratum,
         {mix_bucket_sql("doc_id")} AS b1,
         {mix_bucket_sql("doc_id", 31, 7)} AS b2
  FROM documents
),
e AS (
  SELECT stratum,
         CASE {split_case} ELSE '{names[-1]}' END AS split, b2
  FROM d
)
SELECT stratum, split, count(*) AS n_total,
       CAST(sum(CASE WHEN b2 < CASE stratum {frac_case} ELSE 0 END
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM e GROUP BY stratum, split
"""


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, batch form (lag + cumulative sum)."""
    e = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess_id = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        e.withColumn("sess_id", sess_id)
        .groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


_SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
  FROM o
)
SELECT user_id, sess_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY 1, 2
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs. The shingle hash is a 31-bit
    polynomial rolling hash and the permutation family is
    (a·x+b) mod M31 (operators/dedup.py), both exact BIGINT
    arithmetic — so the full pipeline (shingle → signature → banding →
    bucket join → est-Jaccard verify) has a DuckDB oracle."""
    from ksj2gp_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.2)


# Shared SQL fragment: 31-bit polynomial rolling hash of a shingle,
# mirroring operators/dedup.py::_poly_hashes term-for-term.
def _poly_hash_sql(col: str, base: int) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(unicode({col}[i]) AS BIGINT))), "
        f"(acc, c) -> (acc * {base} + c) % 2147483647)"
    )


def _minhash_pairs_sql(source: str = "documents", threshold: float = 0.2) -> str:
    """Full MinHash+LSH pipeline as a standalone SQL query over any
    (doc_id, text) source; also composed CTE-style by _curation_sql."""
    return f"WITH {_minhash_pairs_ctes(source)}\n" + _minhash_pairs_select(threshold)


def _minhash_sig_ctes(source: str) -> str:
    """Shingle → signature → packed-band CTEs (toks/sh/hs/params/sig/
    bands) over any (doc_id, text) source — the shared prefix of every
    minhash oracle (same-set pairs, incremental pairs, curation,
    keep-best)."""
    from ksj2gp_spark.operators.dedup import minhash_params

    params = ",\n".join(
        f"({h}, {a}, {b})" for h, (a, b) in enumerate(minhash_params(64))
    )
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM {source}),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 2, 1))) AS t(i)
),
hs AS (
  SELECT doc_id, {_poly_hash_sql("shingle", 131)} AS h1 FROM sh
),
params(h, a, b) AS (VALUES {params}),
sig AS (
  SELECT doc_id, p.h, min((p.a * hs.h1 + p.b) % 2147483647) AS minh
  FROM hs CROSS JOIN params p GROUP BY doc_id, p.h
),
bands AS (
  -- base-2^31 positional packing of the 4 band minhashes into 2 BIGINTs
  SELECT doc_id, CAST(floor(h / 4) AS INT) AS band,
         max(CASE WHEN h % 4 = 0 THEN minh END) * 2147483648
           + max(CASE WHEN h % 4 = 1 THEN minh END) AS bk0,
         max(CASE WHEN h % 4 = 2 THEN minh END) * 2147483648
           + max(CASE WHEN h % 4 = 3 THEN minh END) AS bk1
  FROM sig GROUP BY doc_id, 2
)"""


def _minhash_pairs_ctes(source: str) -> str:
    return f"""{_minhash_sig_ctes(source)},
pairs0 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk0 = b.bk0 AND a.bk1 = b.bk1
   AND a.doc_id < b.doc_id
),
est AS (
  SELECT p.id_a, p.id_b,
         sum(CASE WHEN sa.minh = sb.minh THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
  FROM pairs0 p
  JOIN sig sa ON sa.doc_id = p.id_a
  JOIN sig sb ON sb.doc_id = p.id_b AND sb.h = sa.h
  GROUP BY p.id_a, p.id_b
)"""


def _minhash_pairs_select(threshold: float) -> str:
    return (
        "SELECT id_a, id_b, est_jaccard FROM est "
        f"WHERE est_jaccard >= {threshold}"
    )


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: near-dup pairs of a NEW ingest batch
    (doc_id % 5 == 0) against the EXISTING corpus (the rest) —
    signatures computed only for new rows, corpus probed via a
    broadcast semi-join of the new batch's band keys (the corpus index
    side never shuffles; operators/dedup.py::
    minhash_lsh_pairs_incremental). Same exact BIGINT arithmetic as
    minhash_pairs, so the full cross-set pipeline has a DuckDB
    oracle."""
    from ksj2gp_spark.operators.dedup import minhash_lsh_pairs_incremental

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    new_batch = d.filter(F.col("doc_id") % 5 == 0)
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    return minhash_lsh_pairs_incremental(
        new_batch, corpus, num_hashes=64, bands=16, threshold=0.2
    )


def _minhash_incremental_sql() -> str:
    return f"""WITH {_minhash_sig_ctes("documents")},
pairs0 AS (
  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
  FROM bands n JOIN bands c
    ON n.band = c.band AND n.bk0 = c.bk0 AND n.bk1 = c.bk1
   AND n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
),
est AS (
  SELECT p.new_id, p.corpus_id,
         sum(CASE WHEN sn.minh = sc.minh THEN 1 ELSE 0 END) / 64.0 AS est_jaccard
  FROM pairs0 p
  JOIN sig sn ON sn.doc_id = p.new_id
  JOIN sig sc ON sc.doc_id = p.corpus_id AND sc.h = sn.h
  GROUP BY p.new_id, p.corpus_id
)
SELECT new_id, corpus_id, est_jaccard FROM est WHERE est_jaccard >= 0.2"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs. 62-bit simhash from the dual polynomial
    shingle hash — exact BIGINT arithmetic end-to-end, DuckDB-oracled
    (bit voting, band equality, bit_count Hamming verify)."""
    from ksj2gp_spark.operators.dedup import simhash_near_dups

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return simhash_near_dups(d, max_hamming=10).withColumn(
        "hamming", F.col("hamming").cast("int")
    )


def _simhash_pairs_sql() -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, greatest(len(w) - 1, 1))) AS t(i)
),
hs AS (
  SELECT doc_id,
         {_poly_hash_sql("shingle", 131)} * 2147483648
         + {_poly_hash_sql("shingle", 137)} AS h64
  FROM sh
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h64 >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hs CROSS JOIN UNNEST(generate_series(0, 61)) AS t(b)
  GROUP BY doc_id, b
),
simhash AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
  FROM votes GROUP BY doc_id
),
banded AS (
  SELECT doc_id, band, (sh >> (band * 16)) & 65535 AS band_val, sh
  FROM simhash CROSS JOIN UNNEST(generate_series(0, 3)) AS t(band)
),
pairs0 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sh AS sh_a, b.sh AS sh_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM pairs0 WHERE bit_count(xor(sh_a, sh_b)) <= 10
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID histogram. The heuristic is vectorized pandas .str
    marker counting whose every term is SQL-expressible, so the lane is
    DuckDB-oracled (CJK regex, replace-based substring counts,
    largest-code tie-break)."""
    from ksj2gp_spark.operators.text import with_lang_id

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return (
        with_lang_id(d)
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_case_sql() -> str:
    """lang-guess CASE expression over a column named ``t`` (the
    space-padded lowercased text); shared by the lang_id oracle and the
    corpus-curation oracle."""
    from ksj2gp_spark.operators.text import _LANG_MARKERS

    def score(lang: str) -> str:
        terms = [
            f"(length(t) - length(replace(t, '{m}', ''))) / {len(m)}"
            for m in _LANG_MARKERS[lang]
        ]
        return " + ".join(terms)

    return f"""CASE
    WHEN regexp_matches(t, '[぀-ヿ一-鿿]') THEN 'ja'
    WHEN greatest({score("de")}, {score("en")}, {score("fr")}) = 0 THEN 'unknown'
    WHEN ({score("fr")}) >= ({score("en")})
     AND ({score("fr")}) >= ({score("de")}) THEN 'fr'
    WHEN ({score("en")}) >= ({score("de")}) THEN 'en'
    ELSE 'de' END"""


def _lang_id_sql() -> str:
    return f"""
WITH padded AS (
  SELECT ' ' || lower(text) || ' ' AS t FROM documents
),
scored AS (
  SELECT {_lang_case_sql()} AS lang_guess
  FROM padded
)
SELECT lang_guess, count(*) AS n_docs FROM scored GROUP BY lang_guess
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dups via multi-table hyperplane LSH
    (rows-only: bucket assignment is engine-defined). LSH is a
    HIGH-similarity tool — random-pair cosines (~0.5 in this synthetic
    table) are below any useful LSH operating point — so the query
    plants deterministic near-duplicates (per-element perturbation,
    cosine ≈ 0.9996) and recovers them at threshold 0.99: the planted
    recall is the correctness signal."""
    from ksj2gp_spark.operators.dedup import embedding_near_dups

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = (
        e.filter(F.col("vec_id") < 50)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + 0.002 * ((i * 7) % 5 - 2),
            ).alias("embedding"),
        )
    )
    both = e.select("vec_id", "embedding").unionByName(planted)
    pairs = embedding_near_dups(both, threshold=0.99)
    return pairs.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine4")
    )


# Oracle: the planted pairs are the complete expected answer (the 50
# true near-dups are the only cosines ≥ 0.99 in the table), so the
# oracle computes them directly; the Spark side must RECOVER them
# through the LSH — a recall miss or a spurious pair breaks equality.
_EMBEDDING_DUPS_SQL = """
WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
pert AS (
  SELECT vec_id,
         list_transform(
           embedding,
           (x, i) -> CAST(x AS DOUBLE) + 0.002 * (((i - 1) * 7) % 5 - 2)
         ) AS emb2
  FROM base
)
SELECT b.vec_id AS id_a, b.vec_id + 1000000 AS id_b,
       round(
         list_cosine_similarity(
           list_transform(b.embedding, x -> CAST(x AS DOUBLE)), p.emb2
         ),
         4
       ) AS cosine4
FROM base b JOIN pert p USING (vec_id)
"""


def q_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup (operators/dedup.py::
    embedding_near_dups_incremental): the 50 planted perturbations
    arrive as a NEW batch and are probed against the full embeddings
    corpus via its hyperplane-bucket index — buckets computed only for
    the new rows, corpus side broadcast-probed, never shuffled. Same
    planted-recall contract as embedding_near_dups: the 50 cross-set
    pairs (cosine ≈ 0.9996) are the complete expected answer at
    threshold 0.99, so an LSH recall miss or a spurious pair breaks
    equality."""
    from ksj2gp_spark.operators.dedup import embedding_near_dups_incremental

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    corpus = e.select("vec_id", "embedding")
    new = (
        e.filter(F.col("vec_id") < 50)
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x, i: x + 0.002 * ((i * 7) % 5 - 2),
            ).alias("embedding"),
        )
    )
    pairs = embedding_near_dups_incremental(new, corpus, threshold=0.99)
    return pairs.select(
        "new_id", "corpus_id", F.round("cosine", 4).alias("cosine4")
    )


_EMBEDDING_INCR_SQL = """
WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
pert AS (
  SELECT vec_id,
         list_transform(
           embedding,
           (x, i) -> CAST(x AS DOUBLE) + 0.002 * (((i - 1) * 7) % 5 - 2)
         ) AS emb2
  FROM base
)
SELECT b.vec_id + 1000000 AS new_id, b.vec_id AS corpus_id,
       round(
         list_cosine_similarity(
           list_transform(b.embedding, x -> CAST(x AS DOUBLE)), p.emb2
         ),
         4
       ) AS cosine4
FROM base b JOIN pert p USING (vec_id)
"""


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (the similarity scale path),
    value-oracled by PLANTED STRUCTURE: 200 vectors in 8 near-orthogonal
    clusters (cluster c = vec_id % 8 owns axis c; per-element lattice
    perturbation ±0.03). Intra-cluster cosine ≈ 0.99, inter ≈ 0.05, and
    every cluster member lands in the same inverted list (the vectors
    are nearly identical, so their nearest-centroid argmax agrees), so
    each query's exact top-5 — all cluster-mates, 25 ≫ 5 per cluster —
    live inside its own probed list. IVF top-5 therefore provably
    equals the exact top-5 that the DuckDB oracle computes by brute
    force, even if k-means merges or splits clusters (nprobe=4 covers a
    split into ≤4 sub-lists)."""
    from ksj2gp_spark.operators.similarity import ivf_topk

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = e.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.when(i == F.col("vec_id") % 8, F.lit(1.0)).otherwise(F.lit(0.0))
                + ((F.col("vec_id") * 31 + i * 17) % 7 - 3).cast("double") * 0.01
            ),
        ).alias("embedding"),
    )
    return ivf_topk(planted, k=5, nlist=8, nprobe=4).select(
        "vec_id", "rank", "neighbor_id", F.round("sim", 3).alias("sim3")
    )


# Oracle: exact brute-force top-5 over the same deterministically
# planted vectors. The Spark side must RECOVER it through the IVF
# index — a recall miss (wrong list routing, dropped candidate) breaks
# rows/hash equality. All arithmetic is int-lattice → double, identical
# in both engines; rank ties (exact-equal sims) break on neighbor_id in
# both ORDER BYs.
_SIMILARITY_IVF_SQL = """
WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
v AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, 15),
           i -> (CASE WHEN i = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + CAST((vec_id * 31 + i * 17) % 7 - 3 AS DOUBLE) * 0.01
         ) AS vec
  FROM ids
),
pairs AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.vec, b.vec)
           / (sqrt(list_dot_product(a.vec, a.vec))
            * sqrt(list_dot_product(b.vec, b.vec))) AS sim
  FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id
)
SELECT vec_id,
       CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       neighbor_id,
       round(sim, 3) AS sim3
FROM pairs
QUALIFY rank <= 5
"""


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-set IVF retrieval (operators/similarity.py::ivf_search):
    a NEW query batch (40 vectors planted in the same 8 near-orthogonal
    clusters, different lattice perturbation) looks up its top-3
    corpus neighbors through the IVF index — the serving/ingest shape
    of ANN. Same planted-recall contract as similarity_ivf: each
    query's exact top-3 are cluster-mates inside its probed list, so
    IVF provably equals the brute-force oracle."""
    from ksj2gp_spark.operators.similarity import ivf_search

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    corpus = e.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.when(i == F.col("vec_id") % 8, F.lit(1.0)).otherwise(F.lit(0.0))
                + ((F.col("vec_id") * 31 + i * 17) % 7 - 3).cast("double") * 0.01
            ),
        ).alias("embedding"),
    )
    # NOTE: the +1M rename happens in a SECOND select — inside one
    # select, Spark's lateral-column-alias resolution would bind the
    # formula's vec_id to the just-aliased (vec_id + 1M) expression
    queries = (
        e.filter(F.col("vec_id") < 40)
        .select(
            "vec_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda i: (
                    F.when(
                        i == F.col("vec_id") % 8, F.lit(1.0)
                    ).otherwise(F.lit(0.0))
                    + ((F.col("vec_id") * 37 + i * 13) % 7 - 3).cast(
                        "double"
                    )
                    * 0.01
                ),
            ).alias("embedding"),
        )
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    return ivf_search(queries, corpus, k=3, nlist=8, nprobe=4).select(
        "query_id", "rank", "neighbor_id", F.round("sim", 3).alias("sim3")
    )


# Oracle: exact brute-force top-3 of every query over the planted
# corpus; the Spark side must RECOVER it through the IVF routing.
_IVF_SEARCH_SQL = """
WITH cids AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
corpus AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, 15),
           i -> (CASE WHEN i = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + CAST((vec_id * 31 + i * 17) % 7 - 3 AS DOUBLE) * 0.01
         ) AS vec
  FROM cids
),
qids AS (SELECT vec_id FROM embeddings WHERE vec_id < 40),
queries AS (
  SELECT vec_id + 1000000 AS query_id,
         list_transform(
           generate_series(0, 15),
           i -> (CASE WHEN i = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + CAST((vec_id * 37 + i * 13) % 7 - 3 AS DOUBLE) * 0.01
         ) AS vec
  FROM qids
),
pairs AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.vec, c.vec)
           / (sqrt(list_dot_product(q.vec, q.vec))
            * sqrt(list_dot_product(c.vec, c.vec))) AS sim
  FROM queries q CROSS JOIN corpus c
)
SELECT query_id,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank,
       neighbor_id,
       round(sim, 3) AS sim3
FROM pairs
QUALIFY rank <= 3
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (similarity.kmeans_lloyd) on the
    planted 8-cluster vectors, 2 iterations from deterministic seeds
    (vec_id 0..7). The oracle replays BOTH iterations relationally —
    assignment argmin with (distance, cluster) tie order, per-dim AVG
    centroid update — and the planted separation (intra ≈ 0, inter ≈
    1.4) makes the trajectory float-robust. Output: per-cluster size +
    the first 4 centroid dims of the final assignment."""
    from ksj2gp_spark.operators.similarity import kmeans_lloyd

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    planted = e.filter(F.col("vec_id") < 200).select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.when(i == F.col("vec_id") % 8, F.lit(1.0)).otherwise(F.lit(0.0))
                + ((F.col("vec_id") * 31 + i * 17) % 7 - 3).cast("double") * 0.01
            ),
        ).alias("embedding"),
    )
    a = kmeans_lloyd(planted, k=8, dim=16, n_iter=2)
    return (
        planted.join(a, "vec_id")
        .groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            # round + add 0.0: sub-1e-6 residues round to NEGATIVE zero
            # on one engine and positive on the other; -0.0 + 0.0 is
            # +0.0 in IEEE, so both sides canonicalize identically
            *[
                (F.round(F.avg(F.col("embedding")[j]), 6) + F.lit(0.0))
                .alias(f"c{j}")
                for j in range(4)
            ],
        )
    )


def _kmeans_sql() -> str:
    def dist(v: str, c: str) -> str:
        return (
            f"list_sum(list_transform(generate_series(1, 16), "
            f"j -> ({v}.vec[j] - {c}.vec[j]) * ({v}.vec[j] - {c}.vec[j])))"
        )

    return f"""
WITH ids AS (SELECT vec_id FROM embeddings WHERE vec_id < 200),
v AS (
  SELECT vec_id,
         list_transform(
           generate_series(0, 15),
           i -> (CASE WHEN i = vec_id % 8 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END)
                + CAST((vec_id * 31 + i * 17) % 7 - 3 AS DOUBLE) * 0.01
         ) AS vec
  FROM ids
),
c0 AS (SELECT vec_id AS cl, vec FROM v WHERE vec_id < 8),
d1 AS (
  SELECT v.vec_id, v.vec, c.cl, {dist("v", "c")} AS d
  FROM v CROSS JOIN c0 c
),
a1 AS (
  SELECT vec_id, vec, cl AS cluster FROM d1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
),
c1 AS (
  SELECT cluster AS cl, list(m ORDER BY j) AS vec FROM (
    SELECT a1.cluster, t.j, AVG(a1.vec[t.j]) AS m
    FROM a1, generate_series(1, 16) t(j)
    GROUP BY a1.cluster, t.j
  ) GROUP BY cluster
),
d2 AS (
  SELECT v.vec_id, v.vec, c.cl, {dist("v", "c")} AS d
  FROM v CROSS JOIN c1 c
),
a2 AS (
  SELECT vec_id, vec, cl AS cluster FROM d2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) = 1
)
SELECT CAST(cluster AS INT) AS cluster, COUNT(*) AS n_members,
       round(AVG(vec[1]), 6) + 0.0 AS c0, round(AVG(vec[2]), 6) + 0.0 AS c1,
       round(AVG(vec[3]), 6) + 0.0 AS c2, round(AVG(vec[4]), 6) + 0.0 AS c3
FROM a2 GROUP BY cluster
"""


def q_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup candidates by banded perceptual hash (LSH over
    Hamming space) verified by exact bit_count distance — all JVM-side.
    The fixture phash is (id·2654435761) mod 2⁶³ (fixtures.py:176), so
    banding + Hamming verify has a full DuckDB oracle."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import phash_near_dups

    imgs = fixtures.images_df(spark, 3000, with_bytes=False)
    # plant near-dups: bit-flipped copies of the first 200 images
    variants = (
        imgs.filter(F.col("image_id") < "img00000200")
        .withColumn("image_id", F.concat(F.col("image_id"), F.lit("v")))
        .withColumn("phash", F.col("phash").bitwiseXOR(F.lit(3)))
    )
    return phash_near_dups(imgs.unionByName(variants)).select(
        "image_a", "image_b", F.col("hamming").cast("int").alias("hamming")
    )


_PHASH_SQL = """
WITH base AS (
  -- fixtures.images_pdf with_bytes=False: phash = id * 2654435761
  -- (the mod-2^63 in the fixture never binds for id < 3000).
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
         i * 2654435761 AS phash
  FROM range(0, 3000) t(i)
),
variants AS (
  SELECT image_id || 'v' AS image_id, xor(phash, 3) AS phash
  FROM base WHERE image_id < 'img00000200'
),
allimg AS (SELECT * FROM base UNION ALL SELECT * FROM variants),
bands AS (
  SELECT image_id, phash, band, (phash >> (band * 16)) & 65535 AS band_val
  FROM allimg CROSS JOIN UNNEST(generate_series(0, 3)) AS t(band)
),
pairs0 AS (
  SELECT DISTINCT a.image_id AS image_a, b.image_id AS image_b,
         a.phash AS pa, b.phash AS pb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val
   AND a.image_id < b.image_id
)
SELECT image_a, image_b, CAST(bit_count(xor(pa, pb)) AS INT) AS hamming
FROM pairs0 WHERE bit_count(xor(pa, pb)) <= 4
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio lane: per-clip WAV header/feature decode, value-oracled by
    PLANTED STRUCTURE. Every clip is a deterministic 0.5s/8kHz sine
    (n_samples=4000 by construction); clips with i % 7 == 3 are tagged
    as an unsupported codec ('opus' — no codec lib in this container)
    and must land in the quarantine lane with zeroed header fields. The
    structural decode outputs (sample count, rate, duration check,
    quarantine flag) are exact integers the DuckDB oracle predicts from
    the same id arithmetic; codec-defined floats (rms/peak) stay under
    pytest invariants (tests/test_media.py), not in the contract hash."""
    import pandas as pd

    from ksj2gp_spark.operators import media

    audio_rows = []
    for i in range(50):
        rate = 8000
        t = np.arange(rate // 2) / rate
        amp = 0.1 + (i % 9) / 10.0
        s = amp * np.sin(2 * np.pi * (110 + 13 * i) * t)
        fmt = "opus" if i % 7 == 3 else "wav"
        audio_rows.append((f"au{i:03d}", media.encode_wav(s, rate), fmt, 500))
    adf = spark.createDataFrame(
        pd.DataFrame(
            audio_rows, columns=["media_id", "bytes", "fmt", "duration_ms"]
        )
    )
    return media.audio_features(adf).select(
        "media_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("duration_ok").cast("long").alias("dur_ok"),
        F.col("decode_error").isNotNull().cast("long").alias("quarantined"),
    )


_MEDIA_FEATURES_SQL = """
SELECT 'au' || lpad(CAST(i AS VARCHAR), 3, '0') AS media_id,
       CAST(CASE WHEN i % 7 = 3 THEN 0 ELSE 4000 END AS BIGINT) AS n_samples,
       CAST(CASE WHEN i % 7 = 3 THEN 0 ELSE 8000 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN i % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS dur_ok,
       CAST(CASE WHEN i % 7 = 3 THEN 1 ELSE 0 END AS BIGINT) AS quarantined
FROM range(0, 50) t(i)
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video lane: PNGV container decode + every-4th-frame sampling,
    value-oracled by PLANTED STRUCTURE. Each video v has 12 constant-
    valued 16×16 frames with pixel value (7v+f) % 251, so a sampled
    frame's mean luma is EXACTLY that integer — the DuckDB oracle
    predicts (media_id, frame_idx, h, w, mean_luma) for the sampled
    indices {0, 4, 8} with pure arithmetic. A container mis-parse,
    wrong frame stride, or PNG pixel corruption breaks hash equality."""
    import pandas as pd

    from ksj2gp_spark.operators import media

    vids = []
    for v in range(10):
        frames = [
            np.full((16, 16), (7 * v + f) % 251, dtype=np.uint8)
            for f in range(12)
        ]
        vids.append((f"vi{v:03d}", media.encode_pngv(frames), "pngv"))
    vdf = spark.createDataFrame(
        pd.DataFrame(vids, columns=["media_id", "bytes", "fmt"])
    )
    return media.sample_frames(vdf, every_k=4).select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("h").cast("long").alias("h"),
        F.col("w").cast("long").alias("w"),
        F.col("mean_luma").cast("long").alias("mean_luma"),
    )


_VIDEO_FRAMES_SQL = """
SELECT 'vi' || lpad(CAST(v AS VARCHAR), 3, '0') AS media_id,
       CAST(f AS BIGINT) AS frame_idx,
       CAST(16 AS BIGINT) AS h,
       CAST(16 AS BIGINT) AS w,
       CAST((7 * v + f) % 251 AS BIGINT) AS mean_luma
FROM range(0, 10) t(v) CROSS JOIN (VALUES (0), (4), (8)) s(f)
"""


def q_image_decode_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image lane: decode + metadata verification per format,
    value-oracled by PLANTED STRUCTURE. The fixture stores each image's
    post-roundtrip phash and true dims, so for every intact row the
    decoder must reproduce phash_match = w_ok = h_ok = true across 2000
    real PNG/baseline-JPEG encode→decode round-trips; rows with
    id % 101 == 7 get their bytes replaced by garbage and must land in
    the error lane. Per-fmt counts are therefore exact integers the
    DuckDB oracle computes from the same id arithmetic (fmt = jpeg when
    id % 3 == 0 else png, fixtures.py:147). Pixel-level fidelity
    (PSNR≥40dB) stays under pytest (tests/test_images.py)."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import decode_verify

    imgs = fixtures.images_df(spark, 2000, with_bytes=True)
    corrupt = F.substring("image_id", 4, 8).cast("long") % 101 == F.lit(7)
    imgs = imgs.withColumn(
        "bytes",
        F.when(corrupt, F.lit(b"not-an-image")).otherwise(F.col("bytes")),
    )
    out = decode_verify(imgs)
    return out.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("phash_match").cast("long")).alias("n_phash_match"),
        F.sum(F.col("w_ok").cast("long")).alias("n_w_ok"),
        F.sum(F.col("h_ok").cast("long")).alias("n_h_ok"),
        F.sum(F.when(F.col("decode_error").isNotNull(), 1).otherwise(0)).alias(
            "n_errors"
        ),
    )


_IMAGE_DECODE_SQL = """
WITH tagged AS (
  SELECT CASE WHEN i % 3 = 0 THEN 'jpeg' ELSE 'png' END AS fmt,
         (i % 101 = 7) AS corrupt
  FROM range(0, 2000) t(i)
)
SELECT fmt,
       count(*) AS n_images,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_phash_match,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_w_ok,
       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT) AS n_h_ok,
       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
FROM tagged GROUP BY fmt
"""


def q_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style 4×4 patch extraction over REAL decoded pixels,
    value-oracled by planted structure: the PNG rows (id % 3 != 0) are
    lossless, so every channel sum equals the fixture's pixel formula
    (imagecodec.make_test_image) — which the DuckDB oracle re-derives
    per pixel with the same integer arithmetic and aggregates per
    patch. 1,333 images → ~12k patch rows, all BIGINT-exact."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import extract_patches

    imgs = fixtures.images_df(spark, 2000, with_bytes=True).filter(
        F.col("fmt") == "png"
    )
    return extract_patches(imgs, patch=4)


_IMAGE_PATCHES_SQL = """
WITH dims AS (
  SELECT i, 8 + i % 9 AS h, 8 + (i * 3) % 9 AS w
  FROM range(0, 2000) t(i) WHERE i % 3 <> 0
),
px AS (
  SELECT i, h, w, y, x,
         ((x * 255) // (w - 1)
          + ((y * 255) // (h - 1)) * (i % 3 + 1)
          + i * 37) AS base
  FROM dims,
       UNNEST(generate_series(0, h - 1)) ty(y),
       UNNEST(generate_series(0, w - 1)) tx(x)
  WHERE y < 4 * (h // 4) AND x < 4 * (w // 4)
),
pat AS (
  SELECT i, y // 4 AS py, x // 4 AS pxi,
         SUM(base % 256) AS sum_r,
         SUM((base * 3 + i) % 256) AS sum_g,
         SUM((base * 7 + i * 11) % 256) AS sum_b
  FROM px GROUP BY i, py, pxi
)
SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
       CAST(py AS INT) AS py, CAST(pxi AS INT) AS px,
       CAST(sum_r AS BIGINT) AS sum_r,
       CAST(sum_g AS BIGINT) AS sum_g,
       CAST(sum_b AS BIGINT) AS sum_b
FROM pat
"""


def q_doc_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(lang, source) length quantiles
    (operators/stats.py::exact_group_quantiles) — integer rank
    arithmetic, one window sort per group, all |qs| quantiles from a
    single pass."""
    from ksj2gp_spark.operators.stats import exact_group_quantiles

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return exact_group_quantiles(
        d, ["lang", "source"], "n_chars", [0.25, 0.5, 0.9]
    )


_QUANTILES_SQL = """
WITH ranked AS (
  SELECT lang, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang, source ORDER BY n_chars
         ) AS rn,
         COUNT(*) OVER (PARTITION BY lang, source) AS n
  FROM documents
),
qs(q, num, den) AS (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10))
SELECT lang, source, CAST(q AS DOUBLE) AS q, n_chars AS value
FROM ranked, qs
WHERE rn = greatest(1, (n * num + den - 1) // den)
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash+LSH pairs → connected components
    (min-label + pointer jumping, operators/graph.py). The oracle
    reuses the full minhash SQL pipeline and computes components with
    a recursive CTE (min reachable node id)."""
    from ksj2gp_spark.operators.dedup import minhash_lsh_pairs
    from ksj2gp_spark.operators.graph import dedup_components

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    pairs = minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.2)
    return dedup_components(pairs)


def _dedup_components_sql() -> str:
    return f"""WITH RECURSIVE {_minhash_pairs_ctes("documents")},
pairs AS ({_minhash_pairs_select(0.2)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node)
SELECT node AS doc_id, component,
       COUNT(*) OVER (PARTITION BY component) AS csize
FROM comp
"""


def q_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-based keep-one-per-cluster curation decision
    (operators/curate.py::dedup_keep_best): minhash pairs → connected
    components → keep the longest member per cluster (ties: min
    doc_id); singletons keep themselves."""
    from ksj2gp_spark.operators.curate import dedup_keep_best

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    kept = dedup_keep_best(
        d, num_hashes=64, bands=16, minhash_threshold=0.2
    )
    return kept.select("doc_id", "component", "csize")


def _dedup_keep_sql() -> str:
    return f"""WITH RECURSIVE {_minhash_pairs_ctes("documents")},
pairs AS ({_minhash_pairs_select(0.2)}),
edges AS (
  SELECT id_a AS s, id_b AS d FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
walk(node, label) AS (
  SELECT s, s FROM edges
  UNION
  SELECT e.d, w.label FROM walk w JOIN edges e ON e.s = w.node
),
comp AS (SELECT node, MIN(label) AS component FROM walk GROUP BY node),
sized AS (
  SELECT node, component,
         COUNT(*) OVER (PARTITION BY component) AS csize
  FROM comp
),
joined AS (
  SELECT d.doc_id, d.text,
         COALESCE(s.component, d.doc_id) AS component,
         CAST(COALESCE(s.csize, 1) AS BIGINT) AS csize
  FROM documents d LEFT JOIN sized s ON s.node = d.doc_id
),
ranked AS (
  SELECT doc_id, component, csize,
         ROW_NUMBER() OVER (
           PARTITION BY component
           ORDER BY length(text) DESC, doc_id ASC
         ) AS rk
  FROM joined
)
SELECT doc_id, component, csize FROM ranked WHERE rk = 1
"""


_BM25_TERMS = ("hash", "join", "scan", "shuffle")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query bag
    (operators/text.py::bm25_scores, inverted-index shape)."""
    from ksj2gp_spark.operators.text import bm25_scores

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return bm25_scores(
        d, list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    k1, b = _BM25_K1, _BM25_B
    return f"""
WITH dl AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
c AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({terms}) GROUP BY doc_id, term
),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       SUM( ln(1.0 + (c.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
            * tf.tf * ({k1} + 1.0)
            / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / c.avgdl)) ) AS bm25
FROM tf
JOIN dfq USING (term)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN c
GROUP BY tf.doc_id
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a cartesian: events.value against 60
    overlapping [i*8, i*8+20) intervals via the bin-bucketed
    range_join (operators/joins.py), then per-interval count + exact
    cent-sum. The oracle is the naive inequality join."""
    from ksj2gp_spark.operators.joins import range_join

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    iv = spark.range(60).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * F.lit(8.0)).alias("lo"),
        (F.col("id") * F.lit(8.0) + F.lit(20.0)).alias("hi"),
    )
    j = range_join(
        ev, iv, "value", "lo", "hi", bin_size=16.0,
        broadcast_intervals=True,
    )
    return j.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias(
            "sum_cents"
        ),
    )


_RANGE_JOIN_SQL = """
WITH iv AS (
  SELECT i AS interval_id, i * 8.0 AS lo, i * 8.0 + 20.0 AS hi
  FROM range(0, 60) t(i)
)
SELECT iv.interval_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM iv JOIN events e ON e.value >= iv.lo AND e.value < iv.hi
GROUP BY iv.interval_id
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# graph analytics over the co-purchase graph
# (triangle counting, PageRank, BFS, SSSP)
# ---------------------------------------------------------------------------

_COPURCHASE_SQL = """
li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
edges AS (
  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p
)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected simple co-purchase graph: parts sharing an order.
    Distinct canonical (min, max) pairs — the oracle builds the exact
    same edge set relationally."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    return (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.o") == F.col("y.o")) & (F.col("x.p") < F.col("y.p")),
        )
        .select(F.col("x.p").alias("src"), F.col("y.p").alias("dst"))
        .distinct()
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph
    (operators/graph.py::triangle_count — degree-ordered node
    iterator, all shuffle equi-joins). The clique structure of a
    co-occurrence graph — the same statistic a dedup pipeline reads
    off its LSH pair graph to find densely-duplicated regions."""
    from ksj2gp_spark.operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf_dir))


_TRIANGLE_SQL = f"""
WITH {_COPURCHASE_SQL.strip()},
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM edges e1
  JOIN edges e2 ON e2.a = e1.b
  JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, count(*) AS triangles
FROM (
  SELECT x AS node FROM t
  UNION ALL SELECT y FROM t
  UNION ALL SELECT z FROM t
)
GROUP BY node
"""

_PAGERANK_ITERS = 6
_PAGERANK_DAMPING = 0.85


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the symmetrized co-purchase
    graph (operators/graph.py::pagerank). The oracle replays every
    iteration as a chained CTE; ranks are rounded to 6 decimals (the
    bm25 FP-canon policy — only summation order differs between
    engines)."""
    from ksj2gp_spark.operators.graph import pagerank

    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank(
        sym, iterations=_PAGERANK_ITERS, damping=_PAGERANK_DAMPING
    )


def _pagerank_sql(iters: int = _PAGERANK_ITERS, d: float = _PAGERANK_DAMPING) -> str:
    """Chained-CTE replay of the exact update: every literal is the
    repr of the double the Spark side uses, so the only cross-engine
    difference is per-group summation order (absorbed by round 6)."""
    pre = f"""
WITH {_COPURCHASE_SQL.strip()},
e AS (SELECT a AS u, b AS v FROM edges UNION ALL SELECT b, a FROM edges),
nodes AS (SELECT DISTINCT u AS node FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT u AS node, count(*) AS od FROM e GROUP BY u),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
pr{k} AS (
  SELECT nd.node,
         (1.0 - {d!r}) / (SELECT n FROM nn)
         + {d!r} * coalesce(s.v, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.v AS node, sum(p.rank / o.od) AS v
    FROM pr{k - 1} p
    JOIN e ON e.u = p.node
    JOIN outdeg o ON o.node = p.node
    GROUP BY e.v
  ) s ON s.node = nd.node
)""")
    return (
        pre
        + "".join(steps)
        + f"\nSELECT node, round(rank, 6) AS rank FROM pr{iters}"
    )


_CHAIN_EDGES_SQL = """
li AS (SELECT l_orderkey AS o, l_partkey AS p, l_linenumber AS ln
       FROM lineitem),
e0 AS (
  SELECT DISTINCT least(a.p, b.p) AS a, greatest(a.p, b.p) AS b
  FROM li a JOIN li b ON a.o = b.o AND a.ln + 1 = b.ln AND a.p <> b.p
)
"""


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (operators/graph.py::
    bfs_distances) over the sparser consecutive-line co-purchase
    graph, source = min part id. Exact integer hops — the oracle is a
    bounded recursive CTE."""
    from ksj2gp_spark.operators.graph import bfs_distances

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        F.col("l_linenumber").alias("ln"),
    )
    edges = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.o") == F.col("y.o"))
            & (F.col("x.ln") + F.lit(1) == F.col("y.ln"))
            & (F.col("x.p") != F.col("y.p")),
        )
        .select(
            F.least("x.p", "y.p").alias("src"),
            F.greatest("x.p", "y.p").alias("dst"),
        )
        .distinct()
    )
    return bfs_distances(edges)


_BFS_SQL = f"""
WITH {_CHAIN_EDGES_SQL.strip()},
e AS (SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0),
src AS (SELECT min(u) AS s FROM e),
walk AS (
  WITH RECURSIVE rr(node, hop) AS (
    SELECT s, 0 FROM src
    UNION
    SELECT e.v, rr.hop + 1 FROM rr JOIN e ON e.u = rr.node
    WHERE rr.hop < 16
  )
  SELECT node, min(hop) AS hop FROM rr GROUP BY node
)
SELECT node, CAST(hop AS INTEGER) AS hop FROM walk
"""


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (operators/graph.py::
    sssp_distances, frontier Bellman-Ford) over the consecutive-line
    co-purchase graph with deterministic integer weights
    w = 1 + (a + b) % 7, source = min part id. Integer distances are
    exact — the oracle is a distance-capped recursive CTE (cap 112 =
    7 x the BFS diameter bound the bfs_hops oracle already proves, so
    no optimal path can exceed it)."""
    from ksj2gp_spark.operators.graph import sssp_distances

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        F.col("l_orderkey").alias("o"),
        F.col("l_partkey").alias("p"),
        F.col("l_linenumber").alias("ln"),
    )
    edges = (
        li.alias("x")
        .join(
            li.alias("y"),
            (F.col("x.o") == F.col("y.o"))
            & (F.col("x.ln") + F.lit(1) == F.col("y.ln"))
            & (F.col("x.p") != F.col("y.p")),
        )
        .select(
            F.least("x.p", "y.p").alias("src"),
            F.greatest("x.p", "y.p").alias("dst"),
        )
        .distinct()
        .withColumn(
            "weight",
            F.lit(1) + (F.col("src") + F.col("dst")) % F.lit(7),
        )
    )
    return sssp_distances(edges, max_iter=120)


_SSSP_SQL = f"""
WITH {_CHAIN_EDGES_SQL.strip()},
ew AS (SELECT a, b, 1 + (a + b) % 7 AS w FROM e0),
e AS (SELECT a AS u, b AS v, w FROM ew UNION ALL SELECT b, a, w FROM ew),
src AS (SELECT min(u) AS s FROM e),
walk AS (
  WITH RECURSIVE rr(node, d) AS (
    SELECT s, 0 FROM src
    UNION
    SELECT e.v, rr.d + e.w FROM rr JOIN e ON e.u = rr.node
    WHERE rr.d + e.w <= 112
  )
  SELECT node, min(d) AS d FROM rr GROUP BY node
)
SELECT node, CAST(d AS BIGINT) AS dist FROM walk
"""


def q_geojson_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GeoJSON writer→reader loop (sinks/geoparquet.py::
    to_geojson_features → formats/geojson.py::features_frame): the
    fixture layer serializes to Feature lines, parses back
    distributed, and re-derives each polygon's bbox from the decoded
    WKB. Properties project JVM-side (get_json_object). The oracle is
    the independent rectangle-bounds table — a lossy serialize, a
    parse bug, or a dropped hole would shift a bound and
    hash-mismatch."""
    import pandas as pd

    from ksj2gp_spark.formats import geojson as gj_mod
    from ksj2gp_spark.geo import wkb as _wkb_mod

    from ksj2gp_spark.sinks.geoparquet import to_geojson_features

    layer = spark.createDataFrame(fixtures.polygon_layer())
    feats = to_geojson_features(layer)
    parsed = gj_mod.features_frame(feats, text_col="feature")

    def bounds(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                g = _wkb_mod.loads(bytes(r["geometry"]))
                x0, y0, x1, y1 = g.bounds()
                rows.append((r["properties"], x0, y0, x1, y1))
            yield pd.DataFrame(
                rows, columns=["properties", "x0", "y0", "x1", "y1"]
            )

    bb = parsed.filter(F.col("error").isNull()).mapInPandas(
        bounds,
        schema=(
            "properties string, x0 double, y0 double, "
            "x1 double, y1 double"
        ),
    )
    return bb.select(
        F.get_json_object("properties", "$.polygon_id").alias(
            "polygon_id"
        ),
        F.get_json_object("properties", "$['行政区域コード']").alias(
            "admin_code"
        ),
        F.round("x0", 9).alias("xmin"),
        F.round("y0", 9).alias("ymin"),
        F.round("x1", 9).alias("xmax"),
        F.round("y1", 9).alias("ymax"),
    )


def _geojson_sql() -> str:
    return f"""
WITH {_polys_values_sql()}
SELECT polygon_id, admin_code,
       round(xmin, 9) AS xmin, round(ymin, 9) AS ymin,
       round(xmax, 9) AS xmax, round(ymax, 9) AS ymax
FROM polys
"""


def q_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKT serialize→parse loop (geo/wkt.py) over the fixture layer:
    WKB → WKT text → parse → bbox from the re-decoded geometry, in
    one distributed Arrow pass. repr-shortest number formatting makes
    the loop double-exact; the oracle is the independent
    rectangle-bounds table."""
    import pandas as pd

    from ksj2gp_spark.geo import wkb as _wkb_mod, wkt as _wkt_mod

    layer = spark.createDataFrame(
        fixtures.polygon_layer()[
            ["polygon_id", "行政区域コード", "geometry"]
        ]
    )

    def loop(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                g = _wkb_mod.loads(bytes(r["geometry"]))
                g2 = _wkt_mod.loads(_wkt_mod.dumps(g))
                x0, y0, x1, y1 = g2.bounds()
                rows.append(
                    (r["polygon_id"], r["行政区域コード"], x0, y0, x1, y1)
                )
            yield pd.DataFrame(
                rows,
                columns=["polygon_id", "admin_code", "x0", "y0", "x1", "y1"],
            )

    return layer.mapInPandas(
        loop,
        schema=(
            "polygon_id string, admin_code string, x0 double, "
            "y0 double, x1 double, y1 double"
        ),
    ).select(
        "polygon_id",
        "admin_code",
        F.round("x0", 9).alias("xmin"),
        F.round("y0", 9).alias("ymin"),
        F.round("x1", 9).alias("xmax"),
        F.round("y1", 9).alias("ymax"),
    )


_TEXTRANK_ITERS = 6
_TEXTRANK_DAMPING = 0.85
_TEXTRANK_MIN_CO = 60
_TEXTRANK_TOP_N = 40


def q_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (operators/text.py::
    textrank_keywords, Mihalcea & Tarau 2004) over documents: top-40
    tokens by PageRank centrality on the adjacent-token co-occurrence
    graph (canonical pairs, count >= 60 — the threshold that leaves a
    degree-6..23 structure instead of a rank-uniform complete graph).
    The oracle replays the graph
    build AND every PageRank iteration as chained CTEs; the top-n cut
    orders by (round-6 rank desc, token) so the boundary is
    engine-portable."""
    from ksj2gp_spark.operators.text import textrank_keywords

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    return textrank_keywords(
        d,
        min_cooccur=_TEXTRANK_MIN_CO,
        iterations=_TEXTRANK_ITERS,
        damping=_TEXTRANK_DAMPING,
        top_n=_TEXTRANK_TOP_N,
    )


def _textrank_sql(
    iters: int = _TEXTRANK_ITERS,
    d: float = _TEXTRANK_DAMPING,
    min_co: int = _TEXTRANK_MIN_CO,
    top_n: int = _TEXTRANK_TOP_N,
) -> str:
    pre = f"""
WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
rawp AS (
  SELECT least(ws[i], ws[i + 1]) AS a, greatest(ws[i], ws[i + 1]) AS b
  FROM w, UNNEST(generate_series(1, len(ws) - 1)) t(i)
  WHERE len(ws) >= 2 AND ws[i] <> ws[i + 1]
),
ed AS (SELECT a, b FROM rawp GROUP BY a, b HAVING count(*) >= {min_co}),
e AS (SELECT a AS u, b AS v FROM ed UNION ALL SELECT b, a FROM ed),
nodes AS (SELECT DISTINCT u AS node FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT u AS node, count(*) AS od FROM e GROUP BY u),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    steps = []
    for k in range(1, iters + 1):
        steps.append(f""",
pr{k} AS (
  SELECT nd.node,
         (1.0 - {d!r}) / (SELECT n FROM nn)
         + {d!r} * coalesce(s.v, 0.0) AS rank
  FROM nodes nd LEFT JOIN (
    SELECT e.v AS node, sum(p.rank / o.od) AS v
    FROM pr{k - 1} p
    JOIN e ON e.u = p.node
    JOIN outdeg o ON o.node = p.node
    GROUP BY e.v
  ) s ON s.node = nd.node
)""")
    return (
        pre
        + "".join(steps)
        + f"""
SELECT node AS token, round(rank, 6) AS rank
FROM pr{iters}
ORDER BY round(rank, 6) DESC, node
LIMIT {top_n}"""
    )


def _g_px_sql(y: str, x: str) -> str:
    """Green-channel value at (y, x) as exact integer SQL — the twin of
    make_test_image (base formula) + channel g = (base*3 + i) % 256."""
    base = (
        f"(({x}) * 255 // (w - 1)"
        f" + (({y}) * 255 // (h - 1)) * (i % 3 + 1)"
        f" + i * 37)"
    )
    return f"(({base} * 3 + i) % 256)"


def q_image_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation blob statistics over REAL decoded pixels
    (operators/images.py::blob_stats, 4-connected components): the PNG
    rows of a 600-image fixture thresholded at green >= 128. The Spark
    side labels every blob in an Arrow batch simultaneously with a
    batch-tensor min-label flood; the oracle re-derives the mask from
    the pixel formula and closes components with a recursive min-label
    CTE over 4-neighbor pixel pairs — all-integer, so a single
    mislabeled pixel hash-mismatches."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import blob_stats

    imgs = fixtures.images_df(spark, 600, with_bytes=True).filter(
        F.col("fmt") == "png"
    )
    return blob_stats(imgs, channel=1, threshold=128)


_BLOBS_SQL = f"""
WITH RECURSIVE dims AS (
  SELECT i, 8 + i % 9 AS h, 8 + (i * 3) % 9 AS w
  FROM range(0, 600) t(i) WHERE i % 3 <> 0
),
px AS (
  SELECT i, h, w, y, x, {_g_px_sql("y", "x")} AS g
  FROM dims,
       UNNEST(generate_series(0, h - 1)) ty(y),
       UNNEST(generate_series(0, w - 1)) tx(x)
),
node AS (
  SELECT i, y * w + x AS p, y, x FROM px WHERE g >= 128
),
edge AS (
  SELECT a.i, a.p AS p1, b.p AS p2
  FROM node a JOIN node b ON a.i = b.i
   AND ((abs(a.y - b.y) = 1 AND a.x = b.x)
        OR (a.y = b.y AND abs(a.x - b.x) = 1))
),
lbl(i, p, l) AS (
  SELECT i, p, p FROM node
  UNION
  SELECT e.i, e.p2, lbl.l FROM lbl JOIN edge e
    ON e.i = lbl.i AND e.p1 = lbl.p
),
root AS (SELECT i, p, min(l) AS r FROM lbl GROUP BY i, p),
blobs AS (SELECT i, r, count(*) AS sz FROM root GROUP BY i, r),
stats AS (
  SELECT i, CAST(count(*) AS BIGINT) AS n_blobs,
         CAST(max(sz) AS BIGINT) AS largest_blob
  FROM blobs GROUP BY i
),
maskc AS (SELECT i, CAST(count(*) AS BIGINT) AS mask_pixels
          FROM node GROUP BY i)
SELECT 'img' || lpad(CAST(d.i AS VARCHAR), 8, '0') AS image_id,
       coalesce(mask_pixels, 0) AS mask_pixels,
       coalesce(n_blobs, 0) AS n_blobs,
       coalesce(largest_blob, 0) AS largest_blob
FROM dims d
LEFT JOIN maskc ON maskc.i = d.i
LEFT JOIN stats ON stats.i = d.i
"""


def q_slope_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terrain map algebra (operators/raster.py::slope_aspect, Horn
    1981) over the sparse tile raster: per-cell image counts as the
    value surface, third-order finite-difference gradient on the full
    3x3 windows only. The oracle replays the scatter-gather with the
    same packed-cell integer decode and the same gx/gy/atan algebra."""
    from ksj2gp_spark.operators.raster import slope_aspect

    cells = (
        _tiles(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return slope_aspect(cells, res=GRID_RES)


_SLOPE_SQL = f"""
WITH tiles AS ({{tiles}}),
cells AS (
  SELECT cell, CAST(count(*) AS DOUBLE) AS v FROM tiles GROUP BY cell
),
decoded AS (
  SELECT (cell - {GRID_RES} * {1 << 58}) // {1 << 29} AS i,
         cell % {1 << 29} AS j, v
  FROM cells
),
scattered AS (
  SELECT {GRID_RES} * {1 << 58} + (i + di.x) * {1 << 29} + (j + dj.x) AS cell,
         -di.x AS di, -dj.x AS dj, v
  FROM decoded
  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS x) di
  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS x) dj
),
win AS (
  SELECT cell, count(*) AS n,
         sum(CASE WHEN di = -1 AND dj = -1 THEN v END) AS z_0_0,
         sum(CASE WHEN di = -1 AND dj =  0 THEN v END) AS z_0_1,
         sum(CASE WHEN di = -1 AND dj =  1 THEN v END) AS z_0_2,
         sum(CASE WHEN di =  0 AND dj = -1 THEN v END) AS z_1_0,
         sum(CASE WHEN di =  0 AND dj =  1 THEN v END) AS z_1_2,
         sum(CASE WHEN di =  1 AND dj = -1 THEN v END) AS z_2_0,
         sum(CASE WHEN di =  1 AND dj =  0 THEN v END) AS z_2_1,
         sum(CASE WHEN di =  1 AND dj =  1 THEN v END) AS z_2_2
  FROM scattered GROUP BY cell
),
grad AS (
  SELECT cell,
         ((z_2_0 + 2 * z_2_1 + z_2_2) - (z_0_0 + 2 * z_0_1 + z_0_2))
           / (8 * {360.0 / (1 << GRID_RES)!r}) AS gx,
         ((z_0_2 + 2 * z_1_2 + z_2_2) - (z_0_0 + 2 * z_1_0 + z_2_0))
           / (8 * {360.0 / (1 << GRID_RES)!r}) AS gy
  FROM win WHERE n = 9
)
SELECT cell, round(gx, 6) AS dzdx, round(gy, 6) AS dzdy,
       round(atan(sqrt(gx * gx + gy * gy)) * {180.0 / 3.141592653589793!r},
             6) AS slope_deg,
       round(atan2(gy, gx) * {180.0 / 3.141592653589793!r}, 6) AS aspect_deg
FROM grad
"""


def q_morph_close_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morphological closing of each admin polygon's tile cover
    (operators/raster.py::dilate_cells + erode_cells): dilate by one
    Chebyshev ring then erode by one — pinholes and 1-cell channels
    fill, the classic cleanup before vectorize_cells. Output: per-admin
    closed-cover cell counts. The oracle replays dilation as a
    distinct-offset scatter and erosion as the full-neighborhood count
    rule in SQL set algebra."""
    from ksj2gp_spark.operators.raster import dilate_cells, erode_cells

    cover = _tiles(spark, sf_dir).select("admin_code", "cell").distinct()
    closed = erode_cells(
        dilate_cells(cover, rings=1, group_cols=("admin_code",)),
        rings=1,
        group_cols=("admin_code",),
    )
    return closed.groupBy("admin_code").agg(
        F.count(F.lit(1)).alias("n_cells")
    )


_MORPH_SQL = f"""
WITH tiles AS ({{tiles}}),
cover AS (
  SELECT DISTINCT admin_code,
         (cell - {GRID_RES} * {1 << 58}) // {1 << 29} AS i,
         cell % {1 << 29} AS j
  FROM tiles
),
dilated AS (
  SELECT DISTINCT admin_code, i + di.x AS i, j + dj.x AS j
  FROM cover
  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS x) di
  CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS x) dj
  WHERE i + di.x >= 0 AND i + di.x < {1 << GRID_RES}
    AND j + dj.x >= 0 AND j + dj.x < {1 << (GRID_RES - 1)}
),
closed AS (
  SELECT admin_code, i, j FROM dilated d
  WHERE 9 = (
    SELECT count(*) FROM dilated n
    WHERE n.admin_code = d.admin_code
      AND abs(n.i - d.i) <= 1 AND abs(n.j - d.j) <= 1
  )
)
SELECT admin_code, count(*) AS n_cells FROM closed GROUP BY admin_code
"""


def q_geohash_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash tiling (operators/cells.py::geohash_col, Niemeyer 2008):
    precision-6 geohash of every image anchor, counted per cell — the
    third cell scheme next to hex/s2/grid. Both sides are generated
    from the SAME bit-layout table (geohash_col unrolls it as Catalyst
    expressions, geohash_sql as ANSI SQL), so the hash match pins the
    35-bit interleave + base-32 mapping bit for bit across engines."""
    from ksj2gp_spark.operators.cells import geohash_col

    imgs = _images_from_customer(spark, sf_dir)
    return (
        imgs.select(
            geohash_col(F.col("lon"), F.col("lat"), 6).alias("geohash")
        )
        .groupBy("geohash")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def _geohash_tiles_sql() -> str:
    from ksj2gp_spark.operators.cells import geohash_sql

    return f"""
WITH {_IMAGES_CTE.strip().rstrip()},
gh AS (
  SELECT {geohash_sql("lon", "lat", 6)} AS geohash FROM images
)
SELECT geohash, count(*) AS n_images FROM gh GROUP BY geohash
"""


def q_image_sharpness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image sharpness/contrast statistics over REAL decoded pixels
    (operators/images.py::sharpness_scores — variance-of-Laplacian
    focus measure, Pech-Pacheco et al. 2000): the PNG rows (lossless)
    of the 2,000-image fixture. Every output is an exact int64 sum of
    integer pixel values, so the DuckDB oracle re-derives ALL of them
    BIGINT-exact from the pixel formula (green channel =
    (base*3 + seed) % 256, imagecodec.make_test_image) — per-pixel
    decode fidelity AND the Laplacian arithmetic pinned in one hash."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import sharpness_scores

    imgs = fixtures.images_df(spark, 2000, with_bytes=True).filter(
        F.col("fmt") == "png"
    )
    return sharpness_scores(imgs).select(
        "image_id", "n_pix", "sum_p", "sum_p2", "lap_sq_sum", "n_interior"
    )


_SHARPNESS_SQL = f"""
WITH dims AS (
  SELECT i, 8 + i % 9 AS h, 8 + (i * 3) % 9 AS w
  FROM range(0, 2000) t(i) WHERE i % 3 <> 0
),
px AS (
  SELECT i, h, w, y, x,
         {_g_px_sql("y", "x")} AS g,
         CASE WHEN y >= 1 AND y <= h - 2 AND x >= 1 AND x <= w - 2
              THEN 4 * {_g_px_sql("y", "x")}
                   - {_g_px_sql("y - 1", "x")}
                   - {_g_px_sql("y + 1", "x")}
                   - {_g_px_sql("y", "x - 1")}
                   - {_g_px_sql("y", "x + 1")}
         END AS lap
  FROM dims,
       UNNEST(generate_series(0, h - 1)) ty(y),
       UNNEST(generate_series(0, w - 1)) tx(x)
)
SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
       CAST(count(*) AS BIGINT) AS n_pix,
       CAST(sum(g) AS BIGINT) AS sum_p,
       CAST(sum(g * g) AS BIGINT) AS sum_p2,
       CAST(coalesce(sum(lap * lap), 0) AS BIGINT) AS lap_sq_sum,
       CAST(sum(CASE WHEN lap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_interior
FROM px GROUP BY i
"""



def q_isochrone_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isochrone / service-area bands over a road network — the
    routing-lane composition capstone: a 20x15 road-grid graph
    (4-adjacent intersections, deterministic integer travel times
    w = 1 + (i1+j1+i2+j2) % 5) runs frontier Bellman-Ford
    (operators/graph.py::sssp_distances) from the depot node (0,0),
    and reachable intersections aggregate into travel-time bands
    dist // 8 — the polygons a delivery-radius map draws. Integer
    weights make every optimal distance exact; the oracle replays the
    shortest paths with a distance-capped recursive CTE (cap 170 >
    the 33-hop x max-weight-5 bound, so no optimal path is cut)."""
    from ksj2gp_spark.operators.graph import sssp_distances

    W, H = 20, 15
    ids = spark.range(W * H)
    i = (F.col("id") / F.lit(H)).cast("long")
    j = F.col("id") % F.lit(H)
    nodes = ids.select(i.alias("i"), j.alias("j"))
    right = nodes.filter(F.col("i") < W - 1).select(
        (F.col("i") * 100 + F.col("j")).alias("src"),
        ((F.col("i") + 1) * 100 + F.col("j")).alias("dst"),
        (
            F.lit(1)
            + (F.col("i") + F.col("j") + F.col("i") + 1 + F.col("j"))
            % F.lit(5)
        ).alias("weight"),
    )
    up = nodes.filter(F.col("j") < H - 1).select(
        (F.col("i") * 100 + F.col("j")).alias("src"),
        (F.col("i") * 100 + F.col("j") + 1).alias("dst"),
        (
            F.lit(1)
            + (F.col("i") + F.col("j") + F.col("i") + F.col("j") + 1)
            % F.lit(5)
        ).alias("weight"),
    )
    dists = sssp_distances(right.unionByName(up), source=0, max_iter=80)
    return (
        dists.select((F.col("dist") / F.lit(8)).cast("long").alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


_ISOCHRONE_SQL = """
WITH nodes AS (
  SELECT i, j FROM range(0, 20) a(i), range(0, 15) b(j)
),
e0 AS (
  SELECT i * 100 + j AS u, (i + 1) * 100 + j AS v,
         1 + (i + j + i + 1 + j) % 5 AS w
  FROM nodes WHERE i < 19
  UNION ALL
  SELECT i * 100 + j, i * 100 + j + 1,
         1 + (i + j + i + j + 1) % 5
  FROM nodes WHERE j < 14
),
e AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
walk AS (
  WITH RECURSIVE rr(node, d) AS (
    SELECT 0, 0
    UNION
    SELECT e.v, rr.d + e.w FROM rr JOIN e ON e.u = rr.node
    WHERE rr.d + e.w <= 170
  )
  SELECT node, min(d) AS d FROM rr GROUP BY node
)
SELECT d // 8 AS band, count(*) AS n_nodes FROM walk GROUP BY band
"""



def q_zonal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact zonal quantiles (operators/raster.py::zonal_quantiles —
    the distributional complement to zonal_stats_admin): the same
    synthetic res-12 BIGINT value raster, per-polygon exact p25/p50/p90
    through stats.exact_group_quantiles' BIGINT rank arithmetic. The
    oracle replays the center-in-rectangle assignment and the IDENTICAL
    integer rank rule — no float quantile semantics anywhere."""
    from ksj2gp_spark.operators.raster import zonal_quantiles

    res = 12
    size = 360.0 / (1 << res)
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    raster = (
        spark.range(i0, i1 + 1)
        .select(F.col("id").alias("i"))
        .crossJoin(spark.range(j0, j1 + 1).select(F.col("id").alias("j")))
        .select(
            (
                F.lit(res) * F.lit(1 << 58)
                + F.col("i") * F.lit(1 << 29)
                + F.col("j")
            ).alias("cell"),
            ((F.col("i") * 7 + F.col("j") * 13) % 1000).alias("value"),
        )
    )
    return zonal_quantiles(
        raster, fixtures.polygon_layer(), qs=[0.25, 0.5, 0.9]
    )


def _zonal_median_sql() -> str:
    res = 12
    size = 360.0 / (1 << res)
    i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
    i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
    j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
    j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
    return f"""
WITH {_polys_values_sql()},
cells AS (
  SELECT (i.i + 0.5) * {size!r} - 180.0 AS cx,
         (j.j + 0.5) * {size!r} - 90.0 AS cy,
         (i.i * 7 + j.j * 13) % 1000 AS val
  FROM generate_series({i0}, {i1}) AS i(i)
  CROSS JOIN generate_series({j0}, {j1}) AS j(j)
),
assigned AS (
  SELECT p.polygon_id, p.admin_code, c.val
  FROM cells c JOIN polys p
    ON c.cx >= p.xmin AND c.cx <= p.xmax
   AND c.cy >= p.ymin AND c.cy <= p.ymax
),
ranked AS (
  SELECT polygon_id, admin_code, val,
         ROW_NUMBER() OVER (
           PARTITION BY polygon_id, admin_code ORDER BY val
         ) AS rn,
         COUNT(*) OVER (PARTITION BY polygon_id, admin_code) AS n
  FROM assigned
),
qs(q, num, den) AS (VALUES (0.25, 1, 4), (0.5, 1, 2), (0.9, 9, 10))
SELECT polygon_id, admin_code, CAST(q AS DOUBLE) AS q, val AS value
FROM ranked, qs
WHERE rn = greatest(1, (n * num + den - 1) // den)
"""



def q_admin_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE graft-cell capstone — the spatial join composed with real
    pixel decoding: every image anchored in an admin polygon
    contributes its decoded-pixel sharpness/contrast sufficient
    statistics (operators/images.py::sharpness_scores) to a per-admin
    quality rollup — "which wards' imagery is blurry" as one lazy
    plan. Every output is an exact BIGINT sum, so the oracle replays
    BOTH sides — the rectangle tile assignment AND the per-pixel
    green-channel Laplacian — in pure integer SQL and must match hash
    for hash. PNG (lossless) rows only, the decode-exact lane."""
    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators.images import sharpness_scores

    tiles = _tiles(spark, sf_dir)
    imgs = fixtures.images_df(spark, 2000, with_bytes=True).filter(
        F.col("fmt") == "png"
    )
    sh = sharpness_scores(imgs)
    return (
        tiles.join(sh, "image_id")
        .groupBy("admin_code")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum("lap_sq_sum").alias("sum_lap_sq"),
            F.sum("n_interior").alias("sum_interior"),
            F.sum("sum_p").alias("sum_pixels"),
        )
    )


_ADMIN_QUALITY_SQL = f"""
WITH tiles AS ({{tiles}}),
dims AS (
  SELECT i, 8 + i % 9 AS h, 8 + (i * 3) % 9 AS w
  FROM range(0, 2000) t(i) WHERE i % 3 <> 0
),
px AS (
  SELECT i, h, w, y, x,
         {_g_px_sql("y", "x")} AS g,
         CASE WHEN y >= 1 AND y <= h - 2 AND x >= 1 AND x <= w - 2
              THEN 4 * {_g_px_sql("y", "x")}
                   - {_g_px_sql("y - 1", "x")}
                   - {_g_px_sql("y + 1", "x")}
                   - {_g_px_sql("y", "x - 1")}
                   - {_g_px_sql("y", "x + 1")}
         END AS lap
  FROM dims,
       UNNEST(generate_series(0, h - 1)) ty(y),
       UNNEST(generate_series(0, w - 1)) tx(x)
),
sharp AS (
  SELECT 'img' || lpad(CAST(i AS VARCHAR), 8, '0') AS image_id,
         CAST(coalesce(sum(lap * lap), 0) AS BIGINT) AS lap_sq_sum,
         CAST(sum(CASE WHEN lap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_interior,
         CAST(sum(g) AS BIGINT) AS sum_p
  FROM px GROUP BY i
)
SELECT t.admin_code,
       count(*) AS n_images,
       CAST(sum(s.lap_sq_sum) AS BIGINT) AS sum_lap_sq,
       CAST(sum(s.n_interior) AS BIGINT) AS sum_interior,
       CAST(sum(s.sum_p) AS BIGINT) AS sum_pixels
FROM tiles t JOIN sharp s ON s.image_id = t.image_id
GROUP BY t.admin_code
"""



def q_contour_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marching-squares contour extraction (operators/raster.py::
    contour_segments) over the smoothed tile raster: isolines of the
    focal-mean image-density surface at three levels. ONE case table
    (raster.CONTOUR_CASES) generates BOTH the Catalyst CASE unroll and
    the oracle SQL — and because the interpolation is +,-,*,/ only,
    the oracle matches segment ENDPOINTS value-for-value, not just
    counts. Canonical endpoint ordering makes rows engine-portable."""
    from ksj2gp_spark.operators.raster import contour_segments

    cells = (
        _tiles(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    return contour_segments(
        cells, res=GRID_RES, levels=[25.0, 50.0, 100.0]
    )


def _contour_sql() -> str:
    from ksj2gp_spark.operators.raster import contour_pairs_sql_case

    size = 360.0 / (1 << GRID_RES)
    ep = {
        "S": (f"cx + (L - v00) / (v10 - v00) * {size!r}", "cy"),
        "E": (f"cx + {size!r}", f"cy + (L - v10) / (v11 - v10) * {size!r}"),
        "N": (f"cx + (L - v01) / (v11 - v01) * {size!r}", f"cy + {size!r}"),
        "W": ("cx", f"cy + (L - v00) / (v01 - v00) * {size!r}"),
    }

    def coord(which: int, axis: int) -> str:
        arms = " ".join(
            f"WHEN '{e}' THEN {ep[e][axis]}" for e in "SENW"
        )
        return f"CASE substr(pair, {which}, 1) {arms} END"

    return f"""
WITH tiles AS ({{tiles}}),
cells AS (
  SELECT cell, CAST(count(*) AS DOUBLE) AS v FROM tiles GROUP BY cell
),
decoded AS (
  SELECT (cell - {GRID_RES} * {1 << 58}) // {1 << 29} AS i,
         cell % {1 << 29} AS j, v
  FROM cells
),
blocks AS (
  SELECT a.i AS bi, a.j AS bj, a.v AS v00, b.v AS v10,
         c.v AS v01, d.v AS v11
  FROM decoded a
  JOIN decoded b ON b.i = a.i + 1 AND b.j = a.j
  JOIN decoded c ON c.i = a.i AND c.j = a.j + 1
  JOIN decoded d ON d.i = a.i + 1 AND d.j = a.j + 1
),
lv AS (
  SELECT bl.*, lvl.L,
         (CASE WHEN v00 >= L THEN 1 ELSE 0 END)
         + (CASE WHEN v10 >= L THEN 1 ELSE 0 END) * 2
         + (CASE WHEN v11 >= L THEN 1 ELSE 0 END) * 4
         + (CASE WHEN v01 >= L THEN 1 ELSE 0 END) * 8 AS cs
  FROM blocks bl CROSS JOIN (VALUES (25.0), (50.0), (100.0)) lvl(L)
),
segs AS (
  SELECT (bi + 0.5) * {size!r} - 180.0 AS cx,
         (bj + 0.5) * {size!r} - 90.0 AS cy,
         v00, v10, v01, v11, L,
         CASE slot.s
           WHEN 0 THEN {contour_pairs_sql_case("cs", 0)}
           ELSE {contour_pairs_sql_case("cs", 1)}
         END AS pair
  FROM lv CROSS JOIN (VALUES (0), (1)) slot(s)
),
pts AS (
  SELECT L, {coord(1, 0)} AS ax, {coord(1, 1)} AS ay,
         {coord(2, 0)} AS bx, {coord(2, 1)} AS by
  FROM segs WHERE pair IS NOT NULL
)
SELECT L AS level,
       round(CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN bx ELSE ax END, 6) AS x1,
       round(CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN by ELSE ay END, 6) AS y1,
       round(CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN ax ELSE bx END, 6) AS x2,
       round(CASE WHEN ax > bx OR (ax = bx AND ay > by) THEN ay ELSE by END, 6) AS y2
FROM pts
"""



def q_contour_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contour POLYLINE assembly — the composition on top of
    contour_tiles: segments sharing an endpoint (endpoints are round-6
    canonical, so matching is exact in any engine) connect into lines
    via graph.connected_components; each line reports its segment
    count and its lexicographically-minimal segment as the
    engine-portable line identity (component labels never leak into
    the output). The oracle rebuilds the segments, the endpoint-match
    edges, and the components (recursive min-label CTE) in one query."""
    from ksj2gp_spark.operators.graph import connected_components

    segs = q_contour_tiles(spark, sf_dir)
    sid = F.xxhash64("level", "x1", "y1", "x2", "y2")
    s = segs.select("*", sid.alias("_sid"))
    pts = s.select(
        "_sid",
        "level",
        F.explode(
            F.array(
                F.struct(F.col("x1").alias("x"), F.col("y1").alias("y")),
                F.struct(F.col("x2").alias("x"), F.col("y2").alias("y")),
            )
        ).alias("_p"),
    ).select("_sid", "level", F.col("_p.x").alias("_x"), F.col("_p.y").alias("_y"))
    edges = (
        pts.alias("a")
        .join(
            pts.alias("b"),
            (F.col("a.level") == F.col("b.level"))
            & (F.col("a._x") == F.col("b._x"))
            & (F.col("a._y") == F.col("b._y"))
            & (F.col("a._sid") < F.col("b._sid")),
        )
        .select(F.col("a._sid").alias("src"), F.col("b._sid").alias("dst"))
        .distinct()
    )
    comp = connected_components(edges)
    labeled = s.join(
        comp, s["_sid"] == comp["node"], "left"
    ).withColumn("_comp", F.coalesce(F.col("component"), F.col("_sid")))
    anchor = F.min(
        F.struct("x1", "y1", "x2", "y2")
    ).alias("_a")
    return (
        labeled.groupBy("level", "_comp")
        .agg(F.count(F.lit(1)).alias("n_segments"), anchor)
        .select(
            "level",
            F.col("_a.x1").alias("anchor_x1"),
            F.col("_a.y1").alias("anchor_y1"),
            F.col("_a.x2").alias("anchor_x2"),
            F.col("_a.y2").alias("anchor_y2"),
            "n_segments",
        )
    )


def _contour_lines_sql() -> str:
    inner = _contour_sql().format(tiles=_TILES_SQL.strip())
    return f"""
WITH RECURSIVE allsegs AS ({inner}),
sid AS (
  SELECT level, x1, y1, x2, y2,
         level || '|' || x1 || '|' || y1 || '|' || x2 || '|' || y2 AS k
  FROM allsegs
),
endp AS (
  SELECT k, level, x1 AS x, y1 AS y FROM sid
  UNION ALL
  SELECT k, level, x2, y2 FROM sid
),
e0 AS (
  SELECT a.k AS u, b.k AS v
  FROM endp a JOIN endp b
    ON a.level = b.level AND a.x = b.x AND a.y = b.y AND a.k < b.k
  GROUP BY a.k, b.k
),
e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
rr(k, l) AS (
  SELECT k, k FROM sid
  UNION
  SELECT e.v, rr.l FROM rr JOIN e ON e.u = rr.k WHERE rr.l < e.v
),
comp AS (SELECT k, min(l) AS c FROM rr GROUP BY k),
lines AS (
  SELECT s.level, comp.c, s.x1, s.y1, s.x2, s.y2
  FROM sid s JOIN comp ON comp.k = s.k
),
counts AS (
  SELECT level, c, count(*) AS n_segments FROM lines GROUP BY level, c
),
ranked AS (
  SELECT level, c, x1, y1, x2, y2,
         row_number() OVER (
           PARTITION BY level, c ORDER BY x1, y1, x2, y2
         ) AS rn
  FROM lines
)
SELECT r.level,
       r.x1 AS anchor_x1, r.y1 AS anchor_y1,
       r.x2 AS anchor_x2, r.y2 AS anchor_y2,
       n.n_segments
FROM ranked r JOIN counts n ON n.level = r.level AND n.c = r.c
WHERE r.rn = 1
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial-join + tile assignment on sf0.001 with the
    hex-cell engine path (images derived from customer)."""
    sf_dir = "/root/testdata/sf0.001"
    imgs = _images_from_customer(spark, sf_dir)
    return spatial.spatial_join_tiles(
        imgs, fixtures.polygon_layer(), scheme="hex", res=7
    ).select(
        "image_id",
        F.col("cell").alias("h3_cell"),
        "admin_code",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign": q_tile_assign,
        "tile_assign_dist": q_tile_assign_dist,
        "tile_counts": q_tile_counts,
        "knn_ocean": q_knn_ocean,
        "hex_tile_counts": q_hex_tiles_counts,
        "s2_tile_counts": q_s2_tiles_counts,
        "codelist_translate": q_codelist_translate,
        "codelist_families": q_codelist_families,
        "temporal_tiles": q_temporal_tiles,
        "temporal_asof": q_temporal_asof,
        "lineitem_pricing": q_lineitem_pricing,
        "top_orders": q_top_orders,
        "regional_revenue": q_regional_revenue,
        "events_tumbling": q_events_tumbling,
        "events_sliding": q_events_sliding,
        "events_attribution": q_events_attribution,
        "dedup_exact": q_dedup_exact,
        "doc_token_stats": q_doc_token_stats,
        "doc_repetition": q_doc_repetition,
        "decontaminate": q_decontaminate,
        "lm_quality": q_lm_quality,
        "dsir_score": q_dsir_score,
        "mixture_sample": q_mixture_sample,
        "ppl_buckets": q_ppl_buckets,
        "similarity_topk": q_similarity_topk,
        "hard_negatives": q_hard_negatives,
        "ngram_jaccard": q_ngram_jaccard,
        "doc_quality": q_doc_quality,
        "sessionize_batch": q_sessionize_batch,
        "corpus_curation": q_corpus_curation,
        "curate_images": q_curate_images,
        "seq_pack": q_seq_pack,
        "select_budget": q_select_budget,
        "duplicate_spans": q_duplicate_spans,
        "batch_pack": q_batch_pack,
        "image_training_batches": q_image_training_batches,
        "phash_incremental": q_phash_incremental,
        "embedding_incremental": q_embedding_incremental,
        "ivf_search": q_ivf_search,
        "corpus_split": q_corpus_split,
        "minhash_relational": q_minhash_relational,
        "minhash_incremental": q_minhash_incremental,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "lang_id": q_lang_id,
        "embedding_near_dups": q_embedding_near_dups,
        "image_decode_verify": q_image_decode_verify,
        "phash_near_dups": q_phash_near_dups,
        "media_features": q_media_features,
        "video_frames": q_video_frames,
        "rasterize_admin": q_rasterize_admin,
        "vectorize_admin": q_vectorize_admin,
        "compact_admin": q_compact_admin,
        "concave_tiles": q_concave_tiles,
        "admin_geometry_stats": q_admin_geometry_stats,
        "admin_adjacency": q_admin_adjacency,
        "admin_overlay": q_admin_overlay,
        "simplify_admin": q_simplify_admin,
        "tile_rollup": q_tile_rollup,
        "tile_pyramid": q_tile_pyramid,
        "tile_pyramid_weighted": q_tile_pyramid_weighted,
        "similarity_ivf": q_similarity_ivf,
        "dedup_components": q_dedup_components,
        "dedup_keep": q_dedup_keep,
        "bm25_rank": q_bm25_rank,
        "events_range_join": q_events_range_join,
        "image_blobs": q_image_blobs,
        "slope_tiles": q_slope_tiles,
        "morph_close_tiles": q_morph_close_tiles,
        "geohash_tiles": q_geohash_tiles,
        "image_sharpness": q_image_sharpness,
        "image_patches": q_image_patches,
        "doc_length_quantiles": q_doc_length_quantiles,
        "zonal_stats_admin": q_zonal_stats,
        "dwithin_admin": q_dwithin,
        "dwithin_shuffle": q_dwithin_shuffle,
        "vocab_topk": q_vocab_topk,
        "event_funnel": q_event_funnel,
        "dissolve_pref": q_dissolve_pref,
        "kmeans_clusters": q_kmeans_clusters,
        "semdedup": q_semdedup,
        "line_dedup": q_line_dedup,
        "classifier_score": q_classifier_score,
        "dihedral_dedup": q_dihedral_dedup,
        "bigram_pmi": q_bigram_pmi,
        "group_trend": q_group_trend,
        "scrub_pii": q_scrub_pii,
        "triangle_counts": q_triangle_counts,
        "pagerank_parts": q_pagerank,
        "bfs_hops": q_bfs_hops,
        "sssp_dists": q_sssp,
        "textrank_keywords": q_textrank,
        "isochrone_bands": q_isochrone_bands,
        "zonal_median": q_zonal_median,
        "admin_image_quality": q_admin_image_quality,
        "contour_tiles": q_contour_tiles,
        "contour_lines": q_contour_lines,
        "geojson_roundtrip": q_geojson_roundtrip,
        "wkt_roundtrip": q_wkt_roundtrip,
    }


def oracle_sql() -> dict[str, str]:
    tile_counts_sql = f"""
WITH {_IMAGES_CTE.strip()},
{_polys_values_sql()},
t AS (
  SELECT i.image_id, {_CELL_SQL} AS cell, p.admin_code
  FROM images i JOIN polys p
    ON i.lon >= p.xmin AND i.lon <= p.xmax
   AND i.lat >= p.ymin AND i.lat <= p.ymax
)
SELECT admin_code, count(*) AS n_tiles,
       count(DISTINCT image_id) AS n_images,
       count(DISTINCT cell) AS n_cells
FROM t GROUP BY admin_code
"""
    # hex/s2 cell ids are engine-native, but per-admin distinct-image
    # counts must equal the relational (bbox) assignment:
    hex_counts_sql = f"""
WITH {_IMAGES_CTE.strip()},
{_polys_values_sql()}
SELECT p.admin_code, count(DISTINCT i.image_id) AS n_images
FROM images i JOIN polys p
  ON i.lon >= p.xmin AND i.lon <= p.xmax
 AND i.lat >= p.ymin AND i.lat <= p.ymax
GROUP BY p.admin_code
"""
    return {
        "tile_assign": _TILES_SQL,
        "tile_assign_dist": _TILES_SQL,
        "tile_counts": tile_counts_sql,
        "knn_ocean": _KNN_SQL,
        "hex_tile_counts": hex_counts_sql,
        "s2_tile_counts": hex_counts_sql,
        "codelist_translate": _CODELIST_SQL,
        "codelist_families": _codelist_families_sql(),
        "temporal_tiles": _temporal_tiles_sql(),
        "temporal_asof": _temporal_asof_sql(),
        "lineitem_pricing": _PRICING_SQL,
        "top_orders": _TOP_ORDERS_SQL,
        "regional_revenue": _REGIONAL_REVENUE_SQL,
        "events_tumbling": _EVENTS_SQL,
        "events_sliding": _EVENTS_SLIDING_SQL,
        "events_attribution": _ATTRIBUTION_SQL,
        "dedup_exact": _DEDUP_SQL,
        "doc_token_stats": _TOKEN_SQL,
        "doc_repetition": _DOC_REPETITION_SQL,
        "decontaminate": _DECONTAMINATE_SQL,
        "lm_quality": _LM_QUALITY_SQL,
        "dsir_score": _DSIR_SQL,
        "mixture_sample": _mixture_sample_oracle(),
        "ppl_buckets": _PPL_BUCKETS_SQL,
        "similarity_topk": _SIMILARITY_SQL,
        "hard_negatives": _HARD_NEGATIVES_SQL,
        "ngram_jaccard": _NGRAM_SQL,
        "doc_quality": _QUALITY_SQL,
        "sessionize_batch": _SESSIONIZE_SQL,
        "corpus_curation": _curation_sql(),
        "curate_images": _curate_images_sql(),
        "seq_pack": _SEQ_PACK_SQL,
        "select_budget": _SELECT_BUDGET_SQL,
        "duplicate_spans": _DUP_SPANS_SQL,
        "batch_pack": _batch_pack_sql(),
        "image_training_batches": _image_training_batches_sql(),
        "phash_incremental": _phash_incremental_sql(),
        "embedding_incremental": _EMBEDDING_INCR_SQL,
        "ivf_search": _IVF_SEARCH_SQL,
        "corpus_split": _corpus_split_sql(),
        "minhash_relational": _MINHASH_REL_SQL,
        "minhash_pairs": _minhash_pairs_sql(),
        "minhash_incremental": _minhash_incremental_sql(),
        "simhash_pairs": _simhash_pairs_sql(),
        "phash_near_dups": _PHASH_SQL,
        "lang_id": _lang_id_sql(),
        "embedding_near_dups": _EMBEDDING_DUPS_SQL,
        "rasterize_admin": _rasterize_sql(),
        "vectorize_admin": _vectorize_sql(),
        "compact_admin": _compact_sql(),
        "concave_tiles": _concave_sql(),
        "admin_geometry_stats": _geometry_stats_sql(),
        "admin_adjacency": _adjacency_sql(),
        "admin_overlay": _overlay_sql(),
        "simplify_admin": _simplify_sql(),
        "tile_rollup": _ROLLUP_SQL,
        "tile_pyramid": _PYRAMID_SQL,
        "tile_pyramid_weighted": _PYRAMID_WEIGHTED_SQL,
        "similarity_ivf": _SIMILARITY_IVF_SQL,
        # Codec lanes are value-oracled by planted structure: the
        # structural decode outputs (dims, phash round-trip, header
        # fields, constant-frame luma, quarantine routing) are exact
        # integers predictable from the fixture's id arithmetic. Only
        # codec-defined floats (PSNR, rms) stay pytest-side.
        "image_decode_verify": _IMAGE_DECODE_SQL,
        "media_features": _MEDIA_FEATURES_SQL,
        "video_frames": _VIDEO_FRAMES_SQL,
        "dedup_components": _dedup_components_sql(),
        "dedup_keep": _dedup_keep_sql(),
        "bm25_rank": _bm25_sql(),
        "events_range_join": _RANGE_JOIN_SQL,
        "image_blobs": _BLOBS_SQL,
        "slope_tiles": _SLOPE_SQL.format(tiles=_TILES_SQL.strip()),
        "morph_close_tiles": _MORPH_SQL.format(tiles=_TILES_SQL.strip()),
        "geohash_tiles": _geohash_tiles_sql(),
        "image_sharpness": _SHARPNESS_SQL,
        "image_patches": _IMAGE_PATCHES_SQL,
        "doc_length_quantiles": _QUANTILES_SQL,
        "zonal_stats_admin": _zonal_sql(),
        "dwithin_admin": _dwithin_sql(),
        "dwithin_shuffle": _dwithin_sql(),
        "vocab_topk": _VOCAB_SQL,
        "event_funnel": _FUNNEL_SQL,
        "dissolve_pref": _dissolve_sql(),
        "kmeans_clusters": _kmeans_sql(),
        "semdedup": _semdedup_sql(),
        "line_dedup": _LINE_DEDUP_SQL,
        "classifier_score": _CLASSIFIER_SQL,
        "dihedral_dedup": _DIHEDRAL_SQL,
        "bigram_pmi": _BIGRAM_PMI_SQL,
        "group_trend": _GROUP_TREND_SQL,
        "scrub_pii": _scrub_sql(),
        "triangle_counts": _TRIANGLE_SQL,
        "pagerank_parts": _pagerank_sql(),
        "bfs_hops": _BFS_SQL,
        "sssp_dists": _SSSP_SQL,
        "textrank_keywords": _textrank_sql(),
        "isochrone_bands": _ISOCHRONE_SQL,
        "zonal_median": _zonal_median_sql(),
        "admin_image_quality": _ADMIN_QUALITY_SQL.format(tiles=_TILES_SQL.strip()),
        "contour_tiles": _contour_sql().format(tiles=_TILES_SQL.strip()),
        "contour_lines": _contour_lines_sql(),
        "geojson_roundtrip": _geojson_sql(),
        "wkt_roundtrip": _geojson_sql(),
    }
