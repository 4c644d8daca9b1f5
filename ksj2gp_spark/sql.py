"""SQL surface: register the engine's vectorized kernels as Spark SQL
functions so every cell scheme and transform is usable from
``spark.sql(...)`` as well as the DataFrame API.

All functions are Arrow-batched pandas UDFs over the same numpy
kernels the operators use — registration adds a name, not a new code
path, so SQL and DataFrame results are identical by construction.

    from ksj2gp_spark.sql import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT image_id, hex_cell(lon, lat, 7) AS cell FROM imgs")
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf


def _cell_udf(fn):
    @pandas_udf("long")
    def udf(lon: pd.Series, lat: pd.Series, res: pd.Series) -> pd.Series:
        r = int(res.iloc[0]) if len(res) else 0
        return pd.Series(
            fn(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                r,
            )
        )

    return udf


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register all engine SQL functions; returns their names."""
    from .geo import grid, hexgrid, s2, transform

    spark.udf.register("grid_cell", _cell_udf(grid.latlng_to_cell))
    spark.udf.register("hex_cell", _cell_udf(hexgrid.latlng_to_cell))
    spark.udf.register("s2_cell", _cell_udf(s2.latlng_to_cell))

    @pandas_udf("string")
    def geohash(lon: pd.Series, lat: pd.Series, p: pd.Series) -> pd.Series:
        from .operators.cells import geohash_np

        if p.nunique() > 1:
            raise ValueError(
                "geohash precision must be constant within a batch, got "
                f"{sorted(p.unique().tolist())}; use one precision per query"
            )
        pr = int(p.iloc[0]) if len(p) else 6
        return pd.Series(
            geohash_np(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                pr,
            )
        )

    spark.udf.register("geohash", geohash)

    @pandas_udf("double")
    def tokyo_to_wgs84_lon(lon: pd.Series, lat: pd.Series) -> pd.Series:
        lo, _, _ = transform.tokyo_to_wgs84(
            lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64)
        )
        return pd.Series(lo)

    @pandas_udf("double")
    def tokyo_to_wgs84_lat(lon: pd.Series, lat: pd.Series) -> pd.Series:
        _, la, _ = transform.tokyo_to_wgs84(
            lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64)
        )
        return pd.Series(la)

    spark.udf.register("tokyo_to_wgs84_lon", tokyo_to_wgs84_lon)
    spark.udf.register("tokyo_to_wgs84_lat", tokyo_to_wgs84_lat)

    @pandas_udf("string")
    def ksj_colname(col_id: pd.Series, ksj_id: pd.Series, year: pd.Series) -> pd.Series:
        from .ksj import colnames
        from .ksj.colnames import TranslateOptions

        out = []
        for c, k, y in zip(col_id, ksj_id, year):
            opts = TranslateOptions(
                ksj_id=str(k), year=int(y), ignore_translation_errors=True
            )
            out.append(colnames.translate_colnames(str(c), opts))
        return pd.Series(out)

    spark.udf.register("ksj_colname", ksj_colname)

    # -- ST_* geometry functions over WKB columns ----------------------
    # These serve the polygon-layer side (10³–10⁵ rows: admin metrics,
    # layer QA) — per-geometry decode is fine there. The 10¹²-row image
    # side never calls them: point-in-polygon at scale goes through the
    # broadcast cell join + refine_pip Arrow kernels.
    from .geo import geom as _geom
    from .geo import wkb as _wkb

    def _per_geom(fn, dtype):
        @pandas_udf(dtype)
        def udf(wkb_col: pd.Series) -> pd.Series:
            out = pd.Series(
                [fn(_wkb.loads(b)) if b is not None else None
                 for b in wkb_col],
                dtype=object,
            )
            # doubles go through float64 (None → NaN); ints/strings
            # stay object so nulls survive the Arrow conversion
            return out.astype("float64") if dtype == "double" else out

        return udf

    spark.udf.register(
        "st_area", _per_geom(_geom.geometry_area, "double")
    )
    spark.udf.register(
        "st_centroid_x", _per_geom(lambda g: _geom.centroid(g)[0], "double")
    )
    spark.udf.register(
        "st_centroid_y", _per_geom(lambda g: _geom.centroid(g)[1], "double")
    )
    spark.udf.register(
        "st_geomtype", _per_geom(lambda g: g.name, "string")
    )

    @pandas_udf("boolean")
    def st_contains(
        wkb_col: pd.Series, lon: pd.Series, lat: pd.Series
    ) -> pd.Series:
        xs = lon.to_numpy(dtype=np.float64)
        ys = lat.to_numpy(dtype=np.float64)
        out = []
        for i, b in enumerate(wkb_col):
            if b is None:
                out.append(None)
                continue
            out.append(
                bool(
                    _geom.geometry_contains(
                        xs[i : i + 1], ys[i : i + 1], _wkb.loads(b)
                    )[0]
                )
            )
        return pd.Series(out, dtype=object)

    @pandas_udf("double")
    def st_distance(
        wkb_col: pd.Series, lon: pd.Series, lat: pd.Series
    ) -> pd.Series:
        xs = lon.to_numpy(dtype=np.float64)
        ys = lat.to_numpy(dtype=np.float64)
        out = []
        for i, b in enumerate(wkb_col):
            if b is None:
                out.append(None)
                continue
            out.append(
                float(
                    _geom.distance_to_geometry(
                        xs[i : i + 1], ys[i : i + 1], _wkb.loads(b)
                    )[0]
                )
            )
        return pd.Series(out, dtype=object)

    spark.udf.register("st_contains", st_contains)
    spark.udf.register("st_distance", st_distance)

    @pandas_udf("binary")
    def st_simplify(wkb_col: pd.Series, tol: pd.Series) -> pd.Series:
        # per-row tolerance (a literal arrives as a constant column);
        # null geometry or null tolerance → null, never a batch-wide
        # first-row tolerance
        return pd.Series(
            [
                _wkb.dumps(_geom.simplify_geometry(_wkb.loads(b), float(t)))
                if b is not None and t is not None and not pd.isna(t)
                else None
                for b, t in zip(wkb_col, tol)
            ],
            dtype=object,
        )

    spark.udf.register("st_simplify", st_simplify)

    @pandas_udf("boolean")
    def st_intersects(a_col: pd.Series, b_col: pd.Series) -> pd.Series:
        return pd.Series(
            [
                bool(
                    _geom.geometry_intersects(_wkb.loads(a), _wkb.loads(b))
                )
                if a is not None and b is not None
                else None
                for a, b in zip(a_col, b_col)
            ],
            dtype=object,
        )

    spark.udf.register("st_intersects", st_intersects)
    spark.udf.register(
        "st_npoints",
        _per_geom(lambda g: int(len(g.all_coords())), "long"),
    )
    return [
        "grid_cell",
        "hex_cell",
        "s2_cell",
        "geohash",
        "tokyo_to_wgs84_lon",
        "tokyo_to_wgs84_lat",
        "ksj_colname",
        "st_area",
        "st_centroid_x",
        "st_centroid_y",
        "st_geomtype",
        "st_contains",
        "st_distance",
        "st_simplify",
        "st_npoints",
        "st_intersects",
    ]
