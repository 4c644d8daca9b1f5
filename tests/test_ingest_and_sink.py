"""Ingestion (ZIP → polygons DF → translation → spatial join) and the
resumable sink (crash injection, skip-committed, idempotent rewrite)."""

import datetime
import io
import zipfile

import numpy as np
import pandas as pd
import pytest

from ksj2gp_spark import fixtures
from ksj2gp_spark.formats import dbf, shp
from ksj2gp_spark.geo import wkb
from ksj2gp_spark.operators import ingest, spatial
from ksj2gp_spark.operators.translate import translate_dataframe
from ksj2gp_spark.ksj import TranslateOptions
from ksj2gp_spark.sinks import write as sink

META_JGD2011 = (
    "<referenceSystemIdentifier><code>JGD2011 / (B, L)</code>"
    "</referenceSystemIdentifier>"
).encode("cp932")


def _fixture_zip_bytes() -> bytes:
    """A KSJ-style N03 ZIP from the synthetic polygon layer."""
    layer = fixtures.polygon_layer()
    geoms = [wkb.loads(b) for b in layer["geometry"]]
    shp_buf, shx_buf = shp.write_shp(geoms)
    fields = [
        dbf.DbfField("N03_001", "C", 20),
        dbf.DbfField("N03_004", "C", 20),
        dbf.DbfField("N03_007", "C", 5),
    ]
    rows = [
        [r["都道府県名"], r["区町村名"], r["行政区域コード"]]
        for _, r in layer.iterrows()
    ]
    dbf_buf = dbf.write_dbf(fields, rows, encoding="cp932", ldid=13)
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as zf:
        zf.writestr("N03-20240101_13_GML/admin.shp", shp_buf)
        zf.writestr("N03-20240101_13_GML/admin.shx", shx_buf)
        zf.writestr("N03-20240101_13_GML/admin.dbf", dbf_buf)
        zf.writestr("N03-20240101_13_GML/KS-META-N03.xml", META_JGD2011)
    return bio.getvalue()


class TestIngest:
    def test_zip_to_polygons_to_join(self, spark, tmp_path):
        zpath = tmp_path / "N03-20240101_13_GML.zip"
        zpath.write_bytes(_fixture_zip_bytes())

        ingested = ingest.ingest_zips(spark, str(zpath))
        pdf = ingested.toPandas()
        assert (pdf["error"].isna()).all()
        assert len(pdf) == 21
        assert (pdf["ksj_id"] == "N03").all()
        assert (pdf["year"] == 2024).all()
        assert (pdf["crs"] == "JGD2011").all()
        # translated column names present in attrs
        a0 = pdf.iloc[0]["attrs"]
        assert "都道府県名" in a0 and "行政区域コード" in a0

        polys = ingest.polygons_from_ingest(ingested).toPandas()
        assert len(polys) == 21
        assert set(polys["行政区域コード"]) == set(
            fixtures.polygon_layer()["行政区域コード"]
        )

        # end-to-end: join images against the *ingested* polygons and
        # compare with joining against the original fixture layer
        imgs = fixtures.images_df(spark, 500, with_bytes=False)
        t_ing = spatial.spatial_join_tiles(
            imgs, polys, scheme="grid", res=10
        ).toPandas()
        t_fix = spatial.spatial_join_tiles(
            imgs, fixtures.polygon_layer(), scheme="grid", res=10
        ).toPandas()
        a = set(map(tuple, t_ing[["image_id", "admin_code"]].to_numpy()))
        b = set(map(tuple, t_fix[["image_id", "admin_code"]].to_numpy()))
        assert a == b

    def test_error_lane(self, spark, tmp_path):
        bad = tmp_path / "A09-06_02_GML.zip"
        bio = io.BytesIO()
        with zipfile.ZipFile(bio, "w") as zf:
            zf.writestr("only_metadata.txt", b"nothing here")
        bad.write_bytes(bio.getvalue())
        out = ingest.ingest_zips(spark, str(bad)).toPandas()
        assert len(out) == 1
        assert out.iloc[0]["error"] is not None
        assert out.iloc[0]["ksj_id"] == "A09"


class TestTranslateDataFrame:
    def test_codelist_and_rename(self, spark):
        pdf = pd.DataFrame(
            {
                "A03_006": ["1", "9", None],
                "A03_002": ["東京都", "大阪府", None],
            }
        )
        df = spark.createDataFrame(pdf)
        opts = TranslateOptions(
            ksj_id="A03",
            year=2024,
            target_shp="A03-03_SYUTO-g_ThreeMajorMetroPlanArea.shp",
        )
        out = translate_dataframe(df, opts).toPandas()
        assert list(out.columns) == ["区域区分", "都道府県名"]
        assert out["区域区分"].tolist() == ["既成市街地", "9", None]

    def test_numeric_code_formatting(self, spark):
        pdf = pd.DataFrame({"A03_006": [1.0, 2.0, None]})
        df = spark.createDataFrame(pdf)
        opts = TranslateOptions(
            ksj_id="A03", year=2024,
            target_shp="A03-03_KINKI-g_ThreeMajorMetroPlanArea.shp",
        )
        out = translate_dataframe(df, opts).toPandas()
        assert out["区域区分"].tolist()[:2] == ["既成都市区域", "近郊整備区域"]
        assert out["区域区分"].isna().tolist() == [False, False, True]


class TestResumableSink:
    def _chunks(self):
        return [f"{i:02d}" for i in range(4)]

    def test_crash_resume_no_reprocess_no_dups(self, spark, tmp_path):
        base = str(tmp_path / "tiles")
        calls = []

        def make_process(fail_on):
            def process(chunk):
                calls.append(chunk)
                if chunk == fail_on:
                    raise RuntimeError("injected executor loss")
                imgs = fixtures.images_df(
                    spark, 200, with_bytes=False
                ).filter(f"pmod(xxhash64(image_id), 4) = {int(chunk)}")
                return spatial.spatial_join_tiles(
                    imgs, fixtures.polygon_layer(), scheme="grid", res=10
                )

            return process

        # first run crashes on chunk 02
        with pytest.raises(RuntimeError):
            sink.run_resumable(base, self._chunks(), make_process("02"))
        assert sink.committed_chunks(base) == {"00", "01"}
        first_calls = list(calls)
        assert first_calls == ["00", "01", "02"]

        # resume: committed chunks skipped, rest processed
        calls.clear()
        summary = sink.run_resumable(base, self._chunks(), make_process(None))
        assert calls == ["02", "03"]  # 00/01 not reprocessed
        assert summary["00"].get("skipped") is True
        assert summary["03"].get("skipped") is None

        # final data: complete and duplicate-free
        tiles = sink.read_tiles(spark, base)
        got = tiles.select("image_id", "admin_code").toPandas()
        direct = spatial.spatial_join_tiles(
            fixtures.images_df(spark, 200, with_bytes=False),
            fixtures.polygon_layer(),
            scheme="grid",
            res=10,
        ).select("image_id", "admin_code").toPandas()
        key = lambda d: sorted(map(tuple, d.to_numpy()))
        assert key(got) == key(direct)
        assert len(got) == len(got.drop_duplicates(["image_id", "admin_code"]))

        # manifests carry metrics
        m = summary["03"]
        assert m["rows"] > 0 and m["approx_cells"] > 0
        assert sum(m["admin_histogram"].values()) == m["rows"]

    def test_failed_chunk_job_leaves_no_manifest(self, spark, tmp_path):
        """A task failure inside one chunk's write job while earlier
        chunks are still writing: the failed chunk commits no manifest,
        the chunks in flight commit whole, the failure is raised, and
        the rerun tiles every row exactly once."""
        import time

        base = str(tmp_path / "tiles_fail")
        calls = []

        def expected(chunk):
            imgs = fixtures.images_df(spark, 200, with_bytes=False).filter(
                f"pmod(xxhash64(image_id), 4) = {int(chunk)}"
            )
            return spatial.spatial_join_tiles(
                imgs, fixtures.polygon_layer(), scheme="grid", res=10
            )

        def make_process(fail_on):
            def process(chunk):
                calls.append(chunk)
                tiles = expected(chunk)

                def udf(batches):
                    for b in batches:
                        if chunk == fail_on:
                            raise RuntimeError("injected task failure")
                        if fail_on and chunk < fail_on:
                            time.sleep(2)  # still writing when it fails
                        yield b

                return tiles.mapInPandas(udf, tiles.schema)

            return process

        with pytest.raises(Exception, match="injected task failure"):
            sink.run_resumable(base, self._chunks(), make_process("02"))
        committed = sink.committed_chunks(base)
        assert {"00", "01"} <= committed and "02" not in committed
        assert calls[:3] == ["00", "01", "02"]
        key = lambda d: sorted(map(tuple, d.to_numpy()))
        for c in committed:  # each committed chunk is whole
            got = spark.read.parquet(f"{base}/chunk={c}")
            assert key(got.select("image_id", "admin_code").toPandas()) == key(
                expected(c).select("image_id", "admin_code").toPandas()
            )

        calls.clear()
        summary = sink.run_resumable(base, self._chunks(), make_process(None))
        assert calls == [c for c in self._chunks() if c not in committed]
        assert list(summary) == self._chunks()
        got = sink.read_tiles(spark, base).select("image_id", "admin_code")
        direct = expected(0).unionByName(expected(1)).unionByName(
            expected(2)).unionByName(expected(3))
        assert key(got.toPandas()) == key(
            direct.select("image_id", "admin_code").toPandas()
        )

    def test_repeated_chunk_id_is_refused(self, tmp_path):
        # two in-flight writes of one id would share one directory
        def process(chunk):
            raise AssertionError("process must not run")

        with pytest.raises(ValueError, match="repeat"):
            sink.run_resumable(str(tmp_path), ["a", "b", "a"], process)

    def test_manifest_metrics_equal_readback(self, spark, tmp_path):
        """The metrics observed during the write equal a recount over
        the read-back chunk, for an unpartitioned chunk, a chunk
        partitioned by admin_code and a chunk without admin_code."""
        from pyspark.sql import functions as F

        base = str(tmp_path / "tiles_metrics")
        n = 3000
        pdf = pd.DataFrame(
            {
                "image_id": [f"img{i:06d}" for i in range(n)],
                "cell": np.arange(n, dtype=np.int64) % 613,
                "admin_code": [
                    None if i % 97 == 0 else f"{13100 + i % 23}"
                    for i in range(n)
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        kinds = {
            "flat": (df.filter("cell % 3 = 0"), ()),
            "byadmin": (df.filter("cell % 3 = 1"), ("admin_code",)),
            "noadmin": (df.filter("cell % 3 = 2").drop("admin_code"), ()),
        }
        for chunk, (chunk_df, cols) in kinds.items():
            m = sink.write_chunk(chunk_df, base, chunk, partition_cols=cols)
            back = spark.read.parquet(m["path"])
            back = back.drop(*[c for c in back.columns if c.startswith("_p_")])
            recount = back.agg(
                F.count(F.lit(1)).alias("rows"),
                F.approx_count_distinct("cell").alias("cells"),
            ).collect()[0]
            hist = (
                {
                    r["admin_code"]: r["n"]
                    for r in back.groupBy("admin_code").count()
                    .withColumnRenamed("count", "n").collect()
                }
                if "admin_code" in back.columns
                else {}
            )
            assert m["rows"] == recount["rows"] > 0
            assert m["approx_cells"] == recount["cells"]
            assert m["admin_histogram"] == hist
            assert (None in hist) == (chunk != "noadmin")
        est = sink.global_distinct_images(spark, base)
        assert abs(est - n) / n < 0.05

    def test_rerun_is_idempotent(self, spark, tmp_path):
        base = str(tmp_path / "tiles2")

        def process(chunk):
            imgs = fixtures.images_df(spark, 100, with_bytes=False)
            return spatial.spatial_join_tiles(
                imgs, fixtures.polygon_layer(), scheme="grid", res=10
            )

        s1 = sink.run_resumable(base, ["only"], process)
        s2 = sink.run_resumable(base, ["only"], process)
        assert s2["only"]["skipped"] is True
        assert s1["only"]["rows"] == s2["only"]["rows"]

    def test_read_tiles_mixed_partition_layouts(self, spark, tmp_path):
        """Chunks committed with different (or no) partition_cols into
        the same out_path must all read back: one scan per recorded
        layout, unioned — Spark's conflicting-partition-schema error
        must not surface."""
        base = str(tmp_path / "tiles3")

        def process(chunk):
            imgs = fixtures.images_df(spark, 120, with_bytes=False)
            return spatial.spatial_join_tiles(
                imgs, fixtures.polygon_layer(), scheme="grid", res=10
            )

        sink.run_resumable(base, ["flat"], process)
        sink.run_resumable(
            base, ["byadmin"], process, partition_cols=("admin_code",)
        )
        got = sink.read_tiles(spark, base)
        # both chunks present, partition helper columns dropped
        assert got.count() == 2 * process("flat").count()
        assert not [c for c in got.columns if c.startswith("_p_")]
        # layouts recorded in the manifests
        import json as _json

        with open(sink._manifest_path(base, "byadmin")) as f:
            assert _json.load(f)["partition_cols"] == ["admin_code"]


def test_mergeable_hll_sketches_across_chunks(spark, tmp_path):
    """Per-chunk HLL sketches in the manifests merge to the global
    distinct image count — metrics for a growing output read only
    manifest bytes, never data files."""
    base = str(tmp_path / "hll_out")
    from pyspark.sql import functions as F

    from ksj2gp_spark import fixtures

    imgs = fixtures.images_df(spark, 3000, with_bytes=False)
    third = 1000
    for i in range(3):
        lo, hi = f"img{i*third:08d}", f"img{(i+1)*third:08d}"
        chunk_df = imgs.filter(
            (imgs.image_id >= lo) & (imgs.image_id < hi)
        ).withColumn("cell", F.lit(i))
        m = sink.write_chunk(chunk_df, base, f"{i:05d}")
        assert "image_hll_b64" in m
    est = sink.global_distinct_images(spark, base)
    assert abs(est - 3000) / 3000 < 0.05  # HLL accuracy band
