"""The three workloads and the per-layer probes.

Each workload writes its seeded fixtures in ``generate``, runs the
program's own set-up over them in ``setup``, runs one closed-loop unit
of work per ``job`` call (a batch job, a conversion or an append→tiles
cycle), and checks its outputs in ``checks``. The traced run calls
``job`` with tracing wrappers installed on the layer functions the job
calls (``traced_layers``), then runs ``Probes`` for the kernel-level
numbers and for the layers the job does not reach.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from ksj2gp_spark import pipeline
from ksj2gp_spark.geo import geom, hexgrid, s2, wkb
from ksj2gp_spark.operators import ingest, spatial
from ksj2gp_spark.sinks import geoparquet, iceberg, write

from . import gen, oracles
from .measure import SparkCounts, dir_bytes, patched

K_OCEAN = 3


@dataclass
class JobResult:
    seconds: float
    rows_in: int
    rows_out: int
    bytes_out: int
    info: dict = field(default_factory=dict)


# ---------------------------------------------------------------------
# Shared steps
# ---------------------------------------------------------------------


def polygons_pdf(spark, zip_dir: str) -> pd.DataFrame:
    """The admin layer as the pipeline takes it: ingested from the
    shapefile ZIPs and collected once, so jobs do not re-ingest."""
    return pipeline.ingest_polygons(spark, zip_dir).toPandas()


def convert(spark, zip_dir: str, out: str) -> dict:
    """KSJ ZIPs → GeoParquet: ingest (error rows split off into their
    own lane), then the GeoParquet sink over the good rows."""
    from pyspark.sql import functions as F

    ingested = ingest.ingest_zips_auto(spark, zip_dir).cache()
    try:
        n_err = ingested.filter(F.col("error").isNotNull()).count()
        good = ingested.filter(F.col("error").isNull()).drop("error")
        manifest = geoparquet.write_geoparquet(good, out, crs_name="JGD2011")
    finally:
        ingested.unpersist()
    return {
        "features": int(sum(m["rows"] for m in manifest)),
        "errors": int(n_err),
        "files": len(manifest),
    }


def images_df(spark, lon, lat, start: int = 0):
    return spark.createDataFrame(gen.images_pdf(lon, lat, start))


def cell_kernel(scheme: str):
    return {"hex": hexgrid.latlng_to_cell, "s2": s2.latlng_to_cell}[scheme]


def candidate_pairs(cover: pd.DataFrame, scheme: str, res: int, lon, lat) -> int:
    """(image, polygon) pairs the cover probe hands to the PIP refine."""
    per_cell = cover["cell"].value_counts()
    cells = pd.Series(cell_kernel(scheme)(lon, lat, res))
    return int(cells.map(per_cell).fillna(0).sum())


@contextlib.contextmanager
def traced_layers(tr, record: dict):
    """Install span wrappers on the layer functions a job calls.

    The fused join and the ingest are lazy, so their wrappers
    materialise the result (persist + no-op sink) inside the layer's
    span; the sink that consumes it then writes from the cache and
    releases it. Covers built inside the join land in ``cells`` child
    spans, and the scheme covers are kept in ``record``. The image
    table's own commit runs inside a ``pipeline.write_images_table``
    span, which keeps it apart from the tile commits."""

    def cover_wrap(orig):
        def f(polys, scheme, res, *a, **kw):
            with tr.span(f"cells.polygon_cover_pdf[{scheme}]", "cells"):
                out = orig(polys, scheme, res, *a, **kw)
            if scheme != "grid":
                record.setdefault("covers", []).append(out)
            return out
        return f

    def materialise_wrap(name, layer):
        def wrap(orig):
            def f(*a, **kw):
                with tr.span(name, layer):
                    out = orig(*a, **kw).persist()
                    out.write.format("noop").mode("overwrite").save()
                record.setdefault("persisted", []).append(out)
                return out
            return f
        return wrap

    def sink_wrap(name, layer):
        def wrap(orig):
            def f(df, *a, **kw):
                try:
                    with tr.span(name, layer):
                        return orig(df, *a, **kw)
                finally:
                    if df.is_cached:
                        df.unpersist()
            return f
        return wrap

    def plain_wrap(name, layer):
        def wrap(orig):
            def f(*a, **kw):
                with tr.span(name, layer):
                    return orig(*a, **kw)
            return f
        return wrap

    with contextlib.ExitStack() as st:
        st.enter_context(patched(spatial, "polygon_cover_pdf", cover_wrap))
        st.enter_context(patched(
            spatial, "fused_assign_or_knn",
            materialise_wrap("spatial.fused_assign_or_knn", "spatial"),
        ))
        st.enter_context(patched(
            ingest, "ingest_zips_auto",
            materialise_wrap("ingest.ingest_zips_auto", "ingest"),
        ))
        st.enter_context(patched(
            geoparquet, "write_geoparquet",
            plain_wrap("geoparquet.write_geoparquet", "geoparquet"),
        ))
        st.enter_context(patched(
            pipeline, "write_images_table",
            plain_wrap("pipeline.write_images_table", "pipeline"),
        ))
        st.enter_context(
            patched(write, "write_chunk", sink_wrap("write.write_chunk", "write"))
        )
        st.enter_context(
            patched(write, "tile_metrics", plain_wrap("write.tile_metrics", "write"))
        )
        st.enter_context(
            patched(iceberg, "append", sink_wrap("iceberg.append", "iceberg"))
        )
        st.enter_context(
            patched(
                pipeline, "committed_pipeline_files",
                plain_wrap("iceberg.committed_pipeline_files", "iceberg"),
            )
        )
        yield


# ---------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------


class Workload:
    name = ""
    scheme = "hex"
    res = 7
    warm_jobs = 0  # untimed jobs before the timed ones
    min_jobs = 1  # timed jobs, at least
    max_jobs: int | None = None  # None: go on until the seconds are up

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.jobs: list[JobResult] = []

    def generate(self, d: str) -> None:
        """The seeded fixtures, written under ``d`` (benchmark side;
        done once a run)."""
        raise NotImplementedError

    def setup(self, d: str) -> None:
        """The program's own set-up over the fixtures, into ``d``
        (repeated, so its median can be reported)."""
        raise NotImplementedError

    def job(self, i: int) -> JobResult:
        raise NotImplementedError

    def checks(self) -> list[tuple[str, list[str]]]:
        raise NotImplementedError

    # inputs for the probes: (zip_dir, polygons pdf, layer, lon, lat)
    def probe_inputs(self):
        raise NotImplementedError


class TileAssign(Workload):
    """The headline batch job: a spatially sorted image table × an
    N03-like admin layer → tiles, via ``run_tile_pipeline``."""

    name = "tile-assign"
    scheme, res = "hex", 7
    BOX = (139.0, 35.0, 141.2, 37.2)
    GRID = 44  # 44 × 44 = 1,936 municipalities of ~0.05°
    N_IMAGES = 24_000

    def generate(self, d: str) -> None:
        self.layer = gen.admin_layer(self.seed, self.GRID, self.GRID, box=self.BOX)
        self.zip_dir = os.path.join(d, "zips")
        gen.write_admin_zips(self.layer, self.zip_dir)
        self.lon, self.lat = gen.image_points(self.seed, self.N_IMAGES, self.BOX)
        self.images = gen.images_pdf(self.lon, self.lat)

    def setup(self, d: str) -> None:
        self.dir = d
        self.polys = polygons_pdf(self.spark, self.zip_dir)
        self.images_path = os.path.join(d, "images")
        pipeline.write_images_table(
            self.spark.createDataFrame(self.images), self.images_path
        )
        warm_to(self.spark, self.polys, self.lon, self.lat, self.scheme, self.res)

    def job(self, i: int) -> JobResult:
        out = os.path.join(self.dir, f"tiles-{i}")
        t0 = time.perf_counter()
        summary = pipeline.run_tile_pipeline(
            self.spark, self.images_path, self.polys, out,
            scheme=self.scheme, res=self.res, k_ocean=K_OCEAN,
        )
        t1 = time.perf_counter()
        rows = sum(m["rows"] for m in summary.values())
        r = JobResult(t1 - t0, self.N_IMAGES, rows, dir_bytes(out),
                      {"out": out, "chunks": len(summary)})
        self.jobs.append(r)
        return r

    def read_tiles(self, out: str) -> pd.DataFrame:
        return (
            write.read_tiles(self.spark, out)
            .select("image_id", "rank", "distance", "admin_code")
            .toPandas()
        )

    def checks(self):
        first = self.jobs[0]
        tiles = self.read_tiles(first.info["out"])
        sample = sample_ids(self.images, self.seed)
        out = [
            ("tiles-structure", oracles.check_tiles(
                tiles, self.images["image_id"].to_numpy(), K_OCEAN)),
            ("tiles-sample-pip", oracles.check_tile_sample(
                tiles, self.layer, self.images, sample)),
        ]
        for j in self.jobs[1:]:
            errs = [] if j.rows_out == first.rows_out else [
                f"job rows {j.rows_out} != first job {first.rows_out}"]
            out.append(("tiles-rerun-rows", errs))
        self.last_tiles = tiles
        return out

    def probe_inputs(self):
        return self.zip_dir, self.polys, self.layer, self.lon, self.lat


class AppendCycle(Workload):
    """Writes beside reads: append a small image batch (one data file),
    then bring the Iceberg tiles table up to date with
    ``run_tile_pipeline_iceberg`` (S2 cells, partitioned by prefecture
    code). The number of cycles is fixed, so both sides of a comparison
    build the same history whatever their speed."""

    name = "append-cycle"
    scheme, res = "s2", 12
    BOX = (139.0, 35.0, 139.7, 35.7)
    GRID = 14  # 196 municipalities of ~0.05°
    BATCH = 2_000
    CYCLES = 12  # timed; 11 or more, so the freshness tail is defined
    warm_jobs = 1
    min_jobs = max_jobs = CYCLES

    def generate(self, d: str) -> None:
        self.layer = gen.admin_layer(self.seed, self.GRID, self.GRID, box=self.BOX)
        self.zip_dir = os.path.join(d, "zips")
        gen.write_admin_zips(self.layer, self.zip_dir)
        self.warm_lon, self.warm_lat = gen.image_points(
            self.seed, 400, self.BOX, stream=99)

    def setup(self, d: str) -> None:
        self.dir = d
        self.polys = polygons_pdf(self.spark, self.zip_dir)
        self.images_path = os.path.join(d, "images")
        self.tiles_path = os.path.join(d, "tiles")
        self.batches: list[pd.DataFrame] = []
        self.n_appended = 0
        warm_to(self.spark, self.polys, self.warm_lon, self.warm_lat,
                self.scheme, self.res)

    def _batch(self) -> pd.DataFrame:
        n = len(self.batches)
        lon, lat = gen.image_points(
            self.seed, self.BATCH, self.BOX, stream=100 + n
        )
        pdf = gen.images_pdf(lon, lat, start=self.n_appended)
        self.batches.append(pdf)
        self.n_appended += len(pdf)
        return pdf

    def _cycle(self):
        df = self.spark.createDataFrame(self._batch())
        before = dir_bytes(self.tiles_path) if os.path.isdir(self.tiles_path) else 0
        t0 = time.perf_counter()
        pipeline.write_images_table(df, self.images_path, files_per_commit=1)
        done = pipeline.run_tile_pipeline_iceberg(
            self.spark, self.images_path, self.polys, self.tiles_path,
            scheme=self.scheme, res=self.res, k_ocean=K_OCEAN,
            partition_by=[("admin_code", "truncate[2]")],
        )
        t1 = time.perf_counter()
        snaps = {s["snapshot_id"]: s for s in iceberg.history(self.tiles_path)}
        rows = sum(
            snaps[v]["summary"]["added_rows"]
            for k, v in done.items() if k != "skipped_files"
        )
        return JobResult(
            t1 - t0, self.BATCH, rows, dir_bytes(self.tiles_path) - before,
            {"chunks": len(done) - ("skipped_files" in done)},
        )

    def job(self, i: int) -> JobResult:
        r = self._cycle()
        self.jobs.append(r)
        return r

    def checks(self):
        hist = iceberg.history(self.tiles_path)
        files = {
            f["path"] for f in iceberg.added_files(self.images_path, None)
        }
        tiles = (
            iceberg.read(self.spark, self.tiles_path)
            .select("image_id", "rank", "distance", "admin_code")
            .toPandas()
        )
        images = pd.concat(self.batches, ignore_index=True)
        errs = []
        if tiles["image_id"].nunique() != self.n_appended:
            errs.append(
                f"{tiles['image_id'].nunique()} images tiled, "
                f"{self.n_appended} appended"
            )
        self.last_tiles = tiles
        return [
            ("ledger", oracles.check_ledger(hist, files)),
            ("row-count", errs),
            ("tiles-structure", oracles.check_tiles(
                tiles, images["image_id"].to_numpy(), K_OCEAN)),
            ("tiles-sample-pip", oracles.check_tile_sample(
                tiles, self.layer, self.batches[-1],
                sample_ids(self.batches[-1], self.seed, 150))),
        ]

    def probe_inputs(self):
        b = self.batches[-1]
        return (self.zip_dir, self.polys, self.layer,
                b["lon"].to_numpy(), b["lat"].to_numpy())


class KsjConvert(Workload):
    """The reference tool's own role: KSJ ZIPs → GeoParquet."""

    name = "ksj-convert"
    scheme, res = "hex", 7

    def generate(self, d: str) -> None:
        self.zip_dir = os.path.join(d, "zips")
        self.mix = gen.write_ksj_mix(self.seed, self.zip_dir)
        # the warm-up converts a single point bundle
        self.warm_dir = os.path.join(d, "warm-zips")
        os.makedirs(self.warm_dir)
        name = next(n for n in sorted(os.listdir(self.zip_dir)) if n.startswith("P04"))
        os.link(os.path.join(self.zip_dir, name), os.path.join(self.warm_dir, name))

    def setup(self, d: str) -> None:
        self.dir = d
        convert(self.spark, self.warm_dir, os.path.join(d, "warm-out"))

    def job(self, i: int) -> JobResult:
        out = os.path.join(self.dir, f"gpq-{i}")
        t0 = time.perf_counter()
        res = convert(self.spark, self.zip_dir, out)
        t1 = time.perf_counter()
        r = JobResult(t1 - t0, res["features"], res["features"], dir_bytes(out),
                      {"out": out, **res})
        self.jobs.append(r)
        return r

    def checks(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        out = []
        for n, j in enumerate(self.jobs):
            d = j.info["out"]
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            tables = [pq.read_table(os.path.join(d, f)) for f in files]
            if n == 0:
                out.append(("geoparquet", oracles.check_geoparquet(
                    pa.concat_tables(tables), j.info["errors"], self.mix)))
            else:
                rows = sum(t.num_rows for t in tables)
                meta = all(b"geo" in (t.schema.metadata or {}) for t in tables)
                errs = [] if rows == self.mix.features and meta else [
                    f"rerun wrote {rows} rows (geo metadata: {meta})"]
                out.append(("geoparquet-rerun", errs))
        return out

    def probe_inputs(self):
        """The N03 polygons and P04 points of the mix, read back from
        the ZIPs in-process."""
        if not hasattr(self, "_probe"):
            frames = [
                ingest.parse_zip_bytes(p, open(p, "rb").read())
                for p in sorted(
                    os.path.join(self.zip_dir, n) for n in os.listdir(self.zip_dir)
                )
            ]
            feats = pd.concat(frames, ignore_index=True)
            feats = feats[feats["error"].isna()]
            polys = feats[feats["geom_type"] == "Polygon"]
            polys = pd.DataFrame({
                "polygon_id": [f"p{i}" for i in range(len(polys))],
                "行政区域コード": [a["行政区域コード"] for a in polys["attrs"]],
                "geometry": list(polys["geometry"]),
                "crs": list(polys["crs"]),
            })
            pts = [wkb.loads(g).coords for g in feats.loc[
                feats["geom_type"] == "Point", "geometry"]]
            lon = np.array([p[0] for p in pts])
            lat = np.array([p[1] for p in pts])
            self._probe = (self.zip_dir, polys, None, lon, lat)
        return self._probe


WORKLOADS = {w.name: w for w in (TileAssign, KsjConvert, AppendCycle)}


def sample_ids(images: pd.DataFrame, seed: int, n: int = 300) -> np.ndarray:
    rng = np.random.default_rng([seed, 99])
    ids = images["image_id"].to_numpy()
    return ids[np.sort(rng.choice(len(ids), min(n, len(ids)), replace=False))]


def warm_to(spark, polys: pd.DataFrame, lon, lat, scheme: str, res: int) -> None:
    """Warm the Python workers on the fused join: a tiny image set
    against a few polygons, into a no-op sink."""
    few = polys.iloc[:12]
    spatial.fused_assign_or_knn(
        images_df(spark, lon[:400], lat[:400]), few, scheme=scheme, res=res,
        k=K_OCEAN,
    ).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------
# Traced run
# ---------------------------------------------------------------------


def traced_metrics(wl: Workload, tr) -> tuple[dict, list]:
    """Per-layer metrics: after the workload's warm-up jobs, one
    untraced job for the reference wall and one job with the layer
    wrappers installed, then the kernel probes."""
    n = wl.warm_jobs
    for i in range(n):
        wl.job(i)
    untraced = wl.job(n)
    w0 = untraced.seconds
    record: dict = {}
    tr.run_id = "job"
    with tr.groups.group() as root, traced_layers(tr, record):
        t0 = time.perf_counter()
        traced = wl.job(n + 1)
        w1 = time.perf_counter() - t0
    for df in record.get("persisted", []):
        if df.is_cached:
            df.unpersist()
    checks = wl.checks()
    layer_self = tr.by_layer("job")
    m: dict[str, float] = {}
    m["pipeline.job_s"] = w0
    m["pipeline.chunks"] = traced.info.get("chunks", 1)
    m["trace.overhead_share"] = w1 / w0 - 1.0
    # against the traced wall: the share of the traced job no span covers
    # (the untraced wall would fold the tracing overhead in, and can
    # make the share negative)
    m["trace.unaccounted_share"] = 1.0 - sum(layer_self.values()) / w1

    def span_sum(layer: str, names: tuple[str, ...], run_id="job",
                 skip_under: str = "") -> float:
        return sum(
            tr.self_time(s) for s in tr.spans
            if s.layer == layer and s.run_id == run_id and s.name.startswith(names)
            and not (s.parent is not None and tr.spans[s.parent].name == skip_under)
        )

    def span_counts(layer: str, run_id="job") -> SparkCounts:
        c = SparkCounts()
        for s in tr.spans:
            if s.layer == layer and s.run_id == run_id:
                c += tr.spark_counts(s)
        return c

    total = tr.groups.counts(root)
    for layer in ("ingest", "geoparquet", "cells", "spatial", "write", "iceberg",
                  "pipeline"):
        c = span_counts(layer)
        m[f"spark.jobs.{layer}"] = c.jobs
        m[f"spark.tasks.{layer}"] = c.tasks
        total += c
    m["spark.jobs"] = total.jobs
    m["spark.tasks"] = total.tasks
    m["spark.failed_tasks"] = total.failed_tasks

    probes = Probes(wl, tr)
    zip_dir, polys, layer, lon, lat = wl.probe_inputs()

    # ingest + geoparquet: from the job on ksj-convert, else a probe
    if wl.name == "ksj-convert":
        run_id, conv = "job", traced.info
        gp_bytes = traced.bytes_out
    else:
        run_id = "probe"
        out = os.path.join(wl.work, "probe-gpq")
        tr.run_id = "probe"
        with traced_layers(tr, {}):
            conv = convert(wl.spark, zip_dir, out)
        gp_bytes = dir_bytes(out)
    m["ingest.spark_parse_s"] = span_sum("ingest", ("ingest.",), run_id)
    m["ingest.tasks"] = span_counts("ingest", run_id).tasks
    m["ingest.error_rows"] = conv["errors"]
    m["geoparquet.write_s"] = span_sum("geoparquet", ("geoparquet.",), run_id)
    m["geoparquet.files"] = conv["files"]
    m["geoparquet.bytes_per_feature"] = gp_bytes / max(conv["features"], 1)

    m.update(probes.parse_kernel(zip_dir))
    m.update(probes.geo_kernels(polys, lon, lat))
    m.update(probes.knn(polys, layer))

    # cells + spatial: from the job's spans where the job joins
    if wl.name == "ksj-convert":
        record = {}
        tr.run_id = "probe"
        imgs = images_df(wl.spark, lon, lat)
        with traced_layers(tr, record):
            tiles_df = spatial.fused_assign_or_knn(
                imgs, polys, scheme=wl.scheme, res=wl.res, k=K_OCEAN)
            tiles = tiles_df.select("image_id", "rank").toPandas()
        run_id = "probe"
    else:
        tiles, run_id = wl.last_tiles, "job"
        if wl.name == "append-cycle":
            b = wl.batches[-1]
            lon, lat = b["lon"].to_numpy(), b["lat"].to_numpy()
            tiles = tiles[tiles["image_id"].isin(set(b["image_id"]))]
    covers = record.get("covers", [])
    m["cells.cover_build_s"] = span_sum("cells", ("cells.",), run_id)
    m["cells.cover_rows"] = len(covers[0]) if covers else 0
    pairs = candidate_pairs(covers[0], wl.scheme, wl.res, lon, lat) if covers else 0
    matched = int((tiles["rank"] == 0).sum())
    m["spatial.assign_s"] = span_sum("spatial", ("spatial.",), run_id)
    m["spatial.candidate_pairs"] = pairs
    m["spatial.refine_hit_ratio"] = matched / pairs if pairs else 0.0
    m["spatial.ocean_rows"] = int((tiles["rank"] == 1).sum())
    for df in record.get("persisted", []):
        if df.is_cached:
            df.unpersist()

    # write sink: from the job on tile-assign, else a probe
    if wl.name == "tile-assign":
        run_id = "job"
        w_rows, w_bytes = traced.rows_out, traced.bytes_out
    else:
        run_id = "probe"
        w_rows, w_bytes = probes.write_chunk(polys, lon, lat)
    m["write.write_chunk_s"] = span_sum("write", ("write.write_chunk",), run_id)
    m["write.metrics_pass_s"] = span_sum("write", ("write.tile_metrics",), run_id)
    m["write.bytes_per_row"] = w_bytes / max(w_rows, 1)

    # iceberg: from the job on append-cycle, else a probe
    if wl.name == "append-cycle":
        run_id, table = "job", wl.tiles_path
        with tr.span("iceberg.added_files", "iceberg", run_id="job"):
            iceberg.added_files(wl.images_path, None)
    else:
        run_id = "probe"
        table = probes.iceberg(polys, lon, lat)
    m["iceberg.append_s"] = span_sum(
        "iceberg", ("iceberg.append",), run_id,
        skip_under="pipeline.write_images_table")
    m["iceberg.plan_s"] = span_sum(
        "iceberg", ("iceberg.committed", "iceberg.added"), run_id)
    m["iceberg.metadata_bytes"] = dir_bytes(os.path.join(table, "metadata"))
    return m, checks


class Probes:
    """Kernel- and layer-level probes on a workload's own inputs, each
    in its own ``probe`` span."""

    MIN_S = 0.3  # repeat a kernel until this much time is measured

    def __init__(self, wl: Workload, tr):
        self.wl = wl
        self.tr = tr

    def _repeat(self, name: str, layer: str, fn) -> float:
        """Seconds per call, repeating ``fn`` for at least MIN_S."""
        n = 0
        with self.tr.span(name, layer, run_id="probe") as s:
            while True:
                fn()
                n += 1
                if time.perf_counter() - s.start >= self.MIN_S:
                    break
        return s.duration / n

    def parse_kernel(self, zip_dir: str) -> dict:
        blobs = [
            (p, open(p, "rb").read())
            for p in sorted(os.path.join(zip_dir, n) for n in os.listdir(zip_dir))
        ]
        feats = 0

        def run():
            nonlocal feats
            feats = sum(
                int(ingest.parse_zip_bytes(p, b)["error"].isna().sum())
                for p, b in blobs
            )

        per_call = self._repeat("ingest.parse_zip_bytes", "ingest", run)
        return {"ingest.parse_kernel_us_per_feature": per_call / feats * 1e6}

    def geo_kernels(self, polys: pd.DataFrame, lon, lat) -> dict:
        lon = np.ascontiguousarray(lon, dtype=np.float64)
        lat = np.ascontiguousarray(lat, dtype=np.float64)
        out = {}
        t = self._repeat("geo.hexgrid.latlng_to_cell", "geo",
                         lambda: hexgrid.latlng_to_cell(lon, lat, 7))
        out["geo.hex_cell_ns_per_point"] = t / len(lon) * 1e9
        t = self._repeat("geo.s2.latlng_to_cell", "geo",
                         lambda: s2.latlng_to_cell(lon, lat, 12))
        out["geo.s2_cell_ns_per_point"] = t / len(lon) * 1e9
        # PIP / distance: each of the first 64 polygons against the
        # points inside its bbox widened by half its size
        work = []
        for buf in polys["geometry"].iloc[:64]:
            g = wkb.loads(buf)
            x0, y0, x1, y1 = g.bounds()
            mx, my = (x1 - x0) / 2, (y1 - y0) / 2
            m = (lon >= x0 - mx) & (lon <= x1 + mx) & (lat >= y0 - my) & (lat <= y1 + my)
            if m.sum() < 8:  # sparse area: a fixed grid over the bbox
                gx, gy = np.meshgrid(np.linspace(x0, x1, 8), np.linspace(y0, y1, 8))
                px, py = gx.ravel(), gy.ravel()
            else:
                px, py = lon[m][:2000], lat[m][:2000]
            nv = sum(len(r) for r in g.rings())
            work.append((g, px, py, len(px) * nv))
        pv = sum(w[3] for w in work)
        t = self._repeat("geo.geom.geometry_contains", "geo",
                         lambda: [geom.geometry_contains(x, y, g) for g, x, y, _ in work])
        out["geo.pip_ns_per_point_vertex"] = t / pv * 1e9
        t = self._repeat("geo.geom.distance_to_geometry", "geo",
                         lambda: [geom.distance_to_geometry(x, y, g) for g, x, y, _ in work])
        out["geo.distance_ns_per_point_vertex"] = t / pv * 1e9
        return out

    def knn(self, polys: pd.DataFrame, layer) -> dict:
        """Ring-kNN cost per ocean point just off the coast and far
        offshore — the far case is the straggler cliff."""
        bounds = np.array([wkb.loads(b).bounds() for b in polys["geometry"]])
        box = (bounds[:, 0].min(), bounds[:, 1].min(),
               bounds[:, 2].max(), bounds[:, 3].max())
        out = {}
        for tag, dist, n in (("near", 0.05, 400), ("far", 0.75, 6)):
            lon, lat = gen.offshore_points(self.wl.seed, n, box, dist)
            df = images_df(self.wl.spark, lon, lat).repartition(1)
            with self.tr.span(f"spatial.knn_join_pruned[{tag}]", "spatial",
                              run_id="probe") as s:
                spatial.knn_join_pruned(
                    df, polys, k=K_OCEAN, res=10
                ).write.format("noop").mode("overwrite").save()
            out[f"spatial.knn_ms_per_ocean_point.{tag}"] = s.duration / n * 1e3
        return out

    def _tiles(self, polys, lon, lat):
        n = min(len(lon), 20_000)
        return spatial.fused_assign_or_knn(
            images_df(self.wl.spark, lon[:n], lat[:n]), polys,
            scheme=self.wl.scheme, res=self.wl.res, k=K_OCEAN,
        ).persist()

    def write_chunk(self, polys, lon, lat) -> tuple[int, int]:
        tiles = self._tiles(polys, lon, lat)
        tiles.write.format("noop").mode("overwrite").save()
        base = os.path.join(self.wl.work, "probe-tiles")
        self.tr.run_id = "probe"
        with traced_layers(self.tr, {}):
            man = write.write_chunk(tiles, base, "00000")
        return man["rows"], dir_bytes(base)

    def iceberg(self, polys, lon, lat) -> str:
        tiles = self._tiles(polys, lon, lat)
        tiles.write.format("noop").mode("overwrite").save()
        table = os.path.join(self.wl.work, "probe-iceberg")
        self.tr.run_id = "probe"
        with traced_layers(self.tr, {}):
            iceberg.append(tiles, table,
                           partition_by=[("admin_code", "truncate[2]")])
            pipeline.committed_pipeline_files(table)
        with self.tr.span("iceberg.added_files", "iceberg", run_id="probe"):
            iceberg.added_files(table, None)
        return table
