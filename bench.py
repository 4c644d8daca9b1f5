"""Benchmark harness (driver contract).

Runs the headline spatial-join + tile-assignment queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ...,
     "images": N, "images_per_sec": ...}

The image table is synthesized distributed (deterministic, no bytes —
the join benchmark measures the join, not PNG encoding) at a row count
proportional to the SF (scaled off lineitem's row count). A separate
image-decode benchmark runs at fixed 20k rows with real bytes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_REPO = os.path.dirname(os.path.abspath(__file__))

# The two dedup lanes run in a FRESH subprocess JVM — the way a real
# spark-submit job gets its own driver JVM — and BEFORE the main-suite
# JVM exists (sharing the box with the live 48 GB suite JVM measured
# 1.63x raw spread vs 1.16x quiet). Measured residual
# (bench/minhash_gc_ab.py + repeated isolated runs, 2026-08-18):
# medians are stable across sessions (minhash 6.7-8.1s, curation
# 10.4-12.3s) but a stray G1 full GC still lands on ~1 repeat in 10,
# wandering between the two lanes (observed 30.9s / 18.9s singletons).
# A 16k Arrow batch removes the tail at a ~13% median cost — not worth
# it; the 5-repeat median absorbs the outlier and the raws stay in the
# JSON. bench/minhash_kernel.py is the load-independent signal.
_DEDUP_RUNNER = '''
import json, sys, time
sys.path.insert(0, %(repo)r)
import bench as _b
from pyspark.sql import functions as F

cpus = int(sys.argv[1])
spark = _b.build_spark(cpus)
spark.sparkContext.setLogLevel("ERROR")
from ksj2gp_spark.operators import dedup as dedup_ops
from ksj2gp_spark.operators.curate import curate_corpus

def synth_docs(n):
    return (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(39)),
                    lambda i: F.substring(
                        F.md5((F.col("id") * 40 + i).cast("string")), 1, 6
                    ),
                ),
            ).alias("text"),
        )
        .repartition(cpus * 2)
    )

docs100k = synth_docs(100_000).cache()
docs100k.count()
# same two-stage warmup protocol as the main suite: small full-width
# pass (fork+JIT), then one untimed full-size pass (heap/shuffle shape)
dedup_ops.minhash_lsh_pairs(synth_docs(2_000 * cpus), threshold=0.5).count()
dedup_ops.minhash_lsh_pairs(docs100k, threshold=0.5).count()
# the curation lane composes extra stages (lang-id pandas UDF, quality
# exprs) whose first full-size run pays Python-worker startup on top of
# the minhash warmup — measured 19.2s cold vs ~11s steady without this
curate_corpus(docs100k, langs=("en", "unknown"))[0].count()

def timed(fn, repeats=5):
    raws = []
    for _ in range(repeats):
        import gc as _gc
        _gc.collect()
        spark._jvm.System.gc()
        t0 = time.time()
        fn()
        raws.append(round(time.time() - t0, 3))
    return sorted(raws)[repeats // 2], raws

m_med, m_raw = timed(
    lambda: dedup_ops.minhash_lsh_pairs(docs100k, threshold=0.5).count()
)
c_med, c_raw = timed(
    lambda: curate_corpus(docs100k, langs=("en", "unknown"))[0].count()
)
print(json.dumps({
    "minhash_lsh_100k": {"median": m_med, "raw": m_raw},
    "corpus_curation_100k": {"median": c_med, "raw": c_raw},
}))
spark.stop()
'''


def run_dedup_lanes_isolated(cpus: int) -> dict:
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _DEDUP_RUNNER % {"repo": _REPO}, str(cpus)],
        capture_output=True,
        text=True,
        check=True,
        cwd=_REPO,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def build_gml_fixtures(n_per: int, n_zips: int) -> str:
    """Deterministic JPGIS-GML ZIP fixtures (xlink'd Surfaces +
    codeSpace'd attributes) for the convert_gml lane and its
    repeat-growth probe (bench/gml_repeat_ab.py)."""
    import io as _io
    import tempfile
    import zipfile as _zipfile

    import numpy as np

    d = tempfile.mkdtemp(prefix="bench_gmlconv_")
    rng = np.random.default_rng(0)
    for z in range(n_zips):
        x0 = rng.uniform(130, 140, n_per)
        y0 = rng.uniform(33, 40, n_per)
        parts = [
            '<?xml version="1.0" encoding="UTF-8"?>\n'
            '<Dataset xmlns:gml="http://www.opengis.net/gml/3.2" '
            'xmlns:xlink="http://www.w3.org/1999/xlink" '
            'xmlns="http://nlftp.mlit.go.jp/ksj/schemas/ksj-app" '
            'gml:id="ds">'
        ]
        for i in range(n_per):
            x, y = x0[i], y0[i]
            pl = (
                f"{y:.6f} {x:.6f} {y:.6f} {x + 0.01:.6f} "
                f"{y + 0.01:.6f} {x + 0.01:.6f} {y:.6f} {x:.6f}"
            )
            parts.append(
                f'<gml:Surface gml:id="sf{i}" srsName="fguuid:jgd2011.bl">'
                f"<gml:patches><gml:PolygonPatch><gml:exterior>"
                f"<gml:LinearRing><gml:posList>{pl}</gml:posList>"
                f"</gml:LinearRing></gml:exterior></gml:PolygonPatch>"
                f"</gml:patches></gml:Surface>"
                f'<AdministrativeBoundary gml:id="ab{i}">'
                f'<bounds xlink:href="#sf{i}"/>'
                f'<administrativeAreaCode codeSpace="AdminAreaCd.xml">'
                f"13{i % 900 + 100:03d}</administrativeAreaCode>"
                f"<name>city{i % 100}</name>"
                f"</AdministrativeBoundary>"
            )
        parts.append("</Dataset>")
        bio = _io.BytesIO()
        with _zipfile.ZipFile(bio, "w") as zf:
            zf.writestr(
                f"d/N03-2024010{z}.xml", "\n".join(parts).encode()
            )
        with open(
            os.path.join(d, f"N03-2024010{z}_13_GML.zip"), "wb"
        ) as f:
            f.write(bio.getvalue())
    return d


def py_worker_rss_mb() -> float:
    """Total RSS (MiB) of THIS session's Python worker processes
    (pyspark.daemon + its forked workers share the daemon cmdline).
    /proc scan, no psutil; scoped by ancestry — a worker's PPID chain
    must reach this process — so another Spark session's daemons on a
    shared box cannot contaminate the reading (monotone RSS growth
    across repeats is the probe's fingerprint for accumulating worker
    heap, and an unrelated job's allocations would fake it). The
    convert_gml repeat-growth probe reads this per repeat."""
    import glob

    me = os.getpid()

    def _ppid(pid: int) -> int:
        # /proc/<pid>/stat field 4; comm (field 2) may contain spaces
        # but is parenthesized — split after the closing paren
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
        return int(st.rsplit(")", 1)[1].split()[1])

    def _is_descendant(pid: int) -> bool:
        for _ in range(32):  # bounded walk; init/orphan → 0/1
            if pid == me:
                return True
            if pid <= 1:
                return False
            pid = _ppid(pid)
        return False

    total_kb = 0
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            pid = int(p.split("/")[2])
            if not _is_descendant(pid):
                continue
            with open(p.replace("cmdline", "status")) as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return round(total_kb / 1024.0, 1)


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ksj2gp-bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        # Measured GC choice (bench/minhash_gc_ab.py, 5-repeat A/B on
        # the GC-bimodal minhash lane): G1 with a 50 ms pause target +
        # 32 MB regions gives median 8-10 s and ≤1.35× per-repeat
        # spread vs default-G1 11 s/2.5× (one 24 s full-GC outlier),
        # ParallelGC 15 s/4.3×, ZGC 14 s/1.4×. Humongous allocations
        # from Arrow batches are what the larger regions absorb.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=50 "
            "-XX:G1HeapRegionSize=32m",
        )
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_images_env = os.environ.get("SPARK_GRAFT_N_IMAGES")

    # The isolated dedup lanes run FIRST, before the main-suite JVM
    # exists: measured (2026-08-18), a subprocess sharing the box with
    # the live 48 GB suite JVM reads 7.9-12.9s raws (1.63x spread, GC
    # + core contention) while the same runner on a quiet box reads
    # 6.5-7.5s (1.16x).
    dedup_lanes = run_dedup_lanes_isolated(cpus)
    # let the dedup JVM's load fully drain before the timed suite —
    # round-5 A/B: a suite started the moment the subprocess exits
    # records loadavg 20+ and 1.5-3x medians on its first lanes
    time.sleep(30)

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.sql import functions as F

    from ksj2gp_spark import fixtures
    from ksj2gp_spark.operators import cells, images as img_ops, spatial

    li_rows = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    sf = round(li_rows / 6_000_000, 4)
    n_images = (
        int(n_images_env) if n_images_env else max(100_000, int(li_rows * 10 / 3))
    )

    imgs = fixtures.images_df(
        spark, n_images, with_bytes=False, partitions=cpus * 2
    ).cache()
    imgs.count()  # materialize outside the timed region
    polys = fixtures.polygon_layer()

    # Warmup: the first full-shape query on a fresh local[N] session pays
    # a large one-off cost (N python workers forking + importing numpy/
    # pandas/pyarrow concurrently → kernel-side contention, plus JVM JIT
    # of the codegen'd join). Run the full pipeline shape twice at small
    # row count but FULL partition count so every worker slot is warm
    # before any timed region starts.
    for _ in range(2):
        warm = fixtures.images_df(
            spark, 4_000 * cpus, with_bytes=False, partitions=cpus * 2
        )
        spatial.spatial_join_tiles(warm, polys, scheme="hex", res=7).count()
    # One full-size pass: the small warmups leave each python worker's
    # allocator pools sized for 2k-row batches; the first full-size
    # batch then pays first-touch page faults for ~MB-scale arrays
    # (measured: 5s vs 0.2s for the same 2M-point kernel call). Run
    # the real shape once so no timed repeat pays it.
    spatial.spatial_join_tiles(
        imgs, polys, scheme="hex", res=7, strategy="fused"
    ).count()

    timings: dict[str, float] = {}
    raw_times: dict[str, list[float]] = {}
    loadavg_start = os.getloadavg()[0]

    def timed(
        name: str,
        fn,
        repeats: int = 3,
        warm: bool = False,
        track_rss: bool = False,
    ):
        """Record the MEDIAN of ``repeats`` runs and keep every raw
        repeat in the JSON — single-JVM local mode has ±2-4× GC/page-
        cache noise on short lanes; a median with visible raw spread
        distinguishes a code regression from box weather (best-of-N
        hid outliers; a single run WAS an outlier, round-2 lesson).
        A Python GC followed by a JVM GC runs before EVERY repeat (not
        just the lane): Python-side DataFrame wrappers pin their JVM
        plans (and thus shuffle/broadcast state) through py4j until
        finalized, so without the Python pass the ContextCleaner can't
        reclaim the previous repeats' shuffle files — measured as
        monotonically growing repeats on late lanes (knn_ocean
        5.3→16.7s in a full run vs a stable 4.3s in isolation), and as
        4× repeat swings on the shuffle-heavy dedup lanes when GC debt
        from repeat k lands in repeat k+1. Per-repeat GC measures each
        repeat's own work; the raw spread stays in the JSON."""

        def _gc_settle():
            try:
                import gc as _gc

                _gc.collect()
                spark._jvm.System.gc()
                time.sleep(0.5)  # ContextCleaner cleanup is async
            except Exception:
                pass

        times = []
        out = None
        if warm:
            # one unrecorded full pass: lanes whose FIRST run through a
            # cold plan (codegen + broadcast build + shuffle-file
            # allocation) dominates show monotone-DECREASING raws
            # (r4: salted_shuffle 11.6/7.9/4.6) — the warm pass makes
            # the recorded repeats measure steady state
            _gc_settle()
            fn()
        rss = []
        for _ in range(repeats):
            _gc_settle()
            t0 = time.time()
            out = fn()
            times.append(round(time.time() - t0, 3))
            if track_rss:
                rss.append(py_worker_rss_mb())
        raw_times[name] = times
        if track_rss:
            # per-repeat Python-worker RSS: monotone growth here names
            # accumulating worker heap as the repeat-growth cause
            raw_times[name + "__worker_rss_mb"] = rss
        # LOW median: with an even repeat count the plain len//2
        # index picks the WORSE of the middle pair — on a shared
        # box the upper tail is load noise, so round down.
        timings[name] = sorted(times)[(len(times) - 1) // 2]
        return out

    # Headline: hex-cell fused (single Arrow pass) spatial join.
    timed(
        "tiles_hex",
        lambda: spatial.spatial_join_tiles(
            imgs, polys, scheme="hex", res=7, strategy="fused"
        )
        .select("image_id", "cell", "admin_code")
        .count(),
    )
    timed(
        "tiles_hex_broadcast_bhj",
        lambda: spatial.spatial_join_tiles(
            imgs, polys, scheme="hex", res=7, strategy="broadcast"
        ).count(),
        warm=True,
        # 5 repeats on the two historically spiky short lanes: the warm
        # pass fixed the monotone-decreasing cold-plan cost, but a
        # single GC/load spike in 3 repeats still lands ON the low
        # median (r5 A/B: salted raws 5.2/10.6/4.8); 5 raws make the
        # median robust to one outlier while keeping the spread visible
        repeats=5,
    )
    timed(
        "tiles_s2",
        lambda: spatial.spatial_join_tiles(
            imgs, polys, scheme="s2", res=12, strategy="fused"
        ).count(),
    )
    timed(
        "tiles_grid",
        lambda: spatial.spatial_join_tiles(imgs, polys, scheme="grid", res=10).count(),
    )

    # Salted shuffle variant (hot-cell handling at scale).
    def salted():
        pts = cells.with_cell(imgs, "grid", 10)
        hot = spatial.find_hot_cells(pts, threshold_ratio=3.0)
        return spatial.spatial_join_tiles(
            imgs, polys, scheme="grid", res=10,
            strategy="shuffle", n_salt=8, hot_cells=hot,
        ).count()

    timed("tiles_grid_salted_shuffle", salted, warm=True, repeats=5)

    # kNN lane for unmatched (ocean) images.
    def knn():
        tiles = spatial.spatial_join_tiles(imgs, polys, scheme="grid", res=10)
        pts = cells.with_cell(imgs, "grid", 10)
        un = spatial.unmatched_images(pts, tiles)
        return spatial.knn_join(un, polys, k=3).count()

    timed("knn_ocean", knn)

    # Fused single-pass assignment + ocean/kNN lane: no anti-join
    # shuffle, no tile recomputation — the scale path for the combined
    # output (row-set equal to tiles ∪ knn(unmatched), see tests).
    timed(
        "assign_or_knn_fused",
        lambda: spatial.fused_assign_or_knn(
            imgs, polys, scheme="grid", res=10, k=3
        ).count(),
    )

    # Conversion lane — the reference's own role (ZIP shapefile →
    # GeoParquet with translation): 8 ZIPs × 20k features ingested
    # distributed and written with bbox covering. Fixture ZIPs are
    # built outside the timed region.
    def build_convert_fixtures(n_per: int, n_zips: int) -> str:
        import io as _io
        import tempfile
        import zipfile as _zipfile

        import numpy as np

        from ksj2gp_spark.formats import dbf as dbf_mod, shp as shp_mod
        from ksj2gp_spark.geo import wkb as _wkb

        d = tempfile.mkdtemp(prefix="bench_convert_")
        rng = np.random.default_rng(0)
        for z in range(n_zips):
            x0 = rng.uniform(130, 140, n_per)
            y0 = rng.uniform(33, 40, n_per)
            geoms = [
                _wkb.loads(
                    _wkb.polygon(
                        [(x, y), (x + 0.01, y), (x + 0.01, y + 0.01), (x, y)]
                    )
                )
                for x, y in zip(x0, y0)
            ]
            shp_buf, shx_buf = shp_mod.write_shp(geoms)
            fields = [
                dbf_mod.DbfField("N03_007", "C", 5),
                dbf_mod.DbfField("N03_004", "C", 10),
            ]
            rows_attr = [
                [f"13{i % 900 + 100:03d}", f"city{i % 100}"]
                for i in range(n_per)
            ]
            bio = _io.BytesIO()
            with _zipfile.ZipFile(bio, "w") as zf:
                zf.writestr("d/admin.shp", shp_buf)
                zf.writestr("d/admin.shx", shx_buf)
                zf.writestr(
                    "d/admin.dbf", dbf_mod.write_dbf(fields, rows_attr, ldid=13)
                )
                zf.writestr(
                    "d/KS-META.xml",
                    "<referenceSystemIdentifier><code>JGD2011 / (B, L)"
                    "</code></referenceSystemIdentifier>".encode("cp932"),
                )
            with open(
                os.path.join(d, f"N03-2024010{z}_13_GML.zip"), "wb"
            ) as f:
                f.write(bio.getvalue())
        return d

    N_PER, N_ZIPS = 20_000, 8
    convert_dir = build_convert_fixtures(N_PER, N_ZIPS)

    def convert_lane():
        from ksj2gp_spark.operators import ingest as ingest_ops
        from ksj2gp_spark.sinks import geoparquet as gp_sink

        ingested = ingest_ops.ingest_zips(
            spark, os.path.join(convert_dir, "*.zip")
        )
        good = ingested.filter(F.col("error").isNull())
        gp_sink.write_geoparquet(
            good.drop("error"), os.path.join(convert_dir, "out.parquet")
        )
        n_out = spark.read.parquet(
            os.path.join(convert_dir, "out.parquet")
        ).count()
        assert n_out == N_PER * N_ZIPS, n_out
        return n_out

    timed("convert_160k_features", convert_lane)

    # GML conversion lane — same shape as convert_160k_features but the
    # ZIPs carry JPGIS-GML members (xlink'd Surfaces + codeSpace'd
    # attributes) instead of shapefiles: ingest_zips(source="gml") →
    # GeoParquet. Fixture ZIPs built outside the timed region
    # (build_gml_fixtures at module scope — bench/gml_repeat_ab.py
    # reuses it for the quiet repeat-growth A/B).
    gml_dir = build_gml_fixtures(N_PER, N_ZIPS)

    def convert_gml_lane():
        from ksj2gp_spark.operators import ingest as ingest_ops
        from ksj2gp_spark.sinks import geoparquet as gp_sink

        ingested = ingest_ops.ingest_zips(
            spark, os.path.join(gml_dir, "*.zip"), source="gml"
        )
        good = ingested.filter(F.col("error").isNull())
        gp_sink.write_geoparquet(
            good.drop("error"), os.path.join(gml_dir, "out.parquet")
        )
        n_out = spark.read.parquet(
            os.path.join(gml_dir, "out.parquet")
        ).count()
        assert n_out == N_PER * N_ZIPS, n_out
        return n_out

    # warm=True: the lane's first run is ~2.5× steady state (codegen +
    # python-worker ElementTree import); the quiet A/B
    # (bench/gml_repeat_ab.py, BASELINE.md round 5) shows flat ~5s
    # post-warmup repeats — r4's monotone growth was load contamination
    timed(
        "convert_gml_160k_features",
        convert_gml_lane,
        warm=True,
        track_rss=True,
    )

    # Raster↔vector round trip at res 18 (~2M cells over the layer
    # bbox): rasterize is pure Catalyst (range crossJoin + broadcast
    # bbox join), vectorize is the searchsorted boundary-tracing
    # applyInPandas per admin.
    def raster_roundtrip():
        from ksj2gp_spark.geo import wkb as _wkb
        from ksj2gp_spark.operators import raster as raster_ops

        res = 18
        size = 360.0 / (1 << res)
        import numpy as np

        rows = []
        for _, r in polys.iterrows():
            minx, miny, maxx, maxy = _wkb.loads(r["geometry"]).bounds()
            rows.append((r["polygon_id"], r["行政区域コード"], minx, miny, maxx, maxy))
        pl = spark.createDataFrame(
            rows,
            "polygon_id string, admin_code string, "
            "xmin double, ymin double, xmax double, ymax double",
        )
        i0 = int(np.floor((fixtures.LON0 + 180.0) / size))
        i1 = int(np.floor((fixtures.LON1 + 180.0) / size))
        j0 = int(np.floor((fixtures.LAT0 + 90.0) / size))
        j1 = int(np.floor((fixtures.LAT1 + 90.0) / size))
        cells_df = (
            spark.range(i0, i1 + 1).select(F.col("id").alias("i"))
            .crossJoin(spark.range(j0, j1 + 1).select(F.col("id").alias("j")))
            .select(
                (F.lit(res) * F.lit(1 << 58) + F.col("i") * F.lit(1 << 29) + F.col("j")).alias("cell"),
                ((F.col("i") + F.lit(0.5)) * F.lit(size) - F.lit(180.0)).alias("cx"),
                ((F.col("j") + F.lit(0.5)) * F.lit(size) - F.lit(90.0)).alias("cy"),
            )
        )
        ras = cells_df.join(
            F.broadcast(pl),
            (F.col("cx") >= F.col("xmin")) & (F.col("cx") <= F.col("xmax"))
            & (F.col("cy") >= F.col("ymin")) & (F.col("cy") <= F.col("ymax")),
        ).select("cell", "admin_code")
        vec = raster_ops.vectorize_cells(ras, res)
        return vec.agg(
            F.round(F.sum("area_cells")).cast("long").alias("n_cells")
        ).collect()[0]["n_cells"]

    timed("raster_roundtrip_2m", raster_roundtrip)

    # Image lane: decode + verify + phash at fixed 20k rows (real bytes).
    imgs_bytes = fixtures.images_df(
        spark, 20_000, with_bytes=True, partitions=cpus
    )
    timed(
        "decode_verify_20k",
        lambda: img_ops.decode_verify(imgs_bytes)
        .agg(F.sum(F.col("phash_match").cast("int")))
        .collect(),
    )

    # Dedup lanes: MinHash+LSH pair generation and the composed
    # curation pipeline over a 100k-doc synthetic corpus, measured in
    # a FRESH subprocess JVM (see _DEDUP_RUNNER above for the measured
    # rationale: fresh-JVM repeats are 5/5 stable; the shared suite
    # JVM still lands a stray full GC on ~1 repeat in 5). Same session
    # configs, same warmup protocol, 5 repeats, medians + raws merged
    # into the one JSON line like every in-process lane.
    for lane_name, lane in dedup_lanes.items():
        timings[lane_name] = lane["median"]
        raw_times[lane_name] = lane["raw"]

    # Sequence packing at 5M docs (metadata-only): the distributed
    # prefix sum — one range shuffle + a vectorized Arrow cumsum pass.
    def seq_pack_lane():
        from ksj2gp_spark.operators.pack import pack_sequences

        docs5m = spark.range(5_000_000).select(
            F.col("id").alias("doc_id"),
            (F.lit(16) + (F.col("id") * 7) % 1000).alias("n_tokens"),
        )
        out = pack_sequences(docs5m, budget=4096, num_partitions=cpus * 2)
        res = out.agg(F.max("seq_id")).collect()
        # free the correctness-persist AFTER materializing (unpersist
        # first would re-sample the range boundaries out from under
        # the computed offsets)
        out._pack_source.unpersist()
        return res

    # warm=True + 5 repeats: the lane is short (quiet fresh-JVM steady
    # state 1.7-2.0s) and runs right after the dedup-subprocess drain,
    # where a single page-cache/GC spike lands ON the median with 3
    # unwarmed repeats (r5 close raws 4.3/2.6/5.9) — same protocol as
    # the two spiky tile lanes.
    timed("seq_pack_5m", seq_pack_lane, warm=True, repeats=5)

    # Fused assignment at 20k-polygon cardinality: the ocean lane runs
    # the edge index's bound-pruned kNN over STR leaves (no dense
    # points×polygons matrix).
    def fused_large_layer():
        import numpy as np

        from ksj2gp_spark.geo import wkb as _wkb

        rs = np.random.default_rng(7)
        NPOLY = 20_000
        x = rs.uniform(129.5, 144.5, NPOLY)
        y = rs.uniform(31.0, 44.5, NPOLY)
        w = rs.uniform(0.002, 0.02, NPOLY)
        h = rs.uniform(0.002, 0.02, NPOLY)
        import pandas as pd

        polys20k = pd.DataFrame(
            {
                "polygon_id": [f"pg{i:06d}" for i in range(NPOLY)],
                "行政区域コード": [f"{10000 + i}" for i in range(NPOLY)],
                "geometry": [
                    _wkb.polygon(
                        [(a, b), (a + c, b), (a + c, b + d), (a, b + d), (a, b)]
                    )
                    for a, b, c, d in zip(x, y, w, h)
                ],
            }
        )
        probe = fixtures.images_df(
            spark, 300_000, with_bytes=False, partitions=cpus * 2
        )
        return spatial.fused_assign_or_knn(
            probe, polys20k, scheme="grid", res=10, k=3
        ).count()

    timed("fused_20k_polygons_300k_pts", fused_large_layer)

    # Cache hygiene between lane groups: the image fixture is done —
    # drop it before the relational lanes so no lane competes with
    # stale cached blocks for executor memory (the doc corpus lives in
    # the dedup subprocess and died with it).
    imgs.unpersist()

    # Relational operators at SF scale.
    import __spark_entry__ as entry_mod

    for name in ("lineitem_pricing", "top_orders", "events_tumbling"):
        q = entry_mod.queries()[name]
        timed(name, lambda q=q: q(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    headline = timings["tiles_hex"]
    print(
        json.dumps(
            {
                "metric": "spatial_join_tile_assignment",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # raw per-repeat wall times (median is what "queries"
                # reports): outliers are visible, not hidden
                "raw_sec": raw_times,
                # load context: 1-min load average at start/end of the
                # timed region, so a noisy-box run is identifiable
                "loadavg_1m": [
                    round(loadavg_start, 2),
                    round(os.getloadavg()[0], 2),
                ],
                "timing": "median",
                "sf": sf,
                "cpus": cpus,
                "images": n_images,
                "images_per_sec": round(n_images / headline, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
