"""Iceberg-style table layer: append-only snapshots, time travel,
manifest pruning, crash-safe commits (sinks/iceberg.py)."""

import json
import os

import numpy as np

import pytest
from pyspark.sql import functions as F

from ksj2gp_spark.sinks import iceberg


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df1 = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    s1 = iceberg.append(df1, path)
    df2 = spark.range(100, 250).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    s2 = iceberg.append(df2, path)
    return path, s1, s2


def test_append_and_read_current(spark, table):
    path, s1, s2 = table
    assert (s1, s2) == (1, 2)
    assert iceberg.read(spark, path).count() == 250
    hist = iceberg.history(path)
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert hist[1]["parent_snapshot_id"] == 1
    assert hist[1]["summary"]["total_rows"] == 250


def test_time_travel_reads_older_snapshot(spark, table):
    path, s1, s2 = table
    assert iceberg.read(spark, path, snapshot_id=s1).count() == 100
    assert iceberg.read(spark, path, snapshot_id=s2).count() == 250


def test_manifest_pruning_skips_files(spark, tmp_path):
    path = str(tmp_path / "pruned")
    # 4 appends with disjoint id ranges → disjoint file stats
    for lo in (0, 1000, 2000, 3000):
        df = spark.range(lo, lo + 1000).repartition(2)
        iceberg.append(df, path)
    full, info_full = iceberg.scan(spark, path)
    assert info_full["files_read"] == info_full["files_total"]
    df, info = iceberg.scan(spark, path, bounds={"id": (2100, 2200)})
    assert info["files_read"] < info["files_total"]
    # residual predicate on the pruned scan gives the exact answer
    assert df.filter((F.col("id") >= 2100) & (F.col("id") <= 2200)).count() == 101
    # empty-range scan returns schema-only frame
    edf, einfo = iceberg.scan(spark, path, bounds={"id": (10**9, 2 * 10**9)})
    assert einfo["files_read"] == 0 and edf.count() == 0


def test_crashed_commit_invisible(spark, table):
    """Data+manifest written but hint not swapped → readers see the old
    snapshot (the commit point is the atomic hint rename)."""
    path, _, s2 = table
    v_before = iceberg.current_version(path)
    # simulate a crash: write orphan data + manifest + metadata but no hint
    orphan_dir = os.path.join(path, "data", "snap-99")
    spark.range(0, 5).write.parquet(orphan_dir)
    with open(os.path.join(path, "metadata", "snap-99.json"), "w") as f:
        json.dump({"snapshot_id": 99, "files": []}, f)
    with open(
        os.path.join(path, "metadata", f"v{v_before + 1}.metadata.json"), "w"
    ) as f:
        json.dump({"current_snapshot_id": 99, "snapshots": []}, f)
    assert iceberg.current_version(path) == v_before
    assert iceberg.read(spark, path).count() == 250
    # next real commit lands cleanly on top
    iceberg.append(spark.range(0, 3).select(F.col("id"), F.lit(1).alias("bucket")), path)
    assert iceberg.read(spark, path).count() == 253


def test_expire_snapshots_keeps_shared_files(spark, table):
    path, s1, s2 = table
    files = [f["path"] for f in iceberg._live_files(path)]
    out = iceberg.expire_snapshots(path, keep_last=1)
    assert out["expired"] == [s1]
    # s1's files are shared with s2 (append-only) → every file stays
    assert all(os.path.exists(os.path.join(path, f)) for f in files)
    assert iceberg.read(spark, path).count() == 250
    with pytest.raises(iceberg.CommitError):
        iceberg.read(spark, path, snapshot_id=s1)


def test_images_table_roundtrip(spark, tmp_path):
    """input_hint shape stored and read back through the table layer."""
    from ksj2gp_spark import fixtures

    path = str(tmp_path / "images_tbl")
    imgs = fixtures.images_df(spark, 200, with_bytes=True)
    iceberg.append(imgs, path)
    back = iceberg.read(spark, path)
    assert back.count() == 200
    assert dict(back.dtypes)["bytes"] == "binary"
    assert dict(back.dtypes)["phash"] == "bigint"


def test_schema_evolution_add_column(spark, tmp_path):
    """Appending with an added column: old files read as null for the
    new column (Iceberg add-column semantics)."""
    path = str(tmp_path / "evolve")
    iceberg.append(spark.range(0, 50).select(F.col("id")), path)
    iceberg.append(
        spark.range(50, 80).select(F.col("id"), (F.col("id") * 2).alias("extra")),
        path,
    )
    df = iceberg.read(spark, path)
    assert set(df.columns) == {"id", "extra"}
    assert df.count() == 80
    assert df.filter(F.col("extra").isNull()).count() == 50
    # current metadata records the evolved schema
    meta = iceberg._load_metadata(path)
    names = {f["name"] for f in meta["schema"]["fields"]}
    assert names == {"id", "extra"}


def test_concurrent_appends_lose_cleanly_never_silently(spark, tmp_path):
    """Two threads race 4 appends each with retry-on-CommitError: every
    batch must land exactly once (no lost updates, no duplicates)."""
    import threading
    import time as _t

    path = str(tmp_path / "conc_tbl")
    iceberg.append(spark.range(0, 10).select(F.col("id")), path)
    errors = []

    def writer(wid: int):
        for i in range(4):
            lo = 1000 * (wid + 1) + i * 100
            df = spark.range(lo, lo + 50).select(F.col("id"))
            for _attempt in range(30):
                try:
                    iceberg.append(df, path)
                    break
                except iceberg.CommitError:
                    _t.sleep(0.03)
            else:
                errors.append((wid, i))

    ts = [threading.Thread(target=writer, args=(w,)) for w in (0, 1)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert errors == []
    got = iceberg.read(spark, path)
    assert got.count() == 10 + 2 * 4 * 50
    assert got.select("id").distinct().count() == got.count()
    # stale-lock takeover: a dead writer's lock doesn't wedge the table
    lock = os.path.join(path, "metadata", "commit.lock")
    with open(lock, "w") as f:
        f.write("999999")
    os.utime(lock, (1, 1))  # ancient
    iceberg.append(spark.range(0, 5).select((F.col("id") + 10**6).alias("id")), path)
    assert iceberg.read(spark, path).count() == 415


def test_live_holders_lock_is_never_stolen(spark, tmp_path):
    """A lock whose recorded pid is ALIVE must not be taken over, even
    with an ancient mtime — a >stale_sec data write is a slow commit,
    not a crashed one (the old mtime-only rule stole it and the
    usurper's overwrite corrupted the slow writer's snapshot dir)."""
    path = str(tmp_path / "tbl_live")
    iceberg.append(spark.range(0, 10).select(F.col("id")), path)
    lock = os.path.join(path, "metadata", "commit.lock")
    with open(lock, "w") as f:
        f.write(f"{os.getpid()}:0:0")  # alive pid (our own), fake token
    os.utime(lock, (1, 1))  # ancient mtime
    with pytest.raises(iceberg.CommitError, match="timeout"):
        iceberg._acquire_commit_lock(
            os.path.join(path, "metadata"), timeout=0.5
        )
    os.remove(lock)


def test_heartbeat_keeps_slow_commit_lock_fresh(tmp_path):
    """The lease heartbeat refreshes the lock mtime, so a commit whose
    data write outlives stale_sec no longer looks stale to waiters."""
    import time as _t

    meta_dir = str(tmp_path / "meta")
    os.makedirs(meta_dir)
    lease = iceberg._acquire_commit_lock(meta_dir, stale_sec=0.4)
    try:
        os.utime(lease.lock, (1, 1))  # simulate an old mtime
        # poll: under CPU contention the heartbeat thread can be
        # scheduled late — the invariant is that it fires, not that it
        # fires within one interval of wall time
        deadline = _t.time() + 10.0
        while _t.time() < deadline and os.path.getmtime(lease.lock) < 1000:
            _t.sleep(0.05)
        assert os.path.getmtime(lease.lock) > 1000  # heartbeat touched it
        lease.verify()  # still ours
    finally:
        lease.release()
    assert not os.path.exists(lease.lock)


def test_usurped_writer_aborts_at_commit_point(tmp_path):
    """If the lock is stolen mid-commit, verify() (called before the
    hint swap) raises instead of clobbering the usurper's commit."""
    meta_dir = str(tmp_path / "meta")
    os.makedirs(meta_dir)
    lease = iceberg._acquire_commit_lock(meta_dir)
    with open(lease.lock, "w") as f:
        f.write("some-other-writers-token")
    with pytest.raises(iceberg.CommitError, match="ownership lost"):
        lease.verify()
    # release must NOT delete a lock that is no longer ours
    lease.release()
    assert os.path.exists(lease.lock)
    os.remove(lease.lock)


def test_admin_ops_serialize_with_commits(spark, tmp_path):
    """expire_snapshots goes through the same commit lock and O_EXCL
    version claim as appends: racing writers can no longer overwrite
    each other's metadata version or lose a hint swap."""
    import threading

    path = str(tmp_path / "tbl_admin")
    iceberg.append(spark.range(0, 10).select(F.col("id")), path)
    iceberg.append(spark.range(10, 20).select(F.col("id")), path)

    # hold the commit lock in this thread; expire_snapshots must block
    # until released rather than publishing concurrently
    lease = iceberg._acquire_commit_lock(os.path.join(path, "metadata"))
    done = []

    def do_expire():
        done.append(iceberg.expire_snapshots(path, keep_last=1))

    t = threading.Thread(target=do_expire)
    t.start()
    t.join(0.4)
    assert not done, "expire_snapshots ran while the commit lock was held"
    lease.release()
    t.join(10)
    assert done == [{"expired": [1]}]
    assert [h["snapshot_id"] for h in iceberg.history(path)] == [2]
    assert iceberg.read(spark, path).count() == 20


class TestPartitionedTables:
    """Iceberg-style partition specs: identity + hidden truncate."""

    def _tiles(self, spark, n=40):
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame(
                {
                    "image_id": [f"img{i:05d}" for i in range(n)],
                    "admin_code": [f"{13 + i % 4:02d}{101 + i:03d}"
                                   for i in range(n)],
                    "v": np.arange(n, dtype=np.int64),
                }
            )
        )

    def test_identity_partition_roundtrip_and_pruning(self, spark, tmp_path):
        from ksj2gp_spark.sinks import iceberg as I

        t = str(tmp_path / "t1")
        df = self._tiles(spark).withColumn(
            "pref", F.substring("admin_code", 1, 2)
        )
        I.append(df, t, partition_by=["pref"])
        got = I.read(spark, t).toPandas().sort_values("image_id")
        want = df.toPandas().sort_values("image_id")
        assert sorted(got.columns) == sorted(want.columns)
        for c in want.columns:
            assert list(got[c]) == list(want[c]), c
        # manifest carries typed partition values; files live in hive dirs
        files = I._live_files(t)
        assert all("pref=" in f["path"] for f in files)
        assert all(f["partition"]["pref"] in {"13", "14", "15", "16"}
                   for f in files)
        # partition-value pruning: one prefecture reads < all files
        _, info = I.scan(spark, t, bounds={"pref": ("13", "13")})
        assert info["files_read"] < info["files_total"]
        sdf, _ = I.scan(spark, t, bounds={"pref": ("13", "13")})
        assert set(sdf.toPandas()["pref"]) == {"13"}

    def test_many_partition_read_path_matches_group_path(
        self, spark, tmp_path
    ):
        """>32 identity partitions flips _read_files to the single-scan
        input_file_name() path (O(1) plan size); values, types, and
        null partitions must match the constant-column group path."""
        import pandas as pd

        from ksj2gp_spark.sinks import iceberg as I

        t = str(tmp_path / "tmany")
        n = 120  # 40 distinct buckets > the 32-group threshold
        df = spark.createDataFrame(
            [
                (
                    f"img{i:05d}",
                    None if i % 40 == 7 else (i % 40),
                    i,
                )
                for i in range(n)
            ],
            "image_id string, bucket long, v long",
        )
        I.append(df, t, partition_by=["bucket"])
        assert len({
            tuple(f["partition"].items()) for f in I._live_files(t)
        }) == 40
        got = I.read(spark, t).toPandas().sort_values("image_id")
        want = df.toPandas().sort_values("image_id")
        assert sorted(got.columns) == sorted(want.columns)
        for c in want.columns:
            a, b = list(got[c]), list(want[c])
            assert len(a) == len(b)
            for x, y in zip(a, b):
                assert (pd.isna(x) and pd.isna(y)) or x == y, c
        assert got["bucket"].dtype == want["bucket"].dtype
        # narrow scan still takes the group path and prunes
        _, info = I.scan(spark, t, bounds={"bucket": (3, 3)})
        assert info["files_read"] < info["files_total"]

    def test_hidden_truncate_partition(self, spark, tmp_path):
        from ksj2gp_spark.sinks import iceberg as I

        t = str(tmp_path / "t2")
        df = self._tiles(spark)
        I.append(df, t, partition_by=[("admin_code", "truncate[2]")])
        got = I.read(spark, t)
        # hidden: the derived dir column never surfaces to readers
        assert sorted(got.columns) == sorted(df.columns)
        assert got.count() == 40
        files = I._live_files(t)
        assert all("admin_code_trunc2=" in f["path"] for f in files)
        # equality bounds on the SOURCE column prune via the prefix
        _, info = I.scan(
            spark, t, bounds={"admin_code": ("13101", "13101")}
        )
        assert info["files_read"] < info["files_total"]

    def test_spec_is_sticky_and_enforced(self, spark, tmp_path):
        import pytest as _pytest

        from ksj2gp_spark.sinks import iceberg as I

        t = str(tmp_path / "t3")
        df = self._tiles(spark).withColumn(
            "pref", F.substring("admin_code", 1, 2)
        )
        I.append(df, t, partition_by=["pref"])
        # plain append inherits the spec (files still partitioned)
        I.append(df, t)
        assert all("pref=" in f["path"] for f in I._live_files(t))
        assert I.read(spark, t).count() == 80
        with _pytest.raises(I.CommitError):
            I.append(df, t, partition_by=["admin_code"])

    def test_added_column_read_on_partitioned_table(self, spark, tmp_path):
        from ksj2gp_spark.sinks import iceberg as I

        t = str(tmp_path / "t5")
        df = self._tiles(spark, 20).withColumn(
            "pref", F.substring("admin_code", 1, 2)
        )
        I.append(df, t, partition_by=["pref"])
        I.append(df.withColumn("extra", F.lit(7)), t)
        got = I.read(spark, t).toPandas()
        assert len(got) == 40
        assert set(got["pref"]) == {"13", "14", "15", "16"}
        assert got["extra"].isna().sum() == 20


def test_pipeline_rejects_identity_partitioned_image_table(
    spark, tmp_path
):
    import pandas as pd

    from ksj2gp_spark import fixtures, pipeline as P

    t = str(tmp_path / "img_tbl")
    df = (
        fixtures.images_df(spark, 50, with_bytes=False)
        .drop("bytes")
        .withColumn("pref", F.substring("image_id", 1, 3))
    )
    iceberg.append(df, t, partition_by=["pref"])
    with pytest.raises(ValueError, match="identity-partitioned"):
        P.run_tile_pipeline(
            spark, t, fixtures.polygon_layer(), str(tmp_path / "out"),
            scheme="grid", res=10, n_chunks=2,
        )


def test_spec_adoption_on_nonempty_table_refused(spark, tmp_path):
    """Introducing a partition spec on a table that already holds
    unpartitioned files must fail: those files carry no partition
    values and would become unreadable."""
    import pandas as pd

    t = str(tmp_path / "adopt_tbl")
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["aa", "ab"], "v": [1, 2]})
    )
    iceberg.append(df, t)  # unpartitioned
    with pytest.raises(iceberg.CommitError, match="cannot introduce"):
        iceberg.append(df, t, partition_by=["k"])


def test_date_identity_partition_prunes_and_merges(spark, tmp_path):
    """Date-typed identity partitions: bounds from Spark aggregates
    are datetime.date; pruning must not TypeError against the ISO
    strings the JSON manifest stores, and values round-trip."""
    import datetime as dt

    import pandas as pd

    t = str(tmp_path / "date_tbl")
    rows = pd.DataFrame(
        {
            "d": [dt.date(2024, 1, 1)] * 3 + [dt.date(2024, 2, 1)] * 3,
            "v": list(range(6)),
        }
    )
    iceberg.append(spark.createDataFrame(rows), t, partition_by=["d"])
    got = iceberg.read(spark, t).toPandas()
    assert set(got["d"]) == {dt.date(2024, 1, 1), dt.date(2024, 2, 1)}
    _, info = iceberg.scan(
        spark, t, bounds={"d": (dt.date(2024, 2, 1), dt.date(2024, 2, 28))}
    )
    assert info["files_read"] < info["files_total"]


# -- round-4 advisor findings: schema-evolution safety + exactly-once
# state surviving snapshot expiration ---------------------------------


def test_evolve_rejects_incompatible_type_change(spark, tmp_path):
    """A frame carrying a non-promotable type for a known column must
    fail the COMMIT, not silently rewrite the table schema (which
    would NULL older files' values on read)."""
    t = str(tmp_path / "evolve_bad")
    iceberg.append(
        spark.range(0, 10).select(F.col("id"), F.col("id").alias("v")), t
    )
    with pytest.raises(iceberg.CommitError, match="incompatible type"):
        iceberg.append(
            spark.range(10, 20).select(
                F.col("id"), F.col("id").cast("string").alias("v")
            ),
            t,
        )
    # the failed commit left no snapshot and no schema change
    assert iceberg.read(spark, t).count() == 10
    assert dict(iceberg.read(spark, t).dtypes)["v"] == "bigint"


def test_evolve_promotes_int_to_long_and_keeps_wider_type(spark, tmp_path):
    """int→long is a safe promotion: the table widens, and the read
    surfaces one consistent bigint column across mixed-era files.
    A later narrower (int) write keeps the table's wider type."""
    t = str(tmp_path / "evolve_ok")
    iceberg.append(
        spark.range(0, 5).select(
            F.col("id"), F.col("id").cast("int").alias("v")
        ),
        t,
    )
    iceberg.append(
        spark.range(5, 8).select(
            F.col("id"), F.col("id").cast("bigint").alias("v")
        ),
        t,
    )
    df = iceberg.read(spark, t)
    assert dict(df.dtypes)["v"] == "bigint"
    assert sorted(r.v for r in df.collect()) == list(range(8))
    # narrower write after promotion: values land, type stays bigint
    iceberg.append(
        spark.range(8, 9).select(
            F.col("id"), F.col("id").cast("int").alias("v")
        ),
        t,
    )
    df = iceberg.read(spark, t)
    assert dict(df.dtypes)["v"] == "bigint"
    assert df.count() == 9


def test_expire_carries_pipeline_ledger_forward(spark, tmp_path):
    """The tile pipeline's source-file ledger lives in snapshot
    summaries; expiration folds it into table metadata so resume never
    reprocesses files whose snapshot was expired."""
    from ksj2gp_spark import pipeline as pmod

    t = str(tmp_path / "exp_pipe")
    df = spark.range(0, 4).select(F.col("id"))
    iceberg.append(
        df, t,
        summary_extra={
            "pipeline_files": ["data/f1.parquet", "data/f2.parquet"],
        },
    )
    iceberg.append(df, t)
    iceberg.expire_snapshots(t, keep_last=1)
    assert pmod.committed_pipeline_files(t) == {
        "data/f1.parquet", "data/f2.parquet"
    }
