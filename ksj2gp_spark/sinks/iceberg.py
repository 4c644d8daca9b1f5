"""Iceberg-style table layer: snapshot/manifest metadata over parquet.

The north_rule mandates operating "over Iceberg tables of image +
caption pairs". No Iceberg runtime jar ships in this environment, so
this module implements the Iceberg *table format contract* directly on
the filesystem — the same metadata architecture, scoped to what the
engine needs:

* **Snapshot isolation + atomic commits.** Data files are immutable;
  a commit writes data first, then the snapshot manifest, then a new
  ``v{N}.metadata.json``, and finally swaps ``version-hint.text`` via
  atomic rename. Readers resolve the hint → metadata → manifest → file
  list, so a crashed writer can never corrupt a readable table.
* **Append-only snapshots and time travel.** A commit only adds data
  files, so every snapshot's file list extends its parent's; each
  snapshot keeps its parent id, and ``read(..., snapshot_id=...)``
  reads any retained snapshot.
* **File-level stats pruning.** Each manifest records per-file row
  counts and per-column min/max taken from the parquet footers;
  ``scan`` prunes files by those stats before Spark ever opens them —
  Iceberg's manifest-filtering behavior, and the mechanism that makes
  bbox/cell range scans cheap at 100 TB (entire files skipped, not
  just row groups).

Layout::

    table/
      metadata/version-hint.text      # current metadata version
      metadata/v{N}.metadata.json     # schema + snapshot log + current id
      metadata/snap-{id}.json         # manifest: data files + stats
      data/snap-{id}/part-*.parquet   # immutable data files (hive
      data/snap-{id}/k=v/part-*.parquet # key=value dirs when a
                                        # partition spec is set)

On a real cluster the same protocol works on any atomic-rename store
(HDFS); for S3-class stores the hint swap would go through a catalog
service — the reader/writer contract here is unchanged.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

FORMAT_VERSION = 2


class CommitError(RuntimeError):
    pass


# --- schema evolution ----------------------------------------------------
#
# An append may add columns (a fresh field id each; files that predate a
# column read it as null) and widen a column's type (int→long,
# float→double). Columns are never renamed or dropped, so a data file's
# column names always match the table schema and reads are name-based.
# The table metadata carries ``fields`` ([{id, name, type}]) +
# ``last_column_id``.


def _fields_from_spark_schema(schema_json: dict, start_id: int = 0):
    """Assign ids in field order — used for legacy tables (pre-
    evolution metadata) and first commits."""
    fields = []
    next_id = start_id
    for f in schema_json["fields"]:
        next_id += 1
        fields.append(
            {"id": next_id, "name": f["name"], "type": f["type"]}
        )
    return fields, next_id


# The only type rewrites an append may apply to a known column —
# Iceberg's safe-promotion set (v2 spec §Schema Evolution): widening
# only, so values in already-committed files stay exactly
# representable under the new type.
_SAFE_PROMOTIONS = {("integer", "long"), ("float", "double")}


def _evolve_fields(
    parent_fields: list[dict] | None,
    last_column_id: int,
    df_schema_json: dict,
) -> tuple[list[dict], int]:
    """Reconcile an incoming DataFrame schema with the table schema:
    names already in the table keep their field id, unseen names are
    appended with fresh ids. Columns the frame lacks stay in the table
    schema — files simply don't carry them and read as null.

    Type changes follow Iceberg's safe-promotion rule: the table type
    widens on int→long / float→double, a NARROWER incoming type keeps
    the table's wider type (the file's values cast up losslessly on
    read), and any other mismatch (string vs long, struct shape
    change, ...) raises CommitError — silently rewriting the table
    type would turn older files' non-castable values into NULLs."""
    if parent_fields is None:
        return _fields_from_spark_schema(df_schema_json)
    by_name = {f["name"]: f for f in parent_fields}
    fields = [dict(f) for f in parent_fields]
    next_id = last_column_id
    for f in df_schema_json["fields"]:
        known = by_name.get(f["name"])
        if known is not None:
            have, want = known["type"], f["type"]
            if have == want:
                continue
            if (have, want) in _SAFE_PROMOTIONS:
                for out in fields:
                    if out["id"] == known["id"]:
                        out["type"] = want
            elif (want, have) in _SAFE_PROMOTIONS:
                pass  # narrower write into a wider column: keep table type
            else:
                raise CommitError(
                    f"incompatible type change for column "
                    f"{f['name']!r}: table has {have!r}, incoming "
                    f"frame has {want!r} (only int->long and "
                    f"float->double promotions are allowed; cast the "
                    f"frame or add a new column)"
                )
        else:
            next_id += 1
            fields.append(
                {"id": next_id, "name": f["name"], "type": f["type"]}
            )
    return fields, next_id


def _table_fields(meta: dict) -> tuple[list[dict], int]:
    """Current fields + last id, deriving them for legacy metadata."""
    if "fields" in meta:
        return meta["fields"], meta["last_column_id"]
    return _fields_from_spark_schema(meta["schema"])


def _spark_schema_of(fields: list[dict]) -> dict:
    return {
        "type": "struct",
        "fields": [
            {
                "name": f["name"],
                "type": f["type"],
                "nullable": True,
                "metadata": {},
            }
            for f in fields
        ],
    }


def _meta_dir(path: str) -> str:
    return os.path.join(path, "metadata")


def _hint_path(path: str) -> str:
    return os.path.join(_meta_dir(path), "version-hint.text")


def current_version(path: str) -> int:
    """0 when the table doesn't exist yet."""
    try:
        with open(_hint_path(path)) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return 0


def _load_metadata(path: str, version: int | None = None) -> dict:
    v = version if version is not None else current_version(path)
    if v == 0:
        raise FileNotFoundError(f"no iceberg-style table at {path}")
    with open(os.path.join(_meta_dir(path), f"v{v}.metadata.json")) as f:
        return json.load(f)


def _load_manifest(path: str, snapshot_id: int) -> dict:
    with open(os.path.join(_meta_dir(path), f"snap-{snapshot_id}.json")) as f:
        return json.load(f)


def _file_stats(file_path: str) -> dict:
    """Row count + per-column min/max from the parquet footer (scalar
    columns only — the stats that drive manifest pruning)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file_path).metadata
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            name = col.path_in_schema
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue  # binary stats are not order-meaningful here
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi

    def _jsonable(d):
        return {
            k: (v.isoformat() if hasattr(v, "isoformat") else v)
            for k, v in d.items()
        }

    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(file_path),
        "min": _jsonable(mins),
        "max": _jsonable(maxs),
    }


# --- partition spec (Iceberg-style, identity + hidden truncate) -----

_PARTITION_TYPES = {"string", "integer", "long", "boolean", "date"}


def _spec_of(meta: dict | None) -> list[dict]:
    return (meta or {}).get("partition_spec") or []


def _normalize_spec(partition_by, df: DataFrame) -> list[dict]:
    """Accepts ["col", ("col", "truncate[2]"), ...] → spec entries
    {name, transform, type}. Identity partitions are restricted to
    order-safe scalar types (their values round-trip through hive
    directory names); truncate[N] is string-only and HIDDEN — the
    derived prefix column exists only in the directory layout, like
    Iceberg's hidden partitioning, so readers never see it."""
    spec = []
    dtypes = dict(df.dtypes)
    for p in partition_by:
        name, transform = (p, "identity") if isinstance(p, str) else p
        if name not in dtypes:
            raise CommitError(f"partition column {name!r} not in schema")
        t = dtypes[name]
        t = {"int": "integer", "bigint": "long"}.get(t, t)
        if transform == "identity":
            if t not in _PARTITION_TYPES:
                raise CommitError(
                    f"identity partition on type {t!r} unsupported"
                )
        elif re.fullmatch(r"truncate\[\d+\]", transform):
            if t != "string":
                raise CommitError("truncate partitions require strings")
        else:
            raise CommitError(f"unknown partition transform {transform!r}")
        spec.append({"name": name, "transform": transform, "type": t})
    return spec


def _truncate_width(s: dict) -> int:
    return int(
        re.fullmatch(r"truncate\[(\d+)\]", s["transform"]).group(1)
    )


def _hidden_partition_column(s: dict):
    """Directory-column name + Spark expression for a hidden transform."""
    from pyspark.sql import functions as F

    w = _truncate_width(s)
    return f"{s['name']}_trunc{w}", F.substring(F.col(s["name"]), 1, w)


def _partition_dir_col(s: dict) -> str:
    if s["transform"] == "identity":
        return s["name"]
    return _hidden_partition_column(s)[0]


def _coerce_partition_value(raw: str | None, s: dict):
    if raw is None:
        return None
    if s["transform"] != "identity":
        return raw  # hidden dir values stay strings
    t = s["type"]
    if t in ("integer", "long"):
        return int(raw)
    if t == "boolean":
        return raw.lower() == "true"
    return raw  # string / date (dates stay ISO strings: the manifest
    # is JSON; consumers convert — _read_files casts the lit to date,
    # _bounds_disjoint parses before comparing)


def _decode_partition_path(rel_path: str, spec: list[dict]) -> dict:
    """hive segments 'k=v/...' of a data-file path → {dir_col: value}
    (typed for identity transforms; None for the hive null marker)."""
    vals: dict[str, object] = {}
    raw = {}
    for seg in rel_path.split(os.sep)[:-1]:
        k, _, v = seg.partition("=")
        v = urllib.parse.unquote(v)
        raw[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
    for s in spec:
        dcol = _partition_dir_col(s)
        if dcol not in raw:
            raise CommitError(
                f"data file missing partition segment {dcol!r}: {rel_path}"
            )
        vals[dcol] = _coerce_partition_value(raw[dcol], s)
    return vals


class _LockLease:
    """A held commit lock: path + ownership token + heartbeat thread.

    The token (pid:nanotime:seq, written into the lock file) makes
    ownership verifiable: release only removes OUR lock, and
    :meth:`verify` — called at the commit point, before the hint swap —
    detects a takeover so a usurped writer aborts with CommitError
    instead of silently clobbering the usurper's commit. The heartbeat
    daemon touches the lock file every ``stale_sec/4`` so a commit
    whose data write takes longer than ``stale_sec`` is never
    mistaken for a crashed writer's leftovers.
    """

    def __init__(self, lock: str, token: str, stale_sec: float):
        import threading

        self.lock = lock
        self.token = token
        self._stop = threading.Event()

        def beat() -> None:
            while not self._stop.wait(max(stale_sec / 4.0, 0.5)):
                try:
                    os.utime(self.lock)
                except OSError:
                    return  # lock gone/stolen; verify() will catch it

        self._thread = threading.Thread(target=beat, daemon=True)
        self._thread.start()

    def verify(self) -> None:
        try:
            with open(self.lock) as f:
                held = f.read()
        except OSError:
            held = "<missing>"
        if held != self.token:
            raise CommitError(
                f"commit lock ownership lost at {self.lock}: "
                f"expected {self.token!r}, found {held!r} — a stale-lock "
                "takeover fired mid-commit; aborting before the hint swap"
            )

    def release(self) -> None:
        self._stop.set()
        try:
            with open(self.lock) as f:
                if f.read() != self.token:
                    return  # not ours anymore — never delete a peer's lock
            os.remove(self.lock)
        except OSError:
            pass


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    except OSError:
        return True
    return True



def _publish_metadata(
    path: str, meta_dir: str, new_meta: dict, from_version: int
) -> int:
    """Claim the next free ``v{N}.metadata.json`` with O_CREAT|O_EXCL
    (crash orphans are skipped, never overwritten; versions need not be
    dense — the hint names the current one), then atomically swap the
    version hint. Callers MUST hold the commit lock."""
    new_version = from_version + 1
    while True:
        meta_path = os.path.join(meta_dir, f"v{new_version}.metadata.json")
        try:
            fd = os.open(meta_path, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            break
        except FileExistsError:
            new_version += 1
    with os.fdopen(fd, "w") as f:
        json.dump(new_meta, f, indent=1)
    tmp = _hint_path(path) + f".tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(new_version))
    os.replace(tmp, _hint_path(path))
    return new_version


_LOCK_SEQ = iter(range(1 << 62))


def _acquire_commit_lock(
    meta_dir: str, timeout: float = 30.0, stale_sec: float = 120.0
) -> _LockLease:
    """O_EXCL lock file with bounded wait, ownership token and
    heartbeat. A leftover lock is taken over only when BOTH hold: its
    mtime is older than ``stale_sec`` (the holder's heartbeat has
    stopped) AND its recorded pid is not alive — a live-but-slow
    commit is waited out, never usurped.

    Takeover is rename-then-delete: two waiters that both judge the
    lock stale race on ``os.rename``; exactly one wins (the loser gets
    ENOENT and retries), so the old double-``os.remove`` TOCTOU — where
    the second remover could delete a FRESH lock created in between —
    cannot fire. After the rename the inode is compared against the
    sample that justified the takeover; on mismatch (a new holder
    slipped in) the lock is restored via ``os.link`` (which never
    clobbers) and in the worst race the displaced holder's own
    ``verify()`` aborts its commit rather than corrupting anything.
    """
    lock = os.path.join(meta_dir, "commit.lock")
    token = f"{os.getpid()}:{time.time_ns()}:{next(_LOCK_SEQ)}"
    deadline = time.time() + timeout
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, token.encode())
            os.close(fd)
            return _LockLease(lock, token, stale_sec)
        except FileExistsError:
            try:
                st = os.stat(lock)
                with open(lock) as f:
                    holder = f.read()
            except OSError:
                continue  # released/stolen between EEXIST and stat
            try:
                holder_pid = int(holder.split(":", 1)[0])
                holder_alive = _pid_alive(holder_pid)
            except ValueError:
                holder_alive = False  # unparseable: legacy/corrupt lock
            if time.time() - st.st_mtime > stale_sec and not holder_alive:
                claim = f"{lock}.stale.{os.getpid()}.{time.time_ns()}"
                try:
                    os.rename(lock, claim)
                except OSError:
                    continue  # another waiter won the takeover race
                if os.stat(claim).st_ino != st.st_ino:
                    # we renamed a FRESH lock, not the stale one we
                    # sampled — give it back without clobbering
                    try:
                        os.link(claim, lock)
                    except OSError:
                        pass  # a new lock exists; displaced holder's
                        # verify() aborts its commit — no corruption
                os.remove(claim)
                continue
            if time.time() > deadline:
                raise CommitError(
                    f"commit lock timeout at {lock} (held by {holder!r})"
                ) from None
            time.sleep(0.02)


def append(
    df: DataFrame,
    path: str,
    summary_extra: dict | None = None,
    partition_by=None,
) -> int:
    """Append a snapshot; returns the new snapshot id.

    The whole commit (parent resolution → data write → manifest →
    metadata claim → hint swap) runs under the table's exclusive commit
    lock, so concurrent appends serialize like commits through a real
    Iceberg catalog: each resolves its parent's file list under the
    lock, so neither fails and neither loses the other's files.
    ``summary_extra`` lands in the snapshot summary, atomically with the
    data: the tile pipeline records its source-file ledger there
    (``pipeline_files``)."""
    meta_dir = _meta_dir(path)
    os.makedirs(meta_dir, exist_ok=True)
    lease = _acquire_commit_lock(meta_dir)
    try:
        version = current_version(path)
        parent_meta = _load_metadata(path, version) if version else None
        parent_files = (
            _load_manifest(path, parent_meta["current_snapshot_id"])["files"]
            if parent_meta
            else []
        )
        snapshot_id = (
            max((s["snapshot_id"] for s in parent_meta["snapshots"]), default=0)
            + 1
            if parent_meta
            else 1
        )
        fields, last_column_id = _evolve_fields(
            *(_table_fields(parent_meta) if parent_meta else (None, 0)),
            json.loads(df.schema.json()),
        )

        # partition spec: fixed by the table's first commit (or its first
        # partitioned commit while it holds no file); later appends write
        # under the same spec
        spec = _spec_of(parent_meta)
        if partition_by is not None:
            want = _normalize_spec(partition_by, df)
            if spec and want != spec:
                raise CommitError(
                    f"partition spec mismatch at {path}: table has "
                    f"{spec}, commit requested {want}"
                )
            if not spec and parent_files:
                # files written without a spec carry no partition values
                # — adopting one now would make them unreadable
                raise CommitError(
                    f"cannot introduce a partition spec at {path}: the "
                    "table already holds unpartitioned data files (a "
                    "table's partition spec is fixed by its first commit)"
                )
            spec = want

        # 1. data files (immutable, snapshot-owned directory)
        data_dir = os.path.join(path, "data", f"snap-{snapshot_id}")
        wdf, part_dir_cols = df, []
        for s in spec:
            if s["transform"] == "identity":
                part_dir_cols.append(s["name"])
            else:  # hidden transform: derived dir column, dropped on read
                dcol, expr = _hidden_partition_column(s)
                if dcol in df.columns:
                    raise CommitError(
                        f"hidden partition column name collides: {dcol}"
                    )
                wdf = wdf.withColumn(dcol, expr)
                part_dir_cols.append(dcol)
        writer = wdf.write.mode("overwrite")
        if part_dir_cols:
            writer = writer.partitionBy(*part_dir_cols)
        writer.parquet(data_dir)
        new_files = []
        for root, _dirs, fnames in sorted(os.walk(data_dir)):
            for name in sorted(fnames):
                if not name.endswith(".parquet"):
                    continue
                fp = os.path.join(root, name)
                new_files.append(
                    {
                        "path": os.path.relpath(fp, path),
                        **(
                            {"partition": _decode_partition_path(
                                os.path.relpath(fp, data_dir), spec
                            )}
                            if spec
                            else {}
                        ),
                        **_file_stats(fp),
                    }
                )

        all_files = parent_files + new_files
        # 2. snapshot manifest
        manifest = {
            "snapshot_id": snapshot_id,
            "parent_snapshot_id": (
                parent_meta["current_snapshot_id"] if parent_meta else None
            ),
            "operation": "append",
            "timestamp_ms": int(time.time() * 1000),
            "files": all_files,
            "summary": {
                "added_files": len(new_files),
                "total_files": len(all_files),
                "added_rows": sum(f["rows"] for f in new_files),
                "total_rows": sum(f["rows"] for f in all_files),
                **(summary_extra or {}),
            },
        }
        with open(os.path.join(meta_dir, f"snap-{snapshot_id}.json"), "w") as f:
            json.dump(manifest, f, indent=1)

        # 3. new metadata version
        snapshots = (parent_meta["snapshots"] if parent_meta else []) + [
            {
                "snapshot_id": snapshot_id,
                "parent_snapshot_id": manifest["parent_snapshot_id"],
                "operation": "append",
                "timestamp_ms": manifest["timestamp_ms"],
                "summary": manifest["summary"],
            }
        ]
        new_meta = {
            "format_version": FORMAT_VERSION,
            # legacy key: the FULL table schema (a frame missing an
            # evolved column narrows nothing — absent columns read as null)
            "schema": _spark_schema_of(fields),
            "fields": fields,
            "last_column_id": last_column_id,
            "current_snapshot_id": snapshot_id,
            "snapshots": snapshots,
            "partition_spec": spec,
        }
        # the ledger rescued by expire_snapshots must survive every later
        # commit, not just the expiration itself
        if parent_meta and parent_meta.get("carried_summaries"):
            new_meta["carried_summaries"] = parent_meta["carried_summaries"]
        # 4. publish: metadata claim + atomic hint swap — THE commit
        # point. The lease is re-verified first so a writer whose lock
        # was stolen by a (mis-firing) stale takeover aborts instead of
        # clobbering the usurper's already-published commit.
        lease.verify()
        _publish_metadata(path, meta_dir, new_meta, version)
        return snapshot_id
    finally:
        lease.release()


def _bounds_disjoint(
    f: dict, bounds: dict[str, tuple], spec: list[dict] | None = None
) -> bool:
    """True if the file's manifest stats PROVE it holds no row the
    predicate can match (conjunctive per-column value bounds).
    Partition values prune too: identity partitions by range (the
    column is not IN the parquet file, so stats can't), hidden
    truncate partitions by prefix on equality bounds."""
    part = f.get("partition") or {}
    for s in spec or []:
        col = s["name"]
        if col not in bounds:
            continue
        lo, hi = bounds[col]
        if s["transform"] == "identity":
            v = part.get(s["name"])
            if v is not None and s["type"] == "date" and isinstance(v, str):
                import datetime as _dt

                # manifests keep dates as ISO strings (JSON); bounds
                # from Spark aggregates are datetime.date — comparing
                # mixed types would raise TypeError
                v = _dt.date.fromisoformat(v)
            if v is not None and (v < lo or v > hi):
                return True
        elif lo == hi and isinstance(lo, str):
            w = _truncate_width(s)
            dv = part.get(_partition_dir_col(s))
            if dv is not None and dv != lo[:w]:
                return True
    for col, (lo, hi) in bounds.items():
        fmin, fmax = f["min"].get(col), f["max"].get(col)
        if fmin is None or fmax is None:
            continue
        if fmax < lo or fmin > hi:
            return True
    return False


def history(path: str) -> list[dict]:
    return _load_metadata(path)["snapshots"]


def _live_files(path: str, snapshot_id: int | None = None) -> list[dict]:
    meta = _load_metadata(path)
    sid = snapshot_id if snapshot_id is not None else meta["current_snapshot_id"]
    if sid not in {s["snapshot_id"] for s in meta["snapshots"]}:
        raise CommitError(f"unknown/expired snapshot {sid}")
    return _load_manifest(path, sid)["files"]


def added_files(
    path: str, since_snapshot: int | None, to_snapshot: int | None = None
) -> list[dict]:
    """Incremental-scan primitive: data files present in ``to_snapshot``
    (default: current) but NOT in ``since_snapshot`` — i.e. the files
    appended between the two snapshots. With ``since_snapshot=None``
    every live file is "added" (full scan)."""
    new = {f["path"]: f for f in _live_files(path, to_snapshot)}
    if since_snapshot is not None:
        for f in _live_files(path, since_snapshot):
            new.pop(f["path"], None)
    return list(new.values())


def _read_files(
    spark: SparkSession, path: str, files: list[dict], meta: dict
) -> DataFrame:
    """Read manifest file entries, re-attaching identity partition
    columns from the manifest (partitionBy moved them into directory
    names, so the parquet bytes do not carry them; Iceberg readers do
    exactly this — constant columns from partition metadata). Hidden
    transform directories attach nothing. Plan size is linear in the
    number of touched identity partitions (one constant-column branch
    each), matching how Iceberg sources surface partition values.

    Name-based: columns are never renamed or dropped, so every file's
    column names match the table schema. The TABLE schema is always
    passed to the parquet reader explicitly: a schema-less read of
    mixed-era files takes whatever type/column set the first file has
    (verified on this Spark: int32+int64 files read as int, silently
    truncating), while an explicit schema reads deterministically,
    widens promoted columns (int→long, float→double) in the scan, and
    fills columns a file predates with nulls."""
    from pyspark.sql.types import StructType

    fields, _ = _table_fields(meta)
    full = StructType.fromJson(_spark_schema_of(fields))
    paths = [os.path.join(path, f["path"]) for f in files]
    id_specs = [
        s for s in _spec_of(meta) if s["transform"] == "identity"
    ]
    if not id_specs:
        return spark.read.schema(full).parquet(*paths)

    from functools import reduce

    from pyspark.sql import functions as F

    spark_type = {
        "integer": "int", "long": "bigint", "boolean": "boolean",
        "string": "string", "date": "date",
    }
    id_names = {s["name"] for s in id_specs}
    file_schema = StructType(
        [f for f in full.fields if f.name not in id_names]
    )
    order = [f["name"] for f in fields]
    groups: dict[tuple, list[dict]] = {}
    for f in files:
        part = f.get("partition")
        if part is None:
            raise CommitError(
                f"file lacks partition values in a partitioned table: "
                f"{f['path']}"
            )
        key = tuple((s["name"], part[s["name"]]) for s in id_specs)
        groups.setdefault(key, []).append(f)
    if len(groups) > 32:
        # Many-partition path: ONE scan over every file, identity
        # columns re-derived from the hive directory segment with
        # input_file_name() + regexp (all JVM, O(1) plan size). The
        # per-group constant-column union below builds one plan branch
        # per partition VALUE — at O(10k) partitions that is an O(10k)-
        # child Union whose analysis alone takes minutes (measured by
        # bench/iceberg_planning.py; this path keeps full-scan plan
        # construction flat).
        gdf = spark.read.schema(file_schema).parquet(
            *(os.path.join(path, f["path"]) for f in files)
        )
        import re as _re

        fname = F.input_file_name()
        for s in id_specs:
            raw = F.regexp_extract(
                fname, f".*/{_re.escape(s['name'])}=([^/]*)/.*", 1
            )
            gdf = gdf.withColumn(
                s["name"],
                F.when(
                    raw == "__HIVE_DEFAULT_PARTITION__", F.lit(None)
                )
                .otherwise(F.url_decode(raw))
                .cast(spark_type[s["type"]]),
            )
        return gdf.select([c for c in order if c in gdf.columns])
    parts = []
    for key, fs in groups.items():
        gdf = spark.read.schema(file_schema).parquet(
            *(os.path.join(path, f["path"]) for f in fs)
        )
        for s, (name, val) in zip(id_specs, key):
            gdf = gdf.withColumn(
                name, F.lit(val).cast(spark_type[s["type"]])
            )
        parts.append(gdf.select([c for c in order if c in gdf.columns]))
    return reduce(DataFrame.unionByName, parts)


def read(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read the current (or a time-travel) snapshot under the table's
    current schema: columns added since a file was written read as null
    from it, and promoted columns read at their wider type."""
    files = _live_files(path, snapshot_id)
    if not files:
        raise FileNotFoundError(f"snapshot has no data files: {path}")
    return _read_files(spark, path, files, _load_metadata(path))


def scan(
    spark: SparkSession,
    path: str,
    bounds: dict[str, tuple] | None = None,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, dict]:
    """Manifest-pruned scan: ``bounds`` maps column → (lo, hi); files
    whose stats ranges don't overlap are never opened, and partition
    values prune too (identity partitions by range, hidden truncate
    partitions by prefix on equality bounds). Returns
    (DataFrame, {"files_total", "files_read"}) so callers/tests can see
    the pruning. The residual predicate must still be applied by the
    caller (stats prune files, they don't filter rows)."""
    meta = _load_metadata(path)
    spec = _spec_of(meta)
    files = _live_files(path, snapshot_id)
    selected = [
        f
        for f in files
        if not (bounds and _bounds_disjoint(f, bounds, spec))
    ]
    info = {"files_total": len(files), "files_read": len(selected)}
    if not selected:
        schema_df = read(spark, path, snapshot_id).limit(0)
        return schema_df, info
    return _read_files(spark, path, selected, meta), info


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Drop all but the newest ``keep_last`` snapshots (the current one
    is always kept) with their manifests. No data file is deleted: the
    table is append-only, so the current snapshot still references every
    file an expired one did. Runs under the commit lock + O_EXCL version
    claim like every other metadata writer. Returns {"expired": [...]}."""
    lease = _acquire_commit_lock(_meta_dir(path))
    try:
        return _expire_locked(path, keep_last, lease)
    finally:
        lease.release()


def _carried_summaries(meta: dict) -> dict:
    """Table-level state rescued from expired snapshots (see
    _expire_locked): the pipeline file ledger survives snapshot
    expiration here."""
    return meta.get("carried_summaries") or {}


def _expire_locked(path: str, keep_last: int, lease: _LockLease) -> dict:
    version = current_version(path)
    meta = _load_metadata(path, version)
    snaps = sorted(meta["snapshots"], key=lambda s: s["snapshot_id"])
    keep_ids = {s["snapshot_id"] for s in snaps[-keep_last:]}
    keep_ids.add(meta["current_snapshot_id"])
    expired = [s for s in snaps if s["snapshot_id"] not in keep_ids]
    if not expired:
        return {"expired": []}

    # The tile pipeline's source-file ledger lives in snapshot SUMMARIES.
    # Dropping a snapshot must not drop it — a restarted pipeline would
    # re-append already-committed tiles — so it is folded forward into
    # table-level metadata before the snapshot entries go (Iceberg keeps
    # the analogous Delta-style txn watermark in table metadata for the
    # same reason).
    pfiles = set(_carried_summaries(meta).get("pipeline_files") or [])
    for s in expired:
        pfiles.update((s.get("summary") or {}).get("pipeline_files") or [])
        os.remove(
            os.path.join(_meta_dir(path), f"snap-{s['snapshot_id']}.json")
        )

    new_meta = dict(
        meta,
        snapshots=[s for s in snaps if s["snapshot_id"] in keep_ids],
    )
    if pfiles:
        new_meta["carried_summaries"] = {"pipeline_files": sorted(pfiles)}
    lease.verify()
    _publish_metadata(path, _meta_dir(path), new_meta, version)
    return {"expired": [s["snapshot_id"] for s in expired]}
