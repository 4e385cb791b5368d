"""Snapshot-versioned parquet tables: time travel, rollback, upsert, and
appends that write only the new rows.

The reference has no UPDATE/DELETE at all (README.md:51 TODO) and the
facade's rewrites swap temp views — interactive parity only. This module
is the production shape for mutating plain-parquet data at scale, the
same immutable-snapshot model Delta/Iceberg formalize:

* every commit writes the NEXT version directory (`_v00000001/…`) and
  never touches prior ones — readers are isolated from writers for free;
* a version is a manifest (`_manifest.json`: its data file list and
  the Spark schema) over immutable parquet files.  A full snapshot
  (`write`) lists only the files in its own directory; an append
  (`append`, `append_rows`) lists its parent's files plus the few it
  wrote, so an INSERT costs O(delta) bytes instead of a table copy;
* driver-known rows (INSERT … VALUES) land in a TAIL file the driver
  rewrites with pyarrow — parent tail + new rows, no Spark job.  Once
  the tail reaches ``spark.sql.files.maxPartitionBytes`` it becomes an
  ordinary base file and the next append starts a new tail, so a read
  is always the base files + at most one tail;
* commit = the atomic appearance of the version's `_SUCCESS` marker,
  written last (after the data files and the manifest); a crashed
  writer leaves an uncommitted directory that readers skip, the retry
  clears and `vacuum` removes;
* reads hand the manifest schema to the parquet reader, so no commit,
  reopen or time-travel read pays a schema-inference job;
* time travel = read an older manifest; rollback = write the old
  version's content as a new full snapshot (history stays linear);
  `vacuum` retires old versions but never deletes a file a retained
  version still references.

Directories written before manifests existed (plain `_v` dirs holding
a whole snapshot, no `_manifest.json`) still read and vacuum as before;
the first append on top of one references its files from a manifest.

UPDATE/DELETE/MERGE and rollback write full snapshots.  At 100 TB a
fact table would rewrite only the files a mutation touches (copy-on-
write over the same manifests), or layer partition-scoped snapshots
(`PartitionedVersionedTable`) — same commit protocol.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VERSION_RE = re.compile(r"^_v(\d{8})$")
_MANIFEST = "_manifest.json"
# Spark's file committer would write _SUCCESS at job end, before the
# manifest exists; a versioned commit writes the marker itself, last
_NO_SPARK_MARKER = {"mapreduce.fileoutputcommitter.marksuccessfuljobs": "false"}

# Manifest bucket for rows whose partition value is NULL (Hive's name).
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _data_files(d: str) -> list[str]:
    """Parquet data files directly in ``d`` (Spark's hidden-file rule)."""
    return sorted(
        f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _refs(manifest: dict) -> list[str]:
    """Every data file a manifest reads, relative to the table dir."""
    return manifest["files"] + ([manifest["tail"]] if manifest["tail"] else [])


def arrow_rows(rows: list[tuple], schema: T.StructType):
    """Python tuples (column order, the values ``createDataFrame`` takes)
    as a ``pa.Table`` of the Spark schema's Arrow types.  A naive
    datetime in a TIMESTAMP column is local wall time, as in
    ``createDataFrame``, not UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    arrays = []
    for values, f, a in zip(cols, schema.fields, arrow_schema):
        if isinstance(f.dataType, T.TimestampType):
            values = [v.astimezone() if v is not None and v.tzinfo is None else v for v in values]
        arrays.append(pa.array(values, type=a.type))
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def local_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-held rows as a DataFrame over a ``LocalRelation`` (built from
    Arrow, not a Python RDD): projections and filters over it fold into
    the plan, so collecting them runs no Spark job."""
    return spark.createDataFrame(arrow_rows(rows, schema), schema)


class VersionedTable:
    """A directory of immutable parquet versions with atomic commits."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- commit log ------------------------------------------------------

    def versions(self) -> list[int]:
        """Committed versions, ascending (uncommitted dirs are invisible)."""
        out = []
        for name in os.listdir(self.path):
            m = _VERSION_RE.match(name)
            if m and os.path.exists(os.path.join(self.path, name, "_SUCCESS")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"_v{version:08d}")

    def _committed(self, version: int | None) -> int:
        v = version if version is not None else self.latest_version()
        if v is None or v not in self.versions():
            raise ValueError(f"no committed version {version!r} at {self.path}")
        return v

    def _manifest(self, version: int) -> dict:
        """``files`` (base data files, relative to the table dir),
        ``tail`` (the driver-written tail file or None) and ``schema``
        (Spark schema JSON).  A version without a manifest file (the
        pre-manifest layout) is its own directory's files with an
        unknown schema."""
        vdir = self._vdir(version)
        try:
            with open(os.path.join(vdir, _MANIFEST)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            name = os.path.basename(vdir)
            files = [f"{name}/{f}" for f in _data_files(vdir)]
            return {"files": files, "tail": None, "schema": None}

    def _schema(self, version: int, manifest: dict) -> T.StructType:
        if manifest["schema"] is None:  # pre-manifest layout: infer once
            return self.spark.read.parquet(self._vdir(version)).schema
        return T.StructType.fromJson(manifest["schema"])

    def files(self, version: int | None = None) -> list[str]:
        """Absolute paths of every data file a version reads — its whole
        file set, including files referenced from parent versions."""
        return self._paths(self._manifest(self._committed(version)))

    def _paths(self, manifest: dict) -> list[str]:
        return [os.path.join(self.path, r) for r in _refs(manifest)]

    # -- write side ------------------------------------------------------

    def _next(self) -> tuple[int, str]:
        """The next version number and its directory.  A RETRY after a
        crash finds the crashed attempt's uncommitted directory at its
        own target version and clears it first — only _SUCCESS-bearing
        dirs are commits, and nothing references files of a version
        that never committed, so it is always safe debris (without
        this, the errorifexists write would fail permanently and e.g.
        a replayed streaming refresh could never make progress)."""
        next_v = (self.latest_version() or 0) + 1
        vdir = self._vdir(next_v)
        if os.path.isdir(vdir):
            shutil.rmtree(vdir)
        return next_v, vdir

    def _spark_write(self, df: DataFrame, vdir: str) -> list[str]:
        """One Spark write of ``df`` into ``vdir`` with no _SUCCESS;
        returns the written files relative to the table dir."""
        df.write.options(**_NO_SPARK_MARKER).mode("errorifexists").parquet(vdir)
        name = os.path.basename(vdir)
        return [f"{name}/{f}" for f in _data_files(vdir)]

    def _seal(self, version: int, files: list[str], tail: str | None, schema) -> int:
        """Commit: the manifest, then _SUCCESS — the commit point, last."""
        vdir = self._vdir(version)
        with open(os.path.join(vdir, _MANIFEST), "w") as fh:
            json.dump({"files": files, "tail": tail, "schema": schema.jsonValue()}, fh)
        open(os.path.join(vdir, "_SUCCESS"), "w").close()
        return version

    def write(self, df: DataFrame) -> int:
        """Commit `df` as the next full snapshot; returns its version
        number.  A crash mid-write leaves an invisible (uncommitted)
        directory, never a torn table."""
        v, vdir = self._next()
        return self._seal(v, self._spark_write(df, vdir), None, df.schema)

    def append(self, df: DataFrame) -> int:
        """Commit the latest version plus `df`'s rows: one Spark write of
        only the incoming rows; the new manifest references every parent
        file (tail included) plus the new ones.  Columns match by
        position, as in UNION; their types must equal the table's."""
        latest = self.latest_version()
        if latest is None:
            return self.write(df)
        parent = self._manifest(latest)
        schema = self._schema(latest, parent)
        types = [f.dataType.simpleString() for f in schema]
        if [f.dataType.simpleString() for f in df.schema] != types:
            raise ValueError(
                f"append of {df.schema.simpleString()} into {schema.simpleString()}"
            )
        v, vdir = self._next()
        new = self._spark_write(df.toDF(*schema.names), vdir)
        return self._seal(v, parent["files"] + new, parent["tail"], schema)

    def append_rows(self, rows: list[tuple]) -> int:
        """Commit the latest version plus driver-known `rows` (tuples in
        column order, holding the Python values ``createDataFrame``
        takes) with NO Spark job: the driver rewrites the tail — the
        parent's tail rows plus `rows` — with pyarrow into the next
        version dir, and the manifest carries every base file over by
        reference.  Bytes written are O(tail + rows), independent of
        the table size.  A tail that reaches
        ``spark.sql.files.maxPartitionBytes`` rolls into a base file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        latest = self.latest_version()
        if latest is None:
            raise ValueError(f"append_rows into {self.path} before its first write")
        parent = self._manifest(latest)
        schema = self._schema(latest, parent)
        batch = arrow_rows(rows, schema)
        if parent["tail"]:
            old = pq.read_table(os.path.join(self.path, parent["tail"]), schema=batch.schema)
            batch = pa.concat_tables([old, batch])
        v, vdir = self._next()
        os.makedirs(vdir)
        tail = f"{os.path.basename(vdir)}/tail.parquet"
        # zstd, the codec the engine's session writes parquet with
        pq.write_table(batch, os.path.join(self.path, tail), compression="zstd")
        files = parent["files"]
        roll_at = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        if os.path.getsize(os.path.join(self.path, tail)) >= roll_at:
            files, tail = files + [tail], None
        return self._seal(v, files, tail, schema)

    def upsert(self, updates: DataFrame, key: str) -> int:
        """MERGE-style upsert as a snapshot: surviving old rows UNION
        updated/new rows -> next version. Matches standard MERGE (key
        NULLs never match)."""
        current = self.read()
        survivors = current.join(updates.select(key), key, "left_anti")
        return self.write(survivors.unionByName(updates))

    def delete_where(self, condition) -> int:
        """DELETE as a snapshot: only rows where the predicate is not
        TRUE survive (standard SQL DELETE semantics)."""
        current = self.read()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self.write(current.filter(~cond.eqNullSafe(True)))

    def rollback(self, version: int) -> int:
        """Restore an old snapshot's content as a NEW version (history
        stays append-only; nothing is rewritten in place)."""
        return self.write(self.read(version))

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop all but the newest `keep_last` committed versions plus
        any uncommitted (crashed) directories; returns the removed
        versions.  A file that a retained version references (appends
        point into their parents' dirs) is never deleted: a removed
        version loses its _SUCCESS marker first — it is no longer a
        version — and its directory keeps only such files.
        ``keep_last`` must be >= 1 — keep_last=0 would delete every
        committed snapshot (total table loss)."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must keep at least the "
                "newest version — keep_last=0 would delete the entire table"
            )
        committed = self.versions()
        removed = committed[:-keep_last]
        live = {r for v in committed[-keep_last:] for r in _refs(self._manifest(v))}
        for v in removed:
            os.remove(os.path.join(self._vdir(v), "_SUCCESS"))
        for name in os.listdir(self.path):
            d = os.path.join(self.path, name)
            if not _VERSION_RE.match(name) or os.path.exists(os.path.join(d, "_SUCCESS")):
                continue
            for f in os.listdir(d):
                if f"{name}/{f}" in live:
                    continue
                p = os.path.join(d, f)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
            if not os.listdir(d):
                os.rmdir(d)
        return removed

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        """Latest committed version, or time-travel to `version`: one
        parquet scan over the manifest's files with its schema — no
        inference job.  A pre-manifest version reads its directory."""
        v = self._committed(version)
        m = self._manifest(v)
        if m["schema"] is None:
            return self.spark.read.parquet(self._vdir(v))
        schema = T.StructType.fromJson(m["schema"])
        return self.spark.read.schema(schema).parquet(*self._paths(m))


class SnapshotArtifact:
    """Object-store-safe commit wrapper for single-relation maintenance
    artifacts (Bloom word tables, compacted / z-ordered directories).

    ``path`` holds either the initial plain parquet files (the
    write-once build — already safe: a fresh-path write with no readers)
    or committed snapshot dirs ``_v0000000N/`` (after the first
    maintenance rewrite).  A rewrite NEVER renames or deletes live data
    to commit: the new snapshot is written into the next ``_v`` dir, and
    the parquet job's ``_SUCCESS`` marker (written last) IS the commit —
    one object PUT, atomic on object stores where a directory rename is
    copy+delete with a visible half-state.  Readers resolve the newest
    committed snapshot and fall back to the plain layout; superseded
    copies are removed only in the post-commit retention step
    (``finalize``), which a crash can skip harmlessly — the next
    maintenance run cleans up.  Underscore-prefixed snapshot dirs are
    invisible to Spark's file listing, so a plain-layout artifact with a
    crashed (uncommitted) snapshot beside it still reads exactly its old
    content."""

    # legacy rename-swap suffixes a pre-manifest crash may have left
    _LEGACY_SUFFIXES = (".__old__", ".__compact__", ".__merge__")

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._vt = VersionedTable(spark, path)

    def read(self) -> DataFrame:
        """Current content: newest committed snapshot, else plain files."""
        v = self._vt.latest_version()
        if v is not None:
            return self._vt.read(v)
        return self.spark.read.parquet(self.path)

    def data_dir(self) -> str:
        """Directory holding the current content's files (flat)."""
        v = self._vt.latest_version()
        return self._vt._vdir(v) if v is not None else self.path

    def data_bytes(self) -> int:
        """Size of the CURRENT content only — never counts superseded
        plain files or other snapshots."""
        d = self.data_dir()
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def next_dir(self) -> str:
        """Where the rewrite writes its output (mode ``errorifexists``);
        the write job committing ``_SUCCESS`` there makes it live.
        Numbered past every EXISTING ``_v`` dir, committed or not, so a
        crashed (uncommitted) rewrite never blocks the next one — its
        debris is swept by ``finalize``'s vacuum.  Single maintenance
        writer per artifact is assumed (concurrent writers would race
        on the version number — serialize maintenance externally)."""
        existing = [
            int(m.group(1))
            for name in os.listdir(self.path)
            if (m := _VERSION_RE.match(name))
        ]
        return self._vt._vdir(max(existing, default=0) + 1)

    def finalize(self, keep_last: int = 2) -> None:
        """Post-commit retention: retire the migrated plain files (now
        invisible to readers), drop snapshots beyond ``keep_last`` plus
        uncommitted (crashed) dirs, and clear legacy rename-swap debris.
        Pure cleanup — the commit already happened; crashing anywhere in
        here leaves a readable artifact and a re-runnable cleanup."""
        if self._vt.latest_version() is None:
            return
        for name in os.listdir(self.path):
            if _VERSION_RE.match(name):
                continue
            p = os.path.join(self.path, name)
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
        self._vt.vacuum(keep_last=keep_last)
        base = self.path.rstrip("/")
        for suf in self._LEGACY_SUFFIXES:
            if os.path.isdir(base + suf):
                shutil.rmtree(base + suf)


def read_artifact(spark: SparkSession, path: str) -> DataFrame:
    """Read a maintenance artifact regardless of layout: the newest
    committed snapshot if the path has been rewritten through
    ``SnapshotArtifact``, else the plain parquet files of the initial
    build."""
    return SnapshotArtifact(spark, path).read()


class PartitionedVersionedTable:
    """Partition-scoped snapshots for FACT tables: a mutation rewrites
    only the partitions it touches; every other partition's files are
    referenced, not copied.

    Layout:
      path/_data/<partition>=<value>/g<generation>/   immutable parquet
      path/_manifests/m00000001.json                  version manifest

    A manifest maps partition value -> its current data directory; commit
    is an atomic rename of the manifest file (POSIX). Reading version N
    is one multi-path parquet scan over the manifest's directories, so
    time travel and reader isolation cost nothing at any scale. This is
    the minimal form of the Iceberg/Delta manifest model, and the answer
    to "what does UPDATE mean at 100 TB": touched partitions advance a
    generation; a 10-row upsert into one day of a year-partitioned fact
    table rewrites 1/365 of the data."""

    def __init__(self, spark: SparkSession, path: str, partition_col: str):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col
        os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(path, "_data"), exist_ok=True)

    # -- manifests -------------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.path, "_manifests")):
            m = re.match(r"^m(\d{8})\.json$", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def _manifest(self, version: int) -> dict[str, str]:
        import json

        with open(os.path.join(self.path, "_manifests", f"m{version:08d}.json")) as fh:
            return json.load(fh)

    def _commit_manifest(self, version: int, manifest: dict[str, str]) -> None:
        import json

        mdir = os.path.join(self.path, "_manifests")
        tmp = os.path.join(mdir, f".m{version:08d}.tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, sort_keys=True)
        os.rename(tmp, os.path.join(mdir, f"m{version:08d}.json"))  # atomic

    def _pv_expr(self) -> F.Column:
        """Partition value as a manifest key: cast to string, with NULL
        routed to a dedicated bucket (Hive's default-partition name)
        instead of silently matching no filter and vanishing."""
        c = F.col(self.partition_col).cast("string")
        return F.when(c.isNull(), F.lit(NULL_PARTITION)).otherwise(c)

    def _partition_slice(self, df: DataFrame, value: str) -> DataFrame:
        if value == NULL_PARTITION:
            return df.filter(F.col(self.partition_col).isNull())
        return df.filter(F.col(self.partition_col).cast("string") == value)

    # -- write side ------------------------------------------------------

    def write_full(self, df: DataFrame) -> int:
        """Initial (or full-refresh) load in ONE pass: a single
        ``partitionBy`` write job splits the input by partition value
        (N partitions != N scans of the input — the old shape ran one
        filtered job per value, O(N·scan)), then the written dirs are
        renamed into the manifest layout and committed. Rows with a NULL
        partition value land in the ``__HIVE_DEFAULT_PARTITION__``
        bucket, not on the floor."""
        from urllib.parse import unquote

        next_v = (self.versions()[-1] if self.versions() else 0) + 1
        stage = os.path.join(self.path, "_data", f".stage_v{next_v:08d}")
        # a crashed earlier attempt at this same version may have left
        # the stage and/or partial g{next_v} dirs — the manifest is the
        # commit point, so anything it doesn't reference is safe to
        # clear, and clearing makes the retry deterministic instead of
        # failing on errorifexists
        shutil.rmtree(stage, ignore_errors=True)
        # __pv__ duplicates the partition col so the data files keep the
        # original column (partitionBy strips its partition key from the
        # files, and read() scans g-dirs directly without Hive discovery)
        df.withColumn("__pv__", self._pv_expr()).write.mode("errorifexists").partitionBy(
            "__pv__"
        ).parquet(stage)
        manifest = {}
        for name in sorted(os.listdir(stage)):
            if not name.startswith("__pv__="):
                continue  # _SUCCESS marker etc.
            value = unquote(name[len("__pv__=") :])  # undo Hive path escaping
            rel = os.path.join("_data", f"{self.partition_col}={value}", f"g{next_v:08d}")
            dest = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if os.path.isdir(dest):  # uncommitted debris of a crashed attempt
                shutil.rmtree(dest)
            os.rename(os.path.join(stage, name), dest)
            manifest[value] = rel
        shutil.rmtree(stage)
        self._commit_manifest(next_v, manifest)
        return next_v

    def upsert(
        self,
        updates: DataFrame,
        key: str,
        partition_from_key: bool = False,
        extra_touched: list[str] | None = None,
    ) -> int:
        """MERGE touching only the affected partitions: each touched
        partition's survivors + its updates become a new generation
        directory; untouched partitions carry over by reference in the
        new manifest. Per-touched-partition jobs are the point here
        (touched count is small by design); NULL partition values route
        to the default bucket like write_full.

        Touched = partitions the updates land in ∪ partitions currently
        HOLDING an updated key — the second set is what makes a
        partition-moving update (key's partition column changes) delete
        its old row instead of leaving a stale duplicate. Finding it
        costs one semi-join of each current partition against the
        (small, broadcastable) update key set — the same matched-file
        discovery a Delta/Iceberg MERGE performs with file stats.

        ``partition_from_key=True`` declares the partition column a PURE
        FUNCTION of ``key`` (e.g. a hash bucket): a key then can never
        move partitions, holding ⊆ landing, and the holding scan — the
        one full-snapshot read in this method — is skipped entirely.
        That makes the upsert's I/O strictly proportional to the touched
        buckets, the property incremental SCD2 maintenance needs.

        ``extra_touched`` is the other way to skip the holding scan:
        the caller NAMES the partitions that may hold updated keys
        (it often knows — e.g. a cluster-relabel knows the old labels'
        buckets).  Rows of updated keys are then dropped from exactly
        landing ∪ extra_touched; a wrong/short list leaves stale rows,
        so only pass it when the holding set is provably covered."""
        from pyspark.sql import functions as F

        vs = self.versions()
        if not vs:
            raise ValueError("upsert into empty table — write_full first")
        current = dict(self._manifest(vs[-1]))
        next_v = vs[-1] + 1
        touched = {
            r[0] for r in updates.select(self._pv_expr().alias("pv")).distinct().collect()
        }
        if extra_touched is not None:
            touched |= {v for v in extra_touched if v in current}
        # partitions holding any updated key (checked in one job over
        # the current snapshot).  The key set rides a SIZE-GUARDED
        # broadcast: forced under the cap because the common
        # incremental batch is small and the frame usually derives
        # from a cached/checkpointed plan with no size statistics —
        # hint-free planning fell back to sort-merge and cost +70% on
        # the admission path (measured r10); above the cap it shuffle
        # joins, so a bulk MERGE's key set never pins executor memory.
        upd_keys = (
            updates.select(key).where(F.col(key).isNotNull()).distinct().persist()
        )
        try:
            if upd_keys.count() <= self._KEY_BROADCAST_CAP:
                upd_probe = F.broadcast(upd_keys)
            else:
                upd_probe = upd_keys
            return self._upsert_with_keys(
                updates, key, current, next_v, touched, upd_probe,
                partition_from_key, extra_touched, vs,
            )
        finally:
            upd_keys.unpersist()

    _KEY_BROADCAST_CAP = 1_000_000

    def _upsert_with_keys(
        self, updates, key, current, next_v, touched, upd_keys,
        partition_from_key, extra_touched, vs,
    ) -> int:
        if current and not partition_from_key and extra_touched is None:
            snapshot = self.read(vs[-1])
            holding = (
                snapshot.join(upd_keys, key, "left_semi")
                .select(self._pv_expr().alias("pv"))
                .distinct()
                .collect()
            )
            touched |= {r[0] for r in holding}
        # ONE staged partitionBy job rewrites every touched partition
        # (the old shape ran one write job per touched value — O(N)
        # job-scheduling overhead for an N-bucket relabel): survivors
        # of the touched partitions (one multi-path scan, updated keys
        # anti-joined away) union the updates, split by partition value
        # in a single pass, then the written dirs rename into the
        # manifest layout.  A touched partition with no surviving and
        # no updated rows simply emits no directory and drops out of
        # the manifest.
        from urllib.parse import unquote

        held_paths = [
            os.path.join(self.path, current[v]) for v in sorted(touched) if v in current
        ]
        combined = updates
        if held_paths:
            survivors = self.spark.read.parquet(*held_paths).join(
                upd_keys, key, "left_anti"
            )
            combined = survivors.unionByName(updates)
        stage = os.path.join(self.path, "_data", f".stage_v{next_v:08d}")
        # clear a crashed earlier attempt's stage/dest debris (nothing
        # uncommitted is referenced by any manifest) so the retry the
        # admission protocols document ("deterministic no-op-then-
        # retry") actually recomputes instead of dying on errorifexists
        shutil.rmtree(stage, ignore_errors=True)
        combined.withColumn("__pv__", self._pv_expr()).write.mode(
            "errorifexists"
        ).partitionBy("__pv__").parquet(stage)
        written = set()
        for name in sorted(os.listdir(stage)):
            if not name.startswith("__pv__="):
                continue
            value = unquote(name[len("__pv__=") :])
            rel = os.path.join(
                "_data", f"{self.partition_col}={value}", f"g{next_v:08d}"
            )
            dest = os.path.join(self.path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            if os.path.isdir(dest):  # uncommitted debris of a crashed attempt
                shutil.rmtree(dest)
            os.rename(os.path.join(stage, name), dest)
            current[value] = rel
            written.add(value)
        shutil.rmtree(stage)
        for value in touched - written:  # emptied partitions leave the manifest
            current.pop(value, None)
        self._commit_manifest(next_v, current)
        return next_v

    def vacuum(self, keep_last: int = 2) -> list[str]:
        """Reclaim generation directories no manifest in the retained
        window references (VersionedTable.vacuum's twin for the manifest
        model): keep the newest ``keep_last`` versions' manifests, drop
        older manifests, then delete any partition generation dir none
        of the survivors point at. Time travel within the window stays
        intact; returns the removed relative paths.

        ``keep_last`` must be >= 1: a zero/negative window would compute
        an empty keep set and delete every manifest plus all generation
        data — total table loss from a plausible-looking argument."""
        if keep_last < 1:
            raise ValueError(
                f"vacuum(keep_last={keep_last}): must keep at least the "
                "newest version — keep_last=0 would delete the entire table"
            )
        vs = self.versions()
        keep_vs = vs[-keep_last:]
        live = {rel for v in keep_vs for rel in self._manifest(v).values()}
        removed: list[str] = []
        for v in vs:
            if v not in keep_vs:
                os.remove(os.path.join(self.path, "_manifests", f"m{v:08d}.json"))
        data_root = os.path.join(self.path, "_data")
        if os.path.isdir(data_root):
            for part_dir in sorted(os.listdir(data_root)):
                pdir = os.path.join(data_root, part_dir)
                if not os.path.isdir(pdir):
                    continue
                for gen in sorted(os.listdir(pdir)):
                    rel = os.path.join("_data", part_dir, gen)
                    if rel not in live:
                        shutil.rmtree(os.path.join(data_root, part_dir, gen))
                        removed.append(rel)
        return removed

    # -- read side -------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        vs = self.versions()
        v = version if version is not None else (vs[-1] if vs else None)
        if v is None or v not in vs:
            raise ValueError(f"no committed version {version!r} at {self.path}")
        paths = [os.path.join(self.path, rel) for rel in self._manifest(v).values()]
        return self.spark.read.parquet(*paths)

    def read_partitions(self, values: list[str], version: int | None = None) -> DataFrame:
        """Partition-pruned read: scan only the named partitions' data
        dirs — manifest-level pruning, no file listing of the rest."""
        vs = self.versions()
        v = version if version is not None else (vs[-1] if vs else None)
        if v is None or v not in vs:
            raise ValueError(f"no committed version {version!r} at {self.path}")
        manifest = self._manifest(v)
        paths = [
            os.path.join(self.path, manifest[str(val)])
            for val in values
            if str(val) in manifest
        ]
        if not paths:
            return self.read(v).limit(0)
        return self.spark.read.parquet(*paths)
