"""S1-S4: sources and sinks (SURVEY.md §2.2).

TableFormat (SURVEY.md §7 risk register): on a real cluster the tiers live in
Iceberg (`df.writeTo(t).overwritePartitions()`, time-travel via
`option('snapshot-id', ...)`). This sandbox has no Iceberg jar and no
network, so :class:`ParquetManifestFormat` supplies the same four-method
contract over parquet + a JSON manifest that carries snapshot semantics:

  - every commit gets a monotone snapshot id;
  - a snapshot maps each partition (part_hash) to the data directory that
    last overwrote it, so overwrite-by-partition and read-at-snapshot behave
    like Iceberg partition overwrites + time travel;
  - manifest replace is atomic (os.replace), and data directories are
    immutable once written — a reader never sees a half-written snapshot;
  - a write is staged: one Spark write lands the rows of one or several
    tables under ``_staging/<uuid>``, then each table commits in turn by
    renaming its share to ``<table>/snap-<N>`` and swapping its manifest,
    so the rollup's three tiers cost one write and three cheap commits;
  - the manifest owns the table schema (Iceberg's table metadata): the
    first commit records it, every later commit must match it (checked
    before any data is written), and every read imposes it, so no read
    runs a parquet footer-inference job;
  - data directories never change under a snapshot, so a read resolves
    each snapshot's scan once per format instance and serves it again
    with no JVM call (``read_at``).

Swapping in Iceberg on a cluster touches only this module.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.schema import assert_tokens_schema
from engine.skew import in_sql

# Staged writes land under <warehouse>/STAGING_DIR/<uuid> before their
# commit renames them into a table; TIER_COL routes a multi-table write.
STAGING_DIR = "_staging"
TIER_COL = "tier"


def scan_tokens(spark: SparkSession, path: str) -> DataFrame:
    """S1: read the token table and fail fast on schema drift (B:15).

    Reads the file's OWN schema (parquet footer only — cheap) and validates
    it; imposing TOKENS_SCHEMA on the reader would silently coerce or mask a
    drifted file instead of failing fast (caught by the round-1 verify run).
    """
    df = spark.read.parquet(path)
    assert_tokens_schema(df)
    return df


# ---------------------------------------------------------------------------
# S4: deterministic synthetic token table (FIXTURES.md F1).
#
# Every column is a pure function of the row id — xxhash64, never rand(seed)
# (seeded rand is partition-count-dependent; hash-of-id is not), so the same
# (n_docs, seed) always yields byte-identical data at any parallelism.
# ---------------------------------------------------------------------------

_SOURCES = ["cc", "cc", "cc", "cc", "cc", "cc", "cc", "wiki", "books", "code", "news"]
_EDGE_LENGTHS = [0, 1, 29, 30, 97, 512]  # w=30 edge cases (FIXTURES.md F1)


def synth_tokens(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    n_tok: int | None = None,
    gap_pct: int = 3,
    spike_per_mille: int = 2,
) -> DataFrame:
    """S4: generate the B:15 token table, deterministic at any parallelism.

    ``n_tok=None`` mixes edge lengths with a 4096 bulk (parity tests);
    a fixed ``n_tok`` makes uniform-length bench inputs. Values are
    U(0,50000) via hash-of-(id,t); ~``gap_pct``% slots are null (gaps);
    ~``spike_per_mille``/1000 positions get +10σ spikes (≈ +144000) so
    detect() has true positives (FIXTURES.md F1).
    """

    def h(*cols):
        return F.xxhash64(*cols, F.lit(seed))

    base = spark.range(n_docs).withColumnRenamed("id", "i")
    if n_tok is None:
        # ~30% edge lengths, rest 4096.
        pick = F.pmod(h(F.col("i"), F.lit("len")), F.lit(100))
        length = F.when(pick < 5, F.lit(_EDGE_LENGTHS[0]))
        for j, el in enumerate(_EDGE_LENGTHS[1:], start=1):
            length = length.when(pick < 5 * (j + 1), F.lit(el))
        length = length.otherwise(F.lit(4096))
    else:
        length = F.lit(int(n_tok))

    i = F.col("i")

    def token_at(t):
        val = F.pmod(h(i, t, F.lit("v")), F.lit(50000)).cast("int")
        spike = F.pmod(h(i, t, F.lit("spike")), F.lit(1000)) < spike_per_mille
        gap = F.pmod(h(i, t, F.lit("gap")), F.lit(100)) < gap_pct
        return F.when(gap, F.lit(None).cast("int")).otherwise(
            F.when(spike, val + F.lit(144340)).otherwise(val)
        )

    # sequence(0, -1) would yield [0, -1] (Spark infers a negative step), so
    # length==0 must short-circuit to an explicit empty array.
    tokens = F.when(length == 0, F.array().cast("array<int>")).otherwise(
        F.transform(F.sequence(F.lit(0), length - 1), token_at)
    )

    out = base.select(
        F.format_string("doc_%08d", F.col("i").cast("int")).alias("doc_id"),
        tokens.alias("tokens"),
        length.cast("int").alias("n_tok"),
        F.element_at(
            F.array(*[F.lit(s) for s in _SOURCES]),
            (F.pmod(h(i, F.lit("src")), F.lit(len(_SOURCES))) + 1).cast("int"),
        ).alias("source"),
    )
    return out


# ---------------------------------------------------------------------------
# S2/S3: TableFormat shim.
# ---------------------------------------------------------------------------


class ParquetManifestFormat:
    """Sandbox stand-in for Iceberg partition overwrites + time travel."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        # (table, snapshot id, committed_at_unix) -> its scan (read_at)
        self._scans: dict[tuple, DataFrame] = {}
        os.makedirs(warehouse, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.warehouse, table, "manifest.json")

    def _load(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"current": 0, "snapshots": {"0": {"partitions": {}}}}
        with open(p) as f:
            return json.load(f)

    def _store(self, table: str, manifest: dict) -> None:
        d = os.path.join(self.warehouse, table)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(table))  # atomic commit point

    # -- the 4-method contract (SURVEY.md §7) -------------------------------
    def current_snapshot(self, table: str) -> int:
        return int(self._load(table)["current"])

    def snapshot_ids(self, table: str) -> set[int]:
        """All snapshot ids still present in the manifest (time-travelable).
        Iceberg's ``table.snapshots()`` metadata listing — lets callers
        verify a pin BEFORE asking expire_snapshots to preserve it."""
        return {int(s) for s in self._load(table)["snapshots"]}

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str | dict[str, str],
        sort_within=None,
        on_commit=None,
    ) -> int:
        """S2: atomically replace exactly the partitions present in *df*.

        *df* must carry a ``part_hash`` column (K1). *table* is one table
        name, or a dict mapping each value of *df*'s ``tier`` column to a
        table, in commit order: ONE Spark write then lands the rows of
        every table, partitioned by ``(tier, part_hash)``.

        Staged commit: the write goes to a fresh staging dir under the
        warehouse (``_staging/<uuid>``). Then, per table in order, the
        table's share of it (``tier=<value>``, or the whole dir for one
        table) is renamed to ``<table>/snap-<current+1>`` and the table's
        manifest is swapped — the commit point, exactly the Iceberg commit
        ordering the lineage protocol (L1) relies on. A ``snap-<N>`` dir
        that no snapshot references (a crash between the rename and the
        swap) is removed before the rename. ``on_commit(table,
        snapshot_id)`` runs after each swap; a truthy return stops there,
        and the staged data of the tables not yet committed is deleted
        unread. Returns the last committed snapshot id.

        Every write distributes one way: a REBALANCE hint on the partition
        keys (the Iceberg ``write.distribution-mode=hash`` shape). Each
        partition lands in one task, so it is one file rather than one per
        task, and AQE sizes the task count from the data: small commits
        ride in a task or two, and only an oversized partition is split
        into several bounded files.

        ``sort_within`` (a Column expression or list of them) clusters
        rows inside each partition's file — the Iceberg write sort-order /
        Delta OPTIMIZE ZORDER hook (engine/zorder.py builds the Morton
        key). Rows are sorted by the partition keys first, so a task that
        holds several partitions already meets the writer's partition
        ordering and keeps the clustering inside each. A pure expression
        sort: nothing is materialized into the written schema, and row
        ORDER inside immutable files is the only difference.

        A table's first commit records *df*'s schema (``part_hash``
        included, ``tier`` not, every field nullable, as parquet stores
        them) in the manifest. Every later commit must write the same
        column names and types, in any order: otherwise it raises
        ValueError before anything is written. A manifest written before
        schemas were recorded stays unchecked.
        """
        if "part_hash" not in df.columns:
            raise ValueError("overwrite_partitions requires a part_hash column (K1)")
        routes = {None: table} if isinstance(table, str) else dict(table)
        keys = ["part_hash"] if None in routes else [TIER_COL, "part_hash"]
        schema = _stored_schema(df.drop(TIER_COL).schema if len(keys) > 1 else df.schema)
        for t in routes.values():
            manifest = self._load(t)
            if int(manifest["current"]) > 0 and "schema" in manifest:
                _check_drift(t, T.StructType.fromJson(manifest["schema"]), schema)
        df = df.hint("rebalance", *keys)
        if sort_within is not None:
            cols = sort_within if isinstance(sort_within, list) else [sort_within]
            df = df.sortWithinPartitions(*keys, *cols)
        staged = os.path.join(self.warehouse, STAGING_DIR, uuid.uuid4().hex)
        snap_id = 0
        try:
            df.write.partitionBy(*keys).mode("errorifexists").parquet(staged)
            for value, t in routes.items():
                src = staged if value is None else os.path.join(staged, f"{TIER_COL}={value}")
                snap_id = self._commit_dir(t, src, schema)
                if on_commit is not None and on_commit(t, snap_id):
                    break
        finally:
            shutil.rmtree(staged, ignore_errors=True)
        return snap_id

    def _commit_dir(self, table: str, src: str, schema: T.StructType) -> int:
        """Rename the staged dir *src* (absent: no rows) to the table's next
        ``snap-<N>`` and commit a snapshot that maps its part_hash dirs
        there."""
        manifest = self._load(table)
        if int(manifest["current"]) == 0:
            manifest["schema"] = json.loads(schema.json())
        data_dir = os.path.join(self.warehouse, table, f"snap-{int(manifest['current']) + 1}")
        if os.path.lexists(data_dir):
            # left by a crash after its rename, before its manifest swap
            if os.path.basename(data_dir) in _live_dir_names(manifest):
                raise ValueError(f"{table}: {data_dir} is referenced by a snapshot")
            shutil.rmtree(data_dir)
        os.makedirs(os.path.dirname(data_dir), exist_ok=True)
        if os.path.isdir(src):
            os.replace(src, data_dir)
        else:
            os.makedirs(data_dir)
        parts = _current_partitions(manifest)
        for name in os.listdir(data_dir):
            if name.startswith("part_hash="):
                parts[str(int(name.split("=", 1)[1]))] = data_dir
        return self._commit(table, manifest, parts)

    def drop_partitions(self, table: str, part_hashes: list[int]) -> int:
        """Metadata-only commit removing partitions from the CURRENT view
        (Iceberg dropPartition shape — used by retention expiry). No data
        file is touched: prior snapshots still reference the dirs, so time
        travel to before the drop still serves the rows."""
        manifest = self._load(table)
        parts = _current_partitions(manifest)
        for h in part_hashes:
            parts.pop(str(int(h)), None)
        return self._commit(table, manifest, parts)

    def _commit(self, table: str, manifest: dict, partitions: dict) -> int:
        """The commit point of every snapshot: add the snapshot after
        *manifest*'s current one, mapping *partitions* (part_hash -> data
        dir), make it current and swap the manifest. Returns its id."""
        snap_id = int(manifest["current"]) + 1
        manifest["snapshots"][str(snap_id)] = {
            "partitions": partitions,
            "committed_at_unix": time.time(),
        }
        manifest["current"] = snap_id
        self._store(table, manifest)
        return snap_id

    def read_at(self, table: str, snapshot_id: int) -> DataFrame:
        """S3: time-travel read of one snapshot.

        Every branch is read with the schema the manifest recorded at the
        table's first commit (``part_hash`` included, typed bigint as
        written), so planning a read runs no parquet footer-inference job
        (one 1-task Spark job per branch otherwise). Drift is caught at
        commit time instead (overwrite_partitions). A manifest without a
        recorded schema (written before schemas were recorded) keeps
        footer inference.

        A snapshot's live partitions generally span several immutable
        ``snap-N`` data directories (each incremental commit rewrote only a
        subset). Each snap dir is read as ONE path, its own ``basePath``
        (partition discovery cannot infer ``part_hash`` through the
        non-partition ``snap-N`` level when paths mix snap dirs), and the
        reads are unioned — one scan node per historical commit that still
        owns live partitions (bounded by commit count, exactly like an
        Iceberg manifest listing one file set per surviving snapshot).
        When a dir also holds partitions that a later commit superseded
        (or retention dropped), its branch gets one ``part_hash IN (...)``
        filter of its live partitions, which partition pruning applies.

        Snapshots are immutable, so the scan is resolved once per snapshot
        and memoized on this instance: the manifest is loaded on every
        call, and only a snapshot it still holds is looked up, keyed on
        ``(table, snapshot id, committed_at_unix)`` — a warehouse rebuilt
        at the same path commits the same ids at other times. Entries of
        snapshots the manifest no longer holds (expired, or rebuilt) are
        dropped on each call, so the memo holds at most the retained
        snapshots. A repeated read of a snapshot costs no JVM call."""
        manifest = self._load(table)
        live = {
            (int(sid), s.get("committed_at_unix"))
            for sid, s in manifest["snapshots"].items()
        }
        for key in [k for k in self._scans if k[0] == table and k[1:] not in live]:
            del self._scans[key]
        snap = manifest["snapshots"].get(str(snapshot_id))
        if snap is None:
            raise ValueError(f"{table}: no snapshot {snapshot_id}")
        key = (table, int(snapshot_id), snap.get("committed_at_unix"))
        if key not in self._scans:
            self._scans[key] = self._scan(table, snapshot_id, snap, manifest.get("schema"))
        return self._scans[key]

    def _scan(self, table: str, snapshot_id: int, snap: dict, schema: dict | None) -> DataFrame:
        """The union of one scan per snap dir of *snap* (see read_at)."""
        by_dir = _by_dir(snap)
        if not by_dir:
            raise ValueError(f"{table}@{snapshot_id} is empty")
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(T.StructType.fromJson(schema))
        out = None
        for d in sorted(by_dir):
            df = reader.parquet(d)
            on_disk = {name for name in os.listdir(d) if name.startswith("part_hash=")}
            if on_disk != {f"part_hash={h}" for h in by_dir[d]}:
                df = df.where(in_sql("part_hash", sorted(by_dir[d])))
            out = df if out is None else out.unionByName(df)
        return out

    def snapshot_dirs(self, table: str, snapshot_id: int | None = None) -> dict:
        """data-dir -> [part_hash...] for a snapshot (default current).
        Every distinct dir is one union branch in read_at — the small-file /
        scan-fan-out metric jobs/compact.py collapses."""
        manifest = self._load(table)
        sid = snapshot_id if snapshot_id is not None else int(manifest["current"])
        snap = manifest["snapshots"].get(str(sid))
        if snap is None:
            raise ValueError(f"{table}: no snapshot {sid}")
        return _by_dir(snap)

    def expire_snapshots(
        self,
        table: str,
        keep_last: int = 2,
        keep_snapshot_ids: set[int] | None = None,
    ) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` shape:
        drop snapshot ENTRIES older than the retained set, then physically
        delete ``snap-N`` data dirs referenced by NO surviving snapshot.

        Retained set = the ``keep_last`` highest snapshot ids, plus the
        current snapshot, plus any explicitly pinned ids (pass the lineage
        epochs' output_snapshot_ids to keep those epochs time-travelable).
        A dir stays on disk while ANY surviving snapshot references it —
        incremental commits routinely point new snapshots at old dirs for
        untouched partitions, so dir age alone never decides deletion.

        Crash-safe: the manifest rewrite is the atomic commit; dirs are
        deleted only afterwards, and a re-run deletes any orphan left by a
        crash mid-deletion (orphan = snap-* dir not referenced by any
        surviving snapshot). Time travel to an expired snapshot raises —
        exactly the Iceberg contract.
        """
        manifest = self._load(table)
        snaps = manifest["snapshots"]
        ids = sorted(int(s) for s in snaps)
        keep = set(ids[-max(keep_last, 1):])
        keep.add(int(manifest["current"]))
        for sid in keep_snapshot_ids or ():
            if str(int(sid)) in snaps:
                keep.add(int(sid))
        expired = [i for i in ids if i not in keep]
        manifest["snapshots"] = {str(i): snaps[str(i)] for i in ids if i in keep}
        self._store(table, manifest)  # commit point
        # Liveness by BASENAME, not path string: manifests record data_dir
        # as spelled at write time (absolute/relative/trailing-slash/symlink
        # spellings vary run-to-run), and snap-N always lives directly under
        # the table dir — a string compare against a differently-spelled
        # --warehouse would see every live dir as orphan and delete data the
        # current snapshot still references.
        live_names = _live_dir_names(manifest)
        tdir = os.path.join(self.warehouse, table)
        removed = []
        for name in os.listdir(tdir):
            p = os.path.join(tdir, name)
            if name.startswith("snap-") and os.path.isdir(p) and name not in live_names:
                shutil.rmtree(p)
                removed.append(name)
        return {
            "expired_snapshots": expired,
            "kept_snapshots": sorted(keep & set(ids)),
            "removed_dirs": sorted(removed),
        }

    def read(self, table: str) -> DataFrame:
        return self.read_at(table, self.current_snapshot(table))


def _current_partitions(manifest: dict) -> dict[str, str]:
    """A copy of the current snapshot's part_hash -> data dir map."""
    return dict(manifest["snapshots"][str(manifest["current"])]["partitions"])


def _by_dir(snap: dict) -> dict[str, list[int]]:
    """data dir -> the part_hashes *snap* maps to it."""
    by_dir: dict[str, list[int]] = {}
    for h, d in snap["partitions"].items():
        by_dir.setdefault(d, []).append(int(h))
    return by_dir


def _live_dir_names(manifest: dict) -> set[str]:
    """Basenames of the data dirs any snapshot in *manifest* references."""
    return {
        os.path.basename(os.path.normpath(d))
        for s in manifest["snapshots"].values()
        for d in s["partitions"].values()
    }


def _stored_schema(schema: T.StructType) -> T.StructType:
    """*schema* as parquet stores it: every top-level field nullable."""
    return T.StructType([T.StructField(f.name, f.dataType, True) for f in schema])


def _check_drift(table: str, recorded: T.StructType, written: T.StructType) -> None:
    """Raise unless *written* has *recorded*'s column names and types
    (order and nullability ignored)."""
    want = {f.name: f.dataType.simpleString() for f in recorded}
    got = {f.name: f.dataType.simpleString() for f in written}
    if got != want:
        diff = sorted(
            f"{c}: {want.get(c, 'absent')} -> {got.get(c, 'absent')}"
            for c in want.keys() | got.keys()
            if want.get(c) != got.get(c)
        )
        raise ValueError(f"{table}: commit schema drifts from the table's ({'; '.join(diff)})")

