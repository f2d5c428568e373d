"""S1 fail-fast token scan; the tier table's manifest-recorded schema and
its commit-time drift check (engine/io.py)."""

from __future__ import annotations

import os

import pytest

from engine.skew import with_part_hash


def test_scan_tokens_rejects_drifted_parquet(spark, tmp_path):
    """S1 fail-fast: a token file whose own schema drifts from the pinned
    one (tokens array<long>) must raise at scan, not be coerced."""
    from pyspark.sql import functions as F

    from engine.io import scan_tokens, synth_tokens

    p = str(tmp_path / "drift.parquet")
    synth_tokens(spark, 4, seed=5, n_tok=64).withColumn(
        "tokens", F.col("tokens").cast("array<long>")
    ).write.parquet(p)
    with pytest.raises(ValueError, match="schema"):
        scan_tokens(spark, p)


def _manifest(wh: str, table: str) -> dict:
    import json

    with open(os.path.join(wh, table, "manifest.json")) as f:
        return json.load(f)


def test_manifest_records_schema_at_first_commit(spark, tmp_path):
    """The first commit records the frame's schema (part_hash included,
    every field nullable) and reads impose it; a later commit with the
    same names and types in another order and nullability is accepted."""
    from pyspark.sql import types as T

    from engine.io import ParquetManifestFormat

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    df = spark.createDataFrame(
        [("a", 1, 2.0), ("b", 2, None)],
        T.StructType([
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("bucket", T.LongType(), False),
            T.StructField("vmean", T.DoubleType(), True),
        ]),
    )
    fmt.overwrite_partitions(with_part_hash(df), "rollup_1m")
    want = T.StructType([
        T.StructField("doc_id", T.StringType(), True),
        T.StructField("bucket", T.LongType(), True),
        T.StructField("vmean", T.DoubleType(), True),
        T.StructField("part_hash", T.LongType(), True),
    ])
    assert T.StructType.fromJson(_manifest(wh, "rollup_1m")["schema"]) == want
    got = fmt.read("rollup_1m")
    assert got.schema == want
    assert sorted(tuple(r) for r in got.drop("part_hash").collect()) == [
        ("a", 1, 2.0), ("b", 2, None)
    ]

    reordered = spark.createDataFrame([(1.5, "c", 3)], "vmean double, doc_id string, bucket long")
    assert fmt.overwrite_partitions(with_part_hash(reordered), "rollup_1m") == 2
    assert fmt.read("rollup_1m").count() == 3


@pytest.mark.parametrize("drift", ["changed_type", "missing_column"])
def test_drifted_commit_raises_and_leaves_table_unchanged(spark, tmp_path, drift):
    """A commit whose columns or types differ from the recorded schema
    raises before any data dir is created; the manifest is untouched."""
    from engine.io import ParquetManifestFormat

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    fmt.overwrite_partitions(
        with_part_hash(spark.createDataFrame([("a", 1, 2.0)], "doc_id string, bucket long, vmean double")),
        "rollup_1m",
    )
    tdir = os.path.join(wh, "rollup_1m")
    dirs = sorted(os.listdir(tdir))
    with open(os.path.join(tdir, "manifest.json"), "rb") as f:
        manifest = f.read()
    if drift == "changed_type":
        bad = spark.createDataFrame([("b", 2, 3)], "doc_id string, bucket long, vmean int")
        match = "vmean: double -> int"
    else:
        bad = spark.createDataFrame([("b", 2)], "doc_id string, bucket long")
        match = "vmean: double -> absent"
    with pytest.raises(ValueError, match=match):
        fmt.overwrite_partitions(with_part_hash(bad), "rollup_1m")
    assert sorted(os.listdir(tdir)) == dirs
    with open(os.path.join(tdir, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert fmt.current_snapshot("rollup_1m") == 1


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """A manifest written before schemas were recorded keeps footer
    inference (part_hash then reads as int, as partition inference types
    it)."""
    import json

    from engine.io import ParquetManifestFormat

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    fmt.overwrite_partitions(
        with_part_hash(spark.createDataFrame([("a", 1, 2.0), ("b", 2, 4.0)], "doc_id string, bucket long, vmean double")),
        "rollup_1m",
    )
    m = _manifest(wh, "rollup_1m")
    del m["schema"]
    with open(os.path.join(wh, "rollup_1m", "manifest.json"), "w") as f:
        json.dump(m, f)
    got = fmt.read("rollup_1m")
    assert dict(got.dtypes)["part_hash"] == "int"
    assert sorted(tuple(r) for r in got.drop("part_hash").collect()) == [
        ("a", 1, 2.0), ("b", 2, 4.0)
    ]


# -- read_at: one scan per snap dir, memoized per snapshot --

_ROWS = "doc_id string, bucket long, vmean double"


def _commit(spark, fmt, rows) -> int:
    return fmt.overwrite_partitions(
        with_part_hash(spark.createDataFrame(rows, _ROWS)), "rollup_1m"
    )


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select("doc_id", "bucket", "vmean").collect())


def test_read_at_serves_live_partitions_and_memoizes_the_scan(spark, tmp_path):
    """A snapshot over two snap dirs serves only its live partitions: the
    older dir still holds the partition the later commit superseded. A
    second read of the snapshot through the same instance sends the JVM
    no command but memory release, and returns the same scan."""
    from engine.io import ParquetManifestFormat
    from tests.conftest import gateway_commands

    fmt = ParquetManifestFormat(spark, str(tmp_path / "wh"))
    s1 = _commit(spark, fmt, [(f"d{i}", 1, float(i)) for i in range(8)])
    s2 = _commit(spark, fmt, [("d0", 1, 100.0)])
    assert len(fmt.snapshot_dirs("rollup_1m", s2)) == 2
    old = fmt.read_at("rollup_1m", s1).collect()
    superseded = {r["part_hash"] for r in old if r["doc_id"] == "d0"}
    want = sorted(
        [("d0", 1, 100.0)]
        + [(r["doc_id"], 1, r["vmean"]) for r in old if r["part_hash"] not in superseded]
    )
    first = fmt.read_at("rollup_1m", s2)
    with gateway_commands(spark) as sent:
        again = fmt.read_at("rollup_1m", s2)
    assert sent == [] and again is first
    assert _rows(again) == want


def test_read_at_memo_misses_a_warehouse_rebuilt_at_the_same_path(spark, tmp_path):
    """A warehouse deleted and rebuilt at the same path commits the same
    snapshot id again; the instance that read the old one serves the new
    rows."""
    import shutil

    from engine.io import ParquetManifestFormat

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    sid = _commit(spark, fmt, [("a", 1, 1.0), ("b", 1, 2.0)])
    assert _rows(fmt.read_at("rollup_1m", sid)) == [("a", 1, 1.0), ("b", 1, 2.0)]
    shutil.rmtree(wh)
    assert _commit(spark, fmt, [("c", 2, 3.0)]) == sid
    assert _rows(fmt.read_at("rollup_1m", sid)) == [("c", 2, 3.0)]


def test_read_at_memo_forgets_expired_snapshots(spark, tmp_path):
    """After expire_snapshots, reading an expired id raises and the
    instance holds no scan of it; the retained snapshot still reads."""
    from engine.io import ParquetManifestFormat

    fmt = ParquetManifestFormat(spark, str(tmp_path / "wh"))
    sids = [_commit(spark, fmt, [("a", 1, float(i))]) for i in range(3)]
    for sid in sids:
        fmt.read_at("rollup_1m", sid)
    fmt.expire_snapshots("rollup_1m", keep_last=1)
    with pytest.raises(ValueError, match=f"no snapshot {sids[0]}"):
        fmt.read_at("rollup_1m", sids[0])
    assert {sid for _, sid, _ in fmt._scans} == {sids[-1]}
    assert _rows(fmt.read_at("rollup_1m", sids[-1])) == [("a", 1, 2.0)]


# -- the session's local FileSystem (engine/jvm/NoForkLocalFileSystem.java) --

_NO_FORK = "engine.jvm.NoForkLocalFileSystem"


def _require_no_fork_fs():
    from engine.session import _javac

    if _javac() is None:
        pytest.skip("no javac: the session keeps Hadoop's local FileSystem")


def _local_fs(spark):
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)


def _jpath(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path("file://" + str(p))


def _modes(root):
    """{relative path: permission bits} of everything under *root*."""
    out = {}
    for d, dirs, files in os.walk(root):
        for n in dirs + files:
            p = os.path.join(d, n)
            out[os.path.relpath(p, root)] = os.stat(p).st_mode & 0o7777
    return out


def test_local_fs_is_the_engines_and_keeps_modes_and_checksums(spark, tmp_path):
    """A partitioned parquet write through the session's FileSystem gives
    the stock FS's modes (files 0644, dirs 0755 under Hadoop's default
    umask 022), still writes a .crc per file, and a flipped data byte
    still fails the read with ChecksumException."""
    _require_no_fork_fs()
    fs = _local_fs(spark)
    assert fs.getClass().getName() == _NO_FORK
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.permissions.umask-mode", "022") == "022"

    out = tmp_path / "w"
    spark.range(400).selectExpr("id", "id % 4 AS part_hash").write.partitionBy(
        "part_hash").parquet(str(out))
    modes = _modes(out)
    files = {p: m for p, m in modes.items() if os.path.isfile(out / p)}
    dirs = {p: m for p, m in modes.items() if os.path.isdir(out / p)}
    data = [p for p in files if p.endswith(".parquet")]
    assert sorted(dirs) == [f"part_hash={h}" for h in range(4)]
    assert set(dirs.values()) == {0o755} and set(files.values()) == {0o644}
    for p in data:
        head, name = os.path.split(p)
        assert os.path.join(head, f".{name}.crc") in files

    # the stock FileSystem, same calls, same modes
    stock = spark._jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(spark._jvm.java.net.URI("file:///"), conf)
    ref = tmp_path / "stock"
    assert stock.mkdirs(_jpath(spark, ref / "d"))
    stock.create(_jpath(spark, ref / "d" / "f")).close()
    assert _modes(ref) == {"d": 0o755, "d/f": 0o644, "d/.f.crc": 0o644}

    victim = out / data[0]
    raw = bytearray(victim.read_bytes())
    raw[len(raw) // 2] ^= 0xFF
    victim.write_bytes(bytes(raw))
    with pytest.raises(Exception, match="ChecksumException"):
        spark.read.parquet(str(out)).collect()


def test_set_permission_spawns_no_process(spark, tmp_path):
    """100 setPermission calls through the session's FileSystem leave the
    JVM's reaped-children CPU unchanged; the same calls on Hadoop's stock
    raw FS (one chmod child each without libhadoop) raise it. A sticky
    mode, which java.nio cannot express, still lands exactly."""
    _require_no_fork_fs()
    jvm = spark._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def children_ticks():
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[13]) + int(fields[14])  # cutime + cstime

    target = tmp_path / "f"
    target.write_bytes(b"x")
    path = _jpath(spark, target)
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = [perm.createImmutable(m) for m in (0o600, 0o644)]

    def chmod_100(fs):
        before = children_ticks()
        for i in range(100):
            fs.setPermission(path, modes[i % 2])
        assert os.stat(target).st_mode & 0o7777 == 0o644
        return children_ticks() - before

    assert chmod_100(_local_fs(spark)) == 0
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"),
                     spark.sparkContext._jsc.hadoopConfiguration())
    assert chmod_100(stock) > 0

    sticky = tmp_path / "sticky"
    sticky.mkdir()
    _local_fs(spark).setPermission(_jpath(spark, sticky), perm.createImmutable(0o1777))
    assert os.stat(sticky).st_mode & 0o7777 == 0o1777


def test_no_fork_fs_compiles_once_and_needs_javac(tmp_path, monkeypatch):
    """The class compiles into the cache dir keyed by the source hash, a
    second call reuses it, and without javac there is no class (the
    session keeps Hadoop's)."""
    import engine.session as session

    _require_no_fork_fs()
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    out = session._no_fork_fs_classes()
    assert out is not None and out.startswith(str(tmp_path))
    cls = os.path.join(out, "engine", "jvm", "NoForkLocalFileSystem.class")
    mtime = os.stat(cls).st_mtime_ns
    assert session._no_fork_fs_classes() == out
    assert os.stat(cls).st_mtime_ns == mtime
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]  # no temp dir left

    monkeypatch.setattr(session, "_javac", lambda: None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "other"))
    assert session._no_fork_fs_classes() is None
