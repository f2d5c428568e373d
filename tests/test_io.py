"""S1 ingest for footer-less formats (JSONL/CSV): roundtrip fidelity and
fail-fast validation; the tier table's manifest-recorded schema and its
commit-time drift check (engine/io.py)."""

from __future__ import annotations

import os

import pytest




def test_jsonl_and_csv_ingest_roundtrip(spark, tmp_path):
    """S1 for footer-less formats: synth -> write jsonl/csv -> scan back
    must be row-identical (in-array gap nulls and empty arrays included)
    and pass the pinned-schema assert."""
    from engine.io import (
        scan_tokens_csv,
        scan_tokens_jsonl,
        synth_tokens,
        write_tokens_csv,
        write_tokens_jsonl,
    )

    df = synth_tokens(spark, 40, seed=5)
    want = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in df.collect()
    )
    jp, cp = str(tmp_path / "t.jsonl"), str(tmp_path / "t.csv")
    write_tokens_jsonl(df, jp)
    write_tokens_csv(df, cp)
    for scan, path in ((scan_tokens_jsonl, jp), (scan_tokens_csv, cp)):
        back = scan(spark, path)
        got = sorted(
            (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
            for r in back.collect()
        )
        assert got == want, scan.__name__
        assert [f.dataType.simpleString() for f in back.schema.fields] == [
            "string", "array<int>", "int", "string"
        ]


def test_jsonl_ingest_rejects_int32_overflow_and_malformed(spark, tmp_path):
    from engine.io import scan_tokens_jsonl

    p = str(tmp_path / "bad.jsonl")
    os.makedirs(p)
    with open(os.path.join(p, "part-0.json"), "w") as f:
        f.write('{"doc_id": "a", "tokens": [1, 4294967296], '
                '"n_tok": 2, "source": "cc"}\n')
    with pytest.raises(ValueError, match="int32"):
        scan_tokens_jsonl(spark, p)

    p2 = str(tmp_path / "mal.jsonl")
    os.makedirs(p2)
    with open(os.path.join(p2, "part-0.json"), "w") as f:
        f.write('{"doc_id": "a", "tokens": "not-an-array", "n_tok": 1, '
                '"source": "cc"}\n')
    with pytest.raises(Exception):
        scan_tokens_jsonl(spark, p2).collect()


def test_orc_ingest_roundtrip_and_drift(spark, tmp_path):
    """S1 over ORC: synth -> orc -> scan back row-identical through the
    pinned-schema assert; a drifted file (tokens array<long>) must fail
    fast at scan, not coerce."""
    import pytest
    from pyspark.sql import functions as F

    from engine.io import scan_tokens_orc, synth_tokens, write_tokens_orc

    df = synth_tokens(spark, 40, seed=5)
    want = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in df.collect()
    )
    p = str(tmp_path / "t.orc")
    write_tokens_orc(df, p)
    back = scan_tokens_orc(spark, p)
    got = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tok"], r["source"])
        for r in back.collect()
    )
    assert got == want

    drifted = df.withColumn("tokens", F.col("tokens").cast("array<long>"))
    p2 = str(tmp_path / "drift.orc")
    drifted.write.orc(p2)
    with pytest.raises(ValueError, match="schema"):
        scan_tokens_orc(spark, p2)


def _manifest(wh: str, table: str) -> dict:
    import json

    with open(os.path.join(wh, table, "manifest.json")) as f:
        return json.load(f)


def test_manifest_records_schema_at_first_commit(spark, tmp_path):
    """The first commit records the frame's schema (part_hash included,
    every field nullable) and reads impose it; a later commit with the
    same names and types in another order and nullability is accepted."""
    from pyspark.sql import types as T

    from engine.io import ParquetManifestFormat, write_tier

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
    write_tier(fmt, df, "1m")
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
    assert write_tier(fmt, reordered, "1m") == 2
    assert fmt.read("rollup_1m").count() == 3


@pytest.mark.parametrize("drift", ["changed_type", "missing_column"])
def test_drifted_commit_raises_and_leaves_table_unchanged(spark, tmp_path, drift):
    """A commit whose columns or types differ from the recorded schema
    raises before any data dir is created; the manifest is untouched."""
    from engine.io import ParquetManifestFormat, write_tier

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    write_tier(fmt, spark.createDataFrame([("a", 1, 2.0)], "doc_id string, bucket long, vmean double"), "1m")
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
        write_tier(fmt, bad, "1m")
    assert sorted(os.listdir(tdir)) == dirs
    with open(os.path.join(tdir, "manifest.json"), "rb") as f:
        assert f.read() == manifest
    assert fmt.current_snapshot("rollup_1m") == 1


def test_manifest_without_schema_still_reads(spark, tmp_path):
    """A manifest written before schemas were recorded keeps footer
    inference (part_hash then reads as int, as partition inference types
    it)."""
    import json

    from engine.io import ParquetManifestFormat, write_tier

    wh = str(tmp_path / "wh")
    fmt = ParquetManifestFormat(spark, wh)
    write_tier(fmt, spark.createDataFrame([("a", 1, 2.0), ("b", 2, 4.0)], "doc_id string, bucket long, vmean double"), "1m")
    m = _manifest(wh, "rollup_1m")
    del m["schema"]
    with open(os.path.join(wh, "rollup_1m", "manifest.json"), "w") as f:
        json.dump(m, f)
    got = fmt.read("rollup_1m")
    assert dict(got.dtypes)["part_hash"] == "int"
    assert sorted(tuple(r) for r in got.drop("part_hash").collect()) == [
        ("a", 1, 2.0), ("b", 2, 4.0)
    ]
