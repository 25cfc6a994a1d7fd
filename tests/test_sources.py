"""Sources: delimited import (S4), removal list, interval join (J5),
checkpoint store manifest/resume semantics (S6/S11)."""

import contextlib
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from exome_qc_library_spark.plans.pipeline import Pipeline, Stage
from exome_qc_library_spark.sources.checkpoint import CheckpointStore, _data_files
from exome_qc_library_spark.sources import readers
from exome_qc_library_spark.sources.readers import (
    import_delimited,
    interval_join,
    spread_scan,
)


def test_import_delimited_missing_token_and_impute(spark, tmp_path):
    p = tmp_path / "ann.tsv"
    p.write_text("host\tspam_score\tbatch\na.com\t0.5\tb1\nb.com\tNA\tb2\n")
    df = import_delimited(spark, str(p), delimiter="\t", missing="NA")
    rows = {r["host"]: r for r in df.collect()}
    assert rows["b.com"]["spam_score"] is None  # NA → NULL
    assert isinstance(rows["a.com"]["spam_score"], float)  # impute=True typed it


def test_read_removal_list(spark, tmp_path):
    p = tmp_path / "rm.txt"
    p.write_text("https://bad.com/x\nspam.example.com\n")
    df = import_delimited(spark, str(p), header=False, impute=False)
    assert df.columns == ["f0"] and df.count() == 2


def test_interval_join(spark):
    docs = spark.createDataFrame([(1, 50), (2, 150), (3, 999)], "id long, v long")
    iv = spark.createDataFrame(
        [("low", 0, 100), ("mid", 100, 200)], "band string, lo long, hi long"
    )
    out = {r["id"]: r["band"] for r in interval_join(docs, iv, F.col("v")).collect()}
    assert out == {1: "low", 2: "mid", 3: None}


def _one_row_group_table(spark, path):
    """A 100-row table written as one file with one row group."""
    spark.range(100).coalesce(1).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_spread_scan_repartitions_single_row_group_to_core_count(spark, tmp_path):
    df = _one_row_group_table(spark, tmp_path / "t")
    out = spread_scan(df, "id")
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_spread_scan_decodes_percent_encoded_paths(spark, tmp_path):
    # inputFiles() returns file:///.../sp%20ace/part-...; the footer probe
    # must read the decoded path instead of giving up on the scan
    df = _one_row_group_table(spark, tmp_path / "sp ace" / "t")
    assert any("%20" in f for f in df.inputFiles())
    out = spread_scan(df, "id")
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_spread_scan_well_split_input_is_unchanged(spark, tmp_path):
    n = spark.sparkContext.defaultParallelism
    spark.range(1000).repartition(n).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert spread_scan(df, "id") is df


def test_spread_scan_no_input_files_or_streaming_is_unchanged(spark, tmp_path):
    df = spark.range(10)
    assert df.inputFiles() == []
    assert spread_scan(df, "id") is df
    _one_row_group_table(spark, tmp_path / "t")
    stream = spark.readStream.schema("id long").parquet(str(tmp_path / "t"))
    assert spread_scan(stream, "id") is stream


@contextlib.contextmanager
def _byte_splits(spark, nbytes):
    """Spark plans scans in ``nbytes`` splits, however small the file."""
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k) for k in keys]
    for k in keys:
        spark.conf.set(k, nbytes)
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.set(k, v)


def test_spread_scan_non_local_files_count_as_split(spark, tmp_path):
    _one_row_group_table(spark, tmp_path / "t")
    with _byte_splits(spark, 64):
        # planned as many splits, so the footer count decides
        df = spark.read.parquet(str(tmp_path / "t"))
        assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        local = df.inputFiles()
        for files in (["s3a://bucket/t/part-0.parquet"], [*local, "s3a://bucket/t/part-0.parquet"]):
            df.inputFiles = lambda files=files: files
            assert spread_scan(df, "id") is df
            # no footer is read: the remote one could not be
            assert readers._parquet_scan_units(tuple(files), 4) == 4


def test_spread_scan_footer_probe_stops_at_file_bound(monkeypatch):
    # past the bound the files count as split without a footer read (the
    # paths below do not exist, so any read would raise)
    monkeypatch.setattr(readers, "_MAX_PROBED_FILES", 2)
    files = tuple(f"file:///nonexistent/part-{i}.parquet" for i in range(3))
    assert readers._parquet_scan_units(files, 8) == 8


def test_spread_scan_splits_single_row_group_file_of_many_splits(spark, tmp_path):
    # a file with one row group that Spark plans as many byte splits is
    # still read by one task: only the split holding the row group's
    # midpoint reads rows
    n = spark.sparkContext.defaultParallelism
    _one_row_group_table(spark, tmp_path / "t")
    with _byte_splits(spark, 64):
        df = spark.read.parquet(str(tmp_path / "t"))
        assert df.rdd.getNumPartitions() >= n
        assert df.rdd.glom().map(len).filter(bool).count() == 1
        out = spread_scan(df, "id")
        assert out.rdd.getNumPartitions() == n
        assert sorted(r["id"] for r in out.collect()) == list(range(100))


def test_spread_scan_splits_small_multi_row_group_file(spark, tmp_path):
    # Spark splits by bytes and packs a file under openCostInBytes (4 MB)
    # into one split whatever its row-group count: 8 row groups read as 1
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = spark.sparkContext.defaultParallelism
    path = tmp_path / "t"
    path.mkdir()
    pq.write_table(
        pa.table({"id": list(range(6000))}), str(path / "part-0.parquet"), row_group_size=750
    )
    assert pq.ParquetFile(str(path / "part-0.parquet")).metadata.num_row_groups == 8
    df = spark.read.parquet(str(path))
    assert df.rdd.getNumPartitions() == 1
    out = spread_scan(df, "id")
    assert out.rdd.getNumPartitions() == n
    assert sorted(r["id"] for r in out.collect()) == list(range(6000))


def test_checkpoint_store_roundtrip(spark):
    root = tempfile.mkdtemp()
    store = CheckpointStore(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    assert not store.exists("st1")
    out = store.write(df, "st1", params={"k": 1}, parent=None)
    assert store.exists("st1")
    man = store.manifest("st1")
    assert man["rows"] == 2 and man["params"] == {"k": 1} and man["stage"] == "st1"
    # the committed field set: a checkpoint resumes across versions only
    # while every version writes and reads these same keys
    assert set(man) == {"stage", "params", "parent", "schema", "rows", "format", "path"}
    assert {r["id"] for r in store.read("st1").collect()} == {1, 2}

    # a pipeline rerun resumes instead of recomputing
    calls = []

    def fn(d):
        calls.append(1)
        return d

    Pipeline([Stage("st1", fn)], store).run(df)
    assert calls == []  # skipped — existence-gated


def test_torn_write_counts_as_absent(spark):
    root = tempfile.mkdtemp()
    store = CheckpointStore(spark, root)
    df = spark.createDataFrame([(1,)], "id long")
    store.write(df, "st2")
    os.remove(os.path.join(root, "st2", "_manifest.json"))  # simulate torn write
    assert not store.exists("st2")
    # a snapshot is read only with its committed schema: torn or absent
    # stages raise instead of being read by footer inference
    for stage in ("st2", "never_written"):
        with pytest.raises(ValueError, match=stage):
            store.read(stage)


def test_compact_rewrites_small_files_and_preserves_content(spark):
    root = tempfile.mkdtemp()
    store = CheckpointStore(spark, root)
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("v")
    )
    before = store.write(df.repartition(16), "stc", params={"k": 1})
    # collect BEFORE compacting: the rewrite invalidates live handles on
    # the old files (documented caller contract — re-read after compact)
    before_rows = sorted(map(tuple, before.collect()))
    assert len(_data_files(store.path("stc"))) == 16
    rec = store.compact("stc", target_file_bytes=1 << 30)  # everything fits in 1 file
    assert rec["compacted"] and rec["files_before"] == 16 and rec["files_after"] == 1
    after_rows = sorted(map(tuple, store.read("stc").collect()))
    assert after_rows == before_rows  # content identical
    # manifest survived the swap: stage fields intact, record appended,
    # store invariant holds (exists == valid committed data)
    man = store.manifest("stc")
    assert man["stage"] == "stc" and man["params"] == {"k": 1} and man["rows"] == 2000
    assert man["compactions"][0]["files_after"] == 1
    assert store.exists("stc")
    # resume path still short-circuits over the compacted snapshot
    calls = []
    Pipeline([Stage("stc", lambda d: calls.append(1) or d)], store).run(df)
    assert calls == []
    # second compaction is a no-op
    rec2 = store.compact("stc", target_file_bytes=1 << 30)
    assert rec2["compacted"] is False and rec2["files"] == 1


def test_compact_absent_stage_raises(spark):
    store = CheckpointStore(spark, tempfile.mkdtemp())
    try:
        store.compact("nope")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_vacuum_reclaims_torn_and_scratch_only(spark):
    root = tempfile.mkdtemp()
    store = CheckpointStore(spark, root)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    store.write(df, "good")
    store.write(df, "torn")
    os.remove(os.path.join(root, "torn", "_manifest.json"))
    os.makedirs(os.path.join(root, "stage.compact_tmp"))
    os.makedirs(os.path.join(root, "stage.pre_compact"))
    removed = store.vacuum()
    assert removed == {
        "torn": ["torn"],
        "scratch": ["stage.compact_tmp", "stage.pre_compact"],
        "restored": [],
    }
    # the committed stage survives, fully readable
    assert store.exists("good") and store.read("good").count() == 1
    assert sorted(os.listdir(root)) == ["good"]


def test_vacuum_restores_pre_compact_backup_after_mid_swap_crash(spark):
    # crash between compact()'s two os.rename calls: the .pre_compact
    # backup holds the only committed copy of the stage — vacuum must
    # restore it, never delete it (round-5 ADVICE)
    root = tempfile.mkdtemp()
    store = CheckpointStore(spark, root)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    store.write(df, "st")
    # simulate the first rename having happened (stage dir gone)
    os.rename(os.path.join(root, "st"), os.path.join(root, "st.pre_compact"))
    assert not store.exists("st")
    removed = store.vacuum()
    assert removed["restored"] == ["st.pre_compact"] and removed["torn"] == []
    assert store.exists("st") and store.read("st").count() == 2

    # crash between the SECOND rename and the manifest update: stage dir
    # holds manifest-less compacted data, backup holds the manifest —
    # vacuum replaces the torn data with the committed backup
    os.rename(os.path.join(root, "st"), os.path.join(root, "st.pre_compact"))
    os.makedirs(os.path.join(root, "st"))
    with open(os.path.join(root, "st", "part-junk.parquet"), "w") as fh:
        fh.write("torn")
    removed = store.vacuum()
    assert removed["restored"] == ["st.pre_compact"] and removed["torn"] == []
    assert store.exists("st") and store.read("st").count() == 2

    # committed stage + leftover backup: backup is redundant → scratch
    os.makedirs(os.path.join(root, "st.pre_compact"))
    removed = store.vacuum()
    assert removed["scratch"] == ["st.pre_compact"] and removed["restored"] == []
    assert store.exists("st") and store.read("st").count() == 2


def test_import_delimited_explicit_schema_keeps_names(spark, tmp_path):
    """Round-6 review: the f0..fN rename applies only to headerless files
    WITHOUT a schema — an explicit schema already names the columns."""
    p = str(tmp_path / "t.csv")
    with open(p, "w") as fh:
        fh.write("https://a.com\t123\n")
    df = import_delimited(
        spark, p, header=False, schema="url STRING, ts LONG"
    )
    assert df.columns == ["url", "ts"]
    assert df.collect()[0]["ts"] == 123
    df2 = import_delimited(spark, p, header=False, impute=False)
    assert df2.columns == ["f0", "f1"]  # headerless+schemaless keeps f-names

