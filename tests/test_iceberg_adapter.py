"""Contract tests for the Iceberg one-line switch (SURVEY.md §7,
``sources/tables.py``): no Iceberg jars exist in the sandbox (verified
0/287), so these stub the reader/writer CHAINS and assert the adapter
drives them exactly as a real Iceberg catalog would see — the
``format("iceberg")`` read branch, the ``.partitions`` metadata-table
path (manifest read, no data scan), its missing-field fallback to the
caller's distinct() scan, and the partitioned ``saveAsTable`` write
branch."""

import pytest

from jio_spark.sources.tables import TableAdapter, list_partition_values


class _FakeReader:
    """Records the read chain; load() is served from a dict of real
    DataFrames keyed by location (so downstream select/collect is real
    Spark), or raises like a missing catalog table would."""

    def __init__(self, log, tables):
        self._log = log
        self._tables = tables
        self._fmt = None

    def format(self, fmt):
        self._fmt = fmt
        return self

    def load(self, location):
        self._log.append(("load", self._fmt, location))
        if location not in self._tables:
            raise Exception(f"Table or view not found: {location}")
        return self._tables[location]

    def parquet(self, location):
        self._log.append(("parquet", None, location))
        return self._tables[location]


class _FakeSpark:
    def __init__(self, log, tables):
        self._log = log
        self._tables = tables

    @property
    def read(self):
        return _FakeReader(self._log, self._tables)


class _FakeWriter:
    def __init__(self, log):
        self._log = log

    def mode(self, m):
        self._log.append(("mode", m))
        return self

    def partitionBy(self, *cols):
        self._log.append(("partitionBy", cols))
        return self

    def format(self, fmt):
        self._log.append(("format", fmt))
        return self

    def saveAsTable(self, name):
        self._log.append(("saveAsTable", name))

    def parquet(self, location):
        self._log.append(("parquet", location))


class _FakeDF:
    def __init__(self, log, columns):
        self._log = log
        self.columns = columns

    @property
    def write(self):
        return _FakeWriter(self._log)


def test_iceberg_read_branch():
    log, sentinel = [], object()
    spark = _FakeSpark(log, {"cat.db.clips": sentinel})
    got = TableAdapter(fmt="iceberg").read(spark, "cat.db.clips")
    assert got is sentinel
    assert log == [("load", "iceberg", "cat.db.clips")]


def test_iceberg_partitions_metadata_table(spark):
    """partitions() must come from <table>.partitions (manifest read) —
    never a data scan: the data table is NOT in the fake catalog, so any
    fallback would raise."""
    meta = spark.createDataFrame([((3,),), ((1,),), ((2,),)],
                                 "partition struct<bucket_id: int>")
    log = []
    fake = _FakeSpark(log, {"cat.db.clips.partitions": meta})
    vals = TableAdapter(fmt="iceberg").partitions(fake, "cat.db.clips")
    assert vals == [1, 2, 3]
    assert log == [("load", "iceberg", "cat.db.clips.partitions")]


def test_iceberg_partitions_keep_null(spark):
    """A null ``.partitions`` entry is the NULL partition: it lists as a
    trailing None member, not as a failed sort that degrades the whole
    listing to the distinct() scan."""
    meta = spark.createDataFrame([((3,),), ((None,),), ((1,),)],
                                 "partition struct<bucket_id: int>")
    fake = _FakeSpark([], {"cat.db.clips.partitions": meta})
    assert list_partition_values(fake, "cat.db.clips", "bucket_id",
                                 "iceberg") == [1, 3, None]


def test_iceberg_partitions_fallback_on_missing_field(spark):
    """A table partitioned by something else: the .partitions schema has
    no bucket_id field, list_partition_values degrades to [] and the
    adapter falls back to the distinct() scan of the DATA table."""
    meta = spark.createDataFrame([((7,),)], "partition struct<day: int>")
    data = spark.createDataFrame([(2, "x"), (1, "y"), (2, "z")],
                                 "bucket_id int, clip_id string")
    log = []
    fake = _FakeSpark(log, {"cat.db.clips.partitions": meta,
                            "cat.db.clips": data})
    assert list_partition_values(fake, "cat.db.clips", "bucket_id",
                                 "iceberg") == []
    vals = TableAdapter(fmt="iceberg").partitions(fake, "cat.db.clips")
    assert vals == [1, 2]
    assert [e for e in log if e[0] == "load"] == [
        ("load", "iceberg", "cat.db.clips.partitions"),
        ("load", "iceberg", "cat.db.clips.partitions"),
        ("load", "iceberg", "cat.db.clips")]


def test_iceberg_write_branch():
    log = []
    df = _FakeDF(log, ["clip_id", "bucket_id"])
    TableAdapter(fmt="iceberg").write(df, "cat.db.out", mode="append")
    assert log == [("mode", "append"), ("partitionBy", ("bucket_id",)),
                   ("format", "iceberg"), ("saveAsTable", "cat.db.out")]


def test_parquet_write_branch_unpartitioned_column_missing():
    log = []
    df = _FakeDF(log, ["clip_id"])  # no bucket_id → no partitionBy
    TableAdapter(fmt="parquet").write(df, "/tmp/out")
    assert log == [("mode", "overwrite"), ("parquet", "/tmp/out")]


def test_runner_iceberg_table_root_end_to_end(spark, monkeypatch):
    """The RUNNER's iceberg wiring (round-4 submit_job fix): with
    ``table_format='iceberg'`` and a catalog-name table_root, partition
    discovery must call list_partition_values with fmt='iceberg' (the
    .partitions manifest read), and the payload-local 'files' decode —
    which reads parquet row groups off a directory and would crash on a
    catalog name — must gate itself OFF back to the Arrow decode path."""
    import jio_spark.sources.tables as tables_mod
    from jio_spark.audio.synth import clips_frame
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)

    calls = []

    def fake_list(spark_, location, col, fmt="parquet"):
        calls.append((location, col, fmt))
        return list(range(16))

    monkeypatch.setattr(tables_mod, "list_partition_values", fake_list)
    df = clips_frame(spark, 80, clean=True, partitions=4)
    cfg = ClipsJobConfig(group_size=8, uniqueness_layout="any",
                         decode_source="files", table_format="iceberg",
                         drift=False)
    job = ClipsValidationJob(spark, cfg, codec_dim=default_codec_dim(spark))
    metrics = job.run(df, table_root="cat.db.clips")
    assert calls == [("cat.db.clips", "bucket_id", "iceberg")]
    assert metrics["rows"] == 80
    assert metrics["violations"] == 0          # clean corpus, Arrow decode ran
    assert metrics["groups_run"] == 2          # 16 partitions / group_size 8


def test_iceberg_partition_row_counts_contract(spark):
    """The .partitions record_count read (manifest-only) drives the
    format('iceberg') chain and returns {partition_value: rows}; a
    missing metadata table degrades to None (audit skipped, not
    guessed)."""
    from jio_spark.sources.tables import iceberg_partition_row_counts
    log = []
    pdf = spark.createDataFrame(
        [((0,), 40), ((1,), 20)],
        "partition struct<bucket_id:int>, record_count long")
    fake = _FakeSpark(log, {"cat.db.clips.partitions": pdf})
    counts = iceberg_partition_row_counts(fake, "cat.db.clips",
                                          "bucket_id")
    assert counts == {0: 40, 1: 20}
    assert ("load", "iceberg", "cat.db.clips.partitions") in log
    assert iceberg_partition_row_counts(fake, "cat.db.other",
                                        "bucket_id") is None


def test_runner_iceberg_row_integrity(spark, monkeypatch):
    """row_integrity over an Iceberg table: observed scan rows vs the
    .partitions record_count truth. A tampered (larger) manifest count
    flags the run; honest counts pass. The parquet analog is the footer
    audit (tests/test_corruption.py)."""
    import jio_spark.sources.tables as tables_mod
    from pyspark.sql import functions as F
    from jio_spark.audio.synth import clips_frame
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)

    df = clips_frame(spark, 60, clean=True, partitions=2)
    real = {r["bucket_id"]: r["n"]
            for r in df.groupBy("bucket_id")
                       .agg(F.count("*").alias("n")).collect()}
    tampered = dict(real)
    tampered[sorted(tampered)[0]] += 5

    monkeypatch.setattr(tables_mod, "iceberg_partition_row_counts",
                        lambda s, loc, c: tampered)
    cfg = ClipsJobConfig(table_format="iceberg", audio_check=False,
                         drift=False, group_size=8)
    job = ClipsValidationJob(spark, cfg,
                             codec_dim=default_codec_dim(spark))
    m = job.run(df, table_root="cat.db.clips")
    ri = m["row_integrity"]
    assert ri["rows_expected"] == 65 and not ri["ok"]

    monkeypatch.setattr(tables_mod, "iceberg_partition_row_counts",
                        lambda s, loc, c: real)
    m2 = job.run(df, table_root="cat.db.clips")
    assert m2["row_integrity"] == {"rows_expected": 60,
                                   "unreadable_files": 0, "ok": True}
