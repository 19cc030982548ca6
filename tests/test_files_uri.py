"""Object-store (URI) support for the payload-local decode path
(round 5): `files.py` previously refused any `scheme://` root with a
documented NotImplementedError; the listing now goes through
`pyarrow.fs.FileSystem.from_uri` and every footer/row-group read
resolves the URI in the worker. Exercised here with ``file://`` —
pyarrow's LocalFileSystem takes the exact same code path an
S3FileSystem would (from_uri → FileSelector listing → open_input_file
reads), so this pins the plumbing without needing network."""

import os

import pytest
from pyspark.sql import functions as F

from jio_spark.audio.files import (decode_check_files, footer_row_counts,
                                   is_hive_layout, list_row_group_splits)
from jio_spark.audio.synth import write_clips
from jio_spark.runner import ClipsJobConfig, ClipsValidationJob
from jio_spark.sinks.writers import Manifest


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("uri_clips") / "tbl")
    write_clips(spark, 300, root, partitions=4)
    return root


def test_uri_listing_matches_local(table):
    plain = list_row_group_splits(table)
    uri = list_row_group_splits(f"file://{table}")
    assert len(plain) == len(uri) > 0
    # same (relpath, rg, pval) splits; URI rows carry the full scheme
    def key(s, root):
        p, rg, pv = s
        rel = os.path.relpath(p.split("://", 1)[-1], root)
        return (rel, rg, pv)
    assert sorted(key(s, table) for s in plain) \
        == sorted(key(s, table) for s in uri)
    assert all(p.startswith("file://") for p, _, _ in uri)


def test_uri_footer_counts_match_local(table):
    assert footer_row_counts(table) == footer_row_counts(f"file://{table}")
    # partition pruning works through the URI listing too
    pl = footer_row_counts(table, partition_filter=[0, 1])
    ur = footer_row_counts(f"file://{table}", partition_filter=[0, 1])
    assert pl == ur and pl[0] > 0


def test_uri_decode_matches_local(spark, table):
    cols = ["clip_id", "decode_ok", "sr_match", "dur_match", "snr_ok",
            "transcript_match", "n_samples", "bucket_id"]
    plain = sorted(map(tuple, decode_check_files(spark, table)
                       .select(*cols).collect()))
    uri = sorted(map(tuple,
                     decode_check_files(spark, f"file://{table}")
                     .select(*cols).collect()))
    assert plain == uri and len(plain) == 300


def test_uri_empty_listing_refuses_loudly(tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        list_row_group_splits(f"file://{empty}")
    with pytest.raises(FileNotFoundError):
        list_row_group_splits(f"file://{empty}/missing")


def test_uri_malformed_refuses_with_designed_error():
    """A URI pyarrow cannot parse raises ArrowInvalid (an ArrowException,
    not an OSError); the listing must rewrap it in the same
    FileNotFoundError every other listing failure raises."""
    with pytest.raises(FileNotFoundError, match="cannot list"):
        list_row_group_splits("file://[bad")


def test_uri_listing_keeps_authority(monkeypatch):
    """Split paths are rebuilt under the root URI's own
    scheme://authority prefix: ``hdfs://nn:8020/t`` lists as
    ``hdfs://nn:8020/t/...``, not ``hdfs:///t/...`` (which names another
    cluster's default namenode). The filesystem is stubbed, so no HDFS
    client is needed."""
    import pyarrow as pa
    import pyarrow.fs as pafs

    from jio_spark.audio import files

    F_, D_ = pafs.FileType.File, pafs.FileType.Directory
    listed = [pafs.FileInfo("/t/bucket_id=0", D_),
              pafs.FileInfo("/t/bucket_id=0/part-0.parquet", F_),
              pafs.FileInfo("/t/bucket_id=1/part-1.parquet", F_),
              pafs.FileInfo("/t/_SUCCESS", F_)]

    class StubFS:
        def __init__(self, fail=None):
            self.fail = fail

        def get_file_info(self, selector):
            assert selector.base_dir == "/t" and selector.recursive
            if self.fail is not None:
                raise self.fail
            return listed

    stub = StubFS()

    class StubFileSystem:
        @staticmethod
        def from_uri(uri):
            assert uri == "hdfs://nn:8020/t"
            return stub, "/t"

    monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
    tagged, hive = files._tagged_files("hdfs://nn:8020/t", None,
                                       "bucket_id")
    assert hive
    assert tagged == [("hdfs://nn:8020/t/bucket_id=0/part-0.parquet", 0),
                      ("hdfs://nn:8020/t/bucket_id=1/part-1.parquet", 1)]
    # partition pruning reads the relpath under the authority-bearing root
    tagged, _ = files._tagged_files("hdfs://nn:8020/t", [1], "bucket_id")
    assert tagged == [("hdfs://nn:8020/t/bucket_id=1/part-1.parquet", 1)]
    # a listing error that is an ArrowException, not an OSError
    stub.fail = pa.ArrowInvalid("bad listing")
    with pytest.raises(FileNotFoundError, match="cannot list"):
        files._tagged_files("hdfs://nn:8020/t", None, "bucket_id")


def test_uri_root_resume_audits_rerun_group(spark, table, tmp_path):
    """A files-mode run on a ``file://`` root audits its rows like the
    same table by plain path. Resumed after one group's mark is removed,
    it reports ``row_integrity`` for the re-run group: the table is a
    hive layout whichever way it is named, so the footer audit prunes
    per group (a resumed subset has no whole-table truth)."""
    assert is_hive_layout(table) and is_hive_layout(f"file://{table}")

    def resumed(root, out):
        job = ClipsValidationJob(spark, ClipsJobConfig(
            group_size=8, decode_source="files", drift=False))
        df = spark.read.parquet(root)
        job.run(df, output_root=out, table_root=root)
        manifest = Manifest(out)
        first = sorted(n for n in os.listdir(manifest.dir)
                       if n.startswith("group_"))[0]
        os.remove(os.path.join(manifest.dir, first))
        return job.run(df, output_root=out, resume=True, table_root=root)

    plain = resumed(table, str(tmp_path / "plain"))
    uri = resumed(f"file://{table}", str(tmp_path / "uri"))
    assert plain["groups_run"] == uri["groups_run"] == 1
    assert plain["row_integrity"]["ok"]
    assert plain["row_integrity"]["rows_expected"] == plain["rows"] > 0
    assert uri["row_integrity"] == plain["row_integrity"]
    assert uri["rows"] == plain["rows"]


def test_split_frame_packs_contiguous_runs(spark):
    """Task k of the decode's split frame holds the k-th contiguous run
    of the (hash-shuffled) split list, for 1 to 32 splits: one split per
    task when there are no more splits than tasks, and runs differing in
    length by at most one when there are."""
    from jio_spark.audio.files import split_frame
    for n in range(1, 33):
        splits = [(f"/t/bucket_id={i % 16}/f{i}.parquet", i % 3, i % 16)
                  for i in range(n)]
        for tasks in sorted({n, min(n, 5)}):
            rows = split_frame(spark, splits, tasks, "bucket_id", "int") \
                .select(F.spark_partition_id().alias("task"), "path", "rg",
                        "bucket_id").collect()
            got = sorted((r["task"], r["path"], r["rg"], r["bucket_id"])
                         for r in rows)
            want = sorted((k, *s) for k in range(tasks)
                          for s in splits[k * n // tasks:
                                          (k + 1) * n // tasks])
            assert got == want, (n, tasks)
