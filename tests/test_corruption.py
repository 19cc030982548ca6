"""Damaged-file tolerance: at 10^12 clips some parquet files WILL be
corrupt, and the default strict semantics (one bad row group kills the
job) need an explicit, accounted alternative.

Two layers under test:
- decode side: ``on_corrupt='violation'`` turns an unreadable file/row
  group into ONE structured decode violation
  (``clip_id='__corrupt__:<relpath>#rg<N>'``) instead of a task failure;
- scan side: the runner's ``row_integrity`` footer-vs-scan audit flags
  the silent row loss produced by ``spark.sql.files.ignoreCorruptFiles``
  (the JVM scan drops files it cannot read and reports success).
"""

import glob
import os

import pytest
from pyspark.sql import functions as F

from jio_spark.audio.decode import decode_violations
from jio_spark.audio.files import (decode_check_files, footer_row_counts,
                                   list_row_group_splits)
from jio_spark.audio.synth import clips_frame
from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                              default_codec_dim)


def _write_clips(spark, path, n=240):
    # clean=True: no synthetic bad payloads, so every non-marker decode
    # row must pass and the corruption marker is the ONLY failure
    df = clips_frame(spark, n, clean=True, partitions=2)
    (df.repartition(3, "clip_id").write
       .partitionBy("bucket_id").parquet(path))
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                            recursive=True))


def _smash_data(path):
    """Garbage over the first data-page region; the footer (at the tail)
    stays valid, so the damage is only visible when the pages are READ —
    the worker-side on_corrupt path, not the driver-side listing."""
    with open(path, "r+b") as f:
        f.seek(4)
        f.write(b"\xff" * 256)


def _smash_footer(path):
    """Destroy the footer magic: the file is unreadable from the very
    first metadata touch — the driver-side listing path."""
    with open(path, "r+b") as f:
        f.seek(-8, os.SEEK_END)
        f.write(b"\x00" * 8)


def test_corrupt_row_group_becomes_one_violation(spark, tmp_path):
    import pyarrow.parquet as pq
    root = str(tmp_path / "t")
    files = _write_clips(spark, root)
    total = spark.read.parquet(root).count()
    victim = files[0]
    lost = pq.ParquetFile(victim).metadata.num_rows
    _smash_data(victim)

    # strict default: exact semantics — the job dies on damage
    with pytest.raises(Exception):
        decode_check_files(spark, root, check_reference=False).collect()

    rows = decode_check_files(spark, root, check_reference=False,
                              on_corrupt="violation").collect()
    markers = [r for r in rows if r["clip_id"].startswith("__corrupt__:")]
    ok_rows = [r for r in rows
               if not r["clip_id"].startswith("__corrupt__:")]
    assert len(markers) == 1
    m = markers[0]
    assert not m["decode_ok"]
    assert "unreadable row group" in m["error"]
    assert "#rg0" in m["clip_id"]
    # everything readable is still fully decoded and checked
    assert len(ok_rows) == total - lost
    assert all(r["decode_ok"] for r in ok_rows)

    # exactly ONE violation per corrupt unit (metadata/SNR flags are
    # "not asserted", not "failed" — no sixfold noise)
    dv = decode_violations(
        decode_check_files(spark, root, check_reference=False,
                           on_corrupt="violation"),
        extra_cols=["bucket_id"]).collect()
    corrupt_v = [r for r in dv
                 if r["clip_id"].startswith("__corrupt__:")]
    assert len(corrupt_v) == 1
    assert corrupt_v[0]["rule_name"] == "decode"
    assert "unreadable row group" in corrupt_v[0]["actual"]


def test_bad_splits_spare_good_ones_in_the_same_task(spark, tmp_path,
                                                   monkeypatch):
    """One decode task holding a footer marker, an unreadable row group
    and good row groups (the packing puts several row groups in each
    task) yields exactly one violation per bad unit, and every good clip
    of that task is still decoded."""
    import pyarrow.parquet as pq
    from jio_spark.audio import files
    root = str(tmp_path / "t5")
    paths = _write_clips(spark, root)
    total = spark.read.parquet(root).count()
    footer_victim, data_victim = paths[0], paths[1]
    lost = (pq.ParquetFile(footer_victim).metadata.num_rows
            + pq.ParquetFile(data_victim).metadata.row_group(0).num_rows)
    _smash_footer(footer_victim)
    _smash_data(data_victim)
    monkeypatch.setattr(files, "pack_splits",
                        lambda sizes, *_: [0] * len(sizes))

    dec = decode_check_files(spark, root, check_reference=False,
                             on_corrupt="violation")
    assert dec.rdd.getNumPartitions() == 1
    rows = dec.collect()
    markers = sorted(r["clip_id"].rsplit("#", 1)[1] for r in rows
                     if r["clip_id"].startswith("__corrupt__:"))
    good = [r for r in rows if not r["clip_id"].startswith("__corrupt__:")]
    assert markers == ["footer", "rg0"]
    assert len(good) == total - lost > 0
    assert all(r["decode_ok"] for r in good)

    dv = decode_violations(dec, extra_cols=["bucket_id"]).collect()
    assert sorted(r["clip_id"].rsplit("#", 1)[1] for r in dv) \
        == ["footer", "rg0"]
    assert {r["rule_name"] for r in dv} == {"decode"}


def test_corrupt_footer_listing_marker_and_job_integrity(spark, tmp_path):
    import pyarrow.parquet as pq
    root = str(tmp_path / "t2")
    files = _write_clips(spark, root)
    total = spark.read.parquet(root).count()
    victim = files[-1]
    lost = pq.ParquetFile(victim).metadata.num_rows
    _smash_footer(victim)

    # strict default raises at LISTING time (driver-side, before any task)
    with pytest.raises(Exception):
        list_row_group_splits(root)

    splits = list_row_group_splits(root, on_corrupt="violation")
    assert sum(1 for _, rg, _ in splits if rg < 0) == 1
    exp, unreadable = footer_row_counts(root)
    assert unreadable == 1
    assert exp == total - lost

    # the decode attributes the unreadable file as a '#footer' marker
    dec = decode_check_files(spark, root, check_reference=False,
                             on_corrupt="violation").collect()
    footer_markers = [r for r in dec if r["clip_id"].endswith("#footer")]
    assert len(footer_markers) == 1
    assert footer_markers[0]["error"] == "unreadable parquet footer"

    # full job with the JVM scan in ignoreCorruptFiles mode: the scan
    # silently drops the damaged file — row_integrity makes that loss
    # an explicit flag instead of a quietly-smaller "success"
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        job = ClipsValidationJob(
            spark, ClipsJobConfig(group_size=8, decode_source="files",
                                  decode_on_corrupt="violation",
                                  drift=False),
            codec_dim=default_codec_dim(spark))
        m = job.run(spark.read.parquet(root), table_root=root)
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert m["rows"] == total - lost           # the scan really dropped it
    ri = m["row_integrity"]
    assert ri["unreadable_files"] == 1
    assert not ri["ok"]


def test_truncated_file_is_footer_dead(spark, tmp_path):
    """Truncation (partial upload — the most common real-world damage)
    kills the footer, because parquet footers live at the END of the
    file: the marker must be the driver-side '#footer' kind and the
    accounting must cover the loss exactly."""
    import pyarrow.parquet as pq
    root = str(tmp_path / "t4")
    files = _write_clips(spark, root)
    total = spark.read.parquet(root).count()
    victim = files[0]
    lost = pq.ParquetFile(victim).metadata.num_rows
    size = os.path.getsize(victim)
    with open(victim, "r+b") as f:
        f.truncate(size // 2)

    dec = decode_check_files(spark, root, check_reference=False,
                             on_corrupt="violation").collect()
    markers = [r for r in dec if r["clip_id"].startswith("__corrupt__:")]
    assert len(markers) == 1
    assert markers[0]["clip_id"].endswith("#footer")
    assert len(dec) - len(markers) == total - lost
    exp, unreadable = footer_row_counts(root)
    assert unreadable == 1
    assert exp == total - lost


def test_nonhive_table_integrity_is_table_level(spark, tmp_path):
    """A non-hive layout (partition value is a DATA column, no dirs to
    prune) cannot be audited per group — footer_row_counts would count
    the WHOLE table against each group's rows and false-flag every
    healthy group (review finding). The audit must degrade to ONE
    whole-table comparison, which passes on a clean table."""
    root = str(tmp_path / "flat")
    df = clips_frame(spark, 160, clean=True, partitions=4)
    df.repartition(3, "clip_id").write.parquet(root)  # bucket_id = data col
    job = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=2, decode_source="files",
                              audio_check=False, drift=False),
        codec_dim=default_codec_dim(spark))
    m = job.run(spark.read.parquet(root), table_root=root)
    assert m["groups_run"] > 1          # per-partition groups, the bug shape
    assert m["row_integrity"] == {"rows_expected": 160,
                                  "unreadable_files": 0, "ok": True}


def test_row_integrity_clean_table(spark, tmp_path):
    root = str(tmp_path / "t3")
    _write_clips(spark, root, n=160)
    total = spark.read.parquet(root).count()
    job = ClipsValidationJob(
        spark, ClipsJobConfig(group_size=8, decode_source="files",
                              drift=False),
        codec_dim=default_codec_dim(spark))
    m = job.run(spark.read.parquet(root), table_root=root)
    ri = m["row_integrity"]
    assert ri == {"rows_expected": total, "unreadable_files": 0,
                  "ok": True}
    assert m["rows"] == total


def test_schema_drifted_file_is_violation_not_keyerror(spark, tmp_path):
    """pyarrow silently drops requested columns missing from a file, so
    a writer-drifted file (no transcript column) previously surfaced as
    a raw worker KeyError that bypassed on_corrupt='violation'. It must
    be ONE structured violation in violation mode and a clear error in
    fail mode."""
    root = str(tmp_path / "drift")
    files = _write_clips(spark, root)
    # rewrite one file without the transcript column (writer drift)
    import pyarrow.parquet as pq
    tbl = pq.read_table(files[0])
    pq.write_table(tbl.drop_columns(["transcript"]), files[0])

    with pytest.raises(Exception, match="missing required columns"):
        decode_check_files(spark, root, check_reference=True).collect()
    rows = decode_check_files(spark, root, check_reference=True,
                              on_corrupt="violation").collect()
    markers = [r for r in rows if not r["decode_ok"]
               and "missing required columns" in (r["error"] or "")]
    assert len(markers) == 1
    # the undrifted files all decoded clean
    ok = [r for r in rows if r["decode_ok"]]
    assert ok and all(r["snr_ok"] and r["transcript_match"] for r in ok)
    # check_reference=False never reads transcripts: same file decodes
    rows2 = decode_check_files(spark, root, check_reference=False)
    assert rows2.where(~F.col("decode_ok")).count() == 0


def test_corrupt_payload_emits_one_violation_dataframe_path(spark):
    """The dataframe decode must match files-mode's one-violation-per-
    defect rule: a truncated WAV asserts ONLY decode_ok (previously it
    fabricated codec/sr/dur/snr/transcript failures on top — 6 rows for
    one defect), and a NULL clip_id still yields a non-null message."""
    from jio_spark.audio.decode import decode_check, decode_violations
    clips = clips_frame(spark, 30, clean=True, partitions=1)
    first = clips.select("clip_id").orderBy("clip_id").first()[0]
    broken = clips.withColumn(
        "bytes", F.when(F.col("clip_id") == first,
                        F.expr("substring(bytes, 1, 10)"))
                  .otherwise(F.col("bytes")))
    dv = decode_violations(decode_check(broken)).collect()
    assert len(dv) == 1
    assert dv[0]["rule_name"] == "decode" and dv[0]["clip_id"] == first
    nulled = broken.withColumn(
        "clip_id", F.when(F.col("clip_id") == first, F.lit(None))
                    .otherwise(F.col("clip_id")))
    dv2 = decode_violations(decode_check(nulled)).collect()
    assert len(dv2) == 1 and dv2[0]["message"] is not None
    assert "<null>" in dv2[0]["message"]


def test_submit_rejects_files_decode_on_iceberg():
    """--decode-source files with --format iceberg would silently fall
    back to the dataframe decode (making --on-corrupt inert) — rejected
    at argparse time like every other contradictory knob."""
    import tools.submit_job as sj
    with pytest.raises(SystemExit):
        sj.main(["--input", "/x", "--output", "/y",
                 "--format", "iceberg", "--decode-source", "files"])
