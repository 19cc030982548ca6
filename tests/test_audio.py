"""Audio codecs, deterministic synth fixture, and the decode-check batch
rule (SURVEY.md §7 milestone 8; input_hint per-row invariant)."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from jio_spark.audio.codecs import (alaw_decode, alaw_encode, decode_wav,
                                    encode_alaw_wav, encode_pcm16_wav,
                                    encode_ulaw_wav, snr_db, synth_wave,
                                    ulaw_decode, ulaw_encode)
from jio_spark.audio.synth import (clips_frame, expected_signal,
                                   expected_transcript, make_row)
from jio_spark.audio.decode import (decode_check, decode_violations,
                                    salted_repartition)

N = 2000  # generated clips for the distributed tests


def test_codec_roundtrip_snr():
    pcm = synth_wave(440.0, 500, 16000)
    for enc, codec in [(encode_pcm16_wav, "pcm_s16le"),
                       (encode_ulaw_wav, "ulaw"),
                       (encode_alaw_wav, "alaw")]:
        dec, sr, fmt = decode_wav(enc(pcm, 16000))
        assert sr == 16000 and fmt == codec and len(dec) == len(pcm)
        assert snr_db(pcm, dec) >= 30.0, codec


def test_g711_monotone_and_bounded():
    x = np.arange(-32768, 32768, 17, dtype=np.int16)
    for enc, dec, bound in [(ulaw_encode, ulaw_decode, 1024),
                            (alaw_encode, alaw_decode, 1024)]:
        rt = dec(enc(x)).astype(np.int64)
        assert np.all(np.abs(rt - x.astype(np.int64)) <= bound)


def test_decode_rejects_garbage():
    with pytest.raises(ValueError):
        decode_wav(b"not audio at all")
    good = encode_pcm16_wav(synth_wave(440, 100, 8000), 8000)
    with pytest.raises(ValueError):
        decode_wav(good[: len(good) // 2])


def test_synth_determinism_and_rates():
    rows = [make_row(i) for i in range(5000)]
    again = [make_row(i) for i in range(5000)]
    assert [r[0] for r in rows] == [r[0] for r in again]
    assert bytes(rows[17][1]) == bytes(again[17][1])
    codecs = [r[4] for r in rows]
    assert 0.001 <= codecs.count("opus") / 5000 <= 0.004
    frac_pcm = codecs.count("pcm_s16le") / 5000
    assert 0.65 <= frac_pcm <= 0.75
    dup_ids = 5000 - len(set(r[0] for r in rows))
    assert 1 <= dup_ids <= 15
    nulls = sum(1 for r in rows if r[5] is None)
    assert 10 <= nulls <= 50


def test_clips_frame_distributed_matches_local(spark):
    df = clips_frame(spark, 64, partitions=4)
    rows = {r["clip_id"]: r for r in df.collect()}
    assert len(rows) >= 63  # one dup possible
    local = make_row(7)
    r = rows[local[0]]
    assert bytes(r["bytes"]) == bytes(local[1])
    assert r["transcript"] == local[5]


def test_decode_check_end_to_end(spark):
    df = clips_frame(spark, N, partitions=8)
    res = decode_check(df, check_reference=True).cache()
    try:
        agg = res.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("decode_ok")).cast("long")).alias("bad_decode"),
            F.sum((F.col("decode_ok") & ~F.col("sr_match")).cast("long"))
             .alias("sr_mismatch"),
            F.sum((F.col("decode_ok") & ~F.col("dur_match")).cast("long"))
             .alias("dur_mismatch"),
            F.sum((F.col("decode_ok") & ~F.col("snr_ok")).cast("long"))
             .alias("bad_snr"),
            F.sum((~F.col("transcript_match")).cast("long"))
             .alias("bad_transcript"),
        ).collect()[0]
        assert agg["n"] == N
        # injected anomaly rates (FIXTURES.md §1): 0.5% each, 2% transcript
        assert 0.001 * N <= agg["bad_decode"] <= 0.012 * N
        assert 0.001 * N <= agg["sr_mismatch"] <= 0.012 * N
        assert 0.001 * N <= agg["dur_mismatch"] <= 0.012 * N
        # clean rows decode at >=30dB: bad_snr comes from sr-mismatch
        # cases AND duplicate-id rows — a duplicate carries index i's
        # payload under clip_{i-7}'s id, so the reference check (keyed
        # off the CLAIMED id, as a real reference-store join would be)
        # correctly flags its snr + transcript: a row claiming another
        # clip's id with different audio IS a reference mismatch
        assert agg["bad_snr"] <= 0.02 * N
        assert 0.01 * N <= agg["bad_transcript"] <= 0.04 * N

        viols = decode_violations(res)
        names = {r["rule_name"] for r in
                 viols.select("rule_name").distinct().collect()}
        assert "decode" in names and "transcript_equality" in names
    finally:
        res.unpersist()


def test_clean_generation_all_pass(spark):
    df = clips_frame(spark, 300, clean=True, partitions=4)
    res = decode_check(df, check_reference=True)
    agg = res.agg(
        F.sum((~(F.col("decode_ok") & F.col("sr_match") & F.col("dur_match")
                 & F.col("snr_ok") & F.col("transcript_match")))
              .cast("long")).alias("bad")).collect()[0]
    assert agg["bad"] == 0


def test_salted_repartition_spreads_skew(spark):
    df = clips_frame(spark, N, partitions=4)
    parts = (salted_repartition(df, num_partitions=16)
             .withColumn("pid", F.spark_partition_id())
             .groupBy("pid").count().collect())
    counts = [r["count"] for r in parts]
    assert len(counts) >= 12  # most partitions occupied
    assert max(counts) < 3.0 * (N / 16)  # no dominating partition


def test_salted_repartition_balances_hostile_cost_skew(spark):
    """Adversarial skew (north_star: 'Salted repartitioning handles
    codec/duration skew explicitly'): 90% of rows are one heavy
    (codec, duration) class — per-partition decode COST (∝ dur_ms), not
    just row count, must stay balanced in uniform mode, and grouped mode
    must spread the heavy group across many partitions instead of
    parking it on one."""
    n, parts = 20000, 32
    df = (spark.range(n)
          .select(F.concat(F.lit("clip_"),
                           F.lpad(F.col("id").cast("string"), 12, "0"))
                  .alias("clip_id"),
                  F.when(F.pmod("id", 10) < 9, F.lit("ulaw"))
                   .otherwise(F.lit("pcm_s16le")).alias("codec"),
                  F.when(F.pmod("id", 10) < 9, F.lit(20000))
                   .otherwise(F.lit(500)).alias("dur_ms")))

    cost = (salted_repartition(df, num_partitions=parts)
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid").agg(F.sum("dur_ms").alias("cost")).collect())
    costs = [r["cost"] for r in cost]
    assert len(costs) == parts
    mean = sum(costs) / len(costs)
    assert max(costs) < 1.3 * mean   # no partition dominates the stage

    grouped = (salted_repartition(df, num_partitions=parts, mode="grouped",
                                  salt_buckets=16)
               .withColumn("pid", F.spark_partition_id())
               .where(F.col("codec") == "ulaw")
               .select("pid").distinct().count())
    assert grouped >= 8  # the heavy group spans many partitions, not one


def test_check_reference_off_is_not_asserted(spark):
    """check_reference=False must not fabricate snr/transcript
    violations for clean clips (flags default to not-asserted, the same
    one-violation-per-defect rule as the corrupt-unit frames), and a
    metadata-only table WITHOUT a transcript column must still decode."""
    clips = clips_frame(spark, 60, clean=True, partitions=2)
    dv = decode_violations(
        decode_check(clips, check_reference=False)).collect()
    assert dv == []
    res = decode_check(clips.drop("transcript"), check_reference=False)
    assert res.where(~F.col("decode_ok")).count() == 0


def test_null_metadata_is_violation_not_crash(spark):
    """A NULL sr_hz/dur_ms (Arrow nullable int → NaN) or NULL clip_id
    must become a failed assertion row, not an int(NaN)/None.rsplit
    crash that kills the whole task."""
    clips = clips_frame(spark, 8, clean=True, partitions=1)
    first = clips.select("clip_id").orderBy("clip_id").first()[0]
    broken = (clips
              .withColumn("sr_hz", F.when(F.col("clip_id") == first,
                                          F.lit(None)).otherwise(
                                              F.col("sr_hz")))
              .withColumn("clip_id", F.when(F.col("clip_id") == first,
                                            F.lit(None)).otherwise(
                                                F.col("clip_id"))))
    rows = decode_check(broken, check_reference=True).collect()
    assert len(rows) == 8
    bad = [r for r in rows if r["clip_id"] is None]
    assert len(bad) == 1
    assert bad[0]["decode_ok"] and not bad[0]["sr_match"]
    assert "unparseable clip_id" in bad[0]["error"]
    assert all(r["sr_match"] and r["snr_ok"]
               for r in rows if r["clip_id"] is not None)


def test_mode_knob_typos_fail_loudly(spark):
    clips = clips_frame(spark, 4, clean=True, partitions=1)
    with pytest.raises(ValueError, match="mode"):
        salted_repartition(clips, mode="unifrom")
    from jio_spark.audio.files import list_row_group_splits
    with pytest.raises(ValueError, match="on_corrupt"):
        list_row_group_splits("/nonexistent", on_corrupt="violations")


def test_tagged_files_parse_and_ancestor_dirs(spark, tmp_path):
    """_tagged_files must int-parse hive values with the manifest's
    all-or-nothing rule (a mixed string domain stays strings, so the
    wanted-set from list_partition_values matches), and must ignore a
    '<col>=value/' segment in an ANCESTOR directory above the table
    root (it belongs to some other table's layout)."""
    from jio_spark.audio.files import _tagged_files

    mixed = str(tmp_path / "mixed")
    (clips_frame(spark, 8, clean=True, partitions=1)
     .withColumn("grp", F.when(F.col("dur_ms") % 2 == 0,
                               F.lit("10")).otherwise(F.lit("east")))
     .write.partitionBy("grp").parquet(mixed))
    tagged, hive = _tagged_files(mixed, None, "grp")
    assert hive and {pv for _, pv in tagged} <= {"10", "east"}
    assert all(isinstance(pv, str) for _, pv in tagged)
    # filter with the manifest's string values prunes correctly
    t10, _ = _tagged_files(mixed, ["10"], "grp")
    assert t10 and all(pv == "10" for _, pv in t10)

    nested = str(tmp_path / "bucket_id=3" / "clips")
    clips_frame(spark, 6, clean=True, partitions=1).write.parquet(nested)
    tagged2, hive2 = _tagged_files(nested, None, "bucket_id")
    assert not hive2 and all(pv is None for _, pv in tagged2)


def test_parse_wav_walks_chunks_per_spec():
    """parse_wav must accept spec-valid WAVs whose data chunk is NOT at
    the canonical offset 36 (18-byte WAVEFORMATEX fmt, fact/LIST chunks
    before data) and must reject a buffer with b'data' positioned where
    the canonical layout expects it but no fmt chunk at all."""
    import struct
    import numpy as np
    from jio_spark.audio.codecs import parse_wav, synth_wave

    pcm = synth_wave(200, 40, 8000).astype("<i2")
    payload = pcm.tobytes()
    sr, block, bits = 8000, 2, 16
    fmt18 = struct.pack("<HHIIHHH", 1, 1, sr, sr * block, block, bits, 0)
    fact = struct.pack("<I", len(pcm))
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt18)) + fmt18
            + b"fact" + struct.pack("<I", len(fact)) + fact
            + b"data" + struct.pack("<I", len(payload)) + payload)
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    coded, got_sr, codec = parse_wav(raw)
    assert got_sr == sr and codec == "pcm_s16le"
    assert np.array_equal(coded, pcm)

    # canonical 44-byte layout still parses (the synth fixtures)
    from jio_spark.audio.codecs import encode_pcm16_wav
    coded2, sr2, _ = parse_wav(encode_pcm16_wav(pcm, sr))
    assert sr2 == sr and np.array_equal(coded2, pcm)

    # b'data' at the canonical offset but a junk chunk where fmt should
    # be: the old fixed-offset parse unpacked garbage as fmt/sr — the
    # walker rejects it
    junk = b"JUNK" + struct.pack("<I", 16) + b"\x07" * 16
    bad_body = (b"WAVE" + junk
                + b"data" + struct.pack("<I", len(payload)) + payload)
    bad = b"RIFF" + struct.pack("<I", len(bad_body)) + bad_body
    with pytest.raises(ValueError, match="fmt"):
        parse_wav(bad)

    # truncated data chunk still refused
    with pytest.raises(ValueError, match="truncated"):
        parse_wav(raw[:-10])


def test_g711_bits_must_be_8():
    """G.711 is 8-bit by definition: a fmt chunk declaring 16-bit
    mu-law must raise (ONE decode violation), not be read one sample
    per byte — which doubles n_samples and misattributes the defect to
    dur/snr (the one-violation-per-defect rule)."""
    import struct
    import pytest as _pytest
    from jio_spark.audio.codecs import parse_wav

    payload = bytes(range(64))
    sr = 8000
    for tag, bits, ok in ((7, 8, True), (7, 16, False), (6, 8, True),
                          (6, 16, False)):
        fmt = struct.pack("<HHIIHH", tag, 1, sr, sr, 1, bits)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(payload)) + payload)
        raw = b"RIFF" + struct.pack("<I", len(body)) + body
        if ok:
            coded, got_sr, _ = parse_wav(raw)
            assert got_sr == sr and len(coded) == len(payload)
        else:
            with _pytest.raises(ValueError, match="g711"):
                parse_wav(raw)


def test_decode_passthrough_overlap_and_unsalted_partitions(spark):
    """A passthrough naming a base decode column must not select it
    twice (2-D pdf['codec'] + duplicate schema field = mid-job Arrow
    failure)."""
    df = clips_frame(spark, 24, clean=True, partitions=2)
    res = decode_check(df, check_reference=False, passthrough=["codec"])
    assert res.columns.count("codec") == 1
    assert res.count() == 24


def test_decode_violations_expected_names_real_threshold(spark):
    """The snr violation's 'expected' text must state the threshold that
    actually failed the row, not a hardcoded 30."""
    from jio_spark.audio.decode import decode_violations
    df = clips_frame(spark, 8, clean=True, partitions=1)
    res = decode_check(df, snr_threshold=99.0)  # everything fails snr
    v = decode_violations(res, snr_threshold=99.0)
    exp = {r["expected"] for r in
           v.where(F.col("rule_name") == "snr").collect()}
    assert exp == {">= 99dB vs reference"}
    # the default renders byte-identically to the old hardcoded text
    v30 = decode_violations(res)
    assert ">= 30dB vs reference" in {
        r["expected"] for r in
        v30.where(F.col("rule_name") == "snr").collect()}


def test_tagged_files_loud_on_uris_empty_and_metachar_cols(
        spark, tmp_path):
    """Three silent-skip shapes made loud/safe: an empty/missing URI
    root (round 5: URIs now LIST via pyarrow.fs instead of refusing,
    but an empty listing still refuses loudly — a typo'd bucket must
    not "validate" zero rows), an empty local root, and a partition
    column whose name contains regex metacharacters (un-escaped '.'
    made 'bucketXid=3/' tag as a hive dir for 'bucket.id')."""
    import os
    from jio_spark.audio.files import _tagged_files

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="zero rows"):
        _tagged_files(f"file://{empty}", None, "bucket_id")
    with pytest.raises(FileNotFoundError):
        _tagged_files(f"file://{empty}/nonexistent", None, "bucket_id")
    with pytest.raises(FileNotFoundError, match="zero rows"):
        _tagged_files(str(empty), None, "bucket_id")

    root = str(tmp_path / "meta")
    clips_frame(spark, 4, clean=True, partitions=1).write.parquet(
        os.path.join(root, "bucketXid=3"))
    tagged, hive = _tagged_files(root, None, "bucket.id")
    assert not hive and all(pv is None for _, pv in tagged)


def test_partition_dtype_mirrors_spark_inference_ladder(spark, tmp_path):
    """_partition_dtype must follow Spark's Integer→Long→Decimal hive
    inference: small values stay int32 (parity with the table read's
    column), int64-range values must not fail createDataFrame schema
    verification, beyond-2^63 values ride Decimal."""
    from decimal import Decimal
    from jio_spark.audio.files import _partition_dtype

    assert _partition_dtype([("p", 0, 3), ("p", 1, 15)], "b") == "int"
    assert _partition_dtype([("p", 0, 2147483648)], "b") == "bigint"
    assert _partition_dtype(
        [("p", 0, Decimal(1 << 64))], "b") == "decimal(38,0)"
    assert _partition_dtype([("p", 0, "east")], "b") == "string"
    # the schema string actually constructs a frame with the big value
    df = spark.createDataFrame([("p", 0, 2147483648)],
                               f"path string, rg int, b bigint")
    assert df.first()["b"] == 2147483648
