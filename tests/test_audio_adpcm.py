"""IMA/DVI ADPCM (WAVE tag 0x11) conformance.

The in-test scalar transliteration below is the INDEPENDENT oracle: a
per-sample, obviously-correct rendering of the public IMA Digital Audio
Pack algorithm (the same step/index tables every implementation ships).
The engine's block-vectorized encoder/decoder (jio_spark/audio/codecs.py)
must match it bit-for-bit; everything else — container walk, fact-chunk
trim, SNR physics, the Arrow batch path — builds on that equivalence.

Reference parity note: faceair/jio has no audio at all (SURVEY.md §2) —
ADPCM extends the engine's codec-aware decode rule (north_star: "decode
bytes per codec in pandas/Arrow UDF batches"), alongside G.711/PCM.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jio_spark.audio.codecs import (AdpcmCoded, adpcm_ima_decode_stacked,
                                    adpcm_ima_encode,
                                    adpcm_ima_samples_per_block,
                                    decode_wav, encode_adpcm_wav, parse_wav,
                                    snr_db, snr_db_vs_period, synth_wave)
from jio_spark.audio.decode import decode_check, decode_violations
from jio_spark.audio.synth import (_row_params, expected_signal,
                                   expected_transcript)

# ---------------------------------------------------------------------------
# independent scalar oracle (IMA ADPCM reference algorithm, per sample)

_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
_IDX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _oracle_step(nib, pred, index):
    step = _STEPS[index]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IDX_ADJ[nib & 7]))
    return pred, index


def _oracle_decode_block(block, block_align):
    spb = adpcm_ima_samples_per_block(block_align)
    pred = int.from_bytes(block[0:2], "little", signed=True)
    index = min(88, max(0, block[2]))
    out = [pred]
    for b in block[4:block_align]:
        for nib in (b & 0xF, b >> 4):
            pred, index = _oracle_step(nib, pred, index)
            out.append(pred)
    return np.array(out[:spb], dtype=np.int16)


def _oracle_encode_block(pcm, block_align):
    spb = adpcm_ima_samples_per_block(block_align)
    assert len(pcm) == spb
    pred = int(pcm[0])
    d0 = abs(int(pcm[1]) - pred) if spb > 1 else 0
    index = 0
    while index < 88 and _STEPS[index] < d0:
        index += 1
    out = bytearray(int(pred & 0xFFFF).to_bytes(2, "little"))
    out.append(index)
    out.append(0)
    nibs = []
    for s in pcm[1:]:
        s = int(s)
        step = _STEPS[index]
        diff = s - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        pred, index = _oracle_step(nib, pred, index)
        nibs.append(nib)
    for k in range(0, len(nibs), 2):
        hi = nibs[k + 1] if k + 1 < len(nibs) else 0
        out.append(nibs[k] | (hi << 4))
    return bytes(out)


BA = 256
SPB = adpcm_ima_samples_per_block(BA)


def test_vectorized_decode_matches_scalar_oracle():
    rng = np.random.default_rng(3)
    pcm = rng.integers(-32768, 32768, size=SPB * 6).astype(np.int16)
    blocks = [_oracle_encode_block(pcm[i * SPB:(i + 1) * SPB], BA)
              for i in range(6)]
    payload = np.frombuffer(b"".join(blocks), np.uint8)
    want = np.concatenate([_oracle_decode_block(b, BA) for b in blocks])
    (got,) = adpcm_ima_decode_stacked([payload], BA)
    assert np.array_equal(want, got)


def test_vectorized_encode_matches_scalar_oracle():
    rng = np.random.default_rng(5)
    pcm = rng.integers(-32768, 32768, size=SPB * 6).astype(np.int16)
    want = b"".join(_oracle_encode_block(pcm[i * SPB:(i + 1) * SPB], BA)
                    for i in range(6))
    assert adpcm_ima_encode(pcm, BA) == want


def test_saturation_and_index_clamp_against_oracle():
    """Full-scale square waves drive the predictor into ±32767 clipping
    and the step index to both clamp rails — the branchiest paths of the
    recurrence must still match the oracle bit-for-bit."""
    sq = np.tile(np.array([32767, -32768], dtype=np.int16), SPB)
    for reps in (1, 7, 101):
        pcm = np.tile(sq, 1)[:SPB] if reps == 1 else \
            np.resize(np.repeat(sq, reps), SPB)
        block = adpcm_ima_encode(pcm.astype(np.int16), BA)
        want = _oracle_decode_block(block, BA)
        (got,) = adpcm_ima_decode_stacked(
            [np.frombuffer(block, np.uint8)], BA)
        assert np.array_equal(want, got)


def test_container_roundtrip_fact_trim_and_fields():
    x = synth_wave(440.0, 333, 16000)      # 5328 samples: pads last block
    raw = encode_adpcm_wav(x, 16000)
    coded, sr, codec = parse_wav(raw)
    assert isinstance(coded, AdpcmCoded)
    assert (sr, codec) == (16000, "adpcm_ima")
    assert len(coded) == len(x)            # fact chunk trims the padding
    assert coded.nbytes < len(x)           # ~4:1 vs int16, container aside
    pcm, _, _ = decode_wav(raw)
    assert len(pcm) == len(x)
    assert snr_db(x, pcm) >= 30.0


def test_stacked_equals_per_clip_across_mixed_block_aligns():
    views = []
    for dur, ba in [(40, 256), (200, 256), (1000, 512), (90, 512)]:
        raw = encode_adpcm_wav(synth_wave(440.0, dur, 16000), 16000,
                               block_align=ba)
        views.append(parse_wav(raw)[0])
    for ba in (256, 512):
        group = [v for v in views if v.block_align == ba]
        stacked = adpcm_ima_decode_stacked([v.payload for v in group],
                                           ba)
        for v, s in zip(group, stacked):
            assert np.array_equal(v.decode(), s[:len(v)])


@pytest.mark.parametrize("mutate,err", [
    (lambda r: r[:len(r) - 13], "truncated"),        # mid-block cut
    (lambda r: r[:34] + b"\x08\x00" + r[36:], "malformed"),   # bits=8
    (lambda r: r[:32] + b"\x04\x00" + r[34:], "malformed"),   # ba=4
    (lambda r: r[:48] + (10 ** 6).to_bytes(4, "little") + r[52:],
     "fact chunk exceeds"),                          # fact > capacity
])
def test_malformed_adpcm_rejected(mutate, err):
    raw = mutate(encode_adpcm_wav(synth_wave(440.0, 100, 16000), 16000))
    with pytest.raises(ValueError, match=err):
        parse_wav(raw)


def test_snr_physics_pass_and_slope_overload_fail():
    """ADPCM is lossy with frequency-dependent quality: a low f/sr clip
    clears the 30 dB gate, a high f/sr clip slope-overloads below it —
    the validator must report the failure, not hide codec physics."""
    lo = synth_wave(440.0, 500, 16000)
    hi = synth_wave(7000.0, 500, 16000)
    lo_snr = snr_db(lo, decode_wav(encode_adpcm_wav(lo, 16000))[0])
    hi_snr = snr_db(hi, decode_wav(encode_adpcm_wav(hi, 16000))[0])
    assert lo_snr >= 33.0
    assert hi_snr < 25.0


def _pick_indices(pred, count, start=0):
    out, i = [], start
    while len(out) < count:
        _, freq, sr, dur, _, _ = _row_params(i, clean=True)
        if pred(freq, sr, dur):
            out.append(i)
        i += 1
    return out


def test_decode_check_mixed_codecs_batched_path(spark):
    """End-to-end Arrow path with ADPCM and G.711 rows interleaved in the
    SAME batch: the deferred stacked-decode rows must land their snr_db in
    the right slots (exactly matching the per-clip kernel), pass clips
    pass, a slope-overload clip fails ONLY snr_ok, and a truncated ADPCM
    payload is exactly one decode violation."""
    picked = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 7)
    ok_is, trunc_i = picked[:6], picked[6]
    rows = []
    for k, i in enumerate(ok_is):
        _, freq, sr, dur, _, _ = _row_params(i, clean=True)
        pcm = expected_signal(i, clean=True)
        codec = "adpcm_ima" if k % 2 == 0 else "ulaw"
        raw = (encode_adpcm_wav(pcm, sr) if codec == "adpcm_ima"
               else None)
        if raw is None:
            from jio_spark.audio.codecs import encode_ulaw_wav
            raw = encode_ulaw_wav(pcm, sr)
        rows.append((f"clip_{i:012d}", bytearray(raw), sr, dur, codec,
                     expected_transcript(i)))
    # slope-overload: freq near the top of the synth range over sr=8000
    (bad_i,) = _pick_indices(
        lambda f, sr, d: sr == 8000 and f >= 990 and d <= 2000, 1)
    _, _, sr_b, dur_b, _, _ = _row_params(bad_i, clean=True)
    rows.append((f"clip_{bad_i:012d}",
                 bytearray(encode_adpcm_wav(
                     expected_signal(bad_i, clean=True), sr_b)),
                 sr_b, dur_b, "adpcm_ima", expected_transcript(bad_i)))
    # truncated payload → one decode violation
    _, _, sr_t, dur_t, _, _ = _row_params(trunc_i, clean=True)
    raw_t = encode_adpcm_wav(expected_signal(trunc_i, clean=True), sr_t)
    rows.append((f"clip_{trunc_i:012d}",
                 bytearray(raw_t[:len(raw_t) - 13]), sr_t, dur_t,
                 "adpcm_ima", expected_transcript(trunc_i)))

    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string").coalesce(1)
    got = {(r["clip_id"], r["codec_match"]): r
           for r in decode_check(df).collect()}

    for k, i in enumerate(ok_is):
        r = got[(f"clip_{i:012d}", True)]
        assert r["decode_ok"] and r["sr_match"] and r["dur_match"]
        assert r["snr_ok"] and r["transcript_match"], r
        # deferred-batch snr must equal the per-clip kernel exactly
        raw = bytes(rows[k][1])
        coded, _, codec = parse_wav(raw)
        from jio_spark.audio.synth import expected_period
        period, n_ref = expected_period(i, clean=True)
        assert r["snr_db"] == pytest.approx(
            snr_db_vs_period(coded, codec, period, n_ref), abs=1e-9)

    bad = got[(f"clip_{bad_i:012d}", True)]
    assert bad["decode_ok"] and bad["dur_match"] and bad["sr_match"]
    assert not bad["snr_ok"] and bad["snr_db"] < 30.0
    assert bad["transcript_match"]

    # truncated row: decode_ok False, every other flag not-asserted
    tr = got[(f"clip_{trunc_i:012d}", True)]
    assert not tr["decode_ok"]
    assert "truncated" in tr["error"]
    assert tr["snr_ok"] and tr["transcript_match"] and tr["dur_match"]
    viol = decode_violations(decode_check(df)).collect()
    trunc_viols = [v for v in viol
                   if v["clip_id"] == f"clip_{trunc_i:012d}"]
    assert [(v["rule_path"], v["rule_name"]) for v in trunc_viols] \
        == [("bytes", "decode")]


# ---------------------------------------------------------------------------
# review-pass pins (round-4 session 9)

def test_fact_chunk_after_data_is_honored():
    """A legal RIFF may order chunks fmt, data, fact — the walk must not
    stop at data, or the padding trim is lost and a correct external file
    gets false dur/snr violations."""
    x = synth_wave(440.0, 333, 16000)
    canonical = encode_adpcm_wav(x, 16000)
    # rearrange: header(12) + fmt(8+20) + fact(8+4) + data — move fact
    # after the data chunk
    fmt_chunk = canonical[12:40]
    fact_chunk = canonical[40:52]
    data_chunk = canonical[52:]
    raw = canonical[:12] + fmt_chunk + data_chunk + fact_chunk
    coded, sr, codec = parse_wav(raw)
    assert (sr, codec) == (16000, "adpcm_ima")
    assert len(coded) == len(x)          # fact still trims the padding
    want, _, _ = decode_wav(canonical)
    got, _, _ = decode_wav(raw)
    assert np.array_equal(want, got)


def test_stacked_rejects_misaligned_payloads():
    """Two payloads that are NOT block multiples but whose total is must
    raise, not silently decode blocks straddling the clip boundary."""
    p = np.zeros(384, dtype=np.uint8)
    with pytest.raises(ValueError, match="not a multiple"):
        adpcm_ima_decode_stacked([p, p], 256)


def test_encode_block_align_out_of_range_is_valueerror():
    x = synth_wave(440.0, 50, 16000)
    for ba in (4, 0, 40000):
        with pytest.raises(ValueError, match="out of range"):
            encode_adpcm_wav(x, 16000, block_align=ba)
    # the largest legal value must really fit the uint16 header fields
    raw = encode_adpcm_wav(x, 16000, block_align=32771)
    coded, _, codec = parse_wav(raw)
    assert codec == "adpcm_ima" and len(coded) == len(x)


def test_deferred_snr_is_chunk_invariant(spark, monkeypatch):
    """The Arrow path's memory cap (_ADPCM_STACK_SAMPLES) must not change
    results: force ~per-clip chunking and compare snr_db against the
    fused per-clip kernel for every row."""
    import jio_spark.audio.decode as dec
    monkeypatch.setattr(dec, "_ADPCM_STACK_SAMPLES", 1024)
    ok_is = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 5)
    rows = []
    for i in ok_is:
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        rows.append((f"clip_{i:012d}",
                     bytearray(encode_adpcm_wav(
                         expected_signal(i, clean=True), sr_)),
                     sr_, d_, "adpcm_ima", expected_transcript(i)))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string").coalesce(1)
    got = {r["clip_id"]: r for r in decode_check(df).collect()}
    from jio_spark.audio.synth import expected_period
    for (cid, raw, *_), i in zip(rows, ok_is):
        coded, _, codec = parse_wav(bytes(raw))
        period, n_ref = expected_period(i, clean=True)
        assert got[cid]["snr_ok"]
        assert got[cid]["snr_db"] == pytest.approx(
            snr_db_vs_period(coded, codec, period, n_ref), abs=1e-9)


def test_per_codec_snr_threshold_mapping(spark):
    """snr_threshold accepts a per-codec mapping resolved against the
    CONTAINER codec: one corpus-wide blanket number either masks G.711
    regressions or flags healthy ADPCM clips. A marginal ADPCM clip
    (~29.5 dB at 440Hz/8kHz) must fail the blanket 30 dB gate but pass
    {"adpcm_ima": 26}, while a co-resident ulaw clip keeps the default
    gate; the violation row's expected text must name the codec's own
    bound when codec is passed through."""
    (i_8k,) = _pick_indices(
        lambda f, sr, d: sr == 8000 and f == 440.0 and d <= 2000, 1)
    (i_16k,) = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 1)
    rows = []
    _, _, sr_a, d_a, _, _ = _row_params(i_8k, clean=True)
    rows.append((f"clip_{i_8k:012d}",
                 bytearray(encode_adpcm_wav(
                     expected_signal(i_8k, clean=True), sr_a)),
                 sr_a, d_a, "adpcm_ima", expected_transcript(i_8k)))
    from jio_spark.audio.codecs import encode_ulaw_wav
    _, _, sr_u, d_u, _, _ = _row_params(i_16k, clean=True)
    rows.append((f"clip_{i_16k:012d}",
                 bytearray(encode_ulaw_wav(
                     expected_signal(i_16k, clean=True), sr_u)),
                 sr_u, d_u, "ulaw", expected_transcript(i_16k)))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string").coalesce(1)

    blanket = {r["clip_id"]: r["snr_ok"]
               for r in decode_check(df, snr_threshold=30.0).collect()}
    assert blanket[f"clip_{i_8k:012d}"] is False     # 29.5 dB < 30
    assert blanket[f"clip_{i_16k:012d}"] is True

    gates = {"adpcm_ima": 26.0, "default": 30.0}
    res = decode_check(df, snr_threshold=gates, passthrough=["codec"])
    mapped = {r["clip_id"]: r for r in res.collect()}
    assert mapped[f"clip_{i_8k:012d}"]["snr_ok"] is True
    assert mapped[f"clip_{i_16k:012d}"]["snr_ok"] is True

    # a ulaw-tight mapping must fail ONLY the ulaw row, proving the gate
    # resolves per container codec, and the violation names ulaw's bound
    tight = {"ulaw": 60.0, "default": 26.0}
    res2 = decode_check(df, snr_threshold=tight, passthrough=["codec"])
    viol = decode_violations(res2, snr_threshold=tight).collect()
    snr_viols = [v for v in viol if v["rule_name"] == "snr"]
    assert len(snr_viols) == 1
    assert snr_viols[0]["clip_id"] == f"clip_{i_16k:012d}"
    assert snr_viols[0]["expected"] == ">= 60dB vs reference"


def test_files_decode_path_handles_adpcm(spark, tmp_path):
    """The payload-local decode path (audio/files.py reuses
    _decode_batches) must carry the stacked ADPCM branch too: a
    hive-partitioned parquet table of mixed ADPCM/G.711 clips decoded
    via decode_check_files must pass every clean clip and tag partition
    values correctly."""
    from jio_spark.audio.files import decode_check_files
    from jio_spark.audio.codecs import encode_ulaw_wav

    picked = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 8)
    rows = []
    for k, i in enumerate(picked):
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        enc = encode_adpcm_wav if k % 2 == 0 else encode_ulaw_wav
        rows.append((f"clip_{i:012d}",
                     bytearray(enc(expected_signal(i, clean=True), sr_)),
                     sr_, d_, "adpcm_ima" if k % 2 == 0 else "ulaw",
                     expected_transcript(i), k % 2))
    root = str(tmp_path / "clips")
    (spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string, bucket_id int")
     .repartition(2).write.partitionBy("bucket_id").parquet(root))

    got = {r["clip_id"]: r for r in
           decode_check_files(spark, root).collect()}
    assert len(got) == len(rows)
    for k, i in enumerate(picked):
        r = got[f"clip_{i:012d}"]
        assert r["decode_ok"] and r["snr_ok"] and r["codec_match"]
        assert r["transcript_match"] and r["dur_match"]
        assert r["bucket_id"] == k % 2


def test_full_job_over_adpcm_corpus_with_codec_gates(spark, tmp_path):
    """End-to-end ClipsValidationJob over a table CONTAINING ADPCM rows
    (the synth corpus can't emit them — fixture bytes are pinned):
    per-codec gates pass the clean clips that a blanket 30 dB would
    flag, the referential check accepts adpcm_ima via the 4-row dim, and
    the one deliberately slope-overloaded clip is the job's ONLY
    violation under gates that its measured dB still fails."""
    from jio_spark.runner import (ClipsJobConfig, ClipsValidationJob,
                                  default_codec_dim)
    from jio_spark.audio.codecs import encode_ulaw_wav

    picked = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 12)
    rows = []
    for k, i in enumerate(picked):
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        enc = encode_adpcm_wav if k % 2 == 0 else encode_ulaw_wav
        rows.append((f"clip_{i:012d}",
                     bytearray(enc(expected_signal(i, clean=True), sr_)),
                     sr_, d_, "adpcm_ima" if k % 2 == 0 else "ulaw",
                     expected_transcript(i), k % 4))
    # one MARGINAL clean clip (~29.5 dB at 440 Hz/8 kHz): fails a blanket
    # 30 dB gate, passes the adpcm 26 dB gate — the row that proves the
    # per-codec gate actually engaged (without it the job would emit a
    # second violation)
    (marg_i,) = _pick_indices(
        lambda f, sr, d: sr == 8000 and f == 440.0 and d <= 2000, 1)
    _, _, sr_m, d_m, _, _ = _row_params(marg_i, clean=True)
    marg_raw = encode_adpcm_wav(expected_signal(marg_i, clean=True), sr_m)
    marg_snr = snr_db(expected_signal(marg_i, clean=True),
                      decode_wav(marg_raw)[0])
    assert 26.0 < marg_snr < 30.0     # really in the discriminating band
    rows.append((f"clip_{marg_i:012d}", bytearray(marg_raw), sr_m, d_m,
                 "adpcm_ima", expected_transcript(marg_i), 2))
    # one honest slope-overload clip (~22 dB): fails even the relaxed
    # adpcm gate
    (bad_i,) = _pick_indices(
        lambda f, sr, d: sr == 8000 and f >= 990 and d <= 2000, 1)
    _, _, sr_b, d_b, _, _ = _row_params(bad_i, clean=True)
    rows.append((f"clip_{bad_i:012d}",
                 bytearray(encode_adpcm_wav(
                     expected_signal(bad_i, clean=True), sr_b)),
                 sr_b, d_b, "adpcm_ima", expected_transcript(bad_i),
                 1))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string, bucket_id int")

    cfg = ClipsJobConfig(group_size=4, drift=False,
                         snr_threshold={"adpcm_ima": 26.0,
                                        "default": 30.0})
    job = ClipsValidationJob(spark, cfg,
                             codec_dim=default_codec_dim(spark))
    out = str(tmp_path / "out")
    m = job.run(df, output_root=out)
    # with an output sink the count rides the sink, not the metrics dict
    assert m["violations"] is None
    import os
    viols = spark.read.parquet(os.path.join(out, "violations")).collect()
    assert len(viols) == 1, viols
    assert viols[0]["clip_id"] == f"clip_{bad_i:012d}"
    assert viols[0]["rule_name"] == "snr"
    # the runner passes codec through under mapping gates, so the
    # violation names the codec's OWN bound, not generic text
    assert viols[0]["expected"] == ">= 26dB vs reference"
    # the marginal sub-30 dB clip passed ONLY because the adpcm gate
    # engaged: under a blanket 30 dB config the same corpus must flag it
    cfg30 = ClipsJobConfig(group_size=4, drift=False, snr_threshold=30.0)
    out30 = str(tmp_path / "out30")
    ClipsValidationJob(spark, cfg30,
                       codec_dim=default_codec_dim(spark)).run(
        df, output_root=out30)
    v30 = spark.read.parquet(os.path.join(out30, "violations")).collect()
    flagged = {r["clip_id"] for r in v30 if r["rule_name"] == "snr"}
    assert flagged == {f"clip_{marg_i:012d}", f"clip_{bad_i:012d}"}


def test_files_decode_carries_codec_under_mapping_gates(spark, tmp_path):
    """decode_check_files under per-codec gates must add the codec column
    to its results (so downstream violation text can name the codec's
    bound) and keep the schema stable on corrupt-unit marker rows."""
    from jio_spark.audio.files import decode_check_files
    picked = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 3)
    rows = []
    for k, i in enumerate(picked):
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        rows.append((f"clip_{i:012d}",
                     bytearray(encode_adpcm_wav(
                         expected_signal(i, clean=True), sr_)),
                     sr_, d_, "adpcm_ima", expected_transcript(i),
                     k % 2))
    root = str(tmp_path / "clips")
    (spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string, bucket_id int")
     .coalesce(1).write.partitionBy("bucket_id").parquet(root))
    # smash ONE bucket's file so the result mixes real decoded rows
    # (codec carried from the data) with a corrupt marker (codec null)
    # in the same widened schema
    import glob as _glob
    victim = sorted(_glob.glob(root + "/bucket_id=1/*.parquet"))[0]
    with open(victim, "r+b") as f:
        import os as _os
        f.seek(-8, _os.SEEK_END)
        f.write(b"\x00" * 8)
    res = decode_check_files(
        spark, root, snr_threshold={"adpcm_ima": 26.0},
        on_corrupt="violation").collect()
    real = [r for r in res if not r["clip_id"].startswith("__corrupt__")]
    markers = [r for r in res if r["clip_id"].startswith("__corrupt__")]
    assert real and all(r["codec"] == "adpcm_ima" and r["decode_ok"]
                        and r["snr_ok"] for r in real)
    assert markers and markers[0]["codec"] is None
    assert markers[0]["bucket_id"] == 1    # partition tag not nulled


def test_files_decode_codec_partitioned_table_with_mapping_gates(
        spark, tmp_path):
    """partition_col='codec' (a natural layout given codec skew) plus
    mapping gates: the codec column arrives once as the partition tag —
    the passthrough must NOT add a duplicate (schema corruption)."""
    from jio_spark.audio.files import decode_check_files
    from jio_spark.audio.codecs import encode_ulaw_wav
    picked = _pick_indices(
        lambda f, sr, d: sr >= 16000 and f <= 550 and d <= 2000, 4)
    rows = []
    for k, i in enumerate(picked):
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        enc = encode_adpcm_wav if k % 2 == 0 else encode_ulaw_wav
        rows.append((f"clip_{i:012d}",
                     bytearray(enc(expected_signal(i, clean=True), sr_)),
                     sr_, d_, "adpcm_ima" if k % 2 == 0 else "ulaw",
                     expected_transcript(i)))
    root = str(tmp_path / "clips")
    (spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
     .coalesce(1).write.partitionBy("codec").parquet(root))
    res = decode_check_files(
        spark, root, snr_threshold={"adpcm_ima": 26.0, "default": 30.0},
        partition_col="codec")
    assert res.columns.count("codec") == 1
    got = res.collect()
    assert len(got) == 4
    assert all(r["decode_ok"] and r["snr_ok"] for r in got)
    assert {r["codec"] for r in got} == {"adpcm_ima", "ulaw"}


# ---------------------------------------------------------------------------
# session-9 container breadth: pcm_u8 and WAVE_FORMAT_EXTENSIBLE

def _extensible_wrap(raw: bytes, samples_union: int) -> bytes:
    """Rewrap a canonical WAV as WAVE_FORMAT_EXTENSIBLE: the fmt chunk
    grows to 40 bytes, the classic tag moves into the SubFormat GUID,
    and the fmt-chunk tag becomes 0xFFFE. ``samples_union`` is the
    spec's union field at offset 18 — wValidBitsPerSample for PCM,
    wSamplesPerBlock for compressed formats like IMA ADPCM."""
    import struct as _s
    (fmt_clen,) = _s.unpack("<I", raw[16:20])
    (fmt, ch, sr, br, ba, bits) = _s.unpack("<HHIIHH", raw[20:36])
    guid = _s.pack("<H", fmt) + bytes.fromhex("000000001000800000AA00389B71")
    ext_fmt = _s.pack("<HHIIHHHHI", 0xFFFE, ch, sr, br, ba, bits,
                      22, samples_union, 0x4) + guid
    rest = raw[20 + fmt_clen + (fmt_clen & 1):]
    out = (b"RIFF" + _s.pack("<I", 4 + 8 + 40 + len(rest)) + b"WAVE"
           + b"fmt " + _s.pack("<I", 40) + ext_fmt + rest)
    return out


def test_pcm_u8_roundtrip_and_snr():
    """WAV's legacy unsigned 8-bit PCM: exact LUT decode, ~44 dB on the
    fixture sine (8-bit quantization noise — clears the 30 dB gate)."""
    from jio_spark.audio.codecs import encode_pcm8_wav, pcm_u8_decode
    x = synth_wave(440.0, 300, 16000)
    coded, sr, codec = parse_wav(encode_pcm8_wav(x, 16000))
    assert (sr, codec) == (16000, "pcm_u8")
    assert coded.dtype == np.uint8 and len(coded) == len(x)
    dec = pcm_u8_decode(coded)
    s = snr_db(x, dec)
    assert 38.0 < s < 55.0, s
    # the fused kernel must use the same LUT (bit-identical verdicts)
    period = synth_wave(440.0, 1000 // 440 + 3, 16000)
    sp = snr_db_vs_period(coded, codec, period[:len(period)], len(x))
    assert isinstance(sp, float)


def test_extensible_container_unwraps_every_codec():
    """Modern encoders wrap even plain PCM in WAVE_FORMAT_EXTENSIBLE —
    each supported codec parsed through the 0xFFFE wrapper must decode
    identically to its classic-header form."""
    from jio_spark.audio.codecs import (decode_coded, encode_pcm8_wav,
                                        encode_pcm16_wav, encode_ulaw_wav)
    x = synth_wave(440.0, 120, 16000)
    forms = {
        "pcm_s16le": encode_pcm16_wav(x, 16000),
        "pcm_u8": encode_pcm8_wav(x, 16000),
        "ulaw": encode_ulaw_wav(x, 16000),
        # compressed subformat: the Samples union carries
        # wSamplesPerBlock (505), NOT a bits value — the parser must
        # keep the container's 4-bit layout (reviewer repro: overriding
        # bits from the union rejected this valid file)
        "adpcm_ima": encode_adpcm_wav(x, 16000),
    }
    unions = {"pcm_s16le": 16, "pcm_u8": 8, "ulaw": 8, "adpcm_ima": 505}
    for codec, raw in forms.items():
        wrapped = _extensible_wrap(raw, unions[codec])
        c0, sr0, k0 = parse_wav(raw)
        c1, sr1, k1 = parse_wav(wrapped)
        assert (sr0, k0) == (sr1, k1) == (16000, codec)
        assert np.array_equal(decode_coded(c0, k0), decode_coded(c1, k1))
    # EXTENSIBLE PCM with valid_bits < container width (8 significant
    # bits in int16 containers): layout is still 16-bit — must parse as
    # s16le, not be misrouted to the u8 decoder
    c2, _, k2 = parse_wav(_extensible_wrap(forms["pcm_s16le"], 8))
    assert k2 == "pcm_s16le" and len(c2) == len(x)


def test_extensible_malformed_rejected():
    from jio_spark.audio.codecs import encode_ulaw_wav
    x = synth_wave(440.0, 80, 16000)
    raw = encode_ulaw_wav(x, 16000)
    wrapped = bytearray(_extensible_wrap(raw, 8))
    # corrupt the GUID suffix → unknown subformat
    bad = bytes(wrapped[:48]) + b"\xde\xad" + bytes(wrapped[50:])
    with pytest.raises(ValueError, match="unknown extensible subformat"):
        parse_wav(bad)
    # a short extensible fmt chunk (clen 24 < 40) must hit the explicit
    # extensible guard, not crash unpacking GUID bytes that aren't there
    short = bytearray(wrapped)
    short[16:20] = (24).to_bytes(4, "little")
    with pytest.raises(ValueError, match="malformed extensible fmt"):
        parse_wav(bytes(short))


def test_library_gate_validation_fails_at_plan_time(spark):
    """A malformed gate mapping must raise on the driver when the plan
    is built, not as a TypeError inside an executor's Arrow task."""
    df = spark.createDataFrame(
        [("c", bytearray(b"x"), 1, 1, "ulaw", "t")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, "
        "codec string, transcript string")
    with pytest.raises(ValueError, match="non-number or non-finite"):
        decode_check(df, snr_threshold={"ulaw": [26]})
    with pytest.raises(ValueError, match="non-number or non-finite"):
        decode_check(df, snr_threshold={"ulaw": True})
    with pytest.raises(ValueError, match="number or a per-codec"):
        decode_check(df, snr_threshold="30")


def test_pcm_s24_roundtrip_is_lossless_and_checks_pass(spark):
    """24-bit PCM written from a 16-bit source decodes back exactly
    (value<<8 then >>8), so a clean s24 clip measures infinite SNR; the
    live decode path and the EXTENSIBLE wrapper both carry it."""
    from jio_spark.audio.codecs import decode_coded, encode_pcm24_wav
    x = synth_wave(440.0, 250, 16000)
    raw = encode_pcm24_wav(x, 16000)
    coded, sr, codec = parse_wav(raw)
    assert coded.dtype == np.dtype("V3") and coded.ndim == 1
    assert (sr, codec) == (16000, "pcm_s24le")
    assert len(coded) == len(x) and coded.nbytes == 3 * len(x)
    assert np.array_equal(decode_coded(coded, codec), x)
    # malformed: payload not a multiple of 3 bytes (shrink the data clen
    # at offset 40 of the 44-byte classic header and drop the last byte)
    bad = bytearray(raw)
    bad[40:44] = (len(x) * 3 - 1).to_bytes(4, "little")
    with pytest.raises(ValueError, match="pcm24"):
        parse_wav(bytes(bad[:len(bad) - 1]))
    # EXTENSIBLE wrapper (valid bits 24)
    c2, _, k2 = parse_wav(_extensible_wrap(raw, 24))
    assert k2 == "pcm_s24le"
    assert np.array_equal(decode_coded(c2, k2), x)
    # end-to-end through the Arrow decode with reference checks
    picked = _pick_indices(
        lambda f, sr_, d: sr_ >= 16000 and f <= 550 and d <= 1500, 3)
    rows = []
    for i in picked:
        _, _, sr_, d_, _, _ = _row_params(i, clean=True)
        rows.append((f"clip_{i:012d}",
                     bytearray(encode_pcm24_wav(
                         expected_signal(i, clean=True), sr_)),
                     sr_, d_, "pcm_s24le", expected_transcript(i)))
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, "
              "codec string, transcript string")
    res = decode_check(df).collect()
    assert all(r["decode_ok"] and r["snr_ok"] and r["codec_match"]
               and r["dur_match"] and r["transcript_match"] for r in res)
    assert all(r["snr_db"] == float("inf") for r in res)   # lossless


# ---------------------------------------------------------------------------
# stereo IMA ADPCM (round 5): scalar-oracle bit-exactness

def _oracle_decode_stereo_block(block, block_align):
    """Independent scalar rendering of the stereo IMA block layout: one
    4-byte header per channel, then the data interleaved in 4-byte
    (8-nibble) groups per channel — each channel is a plain mono
    recurrence over its own header + de-interleaved groups."""
    chans = []
    body = block[8:block_align]
    for c in (0, 1):
        sub = bytearray(block[4 * c:4 * c + 4])
        for g in range(len(body) // 4):
            if g % 2 == c:
                sub += body[g * 4:(g + 1) * 4]
        chans.append(_oracle_decode_block(bytes(sub), len(sub)))
    return chans


def test_stereo_decode_matches_scalar_oracle_bit_for_bit():
    from jio_spark.audio.codecs import (adpcm_ima_encode_stereo,
                                        adpcm_stereo_decode_channels,
                                        adpcm_stereo_frames_per_block)
    rng = np.random.default_rng(11)
    ba = 256
    fpb = adpcm_stereo_frames_per_block(ba)
    left = rng.integers(-32768, 32768, size=fpb * 5).astype(np.int16)
    right = rng.integers(-32768, 32768, size=fpb * 5).astype(np.int16)
    payload = adpcm_ima_encode_stereo(left, right, ba)
    blocks = [payload[i:i + ba] for i in range(0, len(payload), ba)]
    want_l, want_r = [], []
    for b in blocks:
        ol, orr = _oracle_decode_stereo_block(b, ba)
        want_l.append(ol)
        want_r.append(orr)
    got_l, got_r = adpcm_stereo_decode_channels(
        np.frombuffer(payload, np.uint8), ba)
    assert np.array_equal(np.concatenate(want_l), got_l)
    assert np.array_equal(np.concatenate(want_r), got_r)


def test_stereo_container_roundtrip_and_fact_trim():
    from jio_spark.audio.codecs import (AdpcmCoded,
                                        encode_adpcm_stereo_wav)
    l = synth_wave(440.0, 333, 16000)          # pads the last block
    r = synth_wave(660.0, 333, 16000)
    raw = encode_adpcm_stereo_wav(l, r, 16000)
    coded, sr, codec = parse_wav(raw)
    assert isinstance(coded, AdpcmCoded) and coded.channels == 2
    assert (sr, codec) == (16000, "adpcm_ima")
    assert len(coded) == len(l)                # frames via fact chunk
    mix = coded.decode()
    assert len(mix) == len(l)
    want = ((l.astype(np.int32) + r.astype(np.int32) + 1) >> 1)
    # lossy codec: the downmix of decoded channels tracks the downmix
    # of the sources at ADPCM quality
    assert snr_db(want.astype(np.int16), mix) >= 20.0


def test_stereo_stacked_equals_per_clip():
    from jio_spark.audio.codecs import (adpcm_stereo_decode_stacked,
                                        encode_adpcm_stereo_wav)
    views = []
    for dur, ba in [(40, 256), (200, 256), (1000, 512), (90, 512)]:
        l = synth_wave(440.0, dur, 16000)
        r = synth_wave(550.0, dur, 16000)
        raw = encode_adpcm_stereo_wav(l, r, 16000, block_align=ba)
        views.append(parse_wav(raw)[0])
    for ba in (256, 512):
        group = [v for v in views if v.block_align == ba]
        stacked = adpcm_stereo_decode_stacked(
            [v.payload for v in group], ba)
        for v, s in zip(group, stacked):
            assert np.array_equal(v.decode(), s[:len(v)])
