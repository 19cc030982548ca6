"""Differential evidence behind the VALUES-literal DuckDB oracles for the
formerly rows-only queries (r3 VERDICT task 1): the independent
numpy/pure-Python derivations in ``tools/derive_rows_only_oracles.py``
must agree with the live Spark queries row-for-row, and with the literals
embedded in ``__spark_entry__.oracle_sql()``."""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.derive_rows_only_oracles import (N_CLIPS, N_MIXED,
                                            derive_audio_checks,
                                            derive_audio_decode,
                                            derive_multimodal,
                                            parse_wav_independent)
from jio_spark.audio.codecs import decode_coded, parse_wav
from jio_spark.audio.synth import make_row, make_row_mixed


@pytest.fixture(scope="module")
def fixture_rows():
    return ([make_row(i) for i in range(N_CLIPS)],
            [make_row(i, clean=True) for i in range(N_CLIPS)])


def test_audio_decode_matches_independent_derivation(spark, fixture_rows):
    """audio_decode's corpus is the pinned §1 corpus + the §1b extended
    codec mix (stereo / float32 / ADPCM / EXTENSIBLE) — the independent
    derivation decodes every codec with its own formulations."""
    import __spark_entry__ as e
    rows, _ = fixture_rows
    want = derive_audio_decode(
        rows + [make_row_mixed(i) for i in range(N_MIXED)])
    got = e.queries()["audio_decode"](spark, "unused").collect()[0].asDict()
    assert got == want


def test_audio_checks_matches_independent_derivation(spark, fixture_rows):
    import __spark_entry__ as e
    rows, clean = fixture_rows
    want = derive_audio_checks(rows, clean)
    got = [(r["component"], r["name"], r["value"])
           for r in e.queries()["audio_checks"](spark, "unused").collect()]
    assert sorted(got) == sorted(want)
    assert len(got) == len(want) == 22


def test_multimodal_matches_independent_derivation(spark, fixture_rows):
    import __spark_entry__ as e
    want = derive_multimodal()
    got = [tuple(r) for r in
           e.queries()["multimodal"](spark, "unused").collect()]
    assert got == want


def test_embedded_literals_match_derivation(fixture_rows):
    """The VALUES literals in oracle_sql() are exactly what the
    independent derivation produces — rerunning the script can never
    silently diverge from what the driver checks."""
    import duckdb
    import __spark_entry__ as e
    rows, clean = fixture_rows
    con = duckdb.connect()
    lit = con.execute(e.oracle_sql()["audio_decode"]).fetchone()
    d = derive_audio_decode(
        rows + [make_row_mixed(i) for i in range(N_MIXED)])
    assert lit == (d["clips"], d["decoded"], d["sr_mismatch"],
                   d["codec_mismatch"], d["bad_transcript"], d["snr_ok"],
                   d["total_samples"])
    lit_rows = con.execute(e.oracle_sql()["audio_checks"]).fetchall()
    assert sorted(lit_rows) == sorted(derive_audio_checks(rows, clean))
    lit_mm = con.execute(e.oracle_sql()["multimodal"]).fetchall()
    assert lit_mm == derive_multimodal()


def test_stats_profile_approx_bounds(spark):
    """The bounds-boolean frame is all-true on the driver testdata and
    matches its literal-TRUE oracle shape."""
    import __spark_entry__ as e
    got = e.queries()["stats_profile_approx"](
        spark, "/root/testdata/sf0.001").collect()
    assert sorted((r["col_name"], r["distinct_ok"], r["quantiles_ok"])
                  for r in got) == [
        ("l_extendedprice", True, True),
        ("l_quantity", True, True),
        ("l_returnflag", True, True)]


@pytest.mark.parametrize("channels", [1, 2])
def test_float64_wav_matches_independent_derivation(channels):
    """IEEE float64 (tag 3, bits=64) through the independent parser and
    the engine's decode: same codec, rate and int16 samples, including
    the rails, NaN/inf and ties-to-even rounding."""
    import struct

    import numpy as np
    x = np.array([0.0, 0.5, -1.0, 1.5, -2.0, np.nan, np.inf, -np.inf,
                  1 / 65536, 3 / 65536, -0.25, 32767 / 32768], "<f8")
    body = x.tobytes()
    block = 8 * channels
    raw = struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(body),
                      b"WAVE", b"fmt ", 16, 3, channels, 16000,
                      16000 * block, block, 64, b"data", len(body)) + body
    pcm, sr, codec = parse_wav_independent(raw)
    coded, e_sr, e_codec = parse_wav(raw)
    assert (sr, codec) == (e_sr, e_codec) == (16000, "pcm_f64le")
    assert pcm.tolist() == decode_coded(coded, e_codec).tolist()
    mono = [0, 16384, -32768, 32767, -32768, 0, 32767, -32768, 0, 2,
            -8192, 32767]
    if channels == 1:
        assert pcm.tolist() == mono
    else:
        assert pcm.tolist() == [(a + b + 1) // 2
                                for a, b in zip(mono[0::2], mono[1::2])]
