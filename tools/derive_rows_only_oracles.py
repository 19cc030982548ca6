#!/usr/bin/env python
"""Independent derivation of the VALUES-literal DuckDB oracles for the
formerly rows-only queries (r3 VERDICT task 1): ``audio_decode``,
``audio_checks`` and ``multimodal``.

INDEPENDENCE CONTRACT: this script imports ONLY the deterministic fixture
generators (`jio_spark.audio.synth.make_row` / `_row_params` /
`expected_transcript`, `jio_spark.multimodal.synth_bmp/synth_ppm`) — the
data the engine itself consumes. Every CHECK is re-implemented here from
the public specs (RIFF/WAVE, ITU-T G.711, the documented fixture pixel
formula, the jio walk semantics), NOT by calling the engine's decode /
compiler / drift operators. Where both sides implement the same standard
the formulas are written in a different algebraic form (e.g. the G.711
LUTs) so a transcription error on either side surfaces as a mismatch.

Run:  python tools/derive_rows_only_oracles.py
Prints the derived aggregate rows and the ready-to-embed DuckDB SQL.
`tests/test_rows_only_oracles.py` runs the same derivations against the
live Spark queries — the differential evidence the embedded literals rest
on.
"""

from __future__ import annotations

import math
import struct
import sys
from collections import Counter

import numpy as np

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from jio_spark.audio.synth import (_row_params, expected_transcript,  # noqa: E402
                                   make_row, make_row_mixed)

N_CLIPS = 2000
N_MIXED = 1000
#: per-codec gates, restated from the documented §1b mapping
#: (synth.MIX_SNR_GATES): adpcm 20 dB (honest codec floor 21.1 on the
#: fixture grid), everything else 30 dB
SNR_GATE = {"adpcm_ima": 20.0}
SNR_DEFAULT = 30.0
DUR_TOL_MS = 2


# -- independent G.711 + WAV (ITU-T G.711 / RIFF spec, own formulation) ----

def _ulaw_lut() -> np.ndarray:
    lut = []
    for b in range(256):
        u = ~b & 0xFF
        sign, e, m = u & 0x80, (u >> 4) & 0x07, u & 0x0F
        # (2m+33)·2^(e+2) − 132  ≡  (((m<<3)+132)<<e) − 132
        x = (((m << 1) | 0x21) << (e + 2)) - 132
        lut.append(-x if sign else x)
    return np.asarray(lut, dtype=np.int16)


def _alaw_lut() -> np.ndarray:
    lut = []
    for b in range(256):
        a = b ^ 0x55
        sign, e, m = a & 0x80, (a >> 4) & 0x07, a & 0x0F
        x = (m * 16 + 8) if e == 0 else ((m * 16 + 264) * (1 << (e - 1)))
        lut.append(x if sign else -x)
    return np.asarray(lut, dtype=np.int16)


_ULAW, _ALAW = _ulaw_lut(), _alaw_lut()


_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
_IMA_INDEX_STEP = [-1, -1, -1, -1, 2, 4, 6, 8]


def _adpcm_block_scalar(block: bytes, block_align: int) -> list:
    """Scalar per-sample IMA ADPCM block decode, straight from the IMA
    spec's step/index recurrence with explicit if-chains — deliberately
    NOT the engine's transposed gather-table matrix form."""
    pred = struct.unpack_from("<h", block, 0)[0]
    index = block[2]
    index = 0 if index < 0 else (88 if index > 88 else index)
    out = [pred]
    for k in range((block_align - 4) * 2):
        byte = block[4 + (k >> 1)]
        nib = (byte & 0x0F) if k % 2 == 0 else (byte >> 4)
        step = _IMA_STEP_TABLE[index]
        diff = step >> 3
        if nib & 1:
            diff += step >> 2
        if nib & 2:
            diff += step >> 1
        if nib & 4:
            diff += step
        pred = pred - diff if nib & 8 else pred + diff
        pred = -32768 if pred < -32768 else (32767 if pred > 32767
                                             else pred)
        index += _IMA_INDEX_STEP[nib & 7]
        index = 0 if index < 0 else (88 if index > 88 else index)
        out.append(pred)
    return out


def parse_wav_independent(raw: bytes):
    """(int16 MONO PCM, sample rate, container codec name) or raises
    ValueError. Full decode surface: the four PCM widths (incl. IEEE
    float32), G.711, IMA ADPCM, WAVE_FORMAT_EXTENSIBLE unwrap, fact
    chunks, and 2-channel downmix (L+R+1)//2 — each written in its own
    formulation (chunk scan into a list, scalar ADPCM recurrence, (b-128)
    *256 u8 rescale, int8-viewed s24 sign byte) so a transcription error
    on either side surfaces as an aggregate mismatch."""
    if len(raw) < 44 or raw[0:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("bad container")
    chunks = []
    off = 12
    while off + 8 <= len(raw):
        cid = raw[off:off + 4]
        n = struct.unpack_from("<I", raw, off + 4)[0]
        chunks.append((cid, raw[off + 8:off + 8 + n], n))
        off += 8 + n + (n % 2)
    fmts = [c for c in chunks if c[0] == b"fmt "]
    datas = [c for c in chunks if c[0] == b"data"]
    facts = [c for c in chunks if c[0] == b"fact" and len(c[1]) >= 4]
    if not fmts:
        raise ValueError("no fmt")
    if not datas:
        raise ValueError("no data")
    # first fmt / first data win; a data chunk preceding the first fmt
    # chunk is rejected (the engine walks in order and requires fmt
    # before data)
    if chunks.index(datas[0]) < chunks.index(fmts[0]):
        raise ValueError("data before fmt")
    fbody, _ = fmts[0][1], fmts[0][2]
    if len(fbody) < 16 or fmts[0][2] < 16:
        raise ValueError("short fmt")
    tag, channels, sr, _br, block_align, bits = struct.unpack_from(
        "<HHIIHH", fbody, 0)
    if tag == 0xFFFE:
        if len(fbody) < 40 or fmts[0][2] < 40:
            raise ValueError("short extensible fmt")
        guid = fbody[24:40]
        if guid[2:16] != bytes.fromhex("000000001000800000AA00389B71"):
            raise ValueError("unknown subformat guid")
        tag = struct.unpack_from("<H", guid, 0)[0]
    body, dlen = datas[0][1], datas[0][2]
    if len(body) < dlen:
        raise ValueError("truncated data")
    if channels not in (1, 2):
        raise ValueError("channels")
    fact_n = struct.unpack_from("<I", facts[-1][1], 0)[0] if facts \
        else None
    if tag == 0x11:
        if bits != 4:
            raise ValueError("bad adpcm fmt")
        if channels == 1:
            if block_align < 5:
                raise ValueError("bad adpcm fmt")
        elif block_align < 16 or (block_align - 8) % 8:
            raise ValueError("bad stereo adpcm fmt")
        if dlen == 0 or dlen % block_align:
            raise ValueError("partial adpcm block")
        samples = []
        for b0 in range(0, dlen, block_align):
            block = body[b0:b0 + block_align]
            if channels == 1:
                samples.extend(_adpcm_block_scalar(block, block_align))
                continue
            # stereo layout: one 4-byte header per channel, then data in
            # alternating 4-byte groups — decode each channel as a plain
            # mono sub-block, downmix round-half-up
            data = block[8:]
            subs = []
            for c in (0, 1):
                sub = bytearray(block[4 * c:4 * c + 4])
                for g in range(len(data) // 4):
                    if g % 2 == c:
                        sub += data[g * 4:(g + 1) * 4]
                subs.append(_adpcm_block_scalar(bytes(sub), len(sub)))
            samples.extend((lv + rv + 1) // 2
                           for lv, rv in zip(subs[0], subs[1]))
        if fact_n is not None:
            if fact_n > len(samples):
                raise ValueError("fact too large")
            samples = samples[:fact_n]
        return np.asarray(samples, dtype=np.int16), sr, "adpcm_ima"
    if tag == 1 and bits == 16:
        if dlen % 2:
            raise ValueError("bad pcm16")
        pcm, codec = np.frombuffer(body, "<i2").astype(np.int16), \
            "pcm_s16le"
    elif tag == 1 and bits == 8:
        b = np.frombuffer(body, np.uint8).astype(np.int32)
        pcm, codec = ((b - 128) * 256).astype(np.int16), "pcm_u8"
    elif tag == 1 and bits == 24:
        if dlen % 3:
            raise ValueError("bad pcm24")
        b = np.frombuffer(body, np.uint8).reshape(-1, 3)
        val = (b[:, 0].astype(np.int32) + (b[:, 1].astype(np.int32) * 256)
               + (b[:, 2].astype(np.int8).astype(np.int32) * 65536))
        pcm, codec = (val >> 8).astype(np.int16), "pcm_s24le"
    elif tag == 3 and bits == 32:
        if dlen % 4:
            raise ValueError("bad float32")
        x = np.round(np.frombuffer(body, "<f4").astype(np.float64)
                     * 32768.0)
        x = np.nan_to_num(x, nan=0.0, posinf=32767.0, neginf=-32768.0)
        pcm, codec = np.clip(x, -32768, 32767).astype(np.int16), \
            "pcm_f32le"
    elif tag == 3 and bits == 64:
        if dlen % 8:
            raise ValueError("bad float64")
        x = np.round(np.frombuffer(body, "<f8") * 32768.0)
        x = np.nan_to_num(x, nan=0.0, posinf=32767.0, neginf=-32768.0)
        pcm, codec = np.clip(x, -32768, 32767).astype(np.int16), \
            "pcm_f64le"
    elif tag == 7 and bits == 8:
        pcm, codec = _ULAW[np.frombuffer(body, np.uint8)], "ulaw"
    elif tag == 6 and bits == 8:
        pcm, codec = _ALAW[np.frombuffer(body, np.uint8)], "alaw"
    else:
        raise ValueError(f"format {tag}/{bits}")
    if channels == 2:
        if len(pcm) % 2:
            raise ValueError("odd stereo")
        left = pcm[0::2].astype(np.int32)
        right = pcm[1::2].astype(np.int32)
        pcm = ((left + right + 1) // 2).astype(np.int16)
    return pcm, sr, codec


def reference_pcm(i: int) -> np.ndarray:
    """Full-length float64 re-synthesis straight from the fixture spec
    (0.5·sin quantized to int16) — deliberately NOT the engine's
    tiled-period fast path."""
    _, freq, sr, dur, _, _ = _row_params(i, clean=False)
    n = int(round(sr * dur / 1000.0))
    t = np.arange(n, dtype=np.float64) / sr
    return np.round(0.5 * np.sin(2.0 * np.pi * freq * t) * 32767.0) \
             .astype(np.int16)


def snr_db_independent(ref: np.ndarray, dec: np.ndarray) -> float:
    n = min(len(ref), len(dec))
    if n == 0:
        return float("-inf")
    r = ref[:n].astype(np.float64)
    e = r - dec[:n].astype(np.float64)
    ps, pn = float(np.sum(r * r)), float(np.sum(e * e))
    if pn == 0.0:
        return float("inf")
    if ps == 0.0:
        return float("-inf")
    return 10.0 * math.log10(ps / pn)


# -- per-clip checks (decode_check semantics, independent implementation) --

def check_clip(row):
    clip_id, raw, decl_sr, decl_dur, codec, transcript = row[:6]
    # one violation per defect: an undecodable payload asserts ONLY
    # decode_ok — the downstream checks never ran, so their flags carry
    # the not-asserted value (True), mirroring decode._decode_batches
    # and files._corrupt_frame
    r = {"decode_ok": False, "sr_match": True, "codec_match": True,
         "snr_ok": True, "transcript_match": True, "n_samples": 0}
    try:
        dec, sr, fmt_codec = parse_wav_independent(bytes(raw))
    except ValueError:
        return r
    r["decode_ok"] = True
    r["n_samples"] = len(dec)
    r["sr_match"] = (sr == decl_sr)
    r["codec_match"] = (fmt_codec == codec)
    try:
        idx = int(clip_id.rsplit("_", 1)[1])
    except (IndexError, ValueError):
        # an unparseable clip_id IS bad data: the reference checks fail
        # (decode._decode_batches sets both flags False here)
        r["snr_ok"] = False
        r["transcript_match"] = False
        return r
    ref = reference_pcm(idx)
    # the gate resolves against the CONTAINER codec (what the bytes
    # actually decode as), mirroring decode.threshold_for
    thr = SNR_GATE.get(fmt_codec, SNR_DEFAULT)
    r["snr_ok"] = snr_db_independent(ref, dec) >= thr
    r["transcript_match"] = (transcript is not None
                             and transcript == expected_transcript(idx))
    return r


def derive_audio_decode(rows):
    checks = [check_clip(row) for row in rows]
    return {
        "clips": len(checks),
        "decoded": sum(c["decode_ok"] for c in checks),
        "sr_mismatch": sum(c["decode_ok"] and not c["sr_match"]
                           for c in checks),
        "codec_mismatch": sum(c["decode_ok"] and not c["codec_match"]
                              for c in checks),
        "bad_transcript": sum(not c["transcript_match"] for c in checks),
        "snr_ok": sum(c["snr_ok"] for c in checks),
        "total_samples": sum(c["n_samples"] for c in checks),
    }


# -- rule-summary walk (jio semantics re-implemented over the clip rules) --

#: default_clip_rules() re-stated as (field, [(rule_name, check)]) —
#: check(value) -> bool; None value handling per jio: a chain whose first
#: rule is `required` fails it on null; a chain WITHOUT required
#: auto-skips null values entirely (Optional auto-apply).
def _clip_rule_chains():
    import re as _re
    id_re = _re.compile(r"clip_[0-9]{12}")
    return [
        ("clip_id", True, [
            ("regex", lambda v: bool(id_re.search(v))),
        ], "type:string"),
        ("sr_hz", True, [
            ("valid", lambda v: v in (8000, 16000, 22050, 44100)),
            ("integer", lambda v: float(v).is_integer()),
        ], "type:double"),
        ("dur_ms", True, [
            ("min", lambda v: v >= 200),
            ("max", lambda v: v <= 30000),
            ("integer", lambda v: float(v).is_integer()),
        ], "type:double"),
        ("codec", True, [
            ("min", lambda v: len(v.encode()) >= 1),
        ], "type:string"),
        ("transcript", False, [
            ("min", lambda v: len(v.encode()) >= 1),
            ("max", lambda v: len(v.encode()) <= 4096),
        ], "type:string"),
    ]


def derive_rule_summary(rows):
    """(name -> [evaluated, passed, failed]) mirroring the walk: fields in
    priority order, first failing rule aborts the row's remaining rules
    AND remaining fields; the final struct type row evaluates only for
    rows that never aborted."""
    chains = _clip_rule_chains()
    counts = {}
    order = []

    def ensure(name):
        if name not in counts:
            counts[name] = [0, 0, 0]
            order.append(name)

    for row in rows:
        vals = {"clip_id": row[0], "sr_hz": row[2], "dur_ms": row[3],
                "codec": row[4], "transcript": row[5]}
        aborted = False
        for field, required, rules, type_name in chains:
            if required:
                ensure(f"{field}/required")
            for rn, _ in rules:
                ensure(f"{field}/{rn}")
            ensure(f"{field}/{type_name}")
            if aborted:
                continue
            v = vals[field]
            if required:
                counts[f"{field}/required"][0] += 1
                if v is None:
                    counts[f"{field}/required"][2] += 1
                    aborted = True
                    continue
                counts[f"{field}/required"][1] += 1
            elif v is None:
                continue            # Optional auto-apply: skip, no abort
            for rn, check in rules:
                counts[f"{field}/{rn}"][0] += 1
                if check(v):
                    counts[f"{field}/{rn}"][1] += 1
                else:
                    counts[f"{field}/{rn}"][2] += 1
                    aborted = True
                    break
            if not aborted:
                counts[f"{field}/{type_name}"][0] += 1
                counts[f"{field}/{type_name}"][1] += 1
        ensure("/type:struct")
        if not aborted:
            counts["/type:struct"][0] += 1
            counts["/type:struct"][1] += 1
    return order, counts


# -- drift (fixed-bin histogram PSI exact; KS bound via exact two-sample) --

def _hist(values, lo, hi, bins):
    v = np.asarray(values, dtype=np.float64)
    w = (hi - lo) / bins
    idx = np.floor((v - lo) / w).astype(np.int64)
    idx = np.where(v < lo, -1, idx)
    idx = np.where(v >= hi, bins, idx)
    h = np.zeros(bins + 2, dtype=np.int64)
    for b in range(-1, bins + 1):
        h[b + 1] = int(np.sum(idx == b))
    return h


def _psi(hb, hc, eps=1e-4):
    b = hb.astype(np.float64)
    c = hc.astype(np.float64)
    pb = np.clip(b / b.sum(), eps, None)
    pc = np.clip(c / c.sum(), eps, None)
    pb, pc = pb / pb.sum(), pc / pc.sum()
    return float(np.sum((pc - pb) * np.log(pc / pb)))


def _ks_exact(a, b):
    a = np.sort(np.asarray(a, dtype=np.float64))
    b = np.sort(np.asarray(b, dtype=np.float64))
    grid = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(a, grid, side="right") / len(a)
    cb = np.searchsorted(b, grid, side="right") / len(b)
    return float(np.max(np.abs(ca - cb)))


def derive_drift(rows, clean_rows):
    specs = {"dur_ms": (200.0, 30000.0, 32, 3),
             "sr_hz": (0.0, 48000.0, 48, 2)}
    out = {}
    for col, (lo, hi, bins, pos) in specs.items():
        cur = [row[pos] for row in rows]
        base = [row[pos] for row in clean_rows]
        psi = _psi(_hist(base, lo, hi, bins), _hist(cur, lo, hi, bins))
        psi_e6 = round(psi * 1e6)
        # guard: the literal must not sit on a rounding boundary
        assert abs(psi * 1e6 - psi_e6) < 0.45, (col, psi * 1e6)
        ks = _ks_exact(base, cur)
        # the engine's sketch KS ≤ exact KS + 0.01 grid + ~0.001 rank
        # error; the emitted bound is 0.05 — require 30% headroom
        assert ks + 0.011 < 0.05 * 0.7, (col, ks)
        psi_ok = psi <= 0.25 and psi * 4 < 0.25      # pass-verdict margin
        assert psi_ok, (col, psi)
        out[col] = f"{psi_e6}:true:true"
    return out


def derive_audio_checks(rows, clean_rows):
    order, counts = derive_rule_summary(rows)
    tall = [("rule", n, ":".join(map(str, counts[n]))) for n in order]
    dups = sum(1 for _, c in Counter(r[0] for r in rows).items() if c > 1)
    tall.append(("uniqueness", "clip_id", f"dup_keys={dups}"))
    for col, val in derive_drift(rows, clean_rows).items():
        tall.append(("drift", col, val))
    return tall


# -- multimodal (fixture pixel formula, header arithmetic) ------------------

def derive_multimodal():
    from jio_spark.multimodal import synth_bmp, synth_ppm   # fixtures only

    def formula_mean(seed, h, w):
        tot = 0
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    tot += (seed * 7 + y * 5 + x * 3 + c * 11) % 256
        return tot / (h * w * 3)

    agg = {}
    for i in range(300):
        if i % 3 == 0:
            kind, p, mean = "image/bmp", synth_bmp(i, 12, 9), \
                formula_mean(i, 12, 9)
            ok = True
        elif i % 3 == 1:
            kind, p, mean = "image/ppm", synth_ppm(i, 10, 7), \
                formula_mean(i, 10, 7)
            ok = True
        else:
            kind, p, mean, ok = "image/jpeg", \
                b"\xFF\xD8\xFF" + bytes([i % 256]) * 50, None, False
        a = agg.setdefault(kind, {"n": 0, "bytes": 0, "dec": 0, "means": []})
        a["n"] += 1
        a["bytes"] += len(p)
        a["dec"] += ok
        if mean is not None:
            a["means"].append(mean)
    rows = []
    for kind in sorted(agg):
        a = agg[kind]
        avg = round(sum(a["means"]) / len(a["means"]), 4) \
            if a["means"] else None
        rows.append((kind, a["n"], a["bytes"], a["dec"], avg))
    return rows


# -- SQL emission ------------------------------------------------------------

def sql_audio_decode(d):
    return ("SELECT " + ", ".join(
        f"CAST({d[k]} AS BIGINT) AS {k}"
        for k in ("clips", "decoded", "sr_mismatch", "codec_mismatch",
                  "bad_transcript", "snr_ok", "total_samples")))


def sql_audio_checks(tall):
    vals = ",\n  ".join(f"('{c}', '{n}', '{v}')" for c, n, v in tall)
    return ("SELECT * FROM (VALUES\n  " + vals +
            "\n) AS t(component, name, value)")


def sql_multimodal(rows):
    vals = ",\n  ".join(
        f"('{k}', CAST({n} AS BIGINT), CAST({b} AS BIGINT), "
        f"CAST({d} AS BIGINT), "
        + ("CAST(NULL AS DOUBLE)" if avg is None else f"{avg}") + ")"
        for k, n, b, d, avg in rows)
    return ("SELECT * FROM (VALUES\n  " + vals +
            "\n) AS t(kind, n, total_bytes, decoded, avg_mean_pixel) "
            "ORDER BY kind")


def main():
    rows = [make_row(i) for i in range(N_CLIPS)]
    clean = [make_row(i, clean=True) for i in range(N_CLIPS)]
    # audio_decode runs over the pinned §1 corpus + the §1b extended mix
    # (q_audio_decode's union); audio_checks stays on the pinned corpus
    d = derive_audio_decode(rows
                            + [make_row_mixed(i) for i in range(N_MIXED)])
    print("== audio_decode ==")
    print(d)
    print(sql_audio_decode(d))
    tall = derive_audio_checks(rows, clean)
    print("\n== audio_checks ==")
    for r in tall:
        print(r)
    print(sql_audio_checks(tall))
    mm = derive_multimodal()
    print("\n== multimodal ==")
    for r in mm:
        print(r)
    print(sql_multimodal(mm))


if __name__ == "__main__":
    main()
