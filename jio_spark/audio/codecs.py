"""Minimal RIFF/WAVE codecs in pure numpy + struct — the sandbox has no
soundfile/librosa/scipy (SURVEY.md §7 environment facts), and the reference
has no audio at all; formats follow the public RIFF/WAVE and ITU-T G.711
specifications.

Supported WAVE format tags:
* 1      — PCM little-endian: signed 16-bit (``pcm_s16le``), signed
  24-bit (``pcm_s24le`` — the studio mastering width; compared at int16
  precision, exact for payloads produced from 16-bit sources), or the
  legacy unsigned 8-bit convention (``pcm_u8`` — WAV stores 8-bit PCM
  excess-128 by specification)
* 3      — IEEE float32 (``pcm_f32le``, the float-mastering convention)
  or float64 (``pcm_f64le``, the rare scientific/DAW export width);
  /32768 scaling, decode rounds ties-to-even back to int16
* 6      — ITU-T G.711 A-law
* 7      — ITU-T G.711 μ-law
* 0x11   — IMA/DVI ADPCM (``adpcm_ima``), mono 4-bit
* 0xFFFE — WAVE_FORMAT_EXTENSIBLE: the real format rides the SubFormat
  GUID's leading tag bytes; unwrapped to one of the above (modern
  encoders emit EXTENSIBLE even for plain mono PCM)

Channels: 1 or 2. Stereo is supported for every codec. The per-SAMPLE
codecs (PCM widths, G.711, float) are one table, :data:`SAMPLE_CODECS`:
(format tag, container bits) → (codec, numpy sample dtype, int16
transform). :func:`parse_wav` views the data chunk as that dtype — 1-D
for mono, reshaped ``(frames, 2)`` for stereo, so ``len()`` counts
frames either way — and one elementwise transform covers both channels
(it commutes with interleaving); stereo IMA ADPCM (per-channel 4-byte
block headers + data interleaved in 4-byte groups) de-interleaves each
block into two virtual MONO sub-blocks so one run of the mono
recurrence decodes both channels (:func:`adpcm_ima_decode_stacked`,
``channels=2``).
Decode policy for both is downmix-to-mono ``(L+R+1)>>1`` before the SNR
check — the reference signal is mono, and the downmix is exact on
dual-mono content. Per-channel SNR is deliberately not computed
(FIXTURES.md §1b).

G.711 companding is implemented as vectorized numpy over int16 arrays
(standard bias-133/segment encoding for μ-law, 13-bit segment encoding for
A-law) — decode is exact table lookup, encode matches the canonical
reference tables.

IMA ADPCM follows the public IMA Digital Audio Pack algorithm (the step /
index tables every implementation shares). Unlike G.711 it is STATEFUL —
a per-sample (predictor, step-index) recurrence — so it cannot be a pure
LUT gather. Blocks are independent, so both codecs run the recurrence
once per sample position while staying vectorized ACROSS blocks; the
batched entrypoint (:func:`adpcm_ima_decode_stacked`) stacks every block
of every clip in an Arrow batch into one matrix so the Python-level loop
cost (samples-per-block iterations) amortizes over the whole batch rather
than being paid per clip.
"""

from __future__ import annotations

import struct
from typing import Tuple

import numpy as np

# ---------------------------------------------------------------------------
# G.711 μ-law

_ULAW_BIAS = 0x84  # 132
_ULAW_CLIP = 32635


def ulaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 μ-law (ITU-T G.711)."""
    x = pcm.astype(np.int32)
    sign = np.where(x < 0, 0x80, 0)
    x = np.abs(x)
    x = np.minimum(x, _ULAW_CLIP) + _ULAW_BIAS
    exp = (np.floor(np.log2(x)) - 7).astype(np.int32)
    exp = np.clip(exp, 0, 7)
    mant = (x >> (exp + 3)) & 0x0F
    u = ~(sign | (exp << 4) | mant) & 0xFF
    return u.astype(np.uint8)


def _ulaw_decode_arith(u: np.ndarray) -> np.ndarray:
    """uint8 μ-law → int16 PCM (reference arithmetic form; used to build
    the 256-entry LUT below)."""
    u = (~u.astype(np.int32)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 0x07
    mant = u & 0x0F
    x = ((mant << 3) + _ULAW_BIAS) << exp
    x = x - _ULAW_BIAS
    return np.where(sign, -x, x).astype(np.int16)


_ULAW_LUT = _ulaw_decode_arith(np.arange(256, dtype=np.uint8))


def ulaw_decode(u: np.ndarray) -> np.ndarray:
    """uint8 μ-law → int16 PCM via 256-entry table lookup — one gather per
    sample instead of ~8 int32 array ops; the decode hot path is
    memory-bandwidth-bound at high core counts (BENCH/BASELINE.md)."""
    return _ULAW_LUT[u]


# ---------------------------------------------------------------------------
# G.711 A-law

_ALAW_CLIP = 32635


def alaw_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 A-law (ITU-T G.711)."""
    x = pcm.astype(np.int32)
    sign = np.where(x >= 0, 0x80, 0)
    x = np.minimum(np.abs(x), _ALAW_CLIP)
    big = x >= 256
    exp = np.where(big,
                   np.floor(np.log2(np.maximum(x >> 8, 1))).astype(np.int32)
                   + 1, 0)
    exp = np.clip(exp, 0, 7)
    mant = np.where(exp == 0, x >> 4, (x >> (exp + 3)) & 0x0F)
    a = (sign | (exp << 4) | mant) ^ 0x55
    return a.astype(np.uint8)


def _alaw_decode_arith(a: np.ndarray) -> np.ndarray:
    """uint8 A-law → int16 PCM (reference arithmetic form; LUT source)."""
    a = a.astype(np.int32) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 0x07
    mant = a & 0x0F
    x = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (exp - 1))
    return np.where(sign, x, -x).astype(np.int16)


_ALAW_LUT = _alaw_decode_arith(np.arange(256, dtype=np.uint8))


def alaw_decode(a: np.ndarray) -> np.ndarray:
    """uint8 A-law → int16 PCM via 256-entry table lookup (see
    ulaw_decode)."""
    return _ALAW_LUT[a]


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAVE format tag 0x11), mono

_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767], dtype=np.int32)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)

# The recurrence's per-step work is a pure function of (step index 0..88,
# nibble 0..15), so precompute it as flat 89×16 gather tables: one fancy
# index per step instead of re-deriving step>>k arithmetic per iteration.
_NIB = np.arange(16, dtype=np.int32)
_IMA_DIFF = ((_IMA_STEPS[:, None] >> 3)
             + np.where(_NIB & 1, _IMA_STEPS[:, None] >> 2, 0)
             + np.where(_NIB & 2, _IMA_STEPS[:, None] >> 1, 0)
             + np.where(_NIB & 4, _IMA_STEPS[:, None], 0)).reshape(-1)
_IMA_SIGN = np.where(_NIB & 8, np.int32(-1), np.int32(1))
_IMA_NEXT = np.clip(np.arange(89, dtype=np.int32)[:, None]
                    + _IMA_INDEX_ADJ[_NIB & 7], 0, 88).reshape(-1)


def adpcm_ima_samples_per_block(block_align: int) -> int:
    """Mono IMA WAVE block: 4-byte header (predictor int16, step index,
    reserved) + 2 samples per payload byte + the header's own sample."""
    return (block_align - 4) * 2 + 1


def adpcm_stereo_frames_per_block(block_align: int) -> int:
    """Stereo IMA WAVE block: one 4-byte header PER CHANNEL, then the
    data interleaved in 4-byte (8-nibble) groups per channel — frames
    per block = (block_align − 4·2)·8 / (4·2) + 1 = block_align − 7
    (the WAVEFORMATEX wSamplesPerBlock formula at 4 bits, 2 channels)."""
    return block_align - 7


def _stereo_virtual_mono_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, block_align) stereo IMA blocks → (2n, 4 + (ba−8)/2) virtual
    MONO blocks (all left channels, then all right): each channel's
    header plus its de-interleaved 4-byte data groups form a valid mono
    block, so ONE run of the mono recurrence decodes both channels of
    every block. The channel split is pure reshape/slice — no Python
    loop."""
    n, ba = blocks.shape
    groups = blocks[:, 8:].reshape(n, (ba - 8) // 8, 2, 4)
    left = np.concatenate(
        [blocks[:, 0:4], groups[:, :, 0, :].reshape(n, -1)], axis=1)
    right = np.concatenate(
        [blocks[:, 4:8], groups[:, :, 1, :].reshape(n, -1)], axis=1)
    return np.concatenate([left, right], axis=0)


def adpcm_stereo_decode_channels(payload: np.ndarray,
                                 block_align: int):
    """One stereo IMA payload → (left, right) int16 PCM at full
    block-padded length (callers trim to the fact-chunk frame count).
    The per-channel samples are BIT-EXACT mono recurrences over the
    de-interleaved sub-blocks (pinned against the scalar oracle in
    tests/test_audio_adpcm.py)."""
    blocks = np.ascontiguousarray(payload).reshape(-1, block_align)
    n = blocks.shape[0]
    dec = _adpcm_decode_blocks(_stereo_virtual_mono_blocks(blocks))
    return dec[:n].reshape(-1), dec[n:].reshape(-1)


def adpcm_stereo_decode_stacked(payloads, block_align: int):
    """Stereo form of :func:`adpcm_ima_decode_stacked` (``channels=2``):
    one int16 array of downmixed FRAMES per payload."""
    return adpcm_ima_decode_stacked(payloads, block_align, channels=2)


def adpcm_ima_encode_stereo(left: np.ndarray, right: np.ndarray,
                            block_align: int = 256) -> bytes:
    """Two int16 channels → stereo IMA ADPCM payload: each channel is
    encoded independently by the vectorized mono encoder at the
    per-channel sub-block size (4 + (ba−8)/2), then headers and 4-byte
    data groups interleave per the stereo block layout. Channels must be
    equal length (pad upstream)."""
    if len(left) != len(right):
        raise ValueError("stereo adpcm channels must be equal length")
    if block_align < 16 or (block_align - 8) % 8:
        raise ValueError(
            f"stereo adpcm block_align {block_align} invalid: needs "
            f">= 16 with (block_align - 8) % 8 == 0")
    sub_ba = 4 + (block_align - 8) // 2
    enc_l = np.frombuffer(adpcm_ima_encode(left, sub_ba), np.uint8) \
        .reshape(-1, sub_ba)
    enc_r = np.frombuffer(adpcm_ima_encode(right, sub_ba), np.uint8) \
        .reshape(-1, sub_ba)
    n = enc_l.shape[0]
    out = np.empty((n, block_align), dtype=np.uint8)
    out[:, 0:4] = enc_l[:, 0:4]
    out[:, 4:8] = enc_r[:, 0:4]
    gl = enc_l[:, 4:].reshape(n, -1, 4)
    gr = enc_r[:, 4:].reshape(n, -1, 4)
    inter = np.stack([gl, gr], axis=2)          # (n, groups, 2, 4)
    out[:, 8:] = inter.reshape(n, -1)
    return out.tobytes()


def _adpcm_decode_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n_blocks, block_align) uint8 → (n_blocks, samples_per_block) int16.

    The (predictor, index) recurrence is inherently sequential per sample,
    so the loop runs samples_per_block-1 times — but every op inside is
    vectorized across ALL rows, so cost amortizes with the number of
    blocks (see adpcm_ima_decode_stacked for the batch-stacking caller)."""
    nb, ba = blocks.shape
    spb = adpcm_ima_samples_per_block(ba)
    pred = (blocks[:, 0].astype(np.int32)
            | (blocks[:, 1].astype(np.int32) << 8))
    pred = (pred ^ 0x8000) - 0x8000            # sign-extend int16
    index = np.clip(blocks[:, 2].astype(np.int32), 0, 88)
    # work TRANSPOSED: the loop reads byte k of every block and writes
    # sample k+1 of every block — as rows of (spb, nb) both are one
    # contiguous stretch per iteration, where the (nb, spb) orientation
    # would touch every block's cache line every step (~32× the useful
    # write traffic; measured +35% single-core, and the saving grows
    # under multi-core bandwidth contention — BENCH session 9)
    data = np.ascontiguousarray(blocks[:, 4:].T)
    out_t = np.empty((spb, nb), dtype=np.int16)
    out_t[0] = pred
    for k in range(spb - 1):
        byte = data[k >> 1]
        nib = (byte & 0xF) if (k & 1) == 0 else (byte >> 4)
        flat = index * 16 + nib
        pred = np.clip(pred + _IMA_SIGN[nib] * _IMA_DIFF[flat],
                       -32768, 32767)
        index = _IMA_NEXT[flat]
        out_t[k + 1] = pred
    return np.ascontiguousarray(out_t.T)


def adpcm_ima_decode_stacked(payloads, block_align: int,
                             channels: int = 1):
    """Decode MANY clips' payloads in one pass: every block of every clip
    is stacked into a single (total_blocks, block_align) matrix so the
    sequential-per-sample loop in :func:`_adpcm_decode_blocks` runs once
    per BATCH, not once per clip. Returns one int16 array per payload
    (full samples-per-block length; callers trim to the clip's true
    sample count). This is what keeps ADPCM viable in the Arrow decode
    UDF — per-clip decode pays ~500 numpy-dispatch round-trips on
    ~30-element vectors, the stacked form pays the same 500 on
    thousands-of-elements vectors.

    ``channels=2``: stereo blocks — left and right channels of every
    block stack as virtual mono blocks into the same one run, then each
    clip's channels downmix ``(L+R+1)>>1`` to the comparison-domain mono
    signal, so each array holds FRAMES."""
    for p in payloads:
        if p.nbytes % block_align:
            # the concatenate+reshape below only needs the TOTAL to be a
            # block multiple — without this per-payload check, two
            # misaligned payloads whose sum happens to divide evenly
            # would decode garbage silently (blocks straddling clips)
            raise ValueError(
                f"adpcm payload of {p.nbytes} bytes is not a multiple "
                f"of block_align {block_align}")
    counts = [p.nbytes // block_align for p in payloads]
    if not counts or sum(counts) == 0:
        return [np.empty(0, dtype=np.int16) for _ in payloads]
    blocks = np.concatenate(
        [np.ascontiguousarray(p).reshape(-1) for p in payloads]
    ).reshape(-1, block_align)
    if channels == 2:
        nb = blocks.shape[0]
        dec = _adpcm_decode_blocks(_stereo_virtual_mono_blocks(blocks))
        left, right = dec[:nb].astype(np.int32), dec[nb:].astype(np.int32)
        dec = ((left + right + 1) >> 1).astype(np.int16)
    else:
        dec = _adpcm_decode_blocks(blocks)
    out, off = [], 0
    for c in counts:
        out.append(dec[off:off + c].reshape(-1))
        off += c
    return out


def adpcm_ima_encode(pcm: np.ndarray, block_align: int = 256) -> bytes:
    """int16 PCM → IMA ADPCM payload (whole blocks; the tail block is
    padded by repeating the final sample, trimmed on decode via the fact
    chunk's sample count). Encoder-side predictor/index updates replay
    the decoder tables exactly, so encode∘decode drift is just the
    quantizer's — the property the SNR check measures.

    Vectorized across blocks like the decoder: each block's initial
    predictor is its first sample (stored verbatim in the header) and the
    initial step index is chosen per block from the first delta."""
    spb = adpcm_ima_samples_per_block(block_align)
    n = len(pcm)
    nb = max(1, -(-n // spb))
    pad = nb * spb - n
    if pad:
        tail = pcm[-1] if n else np.int16(0)
        pcm = np.concatenate([pcm, np.full(pad, tail, dtype=np.int16)])
    # transposed like the decoder: per-step reads (sample k+1 of every
    # block) and writes (nibble k of every block) are contiguous rows of
    # (spb, nb) matrices instead of strided columns of row-major ones
    s_t = np.ascontiguousarray(
        pcm.astype(np.int32).reshape(nb, spb).T)
    pred = s_t[0].copy()
    d0 = np.abs(s_t[1] - pred) if spb > 1 else np.zeros(nb, dtype=np.int32)
    index = np.clip(np.searchsorted(_IMA_STEPS, d0), 0, 88).astype(np.int32)
    header = np.zeros((nb, 4), dtype=np.uint8)
    header[:, 0] = pred & 0xFF
    header[:, 1] = (pred >> 8) & 0xFF
    header[:, 2] = index
    nibbles_t = np.empty((spb - 1, nb), dtype=np.uint8)
    for k in range(spb - 1):
        step = _IMA_STEPS[index]
        diff = s_t[k + 1] - pred
        sign = diff < 0
        ad = np.abs(diff)
        b4 = ad >= step
        ad = ad - np.where(b4, step, 0)
        b2 = ad >= step >> 1
        ad = ad - np.where(b2, step >> 1, 0)
        b1 = ad >= step >> 2
        nib = (np.where(sign, 8, 0) | np.where(b4, 4, 0)
               | np.where(b2, 2, 0) | np.where(b1, 1, 0)).astype(np.int32)
        flat = index * 16 + nib
        pred = np.clip(pred + _IMA_SIGN[nib] * _IMA_DIFF[flat],
                       -32768, 32767)
        index = _IMA_NEXT[flat]
        nibbles_t[k] = nib
    nibbles = np.ascontiguousarray(nibbles_t.T)
    packed = (nibbles[:, 0::2] | (nibbles[:, 1::2] << 4)).astype(np.uint8)
    return np.concatenate([header, packed], axis=1).tobytes()


class AdpcmCoded:
    """Zero-copy view of an IMA ADPCM data chunk plus the block geometry
    needed to decode it. ``len()`` is the DECODED frame count (samples
    for mono, frames for stereo — the unit the dur/n_samples checks are
    defined in), keeping parse_wav's one-len()-per-decoded-sample
    invariant; ``nbytes`` is the raw payload size, keeping the fuzz
    contract's no-amplification bound. ``channels == 2`` selects the
    stereo block layout (per-channel headers + interleaved 4-byte data
    groups) whose decode downmixes ``(L+R+1)>>1`` like the per-sample
    codecs' stereo views."""

    __slots__ = ("payload", "block_align", "n_samples", "channels")

    def __init__(self, payload: np.ndarray, block_align: int,
                 n_samples: int, channels: int = 1):
        self.payload = payload
        self.block_align = block_align
        self.n_samples = n_samples
        self.channels = channels

    def __len__(self) -> int:
        return self.n_samples

    @property
    def nbytes(self) -> int:
        return self.payload.nbytes

    def decode(self) -> np.ndarray:
        """Per-clip decode (tests / snr_db_vs_period fallback); the hot
        Arrow path batches clips through adpcm_ima_decode_stacked."""
        (pcm,) = adpcm_ima_decode_stacked([self.payload], self.block_align,
                                          self.channels)
        return pcm[:self.n_samples]


# ---------------------------------------------------------------------------
# signed 24-bit PCM (bits=24 under format tag 1 — studio mastering width)

def _s24_to_int16(v: np.ndarray) -> np.ndarray:
    """'V3' view of little-endian 3-byte samples → int16 (3 bytes per
    sample have no native numeric dtype). int16 is the comparison
    precision of the whole check pipeline (references are int16 synth;
    a 24-bit payload written from a 16-bit source round-trips exactly,
    so SNR reads ∞ on clean clips)."""
    b = np.ascontiguousarray(v).view(np.uint8).reshape(v.shape + (3,))
    x = (b[..., 0].astype(np.int32)
         | (b[..., 1].astype(np.int32) << 8)
         | (b[..., 2].astype(np.int32) << 16))
    x = (x ^ 0x800000) - 0x800000          # sign-extend int24
    return (x >> 8).astype(np.int16)


def pcm_s24_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → little-endian 3-byte samples (value << 8): the exact
    inverse of the s24 decode for 16-bit sources."""
    x = pcm.astype(np.int32) << 8
    out = np.empty((len(pcm), 3), dtype=np.uint8)
    out[:, 0] = x & 0xFF
    out[:, 1] = (x >> 8) & 0xFF
    out[:, 2] = (x >> 16) & 0xFF
    return out.reshape(-1)


# ---------------------------------------------------------------------------
# IEEE float PCM (WAVE format tag 3)

def _float_to_int16(v: np.ndarray) -> np.ndarray:
    """float32 or float64 samples (format tag 3, incl. the KSDATAFORMAT
    float GUID under WAVE_FORMAT_EXTENSIBLE) → int16: ×32768 in the
    payload's own precision, rounded ties-to-even (np.rint) — the exact
    inverse of :func:`pcm_f32_encode` / :func:`pcm_f64_encode` for int16
    sources (int16/32768 is exact in float32's 24-bit mantissa), so
    clean clips measure SNR ∞. Non-finite payload floats (a corrupt file
    can carry NaN/±inf bit patterns) decode deterministically: NaN → 0,
    ±inf → the int16 rails — never an undefined float→int cast."""
    x = np.rint(v * v.dtype.type(32768.0))
    x = np.nan_to_num(x, nan=0.0, posinf=32767.0, neginf=-32768.0)
    return np.clip(x, -32768.0, 32767.0).astype(np.int16)


def pcm_f32_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → little-endian float32 samples in [-1, 1) at the
    conventional /32768 scaling — the exact inverse of the float decode
    for 16-bit sources."""
    return (pcm.astype(np.float32) / np.float32(32768.0)).astype("<f4")


def pcm_f64_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → little-endian float64 samples (/32768) — exact
    inverse of the float decode for 16-bit sources."""
    return (pcm.astype(np.float64) / 32768.0).astype("<f8")


# ---------------------------------------------------------------------------
# unsigned 8-bit PCM (WAV's legacy excess-128 convention for bits=8)

_PCMU8_LUT = ((np.arange(256, dtype=np.int32) - 128) << 8).astype(np.int16)


def pcm_u8_decode(u: np.ndarray) -> np.ndarray:
    """uint8 excess-128 PCM → int16 (<<8 rescale, exact table lookup)."""
    return _PCMU8_LUT[u]


def pcm_u8_encode(pcm: np.ndarray) -> np.ndarray:
    """int16 PCM → uint8 excess-128, rounding to the nearest 8-bit code
    (a truncating >>8 would center the quantization noise off zero and
    cost ~6 dB; rounded, the fixture sines measure ~44 dB — 8-bit
    quantization noise, comfortably above the 30 dB gate)."""
    q = np.round(pcm.astype(np.float64) / 256.0).astype(np.int32)
    return np.clip(q + 128, 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# RIFF/WAVE container

_FMT_PCM16 = 1
_FMT_FLOAT = 3
_FMT_ALAW = 6
_FMT_ULAW = 7
_FMT_ADPCM_IMA = 0x11
_FMT_EXTENSIBLE = 0xFFFE

#: WAVE_FORMAT_EXTENSIBLE SubFormat = {tag:04x}-0000-0010-8000-00AA00389B71:
#: the first two GUID bytes are the little-endian classic format tag, the
#: remaining 14 are this fixed media-type suffix
_EXT_GUID_SUFFIX = bytes.fromhex("000000001000800000AA00389B71")

#: every per-SAMPLE codec: (format tag, container bits) → (codec, numpy
#: dtype of one sample, transform of an array of those samples to int16;
#: None where they already are int16). parse_wav views the data chunk as
#: that dtype, and decode_coded and the fused SNR kernel apply the
#: transform. IMA ADPCM is block-structured and stays outside
#: (:class:`AdpcmCoded`).
SAMPLE_CODECS = {
    (_FMT_PCM16, 16): ("pcm_s16le", np.dtype("<i2"), None),
    # WAV spec: 8-bit PCM is unsigned excess-128
    (_FMT_PCM16, 8): ("pcm_u8", np.dtype("u1"), pcm_u8_decode),
    (_FMT_PCM16, 24): ("pcm_s24le", np.dtype("V3"), _s24_to_int16),
    (_FMT_FLOAT, 32): ("pcm_f32le", np.dtype("<f4"), _float_to_int16),
    (_FMT_FLOAT, 64): ("pcm_f64le", np.dtype("<f8"), _float_to_int16),
    # G.711 is 8-bit by definition: a fmt chunk declaring 16-bit
    # A-law/mu-law is malformed and must surface as ONE decode
    # violation, not be read one-sample-per-byte (doubling n_samples and
    # misattributing the defect to dur/snr)
    (_FMT_ALAW, 8): ("alaw", np.dtype("u1"), alaw_decode),
    (_FMT_ULAW, 8): ("ulaw", np.dtype("u1"), ulaw_decode),
}
_CODEC_KEY = {codec: key for key, (codec, _, _) in SAMPLE_CODECS.items()}
_TO_INT16 = {codec: fn for codec, _, fn in SAMPLE_CODECS.values()}

#: the payload name in parse_wav's "malformed ... payload" errors: per
#: format tag for an unlisted container width, per (tag, bits) where a
#: data chunk that is not whole samples has its own name
_MALFORMED = {_FMT_PCM16: "pcm16", _FMT_FLOAT: "ieee-float",
              _FMT_ALAW: "g711", _FMT_ULAW: "g711",
              (_FMT_PCM16, 24): "pcm24", (_FMT_FLOAT, 64): "ieee-double"}

#: codec → (int16 samples → payload samples) for every SAMPLE_CODECS
#: codec — behind the mono encoders and the stereo writer, which take the
#: format tag and container bits from the table (ADPCM keeps its own
#: encoders)
_PAYLOAD_ENC = {"pcm_s16le": lambda p: p.astype("<i2"), "ulaw": ulaw_encode,
                "alaw": alaw_encode, "pcm_u8": pcm_u8_encode,
                "pcm_s24le": pcm_s24_encode, "pcm_f32le": pcm_f32_encode,
                "pcm_f64le": pcm_f64_encode}


def _wav_bytes(payload: bytes, fmt: int, sr: int, bits: int,
               channels: int = 1) -> bytes:
    block = (bits // 8) * channels
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(payload), b"WAVE",
        b"fmt ", 16, fmt, channels, sr, sr * block, block, bits,
        b"data", len(payload))
    return header + payload


def _sample_wav(pcm: np.ndarray, sr: int, codec: str,
                channels: int = 1) -> bytes:
    fmt, bits = _CODEC_KEY[codec]
    return _wav_bytes(_PAYLOAD_ENC[codec](pcm).tobytes(), fmt, sr, bits,
                      channels)


def encode_pcm16_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → WAV (format tag 1)."""
    return _sample_wav(pcm, sr, "pcm_s16le")


def encode_ulaw_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → μ-law WAV (format tag 7)."""
    return _sample_wav(pcm, sr, "ulaw")


def encode_alaw_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → A-law WAV (format tag 6)."""
    return _sample_wav(pcm, sr, "alaw")


def encode_adpcm_wav(pcm: np.ndarray, sr: int,
                     block_align: int = 256) -> bytes:
    """int16 samples → IMA ADPCM WAV (format tag 0x11). Compressed WAVE
    needs the full WAVEFORMATEX fmt chunk (cbSize=2 + wSamplesPerBlock)
    and a fact chunk carrying the true sample count — the payload is
    whole blocks, so without the fact chunk a decoder cannot distinguish
    real samples from the final block's padding."""
    if not 5 <= block_align <= 32771:
        # container fields are uint16: wSamplesPerBlock = (ba-4)*2+1 must
        # stay ≤ 65535, i.e. ba ≤ 32771. An out-of-range knob must fail
        # as the module's documented ValueError, not surface as an
        # unrelated low-level struct.error from the header pack.
        raise ValueError(f"block_align {block_align} out of range "
                         f"[5, 32771]")
    return _adpcm_wav(adpcm_ima_encode(pcm, block_align), 1, sr,
                      block_align, adpcm_ima_samples_per_block(block_align),
                      len(pcm))


def _adpcm_wav(payload: bytes, channels: int, sr: int, block_align: int,
               spb: int, frames: int) -> bytes:
    """IMA ADPCM WAV around an encoded payload: WAVEFORMATEX fmt chunk
    (cbSize=2 + wSamplesPerBlock ``spb``) and the fact chunk carrying
    the true FRAME count."""
    byte_rate = (sr * block_align + spb - 1) // spb
    header = struct.pack(
        "<4sI4s4sIHHIIHHHH4sII4sI",
        b"RIFF", 52 + len(payload), b"WAVE",
        b"fmt ", 20, _FMT_ADPCM_IMA, channels, sr, byte_rate, block_align,
        4, 2, spb,
        b"fact", 4, frames,
        b"data", len(payload))
    return header + payload


def parse_wav(raw: bytes) -> Tuple[object, int, str]:
    """WAV bytes → (coded samples as a ZERO-COPY view, sample rate, codec
    name) without decoding: a numpy view of the data chunk in the
    codec's :data:`SAMPLE_CODECS` dtype (1-D for mono, ``(frames, 2)``
    for stereo), or an :class:`AdpcmCoded` block view for IMA ADPCM.
    ``len()`` is the decoded frame count in every case (for ADPCM via
    the fact chunk, since blocks are padded).

    Raises ValueError on malformed/truncated input (drives the corrupt-
    payload violations in FIXTURES.md §1).

    The RIFF chunk list is WALKED per spec, not assumed canonical: a
    valid WAV may carry an 18/40-byte fmt chunk (WAVEFORMATEX/EXTENSIBLE)
    or fact/LIST chunks before data — the table's bytes come from
    arbitrary encoders, not just this module's 44-byte writer — and a
    buffer whose fmt fields are garbage must be rejected, not unpacked
    from a fixed offset."""
    if len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = channels = sr = bits = block_align = fact_samples = None
    payload = None
    pos = 12
    while pos + 8 <= len(raw):
        cid = raw[pos:pos + 4]
        (clen,) = struct.unpack("<I", raw[pos + 4:pos + 8])
        body = raw[pos + 8:pos + 8 + clen]
        if cid == b"fmt " and fmt is None:
            # first fmt chunk only — mirrors the data-chunk guard: a
            # trailing duplicate (or coincidental garbage) `fmt ` chunk
            # after data must not overwrite fmt/sr/bits/block_align and
            # reinterpret an already-captured payload
            if clen < 16 or len(body) < 16:
                raise ValueError("malformed fmt chunk")
            (fmt, channels, sr, _, block_align, bits) = struct.unpack(
                "<HHIIHH", body[:16])
            if fmt == _FMT_EXTENSIBLE:
                # WAVEFORMATEXTENSIBLE: 22-byte extension = cbSize(2) +
                # Samples union(2) + dwChannelMask(4) + SubFormat
                # GUID(16); the GUID's first two bytes are the real
                # little-endian format tag. `bits` stays the base
                # header's wBitsPerSample (the CONTAINER width every
                # layout check below needs): the union field at offset
                # 18 is wValidBitsPerSample only for PCM — for
                # compressed subformats it is wSamplesPerBlock, and for
                # PCM with valid_bits < container the payload is still
                # laid out at container width (low bits zero), so
                # overriding bits from the union would reject valid
                # ADPCM files (505 ≠ 4) or misroute 16-bit containers
                # to the 8-bit decoder
                if clen < 40 or len(body) < 40:
                    raise ValueError("malformed extensible fmt chunk")
                if body[26:40] != _EXT_GUID_SUFFIX:
                    raise ValueError("unknown extensible subformat")
                (fmt,) = struct.unpack("<H", body[24:26])
        elif cid == b"fact" and clen >= 4 and len(body) >= 4:
            # dwSampleLength — required for compressed formats; for the
            # block-padded ADPCM payload it is the only record of where
            # real samples end and final-block padding begins
            (fact_samples,) = struct.unpack("<I", body[:4])
        elif cid == b"data" and payload is None:
            if fmt is None:
                raise ValueError("data chunk before fmt chunk")
            if len(body) < clen:
                raise ValueError("truncated data chunk")
            payload = body
            # keep walking: a legal RIFF may order chunks fmt, data,
            # fact — stopping here would silently drop a post-data fact
            # chunk and mis-trim ADPCM block padding (false dur/snr
            # violations on a correct externally-encoded file)
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None:
        raise ValueError("missing fmt chunk")
    if payload is None:
        raise ValueError("missing data chunk")
    dlen = len(payload)
    if channels not in (1, 2):
        raise ValueError(f"unsupported channel count {channels}")
    if fmt == _FMT_ADPCM_IMA:
        # IMA: 4-bit samples, whole blocks only — a mid-block truncation
        # cannot be decoded and must surface as ONE decode violation.
        # Mono blocks: 4-byte header + data (≥5 bytes). Stereo blocks
        # (round 5): one header per channel + data interleaved in
        # 4-byte groups per channel, so the data region must split
        # evenly into 8-byte group pairs (≥16 bytes, (ba−8) % 8 == 0).
        if bits != 4 or block_align is None:
            raise ValueError("malformed adpcm payload")
        if channels == 1:
            if block_align < 5:
                raise ValueError("malformed adpcm payload")
            spb = adpcm_ima_samples_per_block(block_align)
        else:
            if block_align < 16 or (block_align - 8) % 8:
                raise ValueError("malformed stereo adpcm payload")
            spb = adpcm_stereo_frames_per_block(block_align)
        if dlen == 0 or dlen % block_align:
            raise ValueError("truncated adpcm payload")
        capacity = (dlen // block_align) * spb
        n_samples = capacity
        if fact_samples is not None:
            if fact_samples > capacity:
                raise ValueError("fact chunk exceeds adpcm capacity")
            n_samples = fact_samples
        coded = AdpcmCoded(np.frombuffer(payload, dtype=np.uint8),
                           block_align, n_samples, channels)
        return coded, sr, "adpcm_ima"
    entry = SAMPLE_CODECS.get((fmt, bits))
    if entry is None:
        if fmt not in _MALFORMED:
            raise ValueError(f"unsupported format tag {fmt}")
        raise ValueError(f"malformed {_MALFORMED[fmt]} payload")
    codec, dtype, _ = entry
    if dlen % dtype.itemsize:
        name = _MALFORMED.get((fmt, bits), _MALFORMED[fmt])
        raise ValueError(f"malformed {name} payload")
    coded = np.frombuffer(payload, dtype=dtype)
    if channels == 2:
        if len(coded) % 2:
            raise ValueError("stereo payload with odd sample count")
        coded = coded.reshape(-1, 2)
    return coded, sr, codec


def _int16_mono(samples: np.ndarray, to_int16) -> np.ndarray:
    """A per-sample coded view, or a run of its frames → int16 mono PCM:
    the codec's transform, then, for a ``(frames, 2)`` stereo view, the
    documented ``(L + R + 1) >> 1`` downmix (round-half-up mean — the
    exact identity on dual-mono content, so a stereo file carrying the
    reference signal on both channels measures the same SNR as its mono
    counterpart)."""
    pcm = samples if to_int16 is None else to_int16(samples)
    if pcm.ndim == 2:
        s = pcm.astype(np.int32)
        pcm = ((s[:, 0] + s[:, 1] + 1) >> 1).astype(np.int16)
    return pcm


def decode_coded(samples, codec: str) -> np.ndarray:
    """Coded-sample view from :func:`parse_wav` → int16 mono PCM."""
    if isinstance(samples, AdpcmCoded):
        return samples.decode()
    return _int16_mono(samples, _TO_INT16.get(codec))


def decode_wav(raw: bytes) -> Tuple[np.ndarray, int, str]:
    """WAV bytes → (int16 PCM, sample rate, codec name). Delegates header
    and payload validation to :func:`parse_wav` so the malformed-input
    behavior (which drives the corrupt-payload violations, FIXTURES.md §1)
    cannot drift between the parse-only and full-decode paths."""
    coded, sr, codec = parse_wav(raw)
    return decode_coded(coded, codec), sr, codec


def encode_pcm8_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → unsigned 8-bit PCM WAV (format tag 1, bits=8)."""
    return _sample_wav(pcm, sr, "pcm_u8")


def encode_pcm24_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → signed 24-bit PCM WAV (format tag 1, bits=24)."""
    return _sample_wav(pcm, sr, "pcm_s24le")


def encode_pcm32f_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → IEEE float32 WAV (format tag 3, bits=32)."""
    return _sample_wav(pcm, sr, "pcm_f32le")


def encode_pcm64f_wav(pcm: np.ndarray, sr: int) -> bytes:
    """int16 samples → IEEE float64 WAV (format tag 3, bits=64)."""
    return _sample_wav(pcm, sr, "pcm_f64le")



def encode_adpcm_stereo_wav(left: np.ndarray, right: np.ndarray,
                            sr: int, block_align: int = 256) -> bytes:
    """Two int16 channels → stereo IMA ADPCM WAV (tag 0x11, channels=2):
    WAVEFORMATEX fmt chunk with the stereo wSamplesPerBlock + fact chunk
    carrying the true FRAME count (block padding is per channel)."""
    return _adpcm_wav(adpcm_ima_encode_stereo(left, right, block_align), 2,
                      sr, block_align,
                      adpcm_stereo_frames_per_block(block_align), len(left))


def encode_stereo_wav(pcm: np.ndarray, sr: int, codec: str) -> bytes:
    """Mono int16 samples → dual-mono stereo WAV (the same signal on both
    channels — the fixture convention, FIXTURES.md §1b: the downmix
    decode recovers the mono signal EXACTLY for the per-sample codecs,
    so a stereo clip's SNR verdict matches its mono counterpart's).
    adpcm_ima routes to :func:`encode_adpcm_stereo_wav` (round 5: stereo
    ADPCM decodes for real; the dual-mono downmix equals the per-channel
    decode exactly since both channels encode identically)."""
    if codec == "adpcm_ima":
        return encode_adpcm_stereo_wav(pcm, pcm, sr)
    if codec not in _PAYLOAD_ENC:
        raise ValueError(f"no stereo encoder for codec {codec!r}")
    inter = np.empty(2 * len(pcm), dtype=np.int16)
    inter[0::2] = pcm
    inter[1::2] = pcm
    return _sample_wav(inter, sr, codec, channels=2)


def wrap_extensible(raw: bytes) -> bytes:
    """Rewrap a canonical 16-byte-fmt WAV as WAVE_FORMAT_EXTENSIBLE: the
    classic tag moves into the SubFormat GUID's leading bytes, the fmt
    chunk grows to the 40-byte WAVEFORMATEXTENSIBLE form (cbSize=22,
    wValidBitsPerSample = container bits, standard mono/stereo channel
    masks), and every other chunk passes through verbatim. Modern
    encoders emit EXTENSIBLE even for plain PCM — this is the fixture
    generator for that corpus shape."""
    if raw[:4] != b"RIFF" or raw[8:16] != b"WAVEfmt ":
        raise ValueError("not a canonical fmt-first WAV")
    (clen,) = struct.unpack("<I", raw[16:20])
    if clen != 16:
        raise ValueError("fmt chunk is not the 16-byte canonical form")
    fmt, channels, sr, br, ba, bits = struct.unpack("<HHIIHH", raw[20:36])
    rest = raw[36:]                       # remaining chunks, verbatim
    mask = 0x4 if channels == 1 else 0x3  # FC / FL+FR
    ext = (struct.pack("<HHIIHHHHI", _FMT_EXTENSIBLE, channels, sr, br,
                       ba, bits, 22, bits, mask)
           + struct.pack("<H", fmt) + _EXT_GUID_SUFFIX)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + 40 + len(rest)) + b"WAVE"
            + b"fmt " + struct.pack("<I", 40) + ext + rest)


ENCODERS = {"pcm_s16le": encode_pcm16_wav, "ulaw": encode_ulaw_wav,
            "alaw": encode_alaw_wav, "adpcm_ima": encode_adpcm_wav,
            "pcm_u8": encode_pcm8_wav, "pcm_s24le": encode_pcm24_wav,
            "pcm_f32le": encode_pcm32f_wav, "pcm_f64le": encode_pcm64f_wav}


_PERIOD_CACHE: dict = {}


def _one_period(freq_hz: float, sr: int, amplitude: float) -> np.ndarray:
    """One exact period of the quantized sine. sin(2π f n/sr) repeats
    exactly every L = sr/gcd(f, sr) samples (f·L/sr is an integer), so a
    clip of any duration is np.tile of this — ~40× cheaper than evaluating
    np.sin per sample, and still a pure function of (f, sr, dur)."""
    import math
    key = (freq_hz, sr, amplitude)
    p = _PERIOD_CACHE.get(key)
    if p is None:
        g = math.gcd(int(round(freq_hz)), sr)
        L = sr // g if g else sr
        t = np.arange(L, dtype=np.float64) / sr
        x = amplitude * np.sin(2.0 * np.pi * freq_hz * t)
        p = np.round(x * 32767.0).astype(np.int16)
        _PERIOD_CACHE[key] = p
    return p


#: fixture sine amplitude — shared by synth_wave's default and the fused
#: SNR check's reference period (synth.expected_period), so the two can't
#: silently diverge and fail every clip against the 30 dB threshold
DEFAULT_AMPLITUDE = 0.5


def synth_wave(freq_hz: float, dur_ms: int, sr: int,
               amplitude: float = DEFAULT_AMPLITUDE) -> np.ndarray:
    """Deterministic sine clip as int16 PCM (FIXTURES.md §1 `bytes` spec).
    Integral frequencies take the exact tiled-period fast path."""
    n = int(round(sr * dur_ms / 1000.0))
    if float(freq_hz).is_integer():
        p = _one_period(freq_hz, sr, amplitude)
        reps = n // len(p) + 1
        return np.tile(p, reps)[:n]
    t = np.arange(n, dtype=np.float64) / sr
    x = amplitude * np.sin(2.0 * np.pi * freq_hz * t)
    return np.round(x * 32767.0).astype(np.int16)


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    """Signal-to-noise ratio of decoded vs reference (float domain).

    Computed in float32 with BLAS dot products: int16 inputs are exact in
    float32, and pairwise-summed sdot keeps the relative error ~1e-7 —
    irrelevant against a 30 dB threshold — while halving the memory
    traffic of the float64 form (this is the hottest loop of the decode
    stage; see BENCH/BASELINE.md bandwidth note)."""
    n = min(len(reference), len(decoded))
    if n == 0:
        return float("-inf")
    ref = reference[:n].astype(np.float32)
    noise = ref - decoded[:n].astype(np.float32)
    p_sig = float(np.dot(ref, ref))
    p_noise = float(np.dot(noise, noise))
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * float(np.log10(p_sig / p_noise))


_SNR_BLOCK = 1 << 17  # samples per block: f32 temporaries stay ~1.5 MB


def snr_db_vs_period(coded: np.ndarray, codec: str,
                     period: np.ndarray, n_ref: int) -> float:
    """SNR of ``decode(coded)`` against a periodic reference, equivalent
    to ``snr_db(np.tile(period, ...)[:n_ref], decode_coded(coded, codec))``
    but FUSED and cache-blocked: the decoded clip and the tiled reference
    are never materialized — each ≤128k-sample block is decoded, cast, and
    dot-producted while resident in L2. At 32 cores on one socket the
    unfused form is DRAM-bandwidth-bound (~24 bytes/sample of temporary
    traffic vs ~3 here); this is what keeps the decode stage scaling with
    cores (BENCH/BASELINE.md)."""
    n = min(n_ref, len(coded))
    if n == 0:
        return float("-inf")
    if isinstance(coded, AdpcmCoded):
        # block-structured: no per-sample transform, so materialize the
        # clip (~KBs); the Arrow decode UDF batches ADPCM through the
        # stacked path instead (decode.py)
        coded = coded.decode()
    to_int16 = _TO_INT16.get(codec)
    plen = len(period)
    blk = min(_SNR_BLOCK, n)
    reps = (blk + plen) // plen + 1
    buf = np.tile(period, reps)[:blk + plen].astype(np.float32)
    p_sig = p_noise = 0.0
    off = 0
    while off < n:
        m = min(blk, n - off)
        d = _int16_mono(coded[off:off + m], to_int16).astype(np.float32)
        r = buf[off % plen:off % plen + m]
        nz = r - d
        p_sig += float(np.dot(r, r))
        p_noise += float(np.dot(nz, nz))
        off += m
    if p_noise == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * float(np.log10(p_sig / p_noise))
