"""Ogg Vorbis decode vs the fully INDEPENDENT spec-derived encoder
(tests/vorbis_writer.py — zero shared code with the decoder; the
bitstream is the only contract, possible because Vorbis carries its
codebooks in-stream)."""

from __future__ import annotations

import numpy as np
import pytest

import sample_dms_kinesis_rds_mariadb_spark.operators.vorbis as V
from tests.vorbis_writer import write_vorbis


def _snr(a: np.ndarray, b: np.ndarray) -> float:
    m = min(len(a), len(b))
    a, b = a[:m], b[:m]
    return 10.0 * np.log10((a * a).sum() / max(((a - b) ** 2).sum(), 1e-12))


def _tone(n: int, rate: int) -> np.ndarray:
    t = np.arange(n) / rate
    env = np.minimum(t / 0.05, 1.0)
    return (9000 * np.sin(2 * np.pi * 440 * t)
            + 4000 * np.sin(2 * np.pi * 1200 * t + 0.6)) * env


# --- primitives against the spec's own examples ------------------------------


def test_codeword_assignment_matches_spec_worked_example():
    """Vorbis I §3.2.1's worked example: lengths [2,4,4,4,4,2,3,3] must
    assign exactly the spec's printed codewords."""
    tree = V._assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    inv = {e: format(c, f"0{ln}b") for (ln, c), e in tree.items()}
    assert inv == {0: "00", 1: "0100", 2: "0101", 3: "0110",
                   4: "0111", 5: "10", 6: "110", 7: "111"}


def test_lsb_reader_and_float32():
    r = V.LsbReader(bytes([0b10110010, 0b11111101]))
    assert r.read(3) == 0b010
    assert r.read(5) == 0b10110
    assert r.read(2) == 0b01
    assert V.ilog(0) == 0 and V.ilog(7) == 3 and V.ilog(8) == 4
    assert V.float32_unpack((788 << 21) | 1) == 1.0
    assert V.float32_unpack((1 << 31) | (788 << 21) | 3) == -3.0
    assert V._lookup1_values(81, 2) == 9
    assert V._lookup1_values(16, 4) == 2


def test_floor1_inverse_db_table_shape():
    """The dB lookup is geometric with ratio 10^(7/256) (≈0.547 dB per
    step), top-anchored at exactly 1.0 — the documented formula."""
    t = V.FLOOR1_INVERSE_DB
    assert t[255] == 1.0
    assert abs(t[0] - 1.0649e-07) / 1.0649e-07 < 1e-3
    ratios = t[1:] / t[:-1]
    assert np.allclose(ratios, 10.0 ** (7.0 / 256.0))


def test_render_line_matches_bresenham_reference():
    """The vectorized render_line's closed form y(x) = y0 +
    sign(dy)·⌊|dy|(x−x0)/adx⌋ equals the spec's accumulated-error
    Bresenham loop, re-implemented here as the reference."""
    rng = np.random.default_rng(0)
    for _ in range(500):
        x0 = int(rng.integers(0, 50))
        x1 = x0 + int(rng.integers(1, 200))
        y0 = int(rng.integers(0, 256))
        y1 = int(rng.integers(0, 256))
        n = x1 + int(rng.integers(0, 5))
        v = np.zeros(max(n, x0 + 1), dtype=np.int64)
        V._render_line(x0, y0, x1, y1, v, n)
        # reference: the spec's loop with C-truncating division
        dy, adx = y1 - y0, x1 - x0
        ady = abs(dy)
        base = dy // adx if dy >= 0 else -((-dy) // adx)
        sy = base + 1 if dy >= 0 else base - 1
        ady -= abs(base) * adx
        ref = np.zeros_like(v)
        if x0 < n:
            ref[x0] = min(max(y0, 0), 255)
        y, err = y0, 0
        for x in range(x0 + 1, min(x1, n)):
            err += ady
            if err >= adx:
                err -= adx
                y += sy
            else:
                y += base
            ref[x] = min(max(y, 0), 255)
        lo, hi = x0, min(x1, n)
        assert np.array_equal(v[lo:hi], ref[lo:hi]), (x0, y0, x1, y1)


def test_single_entry_codebook_reads_one_bit():
    tree = V._assign_codewords([0, 0, 3, 0])
    assert tree == {(1, 0): 2, "single": True}


def test_overspecified_codebook_raises():
    with pytest.raises(V.VorbisError, match="over-specified"):
        V._assign_codewords([1, 1, 1])


# --- Ogg packet reassembly ----------------------------------------------------


def test_ogg_packets_span_pages():
    """A packet whose lacing runs 255,255,... across a page boundary
    (continued-packet flag) reassembles to one logical packet."""
    big = bytes(range(256)) * 3  # 768 bytes
    part1, part2 = big[:510], big[510:]

    def page(body_segs, cont, seqno):
        lacing = bytearray()
        body = bytearray()
        for seg, terminated in body_segs:
            n = len(seg)
            while n >= 255:
                lacing.append(255)
                n -= 255
            if terminated or n > 0:
                if terminated:
                    lacing.append(n)
            body += seg
        hdr = bytearray(b"OggS\x00")
        hdr.append((0x01 if cont else 0) | (0x02 if seqno == 0 else 0))
        hdr += (0).to_bytes(8, "little") + (9).to_bytes(4, "little")
        hdr += seqno.to_bytes(4, "little") + b"\x00" * 4
        hdr.append(len(lacing))
        return bytes(hdr) + bytes(lacing) + bytes(body)

    p1 = page([(part1, False)], cont=False, seqno=0)   # 510 = 255,255
    p2 = page([(part2, True)], cont=True, seqno=1)
    got = list(V.ogg_packets(p1 + p2))
    assert got == [big]


# --- roundtrip parity ---------------------------------------------------------


@pytest.mark.parametrize("rate", [44100, 48000, 16000])
def test_vorbis_long_mono_roundtrip(rate):
    n = rate
    x = _tone(n, rate)
    sr, ch, y = V.decode_vorbis_samples(write_vorbis(x, rate, 1))
    assert (sr, ch) == (rate, 1)
    a, b = x[3000:n - 3000], y[3000:n - 3000]
    # the bound tracks the FIXTURE encoder's quantizer (grid-dependent
    # per rate: 25-37 dB measured), not the decoder — far above the
    # fingerprint class's needs
    assert _snr(a, b) > 24.0, rate
    m = min(len(a), len(b))
    assert abs(np.sqrt((b[:m] ** 2).mean())
               / np.sqrt((a[:m] ** 2).mean()) - 1) < 0.05


def test_vorbis_short_block_roundtrip():
    rate = 44100
    n = rate // 2
    x = _tone(n, rate)
    sr, ch, y = V.decode_vorbis_samples(
        write_vorbis(x, rate, 1, block="short")
    )
    assert (sr, ch) == (rate, 1)
    assert _snr(x[2000:n - 2000], y[2000:n - 2000]) > 25.0


def test_vorbis_blocksize_transitions_roundtrip():
    """The mixed schedule (L→S, S→S, S→L, L→L every four blocks):
    hybrid window slopes, long-block prev/next flags, and the
    variable-lap center-to-center overlap-add all on the path."""
    rate = 44100
    n = rate // 2
    x = _tone(n, rate)
    long_blob = write_vorbis(x, rate, 1)
    mixed_blob = write_vorbis(x, rate, 1, block="mixed")
    assert mixed_blob != long_blob
    sr, ch, y = V.decode_vorbis_samples(mixed_blob)
    assert (sr, ch) == (rate, 1)
    assert _snr(x[2000:n - 2000], y[2000:n - 2000]) > 25.0


def test_vorbis_stereo_uncoupled_roundtrip():
    rate = 44100
    n = rate // 2
    x = _tone(n, rate)
    left, right = x, np.roll(x, 13) * 0.7
    inter = np.empty(2 * n)
    inter[0::2], inter[1::2] = left, right
    sr, ch, y = V.decode_vorbis_samples(
        write_vorbis(inter, rate, 2, couple=False)
    )
    assert (sr, ch) == (rate, 2)
    assert _snr(left[3000:n - 3000], y[0::2][3000:n - 3000]) > 28.0
    assert _snr(right[3000:n - 3000], y[1::2][3000:n - 3000]) > 28.0


def test_vorbis_stereo_coupled_roundtrip():
    """Square-polar coupling (the real-encoder stereo shape): exact at
    quantizer resolution away from branch boundaries — the bound is
    looser than LR but the channels must still reconstruct."""
    rate = 44100
    n = rate // 2
    x = _tone(n, rate)
    left, right = x, x * 0.6 + 500.0 * np.sin(
        2 * np.pi * 600 * np.arange(n) / rate
    )
    inter = np.empty(2 * n)
    inter[0::2], inter[1::2] = left, right
    sr, ch, y = V.decode_vorbis_samples(
        write_vorbis(inter, rate, 2, couple=True)
    )
    assert (sr, ch) == (rate, 2)
    assert _snr(left[3000:n - 3000], y[0::2][3000:n - 3000]) > 18.0
    assert _snr(right[3000:n - 3000], y[1::2][3000:n - 3000]) > 18.0


def test_vorbis_four_channel_roundtrip():
    """N-channel streams (quad here — 5.1 Vorbis exists in crawls):
    per-channel floors, the type-2 interleave across >2 channels, and
    N-way PCM interleave all hold."""
    rate = 16000
    n = rate // 2
    t = np.arange(n) / rate
    env = np.minimum(t / 0.05, 1.0)
    base = 9000 * np.sin(2 * np.pi * 440 * t) * env
    chans = [np.roll(base, 7 * i) * (1.0 - 0.12 * i) for i in range(4)]
    inter = np.empty(4 * n)
    for i, c in enumerate(chans):
        inter[i::4] = c
    sr, ch, y = V.decode_vorbis_samples(write_vorbis(inter, rate, 4))
    assert (sr, ch) == (rate, 4)
    for i, c in enumerate(chans):
        assert _snr(c[2000:n - 2000], y[i::4][2000:n - 2000]) > 22.0, i


def test_vorbis_inverse_coupling_unit():
    """The §4.3.5 inverse against the writer's forward on every sign
    quadrant — exact for reals."""
    from tests.vorbis_writer import _couple_forward

    rng = np.random.default_rng(5)
    l = rng.normal(size=1000)
    r = rng.normal(size=1000)
    m, a = _couple_forward(l, r)
    # replicate the decoder's vectorized inverse
    new_m = np.where(m > 0, np.where(a > 0, m, m + a),
                     np.where(a > 0, m, m - a))
    new_a = np.where(m > 0, np.where(a > 0, m - a, m),
                     np.where(a > 0, m + a, m))
    assert np.allclose(new_m, l, atol=1e-12)
    assert np.allclose(new_a, r, atol=1e-12)


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    mode=st.sampled_from(["mono", "lr", "coupled"]),
    block=st.sampled_from(["long", "short", "mixed"]),
    rate=st.sampled_from([44100, 48000, 22050, 16000, 8000]),
    seed=st.integers(0, 10_000),
    n_tones=st.integers(2, 4),
)
def test_vorbis_roundtrip_property(mode, block, rate, seed, n_tones):
    """The Vorbis grid dual of test_mp3_roundtrip_property: ANY tonal
    signal through ANY (stereo mode × block schedule × sample rate)
    decodes within the fixture encoder's distortion bound and
    preserves rms — the structural paths (setup parse, floor
    prediction, residue cascades, coupling, hybrid windows, OLA) hold
    across the parameter space, not just the hand-picked fixtures."""
    rng = np.random.default_rng(seed)
    n = max(rate // 2, 8192)
    t = np.arange(n) / rate
    top = 0.4 * rate
    freqs = rng.uniform(120, top, n_tones)
    amps = rng.uniform(1500, 9000, n_tones)
    phases = rng.uniform(0, 2 * np.pi, n_tones)
    env = np.minimum(t / 0.05, 1.0)
    x = sum(a * np.sin(2 * np.pi * f * t + p)
            for a, f, p in zip(amps, freqs, phases)) * env
    x = np.clip(x, -32000, 32000)
    if mode == "mono":
        sr, ch, y = V.decode_vorbis_samples(
            write_vorbis(x, rate, 1, block=block)
        )
        got = [(x, y)]
        assert (sr, ch) == (rate, 1)
    else:
        left, right = x, np.roll(x, 13) * 0.7
        inter = np.empty(2 * n)
        inter[0::2], inter[1::2] = left, right
        sr, ch, y = V.decode_vorbis_samples(write_vorbis(
            inter, rate, 2, block=block, couple=mode == "coupled"
        ))
        got = [(left, y[0::2]), (right, y[1::2])]
        assert (sr, ch) == (rate, 2)
    lo, hi = 2500, n - 2500
    # coupled: the fixture ENCODER's square-polar quantization floors
    # near 12 dB when both tones land close together in the coupling
    # band (hypothesis seeds 1774/1775 read 11.96-13.53 dB with exact
    # rms; typical seeds read 20-35 dB) — the bound carries margin
    # under that encoder floor, it is not a decoder tolerance
    bound = 10.5 if mode == "coupled" else 20.0
    for ref, out in got:
        a, b = ref[lo:hi], out[lo:hi]
        m = min(len(a), len(b))
        a, b = a[:m], b[:m]
        assert _snr(a, b) > bound, (mode, block, rate)
        assert abs(np.sqrt((b * b).mean())
                   / (np.sqrt((a * a).mean()) + 1e-9) - 1) < 0.15


# --- boundaries ---------------------------------------------------------------


def test_opus_still_raises():
    from sample_dms_kinesis_rds_mariadb_spark.operators.ogg import (
        decode_ogg_audio,
    )
    from tests.test_media_containers import ogg_page

    head = (b"OpusHead\x01" + bytes([2]) + (312).to_bytes(2, "little")
            + (48000).to_bytes(4, "little") + b"\x00\x00\x00")
    blob = (ogg_page(7, 0, head, bos=True)
            + ogg_page(7, 96312, b"\x00" * 40, seq=1))
    with pytest.raises(NotImplementedError, match="Opus"):
        decode_ogg_audio(blob)


def test_vorbis_hostile_payloads_raise_never_hang():
    """Crawl policy: corrupt/hostile payloads cost one precise raise —
    truncated pages, bit-flipped setup headers, codebook size bombs,
    and the 8192-blocksize boundary."""
    rate = 16000
    x = _tone(4096, rate)
    good = write_vorbis(x, rate, 1)
    rng = np.random.default_rng(7)
    for _ in range(30):
        blob = bytearray(good[: rng.integers(30, len(good))])
        for _k in range(4):
            blob[rng.integers(0, len(blob))] ^= 1 << rng.integers(0, 8)
        try:
            V.decode_vorbis_samples(bytes(blob))
        except (ValueError, NotImplementedError):
            pass  # VorbisError is a ValueError
    # codebook entry-count bomb: sync + dims 2 + entries 2^24-1
    bw_bits = []
    def w(v, n):
        for i in range(n):
            bw_bits.append((v >> i) & 1)
    w(0x564342, 24); w(2, 16); w((1 << 24) - 1, 24)
    w(0, 1); w(0, 1)
    data = bytearray()
    for i in range(0, len(bw_bits), 8):
        b = 0
        for j, bit in enumerate(bw_bits[i:i + 8]):
            b |= bit << j
        data.append(b)
    with pytest.raises(V.VorbisError, match="sanity cap"):
        V.Codebook(V.LsbReader(bytes(data) + b"\x15" * 4096))


def test_vorbis_audio_features(spark):
    """extract_audio_features yields real duration + rms for Ogg
    Vorbis payloads (format 'vorbis'), through the shared dispatch."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_audio_features,
    )

    rate = 16000
    x = _tone(rate, rate)
    df = spark.createDataFrame(
        [(0, bytearray(write_vorbis(x, rate, 1)))],
        "media_id LONG, content BINARY",
    )
    row = extract_audio_features(df).collect()[0]
    assert row["format"] == "vorbis"
    assert row["sample_rate"] == rate
    assert row["rms"] is not None and row["rms"] > 1000.0


# --- the pipeline e2e: Vorbis transcode duplicates ---------------------------


def test_vorbis_transcode_dup_detected(spark):
    """The flagship: the SAME signal as a WAV original and as its Ogg
    Vorbis transcode pairs through the REAL audio_near_pairs operator —
    possible end-to-end because the Vorbis decoder is complete (unlike
    AAC, whose spectral tables are not shipped)."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.audio_dedup import (
        audio_near_pairs,
    )
    from tests.test_operators import _wav

    rate = 16000
    n = 2 * rate
    t = np.arange(n) / rate
    env = np.minimum(t / 0.05, 1.0)
    x = (9000 * np.sin(2 * np.pi * (440 + 60 * np.sin(2 * np.pi * 2 * t))
                       * t) + 3000 * np.sin(2 * np.pi * 930 * t)) * env
    wav_blob = _wav([int(v) for v in x], rate=rate)
    ogg_blob = write_vorbis(x, rate, 1)
    rng = np.random.default_rng(13)
    noise = _wav(
        [int(v) for v in np.clip(rng.normal(0, 8000, n), -32000, 32000)],
        rate=rate,
    )
    df = spark.createDataFrame(
        [(0, bytearray(wav_blob)), (1, bytearray(ogg_blob)),
         (2, bytearray(noise))],
        "media_id LONG, content BINARY",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["match_frac"]
        for r in audio_near_pairs(df, max_hamming=10,
                                  min_frac=0.3).collect()
    }
    assert (0, 1) in pairs, "WAV→Vorbis transcode not detected"
    assert not any(2 in p for p in pairs), "unrelated audio matched"
