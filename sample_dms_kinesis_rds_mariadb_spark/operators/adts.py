"""ADTS (Audio Data Transport Stream, ISO/IEC 13818-7 §6.2) frame
walking and metadata — the container of raw ``.aac`` crawl audio and
the audio payload framing of many HLS segments.

Why it exists: after MP3 (Layers I/II/III incl. LSF, r10-r11), AAC is
the other half of crawl audio. This module lands the CONTAINER layer
for real — sync, header fields, per-frame walking, duration/bitrate —
so ADTS payloads stop being ``container='unknown'`` rows in the media
metadata sweep and are counted, typed, and measurable.

Boundary: AAC-LC *sample* decode is not implemented. It needs the
spectral Huffman codebooks (13818-7 Tables A.2-A.12), which this
package does not ship, so ``multimodal.decode_audio_samples`` raises
``NotImplementedError`` on ADTS input rather than decoding garble.

At scale: one linear header walk per payload inside the same Arrow
``mapInPandas`` metadata sweep as MP3/MP4/FLAC/Ogg/WAV.
"""

from __future__ import annotations

# sampling_frequency_index → Hz (13818-7 Table 35; 13-15 reserved)
ADTS_SAMPLE_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)

_PROFILES = ("main", "lc", "ssr", "ltp")


def parse_adts_header(data: bytes, pos: int = 0) -> dict:
    """Decode one ADTS fixed+variable header at ``pos``. Raises
    ValueError on anything that is not a valid ADTS header."""
    if len(data) - pos < 7:
        raise ValueError("short ADTS header")
    b = data[pos : pos + 7]
    if b[0] != 0xFF or (b[1] & 0xF0) != 0xF0:
        raise ValueError("no ADTS sync")
    if (b[1] >> 1) & 0b11 != 0:
        raise ValueError("ADTS layer bits must be 00")
    mpeg2 = (b[1] >> 3) & 1
    protection_absent = b[1] & 1
    profile = (b[2] >> 6) & 0b11
    sf_idx = (b[2] >> 2) & 0b1111
    if sf_idx >= len(ADTS_SAMPLE_RATES):
        raise ValueError(f"reserved ADTS sampling index {sf_idx}")
    channel_cfg = ((b[2] & 1) << 2) | (b[3] >> 6)
    frame_len = ((b[3] & 0b11) << 11) | (b[4] << 3) | (b[5] >> 5)
    if frame_len < 7:
        raise ValueError("ADTS frame length below header size")
    buffer_fullness = ((b[5] & 0b11111) << 6) | (b[6] >> 2)
    rdbs = (b[6] & 0b11) + 1
    return {
        "mpeg_version": 2 if mpeg2 else 4,
        "crc": not protection_absent,
        "profile": _PROFILES[profile],
        "sample_rate": ADTS_SAMPLE_RATES[sf_idx],
        "channels": 8 if channel_cfg == 7 else channel_cfg,
        "frame_len": frame_len,
        "buffer_fullness": buffer_fullness,
        "raw_data_blocks": rdbs,
        "header_len": 9 if not protection_absent else 7,
    }


def is_adts(content: bytes) -> bool:
    """Sniff: a valid ADTS header whose frame length lands on either
    end-of-payload or another sync (two-frame confirmation — 0xFFFx is
    a weak one-frame signal). ADTS never collides with MPEG audio
    (layer bits 00 are reserved there)."""
    try:
        h = parse_adts_header(content)
    except ValueError:
        return False
    end = h["frame_len"]
    if end == len(content):
        return True
    if end + 7 <= len(content):
        try:
            parse_adts_header(content, end)
            return True
        except ValueError:
            return False
    return False


def adts_frames(content: bytes):
    """Yield (header_dict, frame_bytes) for each ADTS frame; stops at
    the first malformed header (truncated-tail crawl reality)."""
    pos = 0
    n = len(content)
    while pos + 7 <= n:
        try:
            h = parse_adts_header(content, pos)
        except ValueError:
            break
        end = pos + h["frame_len"]
        if end > n:
            break
        yield h, content[pos:end]
        pos = end


def adts_metadata(content: bytes) -> dict:
    """Container metadata of an ADTS stream: profile, rate, channels,
    frame count, duration (1024 samples per raw data block), and the
    measured mean bitrate."""
    n_frames = 0
    n_blocks = 0
    n_bytes = 0
    first = None
    for h, frame in adts_frames(content):
        if first is None:
            first = h
        n_frames += 1
        n_blocks += h["raw_data_blocks"]
        n_bytes += len(frame)
    if first is None:
        raise ValueError("no ADTS frames found")
    duration = 1024.0 * n_blocks / first["sample_rate"]
    return {
        "container": "adts",
        "codec": f"aac-{first['profile']}",
        "mpeg_version": first["mpeg_version"],
        "sample_rate": first["sample_rate"],
        "channels": first["channels"],
        "n_frames": n_frames,
        "duration_sec": duration,
        "bitrate_kbps": (
            8.0 * n_bytes / duration / 1000.0 if duration > 0 else None
        ),
        "crc": first["crc"],
    }

