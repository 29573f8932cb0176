"""Ogg container metadata (RFC 3533) with Vorbis and Opus identification
headers — spec-derived, no codec library.

Walks Ogg pages (magic, CRC-bearing 27-byte headers + segment lacing),
reads the first packet's id header (``\\x01vorbis`` per the Vorbis I
spec, ``OpusHead`` per RFC 7845) for sample rate/channels, and takes the
LAST page's granule position of the same serial for the exact PCM
duration (Opus granules run at 48 kHz and subtract pre-skip). Vorbis
AUDIO decodes for real via :mod:`operators.vorbis` (r12); Opus sample
decode remains a documented boundary (SILK+CELT).

At scale: one linear page walk per payload inside Arrow-batched
``mapInPandas`` (``multimodal.extract_media_metadata``).
"""

from __future__ import annotations


def _pages(content: bytes):
    """Yield (serial, granule, first_page_of_stream, payload) per page."""
    pos = 0
    while pos + 27 <= len(content):
        if content[pos : pos + 4] != b"OggS":
            raise ValueError(f"bad Ogg capture pattern at {pos}")
        header_type = content[pos + 5]
        granule = int.from_bytes(content[pos + 6 : pos + 14], "little", signed=True)
        serial = int.from_bytes(content[pos + 14 : pos + 18], "little")
        nsegs = content[pos + 26]
        seg_table = content[pos + 27 : pos + 27 + nsegs]
        if len(seg_table) < nsegs:
            raise ValueError("truncated Ogg segment table")
        body_start = pos + 27 + nsegs
        body_len = sum(seg_table)
        payload = content[body_start : body_start + body_len]
        if len(payload) < body_len:
            raise ValueError("truncated Ogg page payload")
        yield serial, granule, bool(header_type & 0x02), payload
        pos = body_start + body_len


def ogg_metadata(content: bytes) -> dict:
    """Identify the first audio stream in an Ogg container.

    Returns: container='ogg', codec ('vorbis'|'opus'|None), sample_rate,
    channels, duration_sec (from the last granule of that stream).
    Raises ValueError when the capture pattern is absent.
    """
    if content[:4] != b"OggS":
        raise ValueError("not an Ogg stream (no OggS capture pattern)")
    codec = None
    sample_rate = None
    channels = None
    pre_skip = 0
    stream_serial = None
    last_granule = None
    for serial, granule, bos, payload in _pages(content):
        if bos and codec is None:
            if payload[:7] == b"\x01vorbis":
                codec = "vorbis"
                channels = payload[11]
                sample_rate = int.from_bytes(payload[12:16], "little")
                stream_serial = serial
            elif payload[:8] == b"OpusHead":
                codec = "opus"
                channels = payload[9]
                pre_skip = int.from_bytes(payload[10:12], "little")
                # granules always run at 48 kHz regardless of input rate
                sample_rate = 48000
                stream_serial = serial
        if serial == stream_serial and granule >= 0:
            last_granule = granule
    duration = None
    if last_granule is not None and sample_rate:
        samples = last_granule - (pre_skip if codec == "opus" else 0)
        duration = max(samples, 0) / sample_rate
    return {
        "container": "ogg",
        "codec": codec,
        "sample_rate": sample_rate,
        "channels": channels,
        "duration_sec": duration,
    }


def decode_ogg_audio(content: bytes):
    """(sample_rate, channels, float64 PCM ±32768, interleaved) for
    Vorbis streams — decoded FOR REAL by :mod:`operators.vorbis` (r12;
    the codebooks are stream-carried, so no printed tables gate it).
    Opus is not decoded: its ~3,256 printed SILK/CELT constants are
    out-of-stream (unlike Vorbis) and the only available structural
    check (icdf form) cannot reject a misrecalled table (unlike the
    Kraft/prefix check that validates the MP3 books)."""
    meta = ogg_metadata(content)
    if meta["codec"] == "vorbis":
        from sample_dms_kinesis_rds_mariadb_spark.operators.vorbis import (
            decode_vorbis_samples,
        )

        return decode_vorbis_samples(content)
    raise NotImplementedError(
        f"Ogg codec {meta['codec']!r} sample decode is a documented "
        "boundary (Vorbis decodes for real; Opus needs SILK+CELT)"
    )
