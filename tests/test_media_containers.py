"""MP3 / MP4 / FLAC / Ogg container metadata vs INDEPENDENT spec-composed
writers — every fixture is built byte-by-byte from the published format
layouts (ISO 11172-3 frame arithmetic, ISO 14496-12 boxes, RFC 9639
STREAMINFO packing, RFC 3533/7845 pages), never from the parser under
test."""

import struct

import pytest

from sample_dms_kinesis_rds_mariadb_spark.operators.flac import (
    decode_flac_audio,
    flac_metadata,
)
from sample_dms_kinesis_rds_mariadb_spark.operators.mp3 import (
    decode_mp3_audio,
    mp3_metadata,
    parse_frame_header,
    parse_id3v1,
    parse_id3v2,
)
from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import (
    decode_mp4_samples,
    mp4_metadata,
)
from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
    media_container_metadata,
)
from sample_dms_kinesis_rds_mariadb_spark.operators.ogg import (
    ogg_metadata,
)


# --- MP3 ------------------------------------------------------------------

def mp3_frame(
    bitrate_idx=9, sr_idx=0, padding=0, mono=False, mpeg1=True, layer3=True
) -> bytes:
    """One MPEG audio frame, header packed bit-by-bit per ISO 11172-3
    §2.4.1.3, zero-filled payload of independently computed length.
    Defaults: MPEG1 Layer III, bitrate index 9 (128 kbps), 44100 Hz."""
    b1 = 0xFF
    version = 0b11 if mpeg1 else 0b10
    layer = 0b01 if layer3 else 0b10  # else Layer II
    b2 = 0b11100000 | (version << 3) | (layer << 1) | 1  # no CRC
    b3 = (bitrate_idx << 4) | (sr_idx << 2) | (padding << 1)
    b4 = (0b11 << 6) if mono else 0  # channel mode
    hdr = bytes([b1, b2, b3, b4])
    # independent length arithmetic (Layer II/III): SPF/8 * bitrate / rate
    mpeg1_rates = (44100, 48000, 32000)
    mpeg2_rates = (22050, 24000, 16000)
    rate = (mpeg1_rates if mpeg1 else mpeg2_rates)[sr_idx]
    l3_table = (
        (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
        if mpeg1
        else (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
    )
    l2_table = (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
    kbps = (l3_table if layer3 else l2_table)[bitrate_idx - 1]
    spf = 1152 if (not layer3 or mpeg1) else 576
    frame_len = spf // 8 * (kbps * 1000) // rate + padding
    return hdr + b"\x00" * (frame_len - 4)


def test_mp3_frame_header_fields():
    h = parse_frame_header(mp3_frame()[:4])
    assert (h["version"], h["layer"]) == ("1", 3)
    assert (h["bitrate_kbps"], h["sample_rate"], h["channels"]) == (128, 44100, 2)
    # 144 * 128000 / 44100 = 417 (truncated), no padding
    assert h["frame_len"] == 417 and h["samples"] == 1152
    h2 = parse_frame_header(mp3_frame(padding=1, mono=True)[:4])
    assert h2["frame_len"] == 418 and h2["channels"] == 1
    # MPEG2 Layer III: 576 samples, 72*kbps/rate
    h3 = parse_frame_header(mp3_frame(mpeg1=False, bitrate_idx=4, sr_idx=0)[:4])
    assert (h3["version"], h3["samples"]) == ("2", 576)
    assert h3["frame_len"] == 72 * 32000 // 22050
    with pytest.raises(ValueError):
        parse_frame_header(b"\xff\xe0\x00\x00")  # reserved version bits...
    with pytest.raises(ValueError):
        parse_frame_header(b"\x00\x00\x00\x00")


def test_mp3_cbr_walk_and_duration():
    n = 25
    blob = b"".join(mp3_frame() for _ in range(n))
    m = mp3_metadata(blob)
    assert m["n_frames"] == n and m["vbr"] is False
    assert m["duration_sec"] == pytest.approx(n * 1152 / 44100)
    assert m["bitrate_kbps"] == pytest.approx(128, rel=0.01)
    assert m["sample_rate"] == 44100 and m["channels"] == 2


def test_mp3_resync_over_junk():
    blob = b"JUNK" + mp3_frame() + b"\xff\x00garbage" + mp3_frame()
    m = mp3_metadata(blob)
    assert m["n_frames"] == 2


def xing_frame(n_frames: int, n_bytes: int) -> bytes:
    """First frame carrying a Xing header (MPEG1 stereo: side info 32)."""
    f = bytearray(mp3_frame())
    off = 4 + 32
    f[off : off + 4] = b"Xing"
    f[off + 4 : off + 8] = struct.pack(">I", 0x3)  # frames|bytes
    f[off + 8 : off + 12] = struct.pack(">I", n_frames)
    f[off + 12 : off + 16] = struct.pack(">I", n_bytes)
    return bytes(f)


def test_mp3_xing_vbr_duration():
    audio = b"".join(mp3_frame() for _ in range(5))
    blob = xing_frame(1000, 500_000) + audio
    m = mp3_metadata(blob)
    # Xing wins over the walk: 1000 frames * 1152 / 44100
    assert m["n_frames"] == 1000 and m["vbr"] is True
    assert m["duration_sec"] == pytest.approx(1000 * 1152 / 44100)
    assert m["bitrate_kbps"] == pytest.approx(
        500_000 * 8 / (1000 * 1152 / 44100) / 1000
    )


def id3v2_tag(major=3, unsync=False) -> bytes:
    """Independent ID3v2 writer: TIT2 (latin-1) + TPE1 (utf-16 BOM)."""

    def frame(fid: bytes, payload: bytes) -> bytes:
        if major == 2:
            return fid[:3] + len(payload).to_bytes(3, "big") + payload
        if major == 4:
            sz = bytes(
                (len(payload) >> s) & 0x7F for s in (21, 14, 7, 0)
            )
            return fid + sz + b"\x00\x00" + payload
        return fid + struct.pack(">I", len(payload)) + b"\x00\x00" + payload

    tit = b"TT2" if major == 2 else b"TIT2"
    tpe = b"TP1" if major == 2 else b"TPE1"
    body = frame(tit, b"\x00Spec Title") + frame(
        tpe, b"\x01" + "Artist é".encode("utf-16")
    )
    if unsync:
        body = body.replace(b"\xff", b"\xff\x00")
    flags = 0x80 if unsync else 0
    size = bytes(((len(body) >> s) & 0x7F) for s in (21, 14, 7, 0))
    return b"ID3" + bytes([major, 0, flags]) + size + body


@pytest.mark.parametrize("major", [2, 3, 4])
def test_id3v2_versions(major):
    tags, total = parse_id3v2(id3v2_tag(major=major))
    assert tags == {"title": "Spec Title", "artist": "Artist é"}
    assert total == len(id3v2_tag(major=major))


def test_id3v2_unsync_and_id3v1_merge():
    tags, _ = parse_id3v2(id3v2_tag(unsync=True))
    assert tags["artist"] == "Artist é"  # utf-16 BOM FF FE survives
    v1 = (
        b"TAG" + b"Old Title".ljust(30, b"\x00") + b"Old Artist".ljust(30, b"\x00")
        + b"Old Album".ljust(30, b"\x00") + b"1999" + b"\x00" * 30 + b"\xff"
    )
    assert parse_id3v1(v1 + b"x") == {}  # must be the LAST 128 bytes
    blob = id3v2_tag() + mp3_frame() + v1
    m = mp3_metadata(blob)
    # v2 wins where both define a key; v1 fills the rest
    assert m["tags"]["title"] == "Spec Title"
    assert m["tags"]["album"] == "Old Album" and m["tags"]["year"] == "1999"
    assert m["n_frames"] == 1


def test_mp3_decode_boundary():
    """r10: MPEG-1 Layer III sample decode is REAL (a zero-filled frame
    is all-silence: side info zeros = empty spectrum); r11 extends that
    to MPEG-2/2.5 LSF Layer III and MPEG-1 Layer II — the remaining
    honest boundary in the family is LSF Layer II."""
    rate, ch, samples = decode_mp3_audio(mp3_frame())
    assert (rate, ch) == (44100, 2)
    assert len(samples) == 2 * 1152 and not samples.any()
    rate, ch, samples = decode_mp3_audio(mp3_frame(mpeg1=False,
                                                   bitrate_idx=4))
    assert rate == 22050 and len(samples) == 2 * 576 and not samples.any()
    rate, ch, samples = decode_mp3_audio(mp3_frame(layer3=False))
    assert rate == 44100 and len(samples) == 2 * 1152 and not samples.any()


# --- MP4 ------------------------------------------------------------------

def box(typ: bytes, payload: bytes, largesize: bool = False) -> bytes:
    if largesize:
        return struct.pack(">I", 1) + typ + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def full(version: int, payload: bytes) -> bytes:
    return bytes([version, 0, 0, 0]) + payload


def mvhd(timescale: int, duration: int, v1: bool = False) -> bytes:
    if v1:
        body = full(1, struct.pack(">QQIQ", 0, 0, timescale, duration) + b"\x00" * 80)
    else:
        body = full(0, struct.pack(">IIII", 0, 0, timescale, duration) + b"\x00" * 80)
    return box(b"mvhd", body)


def video_trak(w: int, h: int, codec: bytes = b"avc1") -> bytes:
    mdhd = box(b"mdhd", full(0, struct.pack(">IIII", 0, 0, 30000, 90000) + b"\x00\x00\x00\x00"))
    hdlr = box(b"hdlr", full(0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"v\x00"))
    entry = box(codec, b"\x00" * 24 + struct.pack(">HH", w, h) + b"\x00" * 50)
    stsd = box(b"stsd", full(0, struct.pack(">I", 1) + entry))
    stbl = box(b"stbl", stsd)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    return box(b"trak", mdia)


def audio_trak(rate: int, ch: int, codec: bytes = b"mp4a") -> bytes:
    mdhd = box(b"mdhd", full(1, struct.pack(">QQIQ", 0, 0, rate, rate * 7) + b"\x00\x00\x00\x00"))
    hdlr = box(b"hdlr", full(0, b"\x00" * 4 + b"soun" + b"\x00" * 12 + b"s\x00"))
    # AudioSampleEntry: 6 reserved + 2 dri + 8 reserved + ch + samplesize
    # + 4 predef/reserved + rate as 16.16
    entry = box(
        codec,
        b"\x00" * 8 + b"\x00" * 8 + struct.pack(">HH", ch, 16)
        + b"\x00" * 4 + struct.pack(">I", rate << 16),
    )
    stsd = box(b"stsd", full(0, struct.pack(">I", 1) + entry))
    mdia = box(b"mdia", mdhd + hdlr + box(b"minf", box(b"stbl", stsd)))
    return box(b"trak", mdia)


def ilst_tags(title: str, artist: str) -> bytes:
    def item(key: bytes, val: str) -> bytes:
        data = box(b"data", struct.pack(">II", 1, 0) + val.encode())
        return box(key, data)

    ilst = box(b"ilst", item(b"\xa9nam", title) + item(b"\xa9ART", artist))
    meta = box(b"meta", full(0, box(b"hdlr", full(0, b"\x00" * 4 + b"mdir" + b"\x00" * 10)) + ilst))
    return box(b"udta", meta)


def test_mp4_full_walk():
    moov = box(
        b"moov",
        mvhd(600, 4200) + video_trak(1920, 1080) + audio_trak(48000, 2)
        + ilst_tags("A Film", "A Studio"),
    )
    blob = box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov + box(b"mdat", b"\x00" * 64)
    m = mp4_metadata(blob)
    assert m["brand"] == "isom" and m["duration_sec"] == pytest.approx(7.0)
    assert (m["width"], m["height"], m["video_codec"]) == (1920, 1080, "avc1")
    assert (m["sample_rate"], m["channels"], m["audio_codec"]) == (48000, 2, "mp4a")
    assert m["tags"] == {"title": "A Film", "artist": "A Studio"}
    kinds = [t["kind"] for t in m["tracks"]]
    assert kinds == ["video", "audio"]
    # per-track durations come from each mdhd timescale
    assert m["tracks"][0]["duration_sec"] == pytest.approx(3.0)
    assert m["tracks"][1]["duration_sec"] == pytest.approx(7.0)


def test_mp4_v1_and_largesize():
    moov = box(b"moov", mvhd(1000, 2500, v1=True), largesize=True)
    blob = box(b"ftyp", b"mp42\x00\x00\x00\x00") + moov
    m = mp4_metadata(blob)
    assert m["brand"] == "mp42" and m["duration_sec"] == pytest.approx(2.5)
    with pytest.raises(ValueError, match="moov"):
        mp4_metadata(box(b"ftyp", b"isom") + box(b"mdat", b"xx"))
    with pytest.raises(NotImplementedError, match="codec"):
        decode_mp4_samples(blob)


# --- FLAC -----------------------------------------------------------------

def flac_blob(
    rate=44100, ch=2, bps=16, total=441000, tags=None, md5=b"\xab" * 16
) -> bytes:
    packed = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
    streaminfo = (
        struct.pack(">HH", 4096, 4096)        # min/max block size
        + (0).to_bytes(3, "big")              # min frame size (unknown)
        + (65535).to_bytes(3, "big")          # max frame size
        + packed.to_bytes(8, "big")
        + md5
    )
    assert len(streaminfo) == 34
    blocks = bytes([0x00]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    if tags:
        vendor = b"spec-writer"
        comments = [f"{k}={v}".encode() for k, v in tags.items()]
        vc = struct.pack("<I", len(vendor)) + vendor + struct.pack("<I", len(comments))
        for c in comments:
            vc += struct.pack("<I", len(c)) + c
        blocks += bytes([0x84]) + len(vc).to_bytes(3, "big") + vc
    else:
        blocks = bytes([0x80]) + blocks[1:]  # mark streaminfo last
    return b"fLaC" + blocks


def test_flac_streaminfo_and_tags():
    m = flac_metadata(flac_blob(tags={"TITLE": "Song", "Artist": "Band", "x": "y"}))
    assert (m["sample_rate"], m["channels"], m["bits_per_sample"]) == (44100, 2, 16)
    assert m["total_samples"] == 441000
    assert m["duration_sec"] == pytest.approx(10.0)
    assert m["md5"] == "ab" * 16
    assert m["tags"] == {"title": "Song", "artist": "Band"}
    m2 = flac_metadata(flac_blob(rate=96000, ch=6, bps=24, total=96000 * 3))
    assert (m2["sample_rate"], m2["channels"], m2["bits_per_sample"]) == (96000, 6, 24)
    assert m2["duration_sec"] == pytest.approx(3.0)
    with pytest.raises(ValueError, match="fLaC"):
        flac_metadata(b"RIFF....")
    # frame decode is REAL now (r9, tests/test_flac.py): a metadata-only
    # blob that declares samples but carries no frames must refuse loudly
    with pytest.raises(ValueError, match="declares"):
        decode_flac_audio(flac_blob())


# --- Ogg ------------------------------------------------------------------

def ogg_page(serial: int, granule: int, payload: bytes, bos=False, seq=0) -> bytes:
    segs = []
    rest = len(payload)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    hdr = (
        b"OggS" + bytes([0, 0x02 if bos else 0])
        + struct.pack("<q", granule) + struct.pack("<I", serial)
        + struct.pack("<I", seq) + b"\x00" * 4 + bytes([len(segs)]) + bytes(segs)
    )
    return hdr + payload


def test_ogg_opus():
    head = b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312) + struct.pack("<I", 48000) + b"\x00" * 3
    blob = (
        ogg_page(7, 0, head, bos=True)
        + ogg_page(7, -1, b"OpusTags...", seq=1)
        + ogg_page(7, 96312, b"\x00" * 100, seq=2)
    )
    m = ogg_metadata(blob)
    assert (m["codec"], m["channels"], m["sample_rate"]) == ("opus", 2, 48000)
    # (96312 - 312 preskip) / 48000
    assert m["duration_sec"] == pytest.approx(2.0)


def test_ogg_vorbis():
    head = b"\x01vorbis" + struct.pack("<I", 0) + bytes([2]) + struct.pack("<I", 44100) + b"\x00" * 13
    blob = ogg_page(3, 0, head, bos=True) + ogg_page(3, 88200, b"\x00" * 10, seq=1)
    m = ogg_metadata(blob)
    assert (m["codec"], m["channels"], m["sample_rate"]) == ("vorbis", 2, 44100)
    assert m["duration_sec"] == pytest.approx(2.0)
    with pytest.raises(ValueError, match="OggS"):
        ogg_metadata(b"not ogg")


# --- unified dispatch -----------------------------------------------------

def test_media_container_dispatch():
    assert media_container_metadata(flac_blob())["container"] == "flac"
    assert media_container_metadata(b"".join(mp3_frame() for _ in range(3)))["container"] == "mp3"
    blob = box(b"ftyp", b"isom\x00\x00\x00\x00") + box(b"moov", mvhd(600, 600))
    assert media_container_metadata(blob)["container"] == "mp4"
    m = media_container_metadata(b"garbage bytes here")
    assert m["container"] == "unknown" and m["duration_sec"] is None
    # id3-tagged mp3 with title flows through the unified row
    tagged = id3v2_tag() + mp3_frame()
    m2 = media_container_metadata(tagged)
    assert m2["title"] == "Spec Title" and m2["audio_codec"] == "mp3"


def test_extract_media_metadata_spark(spark):
    """Unified container-metadata extraction as Arrow-batched mapInPandas:
    one row per payload, mixed containers in one batch, unknowns kept."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_media_metadata,
    )

    rows = [
        (1, bytearray(id3v2_tag() + b"".join(mp3_frame() for _ in range(10)))),
        (2, bytearray(flac_blob(tags={"TITLE": "FlacSong"}))),
        (3, bytearray(
            box(b"ftyp", b"isom\x00\x00\x00\x00")
            + box(b"moov", mvhd(600, 1800) + video_trak(640, 480))
        )),
        (4, bytearray(b"not a media file at all")),
    ]
    media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    out = {r["media_id"]: r for r in extract_media_metadata(media).collect()}
    assert out[1]["container"] == "mp3" and out[1]["title"] == "Spec Title"
    assert out[1]["duration_sec"] == pytest.approx(10 * 1152 / 44100)
    assert out[2]["container"] == "flac" and out[2]["title"] == "FlacSong"
    assert out[3]["container"] == "mp4" and out[3]["width"] == 640
    assert out[3]["duration_sec"] == pytest.approx(3.0)
    assert out[4]["container"] == "unknown" and out[4]["n_bytes"] == 23


# --- WebP -----------------------------------------------------------------

def _webp(chunks: list[tuple[bytes, bytes]]) -> bytes:
    body = b"WEBP"
    for cid, payload in chunks:
        body += cid + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_webp_header_all_layouts():
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        decode_image,
        webp_header,
    )

    # VP8 lossy: 3-byte frame tag + 9D 01 2A + dims (320x240)
    vp8 = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", 320, 240)
    blob = _webp([(b"VP8 ", vp8 + b"\x00" * 10)])
    assert webp_header(blob) == (320, 240, 3)
    assert decode_image(blob) == (320, 240, 3, "webp")
    # VP8L lossless: 0x2F + packed 14-bit (w-1, h-1) + alpha bit
    w, h = 100, 50
    bits = (w - 1) | ((h - 1) << 14) | (1 << 28)
    blob_l = _webp([(b"VP8L", bytes([0x2F]) + struct.pack("<I", bits))])
    assert webp_header(blob_l) == (100, 50, 4)
    # VP8X extended: alpha flag + 24-bit canvas dims
    vp8x = bytes([0x10, 0, 0, 0]) + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little")
    blob_x = _webp([(b"VP8X", vp8x), (b"VP8 ", vp8 + b"\x00" * 4)])
    assert webp_header(blob_x) == (1920, 1080, 4)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="start code"):
        webp_header(_webp([(b"VP8 ", b"\x00" * 12)]))
    with _pytest.raises(ValueError, match="no VP8"):
        webp_header(_webp([(b"EXIF", b"\x00\x00")]))


# --- IMA ADPCM WAV --------------------------------------------------------

_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IDX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_encode(samples, block_samples):
    """Independent IMA/DVI COMPRESSOR (the standard encode state machine,
    written from the published algorithm): returns (blocks bytes,
    reconstructed samples) — the reconstruction is what any conforming
    decoder must reproduce EXACTLY."""
    blocks = bytearray()
    recon = []
    i = 0
    index = 0
    while i < len(samples):
        chunk = samples[i : i + block_samples]
        i += block_samples
        pred = int(chunk[0])
        blocks += pred.to_bytes(2, "little", signed=True) + bytes([index, 0])
        recon.append(pred)
        nibbles = []
        for s in chunk[1:]:
            step = _STEPS[index]
            diff = int(s) - pred
            n = 0
            if diff < 0:
                n = 8
                diff = -diff
            if diff >= step:
                n |= 4
                diff -= step
            if diff >= step >> 1:
                n |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                n |= 1
            # decoder-mirror reconstruction
            d = step >> 3
            if n & 1:
                d += step >> 2
            if n & 2:
                d += step >> 1
            if n & 4:
                d += step
            if n & 8:
                d = -d
            pred = max(-32768, min(32767, pred + d))
            index = max(0, min(88, index + _IDX[n & 7]))
            recon.append(pred)
            nibbles.append(n)
        while len(nibbles) % 8:
            nibbles.append(0)  # pad the last 4-byte group; decoder emits
            recon.append(None)  # placeholder: decoder output exists here
        for j in range(0, len(nibbles), 2):
            blocks.append(nibbles[j] | (nibbles[j + 1] << 4))
    return bytes(blocks), recon


def _adpcm_wav(blocks: bytes, rate, channels, block_align) -> bytes:
    fmt = struct.pack(
        "<HHIIHHH", 0x11, channels, rate, rate * block_align // 1, block_align,
        4, 2,
    )
    return (
        b"RIFF" + struct.pack("<I", 36 + len(blocks)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )


def test_ima_adpcm_decode_matches_encoder_reconstruction():
    """The decoder must reproduce the independent encoder's internal
    reconstruction bit-for-bit (both run the same published state
    machine — that is the IMA conformance contract)."""
    import math

    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        decode_audio,
        decode_wav_adpcm_samples,
    )

    n = 505  # not a multiple of the block size: exercises padding
    sig = [int(12000 * math.sin(i / 9)) + (i % 7) * 13 for i in range(n)]
    block_samples = 249  # header sample + 248 nibbles = 128-byte block
    blocks, recon = _ima_encode(sig, block_samples)
    blob = _adpcm_wav(blocks, 8000, 1, 4 + (block_samples - 1) // 2)
    rate, ch, out, frames = decode_wav_adpcm_samples(blob)
    assert (rate, ch) == (8000, 1)
    # every real (non-padding) position matches exactly
    real = [(i, v) for i, v in enumerate(recon) if v is not None]
    assert frames >= len(real) - 8
    for i, v in real[: frames]:
        if i < frames:
            assert int(out[i]) == v, f"sample {i}"
    # quantization quality sanity: SNR comfortably high on a smooth signal
    import numpy as np

    a = np.array(sig[: len(sig)], dtype=np.float64)
    b = np.array([v for _, v in real][: len(sig)], dtype=np.float64)
    err = a - b
    # (the step size starts at minimum, so the first cycle is slew-limited;
    # ~14x signal-to-error on this signal — bound at 8x)
    assert np.sqrt((err ** 2).mean()) < np.sqrt((a ** 2).mean()) / 8
    # dispatch: decode_audio reports the adpcm kind and sane frame count
    rate2, ch2, bits, n_frames, _off, kind = decode_audio(blob)
    assert (rate2, ch2, bits, kind) == (8000, 1, 4, "wav-adpcm")
    assert abs(n_frames - frames) <= 1


def test_ima_adpcm_truncated_tail_estimate_matches_decoder():
    """A truncated payload whose tail is not 4-byte-group aligned: the
    metadata frame estimate must equal what decode_wav_adpcm_samples can
    actually decode (whole nibble groups only), never more."""
    import math

    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        decode_audio,
        decode_wav_adpcm_samples,
    )

    n = 505
    sig = [int(9000 * math.sin(i / 7)) for i in range(n)]
    block_samples = 249  # 128-byte mono blocks
    blocks, _recon = _ima_encode(sig, block_samples)
    block_align = 4 + (block_samples - 1) // 2
    # cut mid-way through the second block, at several non-group-aligned
    # offsets past the 4-byte header (header + k bytes, k % 4 != 0)
    for extra in (1, 2, 3, 5, 6, 7, 9, 11):
        cut = block_align + 4 + extra
        blob = _adpcm_wav(blocks[:cut], 8000, 1, block_align)
        _r, _c, out, frames_dec = decode_wav_adpcm_samples(blob)
        _r2, _c2, _bits, n_frames, _off, kind = decode_audio(blob)
        assert kind == "wav-adpcm"
        assert n_frames == frames_dec == len(out), (
            f"cut={cut}: estimate {n_frames} vs decoded {frames_dec}"
        )


def test_ima_adpcm_stereo_and_features(spark):
    """Stereo blocks round-robin 4-byte nibble groups per channel; the
    Arrow features leg computes rms from the decoded stream."""
    import math

    from sample_dms_kinesis_rds_mariadb_spark.operators import multimodal

    # stereo: build per-channel mono encodings with the SAME block sample
    # count, then interleave header+groups manually
    n = 241
    left = [int(8000 * math.sin(i / 5)) for i in range(n)]
    right = [int(6000 * math.cos(i / 11)) for i in range(n)]
    bs = 241  # one block exactly
    lb, lrec = _ima_encode(left, bs)
    rb, rrec = _ima_encode(right, bs)
    block = bytearray()
    block += lb[:4] + rb[:4]
    lg, rg = lb[4:], rb[4:]
    for j in range(0, len(lg), 4):
        block += lg[j : j + 4] + rg[j : j + 4]
    block_align = 8 + len(lg) + len(rg)
    blob = _adpcm_wav(bytes(block), 16000, 2, block_align)
    rate, ch, out, frames = multimodal.decode_wav_adpcm_samples(blob)
    assert (rate, ch) == (16000, 2)
    lreal = [v for v in lrec if v is not None]
    rreal = [v for v in rrec if v is not None]
    for i in range(min(frames, len(lreal))):
        assert int(out[2 * i]) == lreal[i], f"L sample {i}"
        assert int(out[2 * i + 1]) == rreal[i], f"R sample {i}"
    media = spark.createDataFrame(
        [(9, bytearray(blob))], "media_id LONG, content BINARY"
    )
    feats = multimodal.extract_audio_features(media).collect()[0]
    assert feats["format"] == "wav-adpcm" and feats["sample_rate"] == 16000
    import numpy as np

    want_rms = float(np.sqrt((np.asarray(out, dtype=np.float64) ** 2).mean()))
    assert feats["rms"] == pytest.approx(want_rms, rel=1e-9)


# --- ADTS (r11) -------------------------------------------------------------


def adts_frame(
    payload_len=100, profile=1, sf_idx=4, channels=2, crc=False,
    rdbs=1, mpeg2=False,
) -> bytes:
    """INDEPENDENT ADTS frame packer (13818-7 §6.2 write direction):
    header bits assembled by hand, zero-filled raw data block."""
    hdr_len = 9 if crc else 7
    frame_len = hdr_len + payload_len
    bits = (
        "1" * 12                              # syncword
        + ("1" if mpeg2 else "0")             # ID
        + "00"                                # layer
        + ("0" if crc else "1")               # protection_absent
        + format(profile, "02b")
        + format(sf_idx, "04b")
        + "0"                                 # private
        + format(channels, "03b")
        + "00"                                # original/home
        + "00"                                # copyright id bit/start
        + format(frame_len, "013b")
        + format(0x7FF, "011b")               # buffer fullness (VBR)
        + format(rdbs - 1, "02b")
    )
    out = bytearray(int(bits[i : i + 8], 2) for i in range(0, 56, 8))
    if crc:
        out += b"\x00\x00"
    out += b"\x00" * payload_len
    return bytes(out)


def test_adts_metadata_and_walking():
    from sample_dms_kinesis_rds_mariadb_spark.operators import adts as A

    blob = adts_frame() * 10
    m = A.adts_metadata(blob)
    assert m["container"] == "adts" and m["codec"] == "aac-lc"
    assert m["sample_rate"] == 44100 and m["channels"] == 2
    assert m["n_frames"] == 10
    assert abs(m["duration_sec"] - 10 * 1024 / 44100) < 1e-9
    assert abs(m["bitrate_kbps"]
               - 8 * len(blob) / m["duration_sec"] / 1000) < 1e-9
    # truncated tail: the walk stops cleanly
    m2 = A.adts_metadata(blob + blob[:40])
    assert m2["n_frames"] == 10
    # CRC variant, MPEG-2 ID, multi-rdb duration accounting
    blob3 = adts_frame(crc=True, mpeg2=True, rdbs=2, sf_idx=8) * 4
    m3 = A.adts_metadata(blob3)
    assert m3["crc"] and m3["mpeg_version"] == 2
    assert m3["sample_rate"] == 16000
    assert abs(m3["duration_sec"] - 8 * 1024 / 16000) < 1e-9


def test_adts_sniff_is_two_frame_confirmed_and_mp3_safe():
    from sample_dms_kinesis_rds_mariadb_spark.operators import adts as A

    assert A.is_adts(adts_frame() * 2)
    assert A.is_adts(adts_frame())  # single frame ending exactly at EOF
    # one valid header followed by garbage is NOT confirmed
    assert not A.is_adts(adts_frame()[:7] + b"\x00" * 200)
    # MPEG audio never sniffs as ADTS (layer bits are nonzero there)
    assert not A.is_adts(mp3_frame())
    assert not A.is_adts(mp3_frame(layer3=False))


def test_adts_in_media_metadata_sweep(spark):
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_media_metadata,
    )

    df = spark.createDataFrame(
        [(0, bytearray(adts_frame() * 5)), (1, bytearray(mp3_frame()))],
        "media_id LONG, content BINARY",
    )
    rows = {r.media_id: r for r in extract_media_metadata(df).collect()}
    assert rows[0].container == "adts" and rows[0].audio_codec == "aac-lc"
    assert rows[0].sample_rate == 44100 and rows[0].channels == 2
    assert rows[1].container == "mp3"  # the mp3 leg is untouched


def test_aac_sample_decode_is_precise_boundary():
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        decode_audio_samples,
    )

    with pytest.raises(NotImplementedError, match="Huffman codebooks"):
        decode_audio_samples(adts_frame() * 2)


def test_mp4_aac_routes_to_the_same_boundary():
    """MP4 'mp4a' payloads surface the AAC codebook boundary message,
    not the generic compressed-audio raise."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        decode_audio_samples,
    )

    moov = box(b"moov", mvhd(48000, 2 * 48000) + audio_trak(48000, 2))
    blob = (box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2") + moov
            + box(b"mdat", b"\x00" * 64))
    with pytest.raises(NotImplementedError, match="mp4a.*codebook"):
        decode_audio_samples(blob)


# --- Matroska / WebM (r12) ------------------------------------------------------


def _ebml_elem(eid: int, body: bytes) -> bytes:
    """INDEPENDENT EBML serializer: ID as-is (marker included), size as
    a minimal-length VINT with the length marker."""
    out = bytearray()
    idlen = (eid.bit_length() + 7) // 8
    out += eid.to_bytes(idlen, "big")
    n = len(body)
    for ln in range(1, 9):
        if n < (1 << (7 * ln)) - 1:
            out += ((1 << (7 * ln)) | n).to_bytes(ln, "big")
            break
    out += body
    return bytes(out)


def _ebml_uint(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _ebml_elem(eid, v.to_bytes(n, "big"))


def _mkv_blob(doctype=b"webm", duration=12.5, tscale=1_000_000,
              unknown_segment_size=False) -> bytes:
    header = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, doctype))
    info = _ebml_elem(0x1549A966,
                      _ebml_uint(0x2AD7B1, tscale)
                      + _ebml_elem(0x4489, struct.pack(
                          ">d", duration * 1e9 / tscale)))
    video_track = _ebml_elem(0xAE,
                             _ebml_uint(0x83, 1)
                             + _ebml_elem(0x86, b"V_VP9")
                             + _ebml_elem(0xE0,
                                          _ebml_uint(0xB0, 640)
                                          + _ebml_uint(0xBA, 360)))
    audio_track = _ebml_elem(0xAE,
                             _ebml_uint(0x83, 2)
                             + _ebml_elem(0x86, b"A_OPUS")
                             + _ebml_elem(0xE1,
                                          _ebml_elem(0xB5, struct.pack(
                                              ">f", 48000.0))
                                          + _ebml_uint(0x9F, 2)))
    tracks = _ebml_elem(0x1654AE6B, video_track + audio_track)
    seg_body = info + tracks
    if unknown_segment_size:
        seg = (0x18538067).to_bytes(4, "big") + b"\xff" + seg_body
    else:
        seg = _ebml_elem(0x18538067, seg_body)
    return header + seg


def test_mkv_webm_metadata():
    from sample_dms_kinesis_rds_mariadb_spark.operators.mkv import (
        mkv_metadata,
    )

    m = mkv_metadata(_mkv_blob())
    assert m["container"] == "webm"
    assert abs(m["duration_sec"] - 12.5) < 1e-6
    assert (m["width"], m["height"], m["video_codec"]) == (640, 360,
                                                           "V_VP9")
    assert (m["sample_rate"], m["channels"], m["audio_codec"]) == (
        48000, 2, "A_OPUS")
    # matroska doctype + the streamed unknown-size segment form
    m2 = mkv_metadata(_mkv_blob(doctype=b"matroska",
                                unknown_segment_size=True))
    assert m2["container"] == "mkv" and m2["width"] == 640
    # non-default timestamp scale
    m3 = mkv_metadata(_mkv_blob(duration=3.0, tscale=500_000))
    assert abs(m3["duration_sec"] - 3.0) < 1e-6


def test_mkv_malformed_and_sweep(spark):
    import pytest

    from sample_dms_kinesis_rds_mariadb_spark.operators.mkv import (
        MkvError,
        mkv_metadata,
    )
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_media_metadata,
    )

    with pytest.raises(MkvError):
        mkv_metadata(b"\x1aE\xdf\xa3\x00\x00")  # invalid vint
    with pytest.raises(MkvError):
        mkv_metadata(b"not ebml")
    df = spark.createDataFrame(
        [(0, bytearray(_mkv_blob())), (1, bytearray(b"\x1aE\xdf\xa3xx"))],
        "media_id LONG, content BINARY",
    )
    rows = {r["media_id"]: r for r in extract_media_metadata(df).collect()}
    assert rows[0]["container"] == "webm"
    assert rows[0]["video_codec"] == "V_VP9" and rows[0]["width"] == 640
    assert rows[1]["container"] == "unknown"  # malformed -> typed unknown


def test_avi_in_media_metadata_dispatch():
    """RIFF/AVI payloads route through parse_avi in the unified sweep
    (r12) — previously they fell to container='unknown'."""
    from tests.test_avi import _mjpeg_avi

    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        media_container_metadata,
    )

    blob, _imgs, _frames = _mjpeg_avi(n_frames=20, h=24, w=32, fps=10)
    m = media_container_metadata(blob)
    assert m["container"] == "avi"
    assert (m["width"], m["height"]) == (32, 24)
    assert m["video_codec"] == "MJPG"
    assert m["duration_sec"] == pytest.approx(2.0)
    # a WAV is still a WAV (both are RIFF)
    assert media_container_metadata(
        b"RIFF\x24\x00\x00\x00WAVE" + b"\x00" * 16
    )["container"] != "avi"


def test_heif_avif_image_isobmff():
    """AVIF/HEIC (ISO 23008-12 'meta' layout): dimensions from the
    largest ispe, codec + profile from the av1C/hvcC property (r12)."""
    from tests.video_writer import av1_sequence_header, av1c, hevc_sps, hvcc, obu

    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        media_container_metadata,
    )

    def ispe(w, h):
        return box(b"ispe", full(0, struct.pack(">II", w, h)))

    def heif(brand: bytes, cfg: bytes, dims, thumb=(160, 90)):
        ipco = box(b"ipco", ispe(*dims) + ispe(*thumb) + cfg)
        meta = box(b"meta", full(0, box(b"hdlr", full(0, b"\x00" * 4 + b"pict"
                                                      + b"\x00" * 14))
                                 + box(b"iprp", ipco)))
        return box(b"ftyp", brand + b"\x00" * 4 + brand) + meta + box(
            b"mdat", b"\x00" * 32)

    avif = heif(b"avif", box(b"av1C", av1c(obu(1, av1_sequence_header(
        width=800, height=600)))), (800, 600))
    m = mp4_metadata(avif)
    assert m["container"] == "heif" and m["brand"] == "avif"
    assert (m["width"], m["height"]) == (800, 600)  # largest ispe wins
    assert m["video_codec"] == "av1"
    assert m["video_profile"].startswith("av1 main@4.0")
    heic = heif(b"heic", box(b"hvcC", hvcc(hevc_sps(width=1024, height=768))),
                (1024, 768))
    m2 = mp4_metadata(heic)
    assert m2["video_codec"] == "hevc" and m2["width"] == 1024
    # the unified sweep routes them too
    assert media_container_metadata(avif)["container"] == "heif"
    assert media_container_metadata(heic)["video_codec"] == "hevc"


def test_mp4_fragment_sidx_duration():
    """moov-less DASH/CMAF media segments: duration from sidx, fragment
    count from moof boxes (r12) — previously a 'no moov' raise."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        media_container_metadata,
    )

    # sidx v0: refID, timescale, earliest_pt, first_offset, reserved,
    # count, then (type|size, subsegment_duration, SAP) per reference
    refs = b"".join(
        struct.pack(">III", 1000, 90000 * 2, 0x90000000) for _ in range(3)
    )
    sidx = box(b"sidx", full(0, struct.pack(">IIIIHH", 1, 90000, 0, 0, 0, 3)
                             + refs))
    moof = box(b"moof", box(b"mfhd", full(0, struct.pack(">I", 1))))
    seg = (box(b"styp", b"msdh\x00\x00\x00\x00msdh") + sidx
           + moof + box(b"mdat", b"\x00" * 64)
           + moof + box(b"mdat", b"\x00" * 64))
    m = mp4_metadata(seg)
    assert m["container"] == "mp4-fragment" and m["brand"] == "msdh"
    assert m["duration_sec"] == pytest.approx(6.0)
    assert m["n_fragments"] == 2
    sweep = media_container_metadata(seg)
    assert sweep["container"] == "mp4-fragment"
    assert sweep["duration_sec"] == pytest.approx(6.0)
    # a bare mdat-only blob still raises -> unknown in the sweep
    assert media_container_metadata(
        box(b"mdat", b"\x00" * 32))["container"] == "unknown"


def test_review_fixes_moof_dispatch_heif_ambiguity_vp9_truncation():
    """Review fixes: moof-leading CMAF chunks reach mp4_metadata from
    the sweep; conflicting ipco codec configs yield profile=None (never
    the thumbnail's); truncated V_VP9 CodecPrivate degrades to None."""
    from tests.video_writer import hevc_sps, hvcc

    from sample_dms_kinesis_rds_mariadb_spark.operators.mkv import mkv_metadata
    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        media_container_metadata,
    )

    # 1) moof-leading chunk (no styp/sidx) dispatches in the sweep
    chunk = (box(b"moof", box(b"mfhd", full(0, struct.pack(">I", 1))))
             + box(b"mdat", b"\x00" * 32))
    assert mp4_metadata(chunk)["container"] == "mp4-fragment"
    assert media_container_metadata(chunk)["container"] == "mp4-fragment"

    # 2) two DIFFERENT hvcC configs in ipco -> ambiguous -> None
    def ispe(w, h):
        return box(b"ispe", full(0, struct.pack(">II", w, h)))

    cfg_thumb = box(b"hvcC", hvcc(hevc_sps(profile=1, width=160, height=90)))
    cfg_main = box(b"hvcC", hvcc(hevc_sps(profile=2, bit_depth=10,
                                          width=4000, height=3000)))
    ipco = box(b"ipco", cfg_thumb + ispe(160, 90) + cfg_main
               + ispe(4000, 3000))
    meta = box(b"meta", full(0, box(b"iprp", ipco)))
    blob = box(b"ftyp", b"heic\x00\x00\x00\x00heic") + meta
    m = mp4_metadata(blob)
    assert (m["width"], m["height"]) == (4000, 3000)
    assert m["video_codec"] == "hevc" and m["video_profile"] is None
    # agreeing configs still report the profile
    ipco2 = box(b"ipco", cfg_main + ispe(4000, 3000))
    blob2 = box(b"ftyp", b"heic\x00\x00\x00\x00heic") + box(
        b"meta", full(0, box(b"iprp", ipco2)))
    assert mp4_metadata(blob2)["video_profile"] == "hevc main10@4 10bit 4:2:0"

    # 3) truncated VP9 feature metadata -> profile None, never partial
    header = _ebml_elem(0x1A45DFA3, _ebml_elem(0x4282, b"webm"))
    track = _ebml_elem(
        0xAE,
        _ebml_uint(0x83, 1) + _ebml_elem(0x86, b"V_VP9")
        + _ebml_elem(0x63A2, bytes([1, 2, 0x01]))  # declares 2, has 1
        + _ebml_elem(0xE0, _ebml_uint(0xB0, 640) + _ebml_uint(0xBA, 360)),
    )
    blob3 = header + _ebml_elem(0x18538067, _ebml_elem(0x1654AE6B, track))
    m3 = mkv_metadata(blob3)
    assert m3["video_profile"] is None and m3["width"] == 640


def test_mp4_fragment_trun_sample_walk():
    """r13 full fragmented walk: per-track sample counts, byte totals,
    durations, and bitrates from moof→traf→tfhd/trun, timescales from
    the per-track sidx reference_IDs — DASH/CMAF segments report the
    progressive row shape plus the fragment sample statistics."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata

    def fullf(version: int, flags: int, payload: bytes) -> bytes:
        return bytes([version]) + flags.to_bytes(3, "big") + payload

    def sidx(ref_id: int, timescale: int, refs: list[int]) -> bytes:
        body = struct.pack(">IIIIHH", ref_id, timescale, 0, 0, 0, len(refs))
        for d in refs:
            body += struct.pack(">III", 1000, d, 0x90000000)
        return box(b"sidx", fullf(0, 0, body))

    # track 1 (video-like): tfhd default duration, trun per-sample sizes
    # (flag 0x200) — 30 samples x 3000 ticks @ 90000 = 1 s per fragment
    tfhd1 = box(b"tfhd", fullf(0, 0x8, struct.pack(">II", 1, 3000)))
    sizes1 = b"".join(struct.pack(">I", 500 + i) for i in range(30))
    trun1 = box(b"trun", fullf(0, 0x200, struct.pack(">I", 30) + sizes1))
    # track 2 (audio-like): tfhd default size AND duration, empty-field
    # trun (pure arithmetic path) — 48 samples x 1024 ticks @ 48000
    tfhd2 = box(b"tfhd", fullf(0, 0x8 | 0x10,
                               struct.pack(">III", 2, 1024, 200)))
    trun2 = box(b"trun", fullf(0, 0x0, struct.pack(">I", 48)))
    moof = box(b"moof",
               box(b"mfhd", fullf(0, 0, struct.pack(">I", 1)))
               + box(b"traf", tfhd1 + trun1)
               + box(b"traf", tfhd2 + trun2))
    seg = (box(b"styp", b"msdh\x00\x00\x00\x00msdh")
           + sidx(1, 90000, [90000, 90000])
           + sidx(2, 48000, [48 * 1024, 48 * 1024])
           + moof + box(b"mdat", b"\x00" * 64)
           + moof + box(b"mdat", b"\x00" * 64))
    m = mp4_metadata(seg)
    assert m["container"] == "mp4-fragment" and m["n_fragments"] == 2
    # headline duration: FIRST sidx (the reference stream)
    assert m["duration_sec"] == pytest.approx(2.0)
    t1, t2 = m["tracks"]
    assert (t1["track_id"], t1["n_samples"]) == (1, 60)
    assert t1["total_bytes"] == 2 * sum(500 + i for i in range(30))
    assert t1["duration_sec"] == pytest.approx(2.0)
    assert t1["avg_bitrate_bps"] == round(8 * t1["total_bytes"] / 2.0)
    assert (t2["track_id"], t2["n_samples"]) == (2, 96)
    assert t2["total_bytes"] == 96 * 200
    assert t2["duration_sec"] == pytest.approx(96 * 1024 / 48000)
    # progressive row shape preserved
    assert t1["kind"] is None and t1["codec"] is None


def test_mp4_fragment_trun_unknown_defaults_and_forged_count():
    """Without tfhd defaults (they live in the init segment's trex) the
    walk reports duration/bytes as unknown instead of zero — and a
    forged trun sample_count is clamped to the box's real extent."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata

    def fullf(version: int, flags: int, payload: bytes) -> bytes:
        return bytes([version]) + flags.to_bytes(3, "big") + payload

    tfhd = box(b"tfhd", fullf(0, 0, struct.pack(">I", 7)))
    # claims 1M samples, carries 4: per-sample duration+size (8 bytes)
    fields = b"".join(struct.pack(">II", 100, 50) for _ in range(4))
    trun = box(b"trun", fullf(0, 0x300,
                              struct.pack(">I", 1_000_000) + fields))
    moof = box(b"moof", box(b"traf", tfhd + trun))
    m = mp4_metadata(box(b"styp", b"cmfc\x00\x00\x00\x00cmfc") + moof
                     + box(b"mdat", b"\x00" * 16))
    (t,) = m["tracks"]
    assert t["n_samples"] == 4 and t["total_bytes"] == 200
    assert t["duration_sec"] is None  # no sidx -> no timescale
    # and a defaults-free empty trun: nothing knowable
    trun0 = box(b"trun", fullf(0, 0x0, struct.pack(">I", 10)))
    moof0 = box(b"moof", box(b"traf", tfhd + trun0))
    m0 = mp4_metadata(box(b"styp", b"cmfc\x00\x00\x00\x00cmfc") + moof0
                      + box(b"mdat", b""))
    (t0,) = m0["tracks"]
    assert t0["n_samples"] == 10
    assert t0["total_bytes"] is None and t0["duration_sec"] is None


def test_mp4_fragment_start_times():
    """r13: segment alignment offsets — sidx earliest_presentation_time
    at top level, per-track tfdt baseMediaDecodeTime (both versions)."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import mp4_metadata

    def fullf(version: int, flags: int, payload: bytes) -> bytes:
        return bytes([version]) + flags.to_bytes(3, "big") + payload

    # sidx v1 (64-bit ept): segment starts at t=10s on a 90kHz clock
    sidx = box(b"sidx", fullf(1, 0,
                              struct.pack(">II", 1, 90000)
                              + struct.pack(">QQ", 900_000, 0)
                              + struct.pack(">HH", 0, 1)
                              + struct.pack(">III", 1000, 90000, 0x90000000)))
    tfhd = box(b"tfhd", fullf(0, 0x8, struct.pack(">II", 1, 3000)))
    tfdt = box(b"tfdt", fullf(1, 0, struct.pack(">Q", 900_000)))
    trun = box(b"trun", fullf(0, 0x0, struct.pack(">I", 30)))
    moof = box(b"moof", box(b"traf", tfhd + tfdt + trun))
    seg = (box(b"styp", b"msdh\x00\x00\x00\x00msdh") + sidx
           + moof + box(b"mdat", b""))
    m = mp4_metadata(seg)
    assert m["start_sec"] == pytest.approx(10.0)
    (t,) = m["tracks"]
    assert t["start_sec"] == pytest.approx(10.0)
    assert t["duration_sec"] == pytest.approx(1.0)
    # v0 tfdt (32-bit) and no sidx: track start known only if a
    # timescale exists -> None here, honest
    tfdt0 = box(b"tfdt", fullf(0, 0, struct.pack(">I", 45_000)))
    moof0 = box(b"moof", box(b"traf", tfhd + tfdt0 + trun))
    m0 = mp4_metadata(box(b"styp", b"cmfc\x00\x00\x00\x00cmfc") + moof0
                      + box(b"mdat", b""))
    assert m0["start_sec"] is None
    assert m0["tracks"][0]["start_sec"] is None
