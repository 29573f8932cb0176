"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema, partitioning, Arrow
batch shape, `mapInPandas` UDF signatures. ``decode_image`` REALLY decodes
library-free formats — PNM (PPM P6/P3, PGM P5/P2), BMP, PNG
(``decode_png``: stdlib-zlib inflate + the five standard scanline
filters, COMPLETE pixel-layout coverage — all five color types incl.
PLTE palette + tRNS transparency, bit depths 1/2/4/8/16, Adam7
interlacing, CRC-verified chunks), and Huffman-coded JPEG
(``operators/jpeg.py``: full T.81 baseline AND progressive decode,
4:2:0/4:2:2/4:4:4, restart intervals, multi-scan successive
approximation) — and keeps an honest stub boundary for the rest
(arithmetic-coded/lossless JPEG raises NotImplementedError) unless
``fake=True``, which produces a
deterministic content-hash fake so the pipeline shape stays
exercisable.

At scale: binary payloads stay columnar in parquet; metadata-only plans never
read the binary column (columnar pruning), and decode/feature-extract runs as
Arrow-batched ``mapInPandas`` — one Python worker per input split, payloads
streamed batch-wise, never collected.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_kinesis_rds_mariadb_spark.operators.exif import (
    image_orientation_icc,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("source_uri", T.StringType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("format", T.StringType()),  # ppm|pgm|bmp|png|jpeg|gif|tiff|fake
        T.StructField("sha256", T.StringType()),
        # EXIF orientation (1..8, JPEG/TIFF only) + embedded-ICC presence —
        # the two fields curation filters on without a pixel decode
        T.StructField("orientation", T.IntegerType()),
        T.StructField("has_icc_profile", T.BooleanType(), False),
    ]
)

# PNM magic → (channels, format name)
_PNM_MAGICS = {b"P6": (3, "ppm"), b"P3": (3, "ppm"), b"P5": (1, "pgm"), b"P2": (1, "pgm")}

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# color type → EFFECTIVE channels (3 = palette: indices expand through
# PLTE to RGB — or RGBA when a tRNS chunk adds transparency, which the
# metadata path detects separately)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}


def _png_chunks(content: bytes):
    """Yield (type, data) for each chunk, CRC32-verified (the spec's CRC
    covers type+data). Stops at IEND."""
    import zlib

    pos = 8
    while pos + 12 <= len(content):
        ln = int.from_bytes(content[pos : pos + 4], "big")
        typ = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(content[pos + 8 + ln : pos + 12 + ln], "big")
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch at offset {pos}")
        yield typ, data
        pos += 12 + ln
        if typ == b"IEND":
            return
    raise ValueError("PNG stream ended without IEND")


def _png_ihdr(content: bytes) -> tuple[int, int, int, int, int]:
    """(width, height, bit_depth, color_type, interlace) from IHDR."""
    typ, ihdr = next(_png_chunks(content))
    if typ != b"IHDR" or len(ihdr) != 13:
        raise ValueError("PNG: first chunk must be a 13-byte IHDR")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    return width, height, ihdr[8], ihdr[9], ihdr[12]


# color type → raw channels IN THE CODESTREAM (palette = 1 index channel)
_PNG_RAW_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# legal bit depths per color type (PNG spec §11.2.2)
_PNG_VALID_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 pass layout: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, pos: int, w: int, h: int, rchan: int, depth: int):
    """Undo the five scanline filters over one (sub)image of ``h`` rows;
    returns (list of unfiltered byte rows, new offset into ``raw``)."""
    bits_pp = rchan * depth
    stride = (w * bits_pp + 7) // 8
    bpp = max(1, bits_pp // 8)
    rows = []
    prev = bytearray(stride)
    for y in range(h):
        if pos >= len(raw):
            raise ValueError("PNG pixel data truncated mid-image")
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        if len(line) != stride:
            raise ValueError("PNG pixel data truncated mid-row")
        pos += 1 + stride
        if f == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                line[i] = (line[i] + pred) & 0xFF
        elif f != 0:
            raise ValueError(f"PNG: unknown filter type {f} on row {y}")
        rows.append(bytes(line))
        prev = line
    return rows, pos


def _png_row_samples(row: bytes, w: int, rchan: int, depth: int):
    """One unfiltered byte row → w*rchan UNSCALED samples (numpy uint8):
    depth 8 passes through, 16 keeps the most-significant byte (the
    standard 8-bit reduction), sub-byte depths unpack MSB-first."""
    import numpy as np

    n = w * rchan
    buf = np.frombuffer(row, dtype=np.uint8)
    if depth == 8:
        return buf[:n]
    if depth == 16:
        return buf[0 : 2 * n : 2]
    bits = np.unpackbits(buf)
    vals = bits[: (len(bits) // depth) * depth].reshape(-1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=1).astype(np.uint8)[:n]


def decode_png(content: bytes) -> tuple[int, int, int, bytes]:
    """FULL pixel decode of a PNG — stdlib zlib inflate of the
    concatenated IDAT stream, the five standard scanline filters
    (None/Sub/Up/Average/Paeth) undone in sequence, then sample
    expansion. Returns ``(width, height, channels, pixels)`` with
    ``pixels`` a row-major 8-bit buffer (the same shape a PNM payload
    carries).

    COMPLETE coverage of the spec's pixel layouts: all five color types
    (gray, RGB, palette, gray+alpha, RGBA), every legal bit depth (1/2/
    4/8/16 — sub-byte gray scales to 0..255; 16-bit keeps the
    most-significant byte, the standard 8-bit reduction), Adam7
    interlacing (seven sub-images unfiltered independently and
    re-woven), palette expansion through PLTE, and tRNS palette
    transparency (output becomes RGBA). Malformed streams (bad CRC,
    truncated data, illegal depth/type combos, out-of-range palette
    indices) raise ValueError.
    """
    import zlib

    import numpy as np

    if content[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    width, height, depth, color_type, interlace = _png_ihdr(content)
    if color_type not in _PNG_RAW_CHANNELS:
        raise ValueError(f"PNG: invalid color type {color_type}")
    if depth not in _PNG_VALID_DEPTHS[color_type]:
        raise ValueError(
            f"PNG: illegal bit depth {depth} for color type {color_type}"
        )
    if interlace not in (0, 1):
        raise ValueError(f"PNG: invalid interlace method {interlace}")
    rchan = _PNG_RAW_CHANNELS[color_type]
    idat = bytearray()
    plte = None
    trns = None
    for typ, data in _png_chunks(content):
        if typ == b"IDAT":
            idat += data
        elif typ == b"PLTE" and plte is None:
            plte = data
        elif typ == b"tRNS" and trns is None:
            trns = data
    if not idat:
        raise ValueError("PNG has no IDAT data")
    raw = zlib.decompress(bytes(idat))

    img = np.zeros((height, width, rchan), dtype=np.uint8)
    passes = _ADAM7 if interlace == 1 else ((0, 0, 1, 1),)
    pos = 0
    for x0, y0, dx, dy in passes:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        rows, pos = _png_unfilter(raw, pos, pw, ph, rchan, depth)
        sub = np.stack(
            [_png_row_samples(r, pw, rchan, depth) for r in rows]
        ).reshape(ph, pw, rchan)
        img[y0::dy, x0::dx] = sub
    if pos != len(raw):
        raise ValueError(
            f"PNG pixel data is {len(raw)} bytes, {len(raw) - pos} beyond "
            "the expected image payload"
        )

    if color_type == 3:
        if plte is None or len(plte) % 3:
            raise ValueError("palette PNG missing a valid PLTE chunk")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        rgb = pal[idx]
        if trns is not None:
            alpha_tab = np.full(256, 255, dtype=np.uint8)
            alpha_tab[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
            out = np.concatenate([rgb, alpha_tab[idx][..., None]], axis=-1)
            return width, height, 4, out.tobytes()
        return width, height, 3, rgb.tobytes()
    if depth < 8:  # sub-byte gray: scale to full 8-bit range
        img = (img.astype(np.uint16) * 255 // ((1 << depth) - 1)).astype(
            np.uint8
        )
    return width, height, rchan, img.tobytes()


def _pnm_tokens(content: bytes, n: int) -> tuple[list[int], int]:
    """First ``n`` ASCII integer tokens after a PNM magic, plus the scan
    offset just past the last token: whitespace-separated, ``#`` comments
    run to end-of-line (netpbm spec). THE single header scanner — both the
    header probe (2 tokens) and the binary-pixel path (3 tokens + payload
    offset) read through it, so a parsing fix lands once. ASCII-only digit
    test: ``chr(byte).isdigit()`` would accept Unicode digits like ``²``
    that ``int()`` rejects on byte slices."""
    tokens: list[int] = []
    i = 2  # past the magic
    limit = min(len(content), 4096)
    while len(tokens) < n and i < limit:
        c = content[i]
        if c == ord("#"):
            while i < limit and content[i] != ord("\n"):
                i += 1
        elif chr(c).isspace():
            i += 1
        elif 0x30 <= c <= 0x39:
            j = i
            while j < limit and 0x30 <= content[j] <= 0x39:
                j += 1
            tokens.append(int(content[i:j]))
            i = j
        else:
            raise ValueError(f"malformed PNM header byte {c!r} at {i}")
    if len(tokens) < n:
        raise ValueError("truncated PNM header")
    return tokens, i


def _parse_pnm_header(content: bytes) -> tuple[int, int]:
    """width/height from a PNM header."""
    tokens, _ = _pnm_tokens(content, 2)
    return tokens[0], tokens[1]


def decode_image(content: bytes, fake: bool = False) -> tuple[int, int, int, str]:
    """Decode (width, height, channels, format).

    Real decode for library-free formats: PNM (PPM/PGM, ASCII header), BMP
    (BITMAPINFOHEADER, little-endian fields), and PNG (CRC-verified IHDR).
    JPEG/other compressed formats need an image library this container
    doesn't have — honest stub boundary: NotImplementedError, or a
    deterministic content-hash fake with ``fake=True``. Under ``fake=True``
    a corrupt/truncated payload of a REAL format (bad PNG CRC, malformed
    BMP header) also falls back to the fake instead of raising — the fake
    mode's contract is that any bytes produce a row, so a pipeline dry-run
    over a dirty corpus stays exercisable.
    """
    if fake:
        try:
            return _decode_image_real(content)
        except (ValueError, NotImplementedError, IndexError):
            h = hashlib.sha256(content).digest()
            width = 1 + (int.from_bytes(h[0:2], "big") % 2048)
            height = 1 + (int.from_bytes(h[2:4], "big") % 2048)
            channels = 1 + (h[4] % 4)
            return width, height, channels, "fake"
    return _decode_image_real(content)


def decode_bmp(content: bytes) -> tuple[int, int, int, bytes]:
    """FULL pixel decode of a BMP — uncompressed (BI_RGB) 24/32-bit
    truecolor and 1/4/8-bit palette, plus RLE-compressed 8-bit (BI_RLE8)
    and 4-bit (BI_RLE4) palette images, both row orders (positive
    height = bottom-up, negative = top-down), 4-byte row padding,
    BGR(A)→RGB(A). Bitfields compression (BI_BITFIELDS) raises
    NotImplementedError; malformed headers raise ValueError."""
    import numpy as np

    if content[:2] != b"BM" or len(content) < 54:
        raise ValueError("not a BMP (bad header)")
    pix_off = int.from_bytes(content[10:14], "little")
    width = int.from_bytes(content[18:22], "little", signed=True)
    raw_h = int.from_bytes(content[22:26], "little", signed=True)
    bpp = int.from_bytes(content[28:30], "little")
    compression = int.from_bytes(content[30:34], "little")
    if width <= 0 or raw_h == 0:
        raise ValueError(f"malformed BMP dimensions {width}x{raw_h}")
    if compression not in (0, 1, 2):
        raise NotImplementedError(
            f"BMP compression {compression} not supported (BI_RGB/BI_RLE8/BI_RLE4)"
        )
    if compression == 0 and bpp not in (1, 4, 8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP not supported (1/4/8/24/32)")
    height = abs(raw_h)
    top_down = raw_h < 0

    def palette() -> np.ndarray:
        # BGRA quads between the info header and the pixels
        hdr_size = int.from_bytes(content[14:18], "little")
        pal_start = 14 + hdr_size
        n_pal = max((pix_off - pal_start) // 4, 0)
        if n_pal == 0:
            raise ValueError(f"{bpp}-bit BMP missing color table")
        return np.frombuffer(
            content, dtype=np.uint8, count=n_pal * 4, offset=pal_start
        ).reshape(-1, 4)[:, :3][:, ::-1]  # BGRx -> RGB

    if compression in (1, 2):
        # BI_RLE8 / BI_RLE4: pairs of (count, value); count==0 escapes to
        # end-of-line / end-of-bitmap / delta / absolute mode. The spec
        # only defines RLE for bottom-up storage (positive height).
        if (compression, bpp) not in ((1, 8), (2, 4)):
            raise ValueError(f"BI_RLE{8 if compression == 1 else 4} with {bpp} bpp")
        if top_down:
            raise ValueError("RLE BMP must be bottom-up (positive height)")
        idx = _decode_bmp_rle(content[pix_off:], width, height, rle4=compression == 2)
        pal = palette()
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        return width, height, 3, pal[idx[::-1]].tobytes()

    stride = (width * bpp + 31) // 32 * 4
    need = stride * height
    if pix_off + need > len(content):
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(
        content, dtype=np.uint8, count=need, offset=pix_off
    ).reshape(height, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp in (1, 4, 8):
        pal = palette()
        if bpp == 8:
            idx = rows[:, :width]
        elif bpp == 4:
            nib = np.empty((height, stride * 2), dtype=np.uint8)
            nib[:, 0::2] = rows >> 4
            nib[:, 1::2] = rows & 0x0F
            idx = nib[:, :width]
        else:
            idx = np.unpackbits(rows, axis=1)[:, :width]
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        return width, height, 3, pal[idx].tobytes()
    ch = bpp // 8
    px = rows[:, : width * ch].reshape(height, width, ch)
    if ch == 3:
        px = px[:, :, ::-1]  # BGR -> RGB
    else:
        px = px[:, :, [2, 1, 0, 3]]  # BGRA -> RGBA
    return width, height, ch, np.ascontiguousarray(px).tobytes()


def _decode_bmp_rle(data: bytes, width: int, height: int, rle4: bool):
    """Expand a BI_RLE8/BI_RLE4 stream to a (height, width) uint8 index
    array in STORAGE row order (row 0 = bottom row). Pixels never written
    (skipped by end-of-line or delta escapes) stay palette index 0, the
    conventional background fill. Encoded runs of RLE4 alternate the two
    nibbles of the value byte; absolute mode packs literal nibbles
    high-first and pads each literal block to a 2-byte boundary."""
    import numpy as np

    out = np.zeros((height, width), dtype=np.uint8)
    x = y = pos = 0
    while pos + 2 <= len(data):
        count, val = data[pos], data[pos + 1]
        pos += 2
        if count > 0:  # encoded run
            if y >= height:
                raise ValueError("RLE BMP run past last row")
            n = min(count, width - x)
            if rle4:
                pair = ((val >> 4, val & 0x0F) * ((n + 1) // 2))[:n]
                out[y, x : x + n] = pair
            else:
                out[y, x : x + n] = val
            x += n
            continue
        if val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta: dx right, dy up (= toward later storage rows)
            if pos + 2 > len(data):
                raise ValueError("RLE BMP truncated delta")
            x += data[pos]
            y += data[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError("RLE BMP delta out of bounds")
        else:  # absolute mode: val literal pixels, padded to 2-byte boundary
            if y >= height:
                raise ValueError("RLE BMP absolute run past last row")
            n = min(val, width - x)
            if rle4:
                nbytes = (val + 1) // 2
                if pos + nbytes > len(data):
                    raise ValueError("RLE BMP truncated absolute run")
                lit = data[pos : pos + nbytes]
                nib = [
                    (lit[i // 2] >> 4) if i % 2 == 0 else (lit[i // 2] & 0x0F)
                    for i in range(val)
                ]
                out[y, x : x + n] = nib[:n]
                pos += nbytes + (nbytes & 1)
            else:
                if pos + val > len(data):
                    raise ValueError("RLE BMP truncated absolute run")
                out[y, x : x + n] = np.frombuffer(
                    data, dtype=np.uint8, count=val, offset=pos
                )[:n]
                pos += val + (val & 1)
            x += n
    raise ValueError("RLE BMP stream ended without end-of-bitmap escape")


def _decode_image_real(content: bytes) -> tuple[int, int, int, str]:
    if content[:2] in _PNM_MAGICS:
        channels, fmt = _PNM_MAGICS[content[:2]]
        width, height = _parse_pnm_header(content)
        return width, height, channels, fmt
    if content[:2] == b"BM" and len(content) >= 30:
        # BITMAPFILEHEADER (14 bytes) + BITMAPINFOHEADER: width int32 LE at
        # offset 18, height int32 LE at 22 (negative = top-down), bpp at 28
        width = int.from_bytes(content[18:22], "little", signed=True)
        height = abs(int.from_bytes(content[22:26], "little", signed=True))
        # negative HEIGHT means top-down row order (valid, abs above);
        # negative/zero WIDTH has no meaning in the BMP spec — reject the
        # malformed header instead of emitting negative dimensions into
        # downstream area/size math
        if width <= 0:
            raise ValueError(f"malformed BMP: non-positive width {width}")
        bpp = int.from_bytes(content[28:30], "little")
        channels = max(1, bpp // 8)
        return width, height, channels, "bmp"
    if content[:8] == _PNG_MAGIC:
        # metadata needs only the (CRC-verified) header chunks, never the
        # pixel payload
        width, height, _depth, color_type, _il = _png_ihdr(content)
        if color_type not in _PNG_CHANNELS:
            raise ValueError(f"PNG: invalid color type {color_type}")
        channels = _PNG_CHANNELS[color_type]
        if color_type == 3:
            # palette transparency expands to RGBA in decode_png — report
            # the same effective channel count (tRNS precedes IDAT by spec)
            for typ, _data in _png_chunks(content):
                if typ == b"tRNS":
                    channels = 4
                    break
                if typ == b"IDAT":
                    break
        return width, height, channels, "png"
    if content[:2] == b"\xff\xd8":
        # metadata needs only the SOF frame header — every JPEG flavor
        # reports here, including ones decode_jpeg can't expand
        from sample_dms_kinesis_rds_mariadb_spark.operators.jpeg import (
            parse_jpeg_header,
        )

        width, height, nf = parse_jpeg_header(content)
        return width, height, nf, "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        # block-structure walk only; pixel data stays LZW-compressed
        from sample_dms_kinesis_rds_mariadb_spark.operators.gif import (
            gif_header,
        )

        width, height, channels = gif_header(content)
        return width, height, channels, "gif"
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        # first-IFD walk only; strips stay compressed
        from sample_dms_kinesis_rds_mariadb_spark.operators.tiff import (
            tiff_header,
        )

        width, height, channels = tiff_header(content)
        return width, height, channels, "tiff"
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        try:
            # lossless (VP8L) decodes for REAL (r13) — its prefix codes
            # travel in-stream; channels then reflect actual alpha use
            from sample_dms_kinesis_rds_mariadb_spark.operators import (
                webp_lossless,
            )

            width, height, channels, _px = webp_lossless.decode_vp8l(content)
            return width, height, channels, "webp"
        except (NotImplementedError, ValueError):
            # lossy VP8, extended/animated VP8X, or a corrupt VP8L
            # stream: header-only metadata below, the r12 behavior
            # (r13 self-review fix — VP8LError must not turn an
            # animated WebP's previously-valid row into an error row)
            pass
        width, height, channels = webp_header(content)
        return width, height, channels, "webp"
    if content[4:8] == b"ftyp" and content[8:12] in (
        b"avif", b"avis", b"heic", b"heix", b"mif1", b"msf1"
    ):
        # image ISOBMFF (r12): dimensions from the largest ispe (still
        # images, via the meta walk) or from the video track (animated
        # avis/msf1 sequences store a moov); pixel decode stays the
        # AV1/HEVC codec boundary, so channels reports 3 (the sweep's
        # profile string carries mono/bit-depth truth when known)
        from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import (
            mp4_metadata,
        )

        m = mp4_metadata(content)
        width, height = m.get("width"), m.get("height")
        if not width or not height:
            raise ValueError("image ISOBMFF without dimensions")
        # the codec config is the format truth (an AVIF whose MAJOR
        # brand is mif1 is still AVIF); brand is the fallback
        codec = (m.get("video_codec") or "").lower()
        if codec == "av1" or codec.startswith("av01") or content[8:12] in (
            b"avif", b"avis"
        ):
            fmt = "avif"
        else:
            fmt = "heic"
        return width, height, 3, fmt
    raise NotImplementedError(
        "unrecognized compressed image format — PPM/PGM/BMP/PNG/JPEG/"
        "GIF/TIFF/lossless-WebP decode for real (stdlib + numpy); "
        "lossy WebP and AVIF/HEIC report header dimensions; other "
        "formats need an image library this environment doesn't have; "
        "pass fake=True for the deterministic test double"
    )


def webp_header(content: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from a WebP container — all three frame
    layouts per the WebP container/bitstream specs: 'VP8 ' lossy (start
    code 9D 01 2A, 14-bit dims), 'VP8L' lossless (0x2F signature, packed
    14-bit dims + alpha bit), 'VP8X' extended (24-bit canvas dims, alpha
    flag). Pixel decode stays a codec boundary (VP8 arithmetic decoder)."""
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = content[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WebP chunk")
        if cid == b"VP8 ":
            # 3-byte frame tag, then the keyframe start code
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 keyframe start code missing")
            width = int.from_bytes(body[6:8], "little") & 0x3FFF
            height = int.from_bytes(body[8:10], "little") & 0x3FFF
            return width, height, 3
        if cid == b"VP8L":
            if body[0] != 0x2F:
                raise ValueError("VP8L signature byte missing")
            bits = int.from_bytes(body[1:5], "little")
            width = (bits & 0x3FFF) + 1
            height = ((bits >> 14) & 0x3FFF) + 1
            alpha = (bits >> 28) & 1
            return width, height, 4 if alpha else 3
        if cid == b"VP8X":
            flags = body[0]
            width = int.from_bytes(body[4:7], "little") + 1
            height = int.from_bytes(body[7:10], "little") + 1
            return width, height, 4 if flags & 0x10 else 3
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    raise ValueError("WebP container has no VP8/VP8L/VP8X chunk")


def _parse_pnm_binary(content: bytes) -> tuple[int, int, int, int]:
    """(width, height, maxval, pixel_data_offset) for binary PNM (P6/P5).

    Netpbm: three ASCII tokens (width, height, maxval) separated by
    whitespace/comments after the magic; exactly ONE whitespace byte then
    separates the header from the raw pixel payload."""
    tokens, i = _pnm_tokens(content, 3)
    return tokens[0], tokens[1], tokens[2], i + 1  # +1: single ws separator


def resize_image(
    content: bytes, width: int, height: int, fake: bool = False
) -> bytes:
    """Nearest-neighbor resize, REAL for binary PNM (PPM P6 / PGM P5),
    decodable PNG, and baseline JPEG — pure numpy over the raw pixel
    buffer, no image
    library. Other formats keep the same honest boundary as
    ``decode_image``: NotImplementedError, or with ``fake=True`` a
    deterministic valid P6 of the target size whose pixels derive from
    the content hash (pipeline shape stays exercisable).

    The output is a well-formed binary PNM (P6→P6, P5→P5; PNG → P6 for
    color / P5 for gray, alpha dropped) so resized payloads feed straight
    back into ``decode_image`` / ``extract_image_features``.
    """
    if width < 1 or height < 1:
        raise ValueError(f"target size must be positive, got {width}x{height}")
    import numpy as np

    def _nn(arr, h, w):
        rows = (np.arange(height) * h) // height
        cols = (np.arange(width) * w) // width
        return arr[rows][:, cols]

    def _resize_real():
        magic = content[:2]
        if magic in (b"P6", b"P5"):
            channels = 3 if magic == b"P6" else 1
            w, h, maxval, off = _parse_pnm_binary(content)
            if maxval > 255:
                raise ValueError("16-bit PNM not supported")
            need = w * h * channels
            buf = np.frombuffer(content, dtype=np.uint8, count=need, offset=off)
            arr = buf.reshape(h, w, channels)
            out = _nn(arr, h, w)
            header = magic + b"\n%d %d\n%d\n" % (width, height, maxval)
            return header + out.tobytes()
        if content[:8] == _PNG_MAGIC:
            w, h, channels, pixels = decode_png(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            arr = arr[:, :, : 3 if channels >= 3 else 1]  # drop alpha plane
            out = _nn(arr, h, w)
            out_magic = b"P6" if out.shape[2] == 3 else b"P5"
            header = out_magic + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        if content[:2] == b"BM":
            w, h, channels, pixels = decode_bmp(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            arr = arr[:, :, : 3 if channels >= 3 else 1]  # drop alpha plane
            out = _nn(arr, h, w)
            header = b"P6" + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        if content[:2] == b"\xff\xd8":
            from sample_dms_kinesis_rds_mariadb_spark.operators.jpeg import (
                decode_jpeg,
            )

            w, h, channels, pixels = decode_jpeg(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            out = _nn(arr, h, w)
            out_magic = b"P6" if out.shape[2] == 3 else b"P5"
            header = out_magic + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        if content[:6] in (b"GIF87a", b"GIF89a"):
            from sample_dms_kinesis_rds_mariadb_spark.operators.gif import (
                decode_gif,
            )

            w, h, channels, pixels = decode_gif(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            out = _nn(arr[:, :, :3], h, w)  # alpha dropped for PNM
            header = b"P6" + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        if content[:4] in (b"II*\x00", b"MM\x00*"):
            from sample_dms_kinesis_rds_mariadb_spark.operators.tiff import (
                decode_tiff,
            )

            w, h, channels, pixels = decode_tiff(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            arr = arr[:, :, : 3 if channels >= 3 else 1]  # drop alpha plane
            out = _nn(arr, h, w)
            out_magic = b"P6" if out.shape[2] == 3 else b"P5"
            header = out_magic + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
            # lossless WebP decodes for real (r13); lossy VP8 raises the
            # codec boundary inside decode_vp8l
            from sample_dms_kinesis_rds_mariadb_spark.operators.webp_lossless import (  # noqa: E501
                decode_vp8l,
            )

            w, h, channels, pixels = decode_vp8l(content)
            arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, channels)
            arr = arr[:, :, :3]  # alpha dropped for PNM
            out = _nn(arr, h, w)
            header = b"P6" + b"\n%d %d\n255\n" % (width, height)
            return header + out.tobytes()
        raise NotImplementedError(
            "resize beyond binary PNM/BMP/PNG/JPEG/GIF/TIFF/lossless-WebP "
            "requires an image library (PIL/opencv) — not available in "
            "this environment; pass fake=True for the deterministic test "
            "double"
        )

    if not fake:
        return _resize_real()
    try:
        # corrupt/truncated real-format payloads also fall back to the
        # fake: fake mode's contract is any bytes → a valid P6 output
        return _resize_real()
    except (ValueError, NotImplementedError, IndexError):
        pass
    dig = hashlib.sha256(content).digest()
    pixels = np.frombuffer(
        (dig * (width * height * 3 // len(dig) + 1))[: width * height * 3],
        dtype=np.uint8,
    )
    return b"P6\n%d %d\n255\n" % (width, height) + pixels.tobytes()


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def resize_images(
    df: DataFrame, width: int, height: int, fake: bool = False
) -> DataFrame:
    """Arrow-batched bulk resize via ``mapInPandas`` — same plumbing shape
    as ``extract_image_features``: partition-parallel, payloads streamed
    batch-wise, binary stays columnar end-to-end (a downstream
    metadata-only projection prunes the resized blob at the parquet scan).
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                resized = resize_image(blob, width, height, fake=fake)
                rows.append(
                    {
                        "media_id": media_id,
                        "content": resized,
                        "width": width,
                        "height": height,
                        "format": "ppm" if resized[:2] == b"P6" else "pgm",
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        _resize, schema=RESIZED_SCHEMA
    )


def attach_binary_column(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Test helper: manufacture a media table from a text table (binary
    payload = utf-8 bytes) — exercises the exact schema/plumbing a real
    image table would use."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("content"),
        F.lit("image").alias("media_type"),
        F.concat(F.lit("synthetic://"), F.col(id_col).cast("string")).alias("source_uri"),
    )


PPM_WIDTH = 16


def attach_ppm_column(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Manufacture VALID binary PPM (P6) images from a text table: image
    height scales with the text's length and the pixel buffer is the text's
    md5 hex repeated to exactly h×16×3 bytes. All Spark built-ins — the
    payloads are genuinely decodable, so the decode path runs for real with
    no image library — and every byte is ASCII + hash-derived, so an
    independent SQL engine can rebuild the identical blob (the
    ``multimodal_features`` DuckDB oracle hashes the same bytes)."""
    row_bytes = PPM_WIDTH * 3
    h = F.floor((F.length(F.col(text_col)) + row_bytes) / row_bytes).cast("int")
    reps = F.ceil(h * row_bytes / F.lit(32.0)).cast("int")
    pixels = F.substring(F.repeat(F.md5(F.col(text_col)), reps), 1, h * row_bytes)
    content = F.encode(
        F.concat(
            F.lit(f"P6\n{PPM_WIDTH} "), h.cast("string"), F.lit("\n255\n"), pixels
        ),
        "utf-8",
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        content.alias("content"),
        F.lit("image").alias("media_type"),
        F.concat(F.lit("synthetic://"), F.col(id_col).cast("string")).alias("source_uri"),
    )


def extract_image_features(df: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over the binary column via
    ``mapInPandas`` — the canonical multimodal plumbing. Partition-parallel;
    each batch is a pandas DataFrame of (media_id, content)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                width, height, channels, fmt = decode_image(blob, fake=fake_decode)
                orientation, has_icc = image_orientation_icc(blob)
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": len(blob),
                        "width": width,
                        "height": height,
                        "channels": channels,
                        "format": fmt,
                        "sha256": hashlib.sha256(blob).hexdigest(),
                        "orientation": orientation,
                        "has_icc_profile": has_icc,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        _extract, schema=IMAGE_FEATURES_SCHEMA
    )


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),  # native sample units
        T.StructField("format", T.StringType()),  # wav|wav-float|wav-alaw|wav-ulaw|fake
    ]
)


# WAV format tags this module decodes for real (all table/arithmetic
# expansions — no codec library): PCM, IEEE float, G.711 A-law/µ-law,
# IMA/DVI ADPCM (tag 0x11)
_WAV_TAGS = {1: "wav", 3: "wav-float", 6: "wav-alaw", 7: "wav-ulaw",
             0x11: "wav-adpcm"}

# IMA ADPCM quantizer tables (the published IMA/DVI algorithm)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)


def _ima_decode_nibbles(nibbles, pred: int, index: int, out: list) -> tuple[int, int]:
    """Expand a nibble run with the IMA state machine; appends to out,
    returns the (pred, index) state for the next run."""
    for n in nibbles:
        step = _IMA_STEPS[index]
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        if n & 8:
            diff = -diff
        pred = max(-32768, min(32767, pred + diff))
        index = max(0, min(88, index + _IMA_INDEX[n]))
        out.append(pred)
    return pred, index


def decode_wav_adpcm_samples(content: bytes):
    """FULL decode of an IMA-ADPCM WAVE (format tag 0x11) to interleaved
    int16 samples — the published IMA/DVI state machine, block-based: each
    block opens with a per-channel 4-byte header (predictor int16, step
    index, reserved) whose predictor IS the block's first sample, then
    4-byte nibble groups round-robin across channels (8 nibbles per
    group). Returns (sample_rate, channels, numpy int16 array, frames)."""
    import numpy as np

    if content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = int.from_bytes(content[pos + 4 : pos + 8], "little")
        body = pos + 8
        if cid == b"fmt ":
            tag = int.from_bytes(content[body : body + 2], "little")
            if tag != 0x11:
                raise ValueError(f"not IMA ADPCM (format tag {tag})")
            channels = int.from_bytes(content[body + 2 : body + 4], "little")
            rate = int.from_bytes(content[body + 4 : body + 8], "little")
            block_align = int.from_bytes(content[body + 12 : body + 14], "little")
            fmt = (rate, channels, block_align)
        elif cid == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk before fmt chunk")
            rate, channels, block_align = fmt
            data = content[body : body + size]
            per_chan: list[list[int]] = [[] for _ in range(channels)]
            for bstart in range(0, len(data) - 4 * channels + 1, block_align):
                block = data[bstart : bstart + block_align]
                states = []
                for c in range(channels):
                    h = block[c * 4 : c * 4 + 4]
                    pred = int.from_bytes(h[0:2], "little", signed=True)
                    index = min(h[2], 88)
                    per_chan[c].append(pred)  # header predictor = sample 0
                    states.append((pred, index))
                p = 4 * channels
                while p + 4 * channels <= len(block):
                    for c in range(channels):
                        grp = block[p + c * 4 : p + c * 4 + 4]
                        nibs = []
                        for byte in grp:
                            nibs.append(byte & 0x0F)
                            nibs.append(byte >> 4)
                        states[c] = _ima_decode_nibbles(
                            nibs, states[c][0], states[c][1], per_chan[c]
                        )
                    p += 4 * channels
            frames = min(len(ch) for ch in per_chan) if channels else 0
            out = np.empty(frames * channels, dtype=np.int16)
            for c in range(channels):
                out[c::channels] = np.asarray(
                    per_chan[c][:frames], dtype=np.int16
                )
            return rate, channels, out, frames
        pos = body + size + (size & 1)
    raise ValueError("truncated WAV: no data chunk")


def _g711_tables():
    """(ulaw, alaw) 256-entry byte→linear16 expansion tables, computed
    from the published G.711 formulas (the sun g711.c reference
    arithmetic): µ-law complements the code, t = ((m<<3)+0x84)<<seg,
    result ±(t-0x84); A-law XORs 0x55, seg 0: (m<<4)+8, seg≥1:
    ((m<<4)+0x108)<<(seg-1); A-law's transmitted sign bit SET means
    positive, µ-law's (post-complement) means negative."""
    import numpy as np

    ulaw = np.zeros(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
        ulaw[code] = (0x84 - t) if (u & 0x80) else (t - 0x84)
    alaw = np.zeros(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        m = a & 0x0F
        seg = (a & 0x70) >> 4
        if seg == 0:
            t = (m << 4) + 8
        else:
            t = ((m << 4) + 0x108) << (seg - 1)
        alaw[code] = t if (a & 0x80) else -t
    return ulaw, alaw


def decode_audio(content: bytes, fake: bool = False) -> tuple[int, int, int, int, int, str]:
    """Decode (sample_rate, channels, bits_per_sample, n_frames, data_offset,
    format) — REAL for RIFF/WAVE PCM, IEEE float32, and G.711 A-law/µ-law
    (chunked header walk, little-endian fields, no audio library needed;
    WAVE_FORMAT_EXTENSIBLE resolves through its SubFormat GUID). Formats:
    ``wav`` (PCM) / ``wav-float`` / ``wav-alaw`` / ``wav-ulaw``.
    Compressed codecs (ogg/aac) keep the same honest boundary as
    ``decode_image``: NotImplementedError, or a deterministic content-hash
    fake with ``fake=True``. Like ``decode_image``, under ``fake=True`` a
    corrupt/truncated payload of a REAL format (bad fLaC STREAMINFO,
    malformed WAV chunk walk) also falls back to the fake instead of
    raising — any bytes produce a row, so a dry-run over a dirty corpus
    stays exercisable.
    """
    if fake:
        try:
            return _decode_audio_real(content)
        except (ValueError, NotImplementedError, IndexError):
            h = hashlib.sha256(content).digest()
            sample_rate = 8000 * (1 + h[0] % 6)
            channels = 1 + h[1] % 2
            n_frames = 1 + int.from_bytes(h[2:5], "big") % 480000
            return sample_rate, channels, 16, n_frames, 0, "fake"
    return _decode_audio_real(content)


def _decode_audio_real(content: bytes) -> tuple[int, int, int, int, int, str]:
    if content[:4] == b"fLaC":
        # FLAC decodes for real (operators/flac.py, r9): STREAMINFO gives
        # the stream geometry; data_offset 0 (samples are frame-coded, not
        # a contiguous buffer — rms goes through decode_flac_samples)
        from sample_dms_kinesis_rds_mariadb_spark.operators.flac import (
            flac_metadata,
        )

        meta = flac_metadata(content)
        return (
            meta["sample_rate"], meta["channels"], meta["bits_per_sample"],
            meta["total_samples"], 0, "flac",
        )
    if content[:3] == b"ID3" or (
        len(content) >= 4
        and content[0] == 0xFF
        and (content[1] & 0xE0) == 0xE0
    ):
        # MPEG audio (r10): frame-walk metadata is real for all layers;
        # sample decode (decode_audio_samples) covers MPEG-1 Layer III
        from sample_dms_kinesis_rds_mariadb_spark.operators.mp3 import (
            mp3_metadata,
        )

        meta = mp3_metadata(content)
        return (
            meta["sample_rate"], meta["channels"], 16,
            int(round(meta["duration_sec"] * meta["sample_rate"])), 0,
            "mp3",
        )
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        pos = 12
        fmt = None
        while pos + 8 <= len(content):
            cid = content[pos : pos + 4]
            size = int.from_bytes(content[pos + 4 : pos + 8], "little")
            body = pos + 8
            if cid == b"fmt ":
                audio_format = int.from_bytes(content[body : body + 2], "little")
                if audio_format == 0xFFFE and size >= 40:
                    # EXTENSIBLE: the real tag is the SubFormat GUID's
                    # first two bytes (body+24)
                    audio_format = int.from_bytes(
                        content[body + 24 : body + 26], "little"
                    )
                if audio_format not in _WAV_TAGS:
                    raise NotImplementedError(
                        f"WAV format tag {audio_format} needs a codec "
                        "(PCM/float/G.711 decode for real)"
                    )
                channels = int.from_bytes(content[body + 2 : body + 4], "little")
                sample_rate = int.from_bytes(content[body + 4 : body + 8], "little")
                block_align = int.from_bytes(content[body + 12 : body + 14], "little")
                bits = int.from_bytes(content[body + 14 : body + 16], "little")
                fmt = (sample_rate, channels, bits, _WAV_TAGS[audio_format],
                       block_align)
            elif cid == b"data":
                if fmt is None:
                    raise ValueError("WAV data chunk before fmt chunk")
                sample_rate, channels, bits, kind, block_align = fmt
                avail = min(size, len(content) - body)
                if kind == "wav-adpcm":
                    # block layout: per-channel 4-byte header (whose
                    # predictor is sample 0) + 4-byte nibble groups
                    if block_align <= 4 * channels:
                        raise ValueError("IMA ADPCM block_align too small")
                    spb = (block_align - 4 * channels) * 2 // channels + 1
                    n_blocks, rem = divmod(avail, block_align)
                    n_frames = n_blocks * spb
                    if rem > 4 * channels:
                        # decode_wav_adpcm_samples only consumes complete
                        # 4-byte-per-channel nibble groups (8 samples each),
                        # so round the partial tail down to whole groups
                        n_frames += (
                            (rem - 4 * channels) // (4 * channels)
                        ) * 8 + 1
                    elif rem >= 4 * channels and rem > 0:
                        n_frames += 1
                    return sample_rate, channels, bits, n_frames, body, kind
                frame_bytes = max(1, channels * bits // 8)
                n_frames = avail // frame_bytes
                return sample_rate, channels, bits, n_frames, body, kind
            # chunks are word-aligned: odd sizes carry a pad byte
            pos = body + size + (size & 1)
        raise ValueError("truncated WAV: no data chunk")
    if content[:4] == b"OggS":
        # Vorbis metadata AND samples are real as of r12
        # (operators/ogg.py, operators/vorbis.py); Opus stays a
        # precise boundary
        from sample_dms_kinesis_rds_mariadb_spark.operators.ogg import (
            ogg_metadata,
        )

        meta = ogg_metadata(content)
        if meta["codec"] == "vorbis" and meta["sample_rate"]:
            dur = meta["duration_sec"] or 0.0
            return (
                meta["sample_rate"], meta["channels"], 0,
                int(round(dur * meta["sample_rate"])), 0, "vorbis",
            )
    if len(content) >= 12 and content[4:8] == b"ftyp":
        from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import (
            mp4_metadata,
        )

        meta = mp4_metadata(content)
        if meta.get("audio_codec") == "mp4a":
            raise NotImplementedError(
                "MP4 'mp4a' (AAC) sample decode shares the ADTS AAC-LC "
                "boundary: the ISO 13818-7 spectral Huffman codebooks "
                "are not shipped"
            )
    raise NotImplementedError(
        "compressed audio decode requires a codec library — not "
        "available in this environment; PCM WAV decodes for real, or "
        "pass fake=True for the deterministic test double"
    )


def decode_audio_samples(content: bytes):
    """(sample_rate, channels, interleaved float64 samples in the
    format's NATIVE domain) through the REAL decoders — ONE dispatch
    shared by the rms features leg and the audio-fingerprint front end
    (``audio_dedup.mono_samples``): WAV PCM 8/16/24/32, IEEE float32,
    G.711 A-law/µ-law, IMA ADPCM, and FLAC. 8-bit PCM is unsigned per
    the WAV convention (re-centered to ±128); 24/32-bit reconstruct via
    little-endian sign extension."""
    import numpy as np

    if content[:4] == b"fLaC":
        from sample_dms_kinesis_rds_mariadb_spark.operators.flac import (
            decode_flac_samples,
        )

        rate, ch, out, _n = decode_flac_samples(content)
        return rate, ch, out.astype(np.float64)
    if content[:4] == b"OggS":
        # Vorbis decodes for real (r12, operators/vorbis.py — the
        # codebooks are stream-carried, so the decoder is complete);
        # Opus keeps its documented boundary inside decode_ogg_audio
        from sample_dms_kinesis_rds_mariadb_spark.operators.ogg import (
            decode_ogg_audio,
        )

        return decode_ogg_audio(content)
    if content[:3] != b"ID3" and len(content) >= 7:
        from sample_dms_kinesis_rds_mariadb_spark.operators.adts import (
            is_adts,
        )

        if is_adts(content):
            raise NotImplementedError(
                "AAC-LC sample decode needs the ISO 13818-7 spectral "
                "Huffman codebooks, which are not shipped"
            )
    if content[:3] == b"ID3" or (
        len(content) >= 4
        and content[0] == 0xFF
        and (content[1] & 0xE0) == 0xE0
    ):
        # Layer III decodes for real — MPEG-1 (r10) and MPEG-2/2.5 LSF
        # (r11) — plus Layers I and II (operators/mp3_layer3.py);
        # samples come back in the ±32768 PCM domain like WAV16
        from sample_dms_kinesis_rds_mariadb_spark.operators.mp3_layer3 import (
            decode_mp3_samples,
        )

        return decode_mp3_samples(content)
    rate, ch, bits, n_frames, off, kind = decode_audio(content)
    if kind == "wav-adpcm":
        _r, _c, out, _n = decode_wav_adpcm_samples(content)
        return rate, ch, out.astype(np.float64)
    if kind == "wav-float":
        return rate, ch, np.frombuffer(
            content, dtype="<f4", count=n_frames * ch, offset=off
        ).astype(np.float64)
    if kind in ("wav-alaw", "wav-ulaw"):
        ulaw, alaw = _g711_tables()
        codes = np.frombuffer(
            content, dtype=np.uint8, count=n_frames * ch, offset=off
        )
        return rate, ch, (
            ulaw if kind == "wav-ulaw" else alaw
        )[codes].astype(np.float64)
    if kind == "wav":
        if bits == 16:
            return rate, ch, np.frombuffer(
                content, dtype="<i2", count=n_frames * ch, offset=off
            ).astype(np.float64)
        if bits == 8:  # WAV convention: 8-bit PCM is unsigned
            return rate, ch, (
                np.frombuffer(
                    content, dtype=np.uint8, count=n_frames * ch, offset=off
                ).astype(np.float64)
                - 128.0
            )
        if bits in (24, 32):
            width = bits // 8
            raw = np.frombuffer(
                content, dtype=np.uint8, count=n_frames * ch * width,
                offset=off,
            ).reshape(-1, width)
            acc = np.zeros(len(raw), dtype=np.int64)
            for i in range(width):
                acc |= raw[:, i].astype(np.int64) << (8 * i)
            sign = 1 << (bits - 1)
            return rate, ch, (acc ^ sign).astype(np.float64) - float(sign)
        raise ValueError(f"unsupported PCM width {bits}")
    raise ValueError(f"unsupported audio kind {kind!r}")


def extract_audio_features(df: DataFrame, fake_decode: bool = False) -> DataFrame:
    """Arrow-batched audio feature extraction via ``mapInPandas`` — the audio
    twin of ``extract_image_features``. duration/rms compute vectorized
    (numpy over the PCM buffer), per input split, never collected."""
    import numpy as np

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                rate, ch, bits, n_frames, off, fmt = decode_audio(
                    blob, fake=fake_decode
                )
                rms = None
                if n_frames:
                    # rms in each format's NATIVE sample domain (integer
                    # units for PCM/G.711/ADPCM/FLAC, nominal [-1, 1] for
                    # IEEE float) — ONE shared sample dispatch with the
                    # audio-fingerprint front end
                    try:
                        _r, _c, vals = decode_audio_samples(blob)
                    except (ValueError, NotImplementedError, IndexError):
                        # e.g. the fake-decode double, or corrupt MP3
                        # side info driving the bit reader past the
                        # frame (IndexError) — same honesty boundary as
                        # decode_audio's own fake fallback
                        vals = None
                    if vals is not None and len(vals):
                        rms = float(np.sqrt(np.mean(vals * vals)))
                rows.append(
                    {
                        "media_id": media_id,
                        "n_bytes": len(blob),
                        "sample_rate": rate,
                        "channels": ch,
                        "bits_per_sample": bits,
                        "n_frames": n_frames,
                        "duration_sec": n_frames / rate if rate else 0.0,
                        "rms": rms,
                        "format": fmt,
                    }
                )
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        _extract, schema=AUDIO_FEATURES_SCHEMA
    )


def sample_frames(df: DataFrame, every_n_bytes: int = 1024) -> DataFrame:
    """Frame-sampling plumbing stand-in: emit one row per sampled offset of
    each payload (video frame-sample analog). Pure Spark: posexplode over a
    computed offset sequence — no Python in the hot path."""
    return df.select(
        "media_id",
        F.posexplode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    (F.length("content") / every_n_bytes).cast("int") - 1, F.lit(0)
                ),
            )
        ).alias("frame_no", "offset_step"),
    ).select(
        "media_id",
        "frame_no",
        (F.col("offset_step") * every_n_bytes).alias("byte_offset"),
    )


MEDIA_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("container", T.StringType()),  # mp3|mp4|flac|ogg|wav|adts|webm|mkv|ivf|h264|hevc|unknown
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bitrate_kbps", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("video_profile", T.StringType()),
        T.StructField("audio_codec", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("artist", T.StringType()),
    ]
)


_HLS_VIDEO_PREFIXES = {"avc1", "avc3", "hvc1", "hev1", "dvh1", "dvhe",
                       "vp09", "vp8", "av01", "mp4v"}
_HLS_AUDIO_PREFIXES = {"mp4a", "ac-3", "ec-3", "ac-4", "opus", "flac",
                       "alac", "mp3"}


def _classify_hls_codecs(codecs: str | None) -> dict:
    """RFC 6381 codec strings from an HLS CODECS attribute → the first
    video and first audio entry by KNOWN prefix; text/subtitle codecs
    (wvtt, stpp) and unknowns classify as neither — never dumped into
    the audio column."""
    video = audio = None
    for c in (codecs or "").split(","):
        c = c.strip()
        prefix = c.split(".")[0].lower()
        if prefix in _HLS_VIDEO_PREFIXES and video is None:
            video = c
        elif prefix in _HLS_AUDIO_PREFIXES and audio is None:
            audio = c
    return {"video_codec": video, "audio_codec": audio}


def media_container_metadata(content: bytes) -> dict:
    """Dispatch a payload to the matching container parser (MP3 / MP4 /
    FLAC / Ogg / WAV) and normalize to the MEDIA_METADATA_SCHEMA field
    set. Unrecognized or malformed payloads come back as
    container='unknown' with null fields — the curation contract is one
    row per payload, never a throw (same spirit as fake-mode decode)."""
    out = {
        "container": "unknown", "duration_sec": None, "sample_rate": None,
        "channels": None, "bitrate_kbps": None, "width": None, "height": None,
        "video_codec": None, "video_profile": None, "audio_codec": None,
        "title": None, "artist": None,
    }
    try:
        from sample_dms_kinesis_rds_mariadb_spark.operators.adts import (
            adts_metadata,
            is_adts,
        )

        if is_adts(content):
            # MUST sniff before MPEG audio: ADTS shares the 0xFFFx sync
            # byte pattern (its layer bits 00 are reserved in MPEG audio)
            m = adts_metadata(content)
            out.update(
                container="adts",
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                bitrate_kbps=m["bitrate_kbps"],
                audio_codec=m["codec"],
            )
        elif content[:3] == b"ID3" or (
            len(content) > 1 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0
        ):
            from sample_dms_kinesis_rds_mariadb_spark.operators.mp3 import (
                mp3_metadata,
            )

            m = mp3_metadata(content)
            out.update(
                container="mp3",
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                bitrate_kbps=m["bitrate_kbps"],
                audio_codec=f"mp{m['layer']}",
                title=m["tags"].get("title"),
                artist=m["tags"].get("artist"),
            )
        elif content[4:8] in (b"ftyp", b"styp", b"sidx", b"moof", b"moov",
                              b"mdat", b"wide", b"free"):
            from sample_dms_kinesis_rds_mariadb_spark.operators.mp4 import (
                mp4_metadata,
            )

            m = mp4_metadata(content)
            out.update(
                # 'mp4', or 'heif' (AVIF/HEIC images), or 'mp4-fragment'
                # (moov-less DASH/CMAF media segments) — all r12
                container=m.get("container", "mp4"),
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                width=m["width"],
                height=m["height"],
                video_codec=m["video_codec"],
                video_profile=m["video_profile"],
                audio_codec=m["audio_codec"],
                title=m["tags"].get("title"),
                artist=m["tags"].get("artist"),
            )
        elif content[:4] == b"fLaC":
            from sample_dms_kinesis_rds_mariadb_spark.operators.flac import (
                flac_metadata,
            )

            m = flac_metadata(content)
            out.update(
                container="flac",
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                audio_codec="flac",
                title=m["tags"].get("title"),
                artist=m["tags"].get("artist"),
            )
        elif content[:4] == b"OggS":
            from sample_dms_kinesis_rds_mariadb_spark.operators.ogg import (
                ogg_metadata,
            )

            m = ogg_metadata(content)
            out.update(
                container="ogg",
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                audio_codec=m["codec"],
            )
        elif content[:4] == b"\x1aE\xdf\xa3":
            # Matroska / WebM (r12): EBML walk — the dominant open
            # video container in a crawl
            from sample_dms_kinesis_rds_mariadb_spark.operators.mkv import (
                mkv_metadata,
            )

            m = mkv_metadata(content)
            out.update(
                container=m["container"],
                duration_sec=m["duration_sec"],
                sample_rate=m["sample_rate"],
                channels=m["channels"],
                width=m["width"],
                height=m["height"],
                video_codec=m["video_codec"],
                video_profile=m["video_profile"],
                audio_codec=m["audio_codec"],
            )
        elif content[:4] == b"DKIF":
            # IVF — the raw VP8/VP9/AV1 elementary-stream container
            from sample_dms_kinesis_rds_mariadb_spark.operators.video_codecs import (
                ivf_metadata,
                profile_string,
            )

            m = ivf_metadata(content)
            out.update(
                container="ivf",
                duration_sec=m["duration_sec"],
                width=m["width"],
                height=m["height"],
                video_codec=m["codec"],
                video_profile=profile_string(m["stream"]) if m["stream"] else None,
            )
        elif content[:4] == b"\x00\x00\x00\x01" or content[:3] == b"\x00\x00\x01":
            # Annex B H.264/HEVC elementary stream: geometry from the
            # first SPS (the only metadata a raw ES carries)
            from sample_dms_kinesis_rds_mariadb_spark.operators.video_codecs import (
                annexb_metadata,
                profile_string,
            )

            m = annexb_metadata(content)
            out.update(
                container=m["codec"],
                width=m["width"],
                height=m["height"],
                video_codec=m["codec"],
                video_profile=profile_string(m),
            )
        elif content[:4] == b"RIFF" and content[8:12] == b"AVI ":
            from sample_dms_kinesis_rds_mariadb_spark.operators.avi import (
                parse_avi,
            )

            m = parse_avi(content)
            out.update(
                container="avi",
                duration_sec=(m["n_frames"] / m["fps"]
                              if m.get("fps") and m.get("n_frames") else None),
                width=m["width"],
                height=m["height"],
                video_codec=m.get("codec"),
            )
        elif content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            rate, ch, bits, n_frames, _off, kind = decode_audio(content)
            out.update(
                container="wav",
                duration_sec=n_frames / rate if rate else None,
                sample_rate=rate,
                channels=ch,
                bitrate_kbps=rate * ch * bits / 1000 if rate else None,
                audio_codec=kind,
            )
        else:
            # no leading-magic formats (r12): HLS playlists (optional
            # BOM before #EXTM3U — the ONE sniff lives in operators/
            # hls.is_m3u8) and MPEG-TS (three stride-aligned 0x47 syncs)
            from sample_dms_kinesis_rds_mariadb_spark.operators.hls import (
                is_m3u8,
                parse_m3u8,
            )
            from sample_dms_kinesis_rds_mariadb_spark.operators.mpegts import (
                is_mpegts,
                ts_metadata,
            )

            if is_m3u8(content):
                m = parse_m3u8(content)
                out.update(
                    container="m3u8",
                    duration_sec=m.get("duration_sec"),
                    width=m.get("width"),
                    height=m.get("height"),
                    **_classify_hls_codecs(m.get("codecs")),
                )
            elif is_mpegts(content):
                from sample_dms_kinesis_rds_mariadb_spark.operators.video_codecs import (
                    profile_string,
                )

                m = ts_metadata(content)
                out.update(
                    container="mpegts",
                    duration_sec=m["duration_sec"],
                    width=m["width"],
                    height=m["height"],
                    video_codec=m["video_codec"],
                    video_profile=(profile_string(m["stream"])
                                   if m["stream"] else None),
                    audio_codec=m["audio_codec"],
                )
    except (ValueError, NotImplementedError, IndexError):
        pass
    return out


def extract_media_metadata(df: DataFrame) -> DataFrame:
    """Arrow-batched container-metadata extraction over MP3/MP4/FLAC/Ogg/
    WAV payloads via ``mapInPandas`` — the audio/video-container twin of
    ``extract_image_features``. One linear header walk per payload,
    per input split, nothing collected."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                meta = media_container_metadata(blob)
                rows.append({"media_id": media_id, "n_bytes": len(blob), **meta})
            yield pd.DataFrame(rows)

    return df.select("media_id", "content").mapInPandas(
        _extract, schema=MEDIA_METADATA_SCHEMA
    )
