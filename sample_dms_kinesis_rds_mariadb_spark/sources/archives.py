"""Archive front door — zip / tar / gzip / bzip2 / xz payload
expansion into one row per member, the pre-pass that turns crawl-scale
archive payloads (site exports, dataset dumps, tarred document
collections) into the per-document rows the rest of the curation
pipeline consumes.

Design: ``expand_archives`` is an Arrow ``mapInPandas`` pass with the
same shape as the document front door (``sources/docformats.py``) —
one input row per archive payload, one output row per member, failures
funneled into an ``error`` column, never a throw. Members are NOT
recursively expanded: a member that is itself an archive comes back as
bytes, and because the output is an ordinary DataFrame the caller
re-routes it through the same operator — bounded depth is a
composition decision at the plan level, not a hidden loop in the
worker (a zip-quine can therefore cost at most one pass per
composition step).

Bomb posture (the per-stage-cap contract the PDF reader established):
every decompression is streamed against three caps — per-member bytes,
total bytes per payload, member count — so a hostile payload costs
O(caps) work and one error row, never an OOM or a hang. Unsupported
archive families (7z, rar, zstd — no codec in this environment) raise
a precise message rather than misparse.

At scale: Python cost is proportional to the archive share of the
corpus and the caps, not to corpus size; the pass is
partition-parallel with nothing collected. Readers are Python stdlib
(``zipfile``/``tarfile``/``zlib``/``bz2``/``lzma``) — container
formats with public specs, same stance as the DOCX/EPUB zip chain.
"""

from __future__ import annotations

import bz2
import io
import lzma
import struct
import tarfile
import zipfile
import zlib
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class ArchiveError(ValueError):
    """Malformed, unsupported, or cap-exceeding archive payload."""


DEFAULT_MAX_MEMBERS = 10_000
DEFAULT_MAX_MEMBER_BYTES = 64 * 1024 * 1024
DEFAULT_MAX_TOTAL_BYTES = 256 * 1024 * 1024


def sniff_archive_format(content: bytes) -> str | None:
    """First-bytes magic → archive family, or None. The zip magic
    accepts the empty-archive (PK\\x05\\x06) and spanned (PK\\x07\\x08)
    forms; tar has no leading magic so the ustar field at offset 257 is
    checked; 7z/rar are recognized so they can raise precisely."""
    if content[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x07\x08"):
        return "zip"
    if content[:2] == b"\x1f\x8b":
        return "gzip"
    if content[:3] == b"BZh" and len(content) > 4 and content[3:4].isdigit():
        return "bzip2"
    if content[:6] == b"\xfd7zXZ\x00":
        return "xz"
    if content[257:262] == b"ustar":
        return "tar"
    if content[:6] == b"7z\xbc\xaf\x27\x1c":
        return "7z"
    if content[:4] == b"Rar!":
        return "rar"
    if content[:4] == b"\x28\xb5\x2f\xfd":
        return "zstd"
    return None


def _check_caps(n_members: int, total: int, member: int, caps: dict) -> None:
    if n_members > caps["max_members"]:
        raise ArchiveError(f"member count exceeds cap {caps['max_members']}")
    if member > caps["max_member_bytes"]:
        raise ArchiveError(
            f"member exceeds per-member cap {caps['max_member_bytes']}"
        )
    if total > caps["max_total_bytes"]:
        raise ArchiveError(f"archive exceeds total cap {caps['max_total_bytes']}")


def _expand_zip(content: bytes, caps: dict) -> list[tuple[str, bytes]]:
    try:
        zf = zipfile.ZipFile(io.BytesIO(content))
        infos = zf.infolist()
    except zipfile.BadZipFile as exc:
        raise ArchiveError(f"bad zip: {exc}") from exc
    out: list[tuple[str, bytes]] = []
    total = 0
    for info in infos:
        if info.is_dir():
            continue
        # the header's claimed size gates BEFORE inflating, and the
        # capped read gates a lying header DURING inflation
        _check_caps(len(out) + 1, total + info.file_size, info.file_size, caps)
        try:
            with zf.open(info) as fh:
                data = fh.read(caps["max_member_bytes"] + 1)
        except RuntimeError as exc:
            # stdlib zipfile signals encrypted members this way — keep
            # the operator's single documented exception type
            raise ArchiveError(
                f"encrypted zip member {info.filename!r}: {exc}"
            ) from exc
        except (zipfile.BadZipFile, NotImplementedError, zlib.error) as exc:
            raise ArchiveError(f"bad zip member {info.filename!r}: {exc}") from exc
        _check_caps(len(out) + 1, total + len(data), len(data), caps)
        total += len(data)
        out.append((info.filename, data))
    return out


def _expand_tar(content: bytes, caps: dict) -> list[tuple[str, bytes]]:
    try:
        tf = tarfile.open(fileobj=io.BytesIO(content), mode="r:")
    except tarfile.TarError as exc:
        raise ArchiveError(f"bad tar: {exc}") from exc
    out: list[tuple[str, bytes]] = []
    total = 0
    with tf:
        for member in tf:
            if not member.isfile():
                continue
            _check_caps(len(out) + 1, total + member.size, member.size, caps)
            fh = tf.extractfile(member)
            if fh is None:
                continue
            data = fh.read(caps["max_member_bytes"] + 1)
            _check_caps(len(out) + 1, total + len(data), len(data), caps)
            total += len(data)
            out.append((member.name, data))
    return out


def _gzip_member_name(content: bytes) -> str | None:
    """RFC 1952 header walk for the optional FNAME field."""
    if len(content) < 10:
        return None
    flags = content[3]
    pos = 10
    if flags & 0x04:  # FEXTRA
        if pos + 2 > len(content):
            return None
        xlen = struct.unpack_from("<H", content, pos)[0]
        pos += 2 + xlen
    if flags & 0x08:  # FNAME
        end = content.find(b"\x00", pos)
        if end > pos:
            return content[pos:end].decode("latin-1")
    return None


#: feed size for the member walk — the warc.py ``_GZ_CHUNK`` treatment
#: (r13/r14): handing the decompressor the WHOLE remaining payload per
#: member materializes the tail again per member (the input slice +
#: ``unused_data``) — O(members × payload) memcpy on multi-member
#: streams. Bounded feeding caps the per-member copy at one chunk;
#: members larger than a chunk just keep streaming.
_FEED_CHUNK = 1 << 16


def _decompress_capped(content: bytes, kind: str, caps: dict) -> bytes:
    """Single-stream decompression with the cap binding on OUTPUT
    bytes — the quantity a bomb inflates. Input is fed in bounded
    ``_FEED_CHUNK`` slices with ``max_length`` set just past the cap, so
    a bomb does at most cap+1 bytes of work before the raise AND a
    multi-member stream costs O(chunk), not O(remaining), of input copy
    per member; concatenated members (valid in all three formats) are
    followed via ``unused_data``. A stream holds at least one member: empty
    or all-zero input raises :class:`ArchiveError`, as a truncated one
    does (the only caller, :func:`expand_archive`, passes input that
    starts with the format's magic, so this binds on direct calls)."""

    def make():
        if kind == "gzip":
            return zlib.decompressobj(wbits=31)
        if kind == "bzip2":
            return bz2.BZ2Decompressor()
        return lzma.LZMADecompressor()

    # the inflated stream may be a tar CONTAINER (headers + padding on
    # top of member bytes), so the stream cap is the TOTAL cap — the
    # per-member cap is applied after the container question is settled
    # (by _expand_tar per member, or by expand_archive for the
    # single-member gzip/bz2/xz form)
    cap = caps["max_total_bytes"]
    out = bytearray()
    mv = memoryview(content)
    n = len(content)
    pos = 0
    try:
        while pos < n:
            if content[pos] == 0:
                # all-zero tail = padding after the last member (the
                # historical strip(b"\x00") contract — C-speed count, no
                # tail copy); zeros followed by garbage fall through to
                # the decompressor, which raises exactly as before
                if content.count(0, pos) == n - pos:
                    break
            obj = make()
            member_start = pos
            while True:
                end = min(pos + _FEED_CHUNK, n)
                out += obj.decompress(mv[pos:end], cap + 1 - len(out))
                if len(out) > cap:
                    raise ArchiveError(f"{kind} stream exceeds cap {cap}")
                # zlib parks input it did not reach in unconsumed_tail
                # (max_length) or unused_data (past end-of-stream);
                # bz2/lzma keep pre-eof input internally and expose only
                # unused_data
                leftover = len(obj.unused_data)
                if kind == "gzip":
                    leftover += len(obj.unconsumed_tail)
                pos = end - leftover
                if obj.eof:
                    break
                if end == n:
                    # input exhausted without end-of-stream
                    raise ArchiveError(f"truncated {kind} stream")
            if pos <= member_start:
                raise ArchiveError(f"{kind} member consumed no bytes")
        if not pos:
            raise ArchiveError(f"empty {kind} stream")
        return bytes(out)
    except (zlib.error, OSError, EOFError, lzma.LZMAError) as exc:
        raise ArchiveError(f"bad {kind} stream: {exc}") from exc


def expand_archive(
    content: bytes,
    max_members: int = DEFAULT_MAX_MEMBERS,
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
    max_total_bytes: int = DEFAULT_MAX_TOTAL_BYTES,
) -> tuple[str, list[tuple[str, bytes]]]:
    """One archive payload → (format, [(member_name, bytes), ...]).

    zip/tar enumerate members directly; gzip/bzip2/xz decompress the
    single stream and, when the result is a tar (the .tar.gz / .tbz2 /
    .txz family), expand it — that one container-in-compressor step is
    part of the format itself, not recursion. Raises
    :class:`ArchiveError` on anything malformed, unsupported, or
    cap-exceeding."""
    caps = {
        "max_members": max_members,
        "max_member_bytes": max_member_bytes,
        "max_total_bytes": max_total_bytes,
    }
    fmt = sniff_archive_format(content)
    if fmt is None:
        raise ArchiveError("not a recognized archive")
    if fmt in ("7z", "rar", "zstd"):
        raise ArchiveError(f"{fmt} archives not supported (no codec here)")
    if fmt == "zip":
        return "zip", _expand_zip(content, caps)
    if fmt == "tar":
        return "tar", _expand_tar(content, caps)
    # compressed single stream
    inner = _decompress_capped(content, fmt, caps)
    if inner[257:262] == b"ustar" or _looks_like_tar(inner):
        return f"tar.{_EXT[fmt]}", _expand_tar(inner, caps)
    # not a container: the whole stream is ONE member, so the
    # per-member cap now binds
    if len(inner) > caps["max_member_bytes"]:
        raise ArchiveError(
            f"member exceeds per-member cap {caps['max_member_bytes']}"
        )
    name = _gzip_member_name(content) if fmt == "gzip" else None
    return fmt, [(name or f"<{fmt}>", inner)]


_EXT = {"gzip": "gz", "bzip2": "bz2", "xz": "xz"}


def _looks_like_tar(data: bytes) -> bool:
    """Pre-POSIX tar has no magic; validate the first header's
    checksum instead of guessing from the name."""
    if len(data) < 512:
        return False
    block = data[:512]
    if not block.strip(b"\x00"):
        return False
    try:
        stored = int(block[148:156].split(b"\x00")[0].strip() or b"-1", 8)
    except ValueError:
        return False
    unsigned = sum(block[:148]) + sum(b" " * 8) + sum(block[156:])
    return stored == unsigned


ARCHIVE_MEMBER_FIELDS = [
    T.StructField("archive_format", T.StringType()),
    T.StructField("member_index", T.IntegerType()),
    T.StructField("member_name", T.StringType()),
    T.StructField("member_bytes", T.BinaryType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("error", T.StringType()),
]


def expand_archives(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    max_members: int = DEFAULT_MAX_MEMBERS,
    max_member_bytes: int = DEFAULT_MAX_MEMBER_BYTES,
    max_total_bytes: int = DEFAULT_MAX_TOTAL_BYTES,
) -> DataFrame:
    """Archive payload rows → member rows, Arrow-batched.

    Output: ``(id, archive_format, member_index, member_name,
    member_bytes, n_bytes, error)``. A payload that fails to expand
    (malformed, unsupported family, cap exceeded, NULL) contributes
    exactly ONE row with ``error`` set and null member fields — the
    funnel-accounting contract shared with
    ``docformats.extract_document_texts``: every input id appears in
    the output, archives with members appear once per member.

    Compose for nested archives by re-filtering member rows on
    ``sniff_archive_format`` and applying this operator again — depth
    is explicit in the plan, bounded by construction.
    """
    import pandas as pd

    out_schema = T.StructType([df.schema[id_col]] + ARCHIVE_MEMBER_FIELDS)
    cols = [f.name for f in out_schema.fields]

    def _expand(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        # columnar accumulation (r13): one list per output column, the
        # warc.py exploder idiom — same rows, same schema
        for pdf in batches:
            out: dict[str, list] = {name: [] for name in cols}
            ap = {name: out[name].append for name in cols}

            def _row(rid, fmt, idx, name, data, nb, err):
                ap[id_col](rid)
                ap["archive_format"](fmt)
                ap["member_index"](idx)
                ap["member_name"](name)
                ap["member_bytes"](data)
                ap["n_bytes"](nb)
                ap["error"](err)

            for rid, raw in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(raw) if raw is not None else b""
                try:
                    fmt, members = expand_archive(
                        blob,
                        max_members=max_members,
                        max_member_bytes=max_member_bytes,
                        max_total_bytes=max_total_bytes,
                    )
                    for idx, (name, data) in enumerate(members):
                        _row(rid, fmt, idx, name, data, len(data), None)
                    if not members:
                        _row(rid, fmt, None, None, None, None,
                             "empty archive")
                except Exception as exc:  # noqa: BLE001 — per-row contract
                    _row(rid, None, None, None, None, None,
                         f"{type(exc).__name__}: {exc}"[:500])
            yield pd.DataFrame(out, columns=cols)

    return df.select(id_col, content_col).mapInPandas(_expand, schema=out_schema)
