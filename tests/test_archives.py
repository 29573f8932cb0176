"""Archive front door: zip/tar/gz/bz2/xz expansion — member parity
with stdlib-built fixtures, the three-cap bomb posture, the one-error-
row funnel contract, and composition with the document front door."""

from __future__ import annotations

import bz2
import gzip
import io
import lzma
import tarfile
import zipfile

import pytest

from sample_dms_kinesis_rds_mariadb_spark.sources.archives import (
    ArchiveError,
    expand_archive,
    expand_archives,
    sniff_archive_format,
)


def make_zip(members: dict[str, bytes], compress=zipfile.ZIP_DEFLATED) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", compression=compress) as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return buf.getvalue()


def make_tar(members: dict[str, bytes], with_dir: bool = False) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        if with_dir:
            d = tarfile.TarInfo("subdir/")
            d.type = tarfile.DIRTYPE
            tf.addfile(d)
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


MEMBERS = {"a.txt": b"alpha " * 10, "docs/b.txt": b"bravo", "c.bin": bytes(range(256))}


def test_sniff_archive_format():
    assert sniff_archive_format(make_zip(MEMBERS)) == "zip"
    assert sniff_archive_format(make_tar(MEMBERS)) == "tar"
    assert sniff_archive_format(gzip.compress(b"x")) == "gzip"
    assert sniff_archive_format(bz2.compress(b"x")) == "bzip2"
    assert sniff_archive_format(lzma.compress(b"x")) == "xz"
    assert sniff_archive_format(b"7z\xbc\xaf\x27\x1cjunk") == "7z"
    assert sniff_archive_format(b"Rar!\x1a\x07") == "rar"
    assert sniff_archive_format(b"\x28\xb5\x2f\xfdzst") == "zstd"
    assert sniff_archive_format(b"plain text") is None
    assert sniff_archive_format(b"") is None


@pytest.mark.parametrize("compress", [zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED])
def test_zip_member_parity(compress):
    fmt, members = expand_archive(make_zip(MEMBERS, compress))
    assert fmt == "zip"
    assert dict(members) == MEMBERS


def test_tar_member_parity_skips_dirs():
    fmt, members = expand_archive(make_tar(MEMBERS, with_dir=True))
    assert fmt == "tar"
    assert dict(members) == MEMBERS


def test_targz_tbz2_txz_one_container_step():
    tar = make_tar(MEMBERS)
    for blob, fmt in ((gzip.compress(tar), "tar.gz"),
                      (bz2.compress(tar), "tar.bz2"),
                      (lzma.compress(tar), "tar.xz")):
        got_fmt, members = expand_archive(blob)
        assert got_fmt == fmt
        assert dict(members) == MEMBERS


def test_plain_gzip_single_member_with_fname():
    buf = io.BytesIO()
    with gzip.GzipFile(filename="report.csv", fileobj=buf, mode="wb",
                       mtime=0) as gz:
        gz.write(b"x,y\n1,2\n")
    fmt, members = expand_archive(buf.getvalue())
    assert fmt == "gzip"
    assert members == [("report.csv", b"x,y\n1,2\n")]
    # no FNAME -> placeholder name
    fmt, members = expand_archive(gzip.compress(b"payload"))
    assert members == [("<gzip>", b"payload")]


def test_concatenated_gzip_members_are_followed():
    blob = gzip.compress(b"first|") + gzip.compress(b"second")
    fmt, members = expand_archive(blob)
    assert members[0][1] == b"first|second"


def test_nested_archives_are_not_recursed():
    inner_zip = make_zip({"deep.txt": b"deep"})
    fmt, members = expand_archive(make_zip({"inner.zip": inner_zip}))
    assert members == [("inner.zip", inner_zip)]
    # ... and the member itself expands on a second composition step
    fmt2, inner_members = expand_archive(members[0][1])
    assert (fmt2, dict(inner_members)) == ("zip", {"deep.txt": b"deep"})


def test_member_count_cap():
    blob = make_zip({f"f{i}.txt": b"x" for i in range(20)})
    with pytest.raises(ArchiveError, match="member count"):
        expand_archive(blob, max_members=10)


def test_member_size_cap_binds_on_inflated_bytes():
    bomb = make_zip({"bomb.bin": b"\x00" * 1_000_000})  # ~1 KB compressed
    assert len(bomb) < 5000
    with pytest.raises(ArchiveError, match="cap"):
        expand_archive(bomb, max_member_bytes=64 * 1024)


def test_lying_zip_header_is_caught_during_inflation():
    blob = bytearray(make_zip({"a.bin": b"\x00" * 100_000}, zipfile.ZIP_DEFLATED))
    # forge the central-directory + local uncompressed-size fields to a
    # tiny claim so the pre-inflation gate passes
    import struct

    for sig in (b"PK\x03\x04", b"PK\x01\x02"):
        at = blob.find(sig)
        off = at + (22 if sig == b"PK\x03\x04" else 24)
        blob[off : off + 4] = struct.pack("<I", 10)
    with pytest.raises(ArchiveError):
        expand_archive(bytes(blob), max_member_bytes=64 * 1024)


def test_total_cap_across_members():
    blob = make_zip({f"m{i}": b"y" * 600 for i in range(4)})
    with pytest.raises(ArchiveError, match="total cap"):
        expand_archive(blob, max_total_bytes=2000)


def test_gzip_bomb_capped():
    bomb = gzip.compress(b"\x00" * 5_000_000)
    with pytest.raises(ArchiveError, match="exceeds cap"):
        expand_archive(bomb, max_member_bytes=1024, max_total_bytes=1024)


def test_truncated_and_unsupported_raise_precisely():
    with pytest.raises(ArchiveError, match="truncated gzip"):
        expand_archive(gzip.compress(b"hello world" * 100)[:-8])
    with pytest.raises(ArchiveError, match="7z archives not supported"):
        expand_archive(b"7z\xbc\xaf\x27\x1c" + b"\x00" * 40)
    with pytest.raises(ArchiveError, match="not a recognized archive"):
        expand_archive(b"just some text, definitely not an archive")
    with pytest.raises(ArchiveError, match="bad zip"):
        expand_archive(b"PK\x03\x04" + b"\xff" * 40)


def test_expand_archives_dataframe_contract(spark):
    rows = [
        (1, bytearray(make_zip(MEMBERS))),
        (2, bytearray(make_tar({"t.txt": b"tar member"}))),
        (3, bytearray(gzip.compress(make_tar({"g.txt": b"gz tar"})))),
        (4, bytearray(b"not an archive at all")),
        (5, None),
        (6, bytearray(make_zip({}))),  # empty archive
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = expand_archives(df).collect()
    by_id: dict[int, list] = {}
    for r in out:
        by_id.setdefault(r["doc_id"], []).append(r)
    # funnel contract: every input id appears
    assert set(by_id) == {1, 2, 3, 4, 5, 6}
    assert {r["member_name"]: bytes(r["member_bytes"]) for r in by_id[1]} == MEMBERS
    assert all(r["error"] is None for r in by_id[1])
    assert by_id[2][0]["archive_format"] == "tar"
    assert by_id[3][0]["archive_format"] == "tar.gz"
    assert by_id[3][0]["n_bytes"] == len(b"gz tar")
    for bad in (4, 5):
        (row,) = by_id[bad]
        assert row["error"] is not None and row["member_bytes"] is None
    (empty,) = by_id[6]
    assert empty["error"] == "empty archive" and empty["archive_format"] == "zip"


def test_archive_members_compose_with_document_front_door(spark):
    from sample_dms_kinesis_rds_mariadb_spark.sources.docformats import (
        route_document_texts,
    )

    zip_blob = make_zip({
        "page.html": b"<html><body><p>hello from the archive</p></body></html>",
        "note.rtf": b"{\\rtf1\\ansi archived rtf text}",
    })
    df = spark.createDataFrame([(7, bytearray(zip_blob))],
                               "doc_id long, content binary")
    members = expand_archives(df).filter("error IS NULL").select(
        "doc_id", "member_name", "member_bytes"
    )
    texts = route_document_texts(
        members.withColumnRenamed("member_bytes", "content"),
        id_col="member_name",
    )
    got = {r["member_name"]: (r["format"], r["text"]) for r in texts.collect()}
    assert got["page.html"][0] == "html"
    assert "hello from the archive" in got["page.html"][1]
    assert got["note.rtf"] == ("rtf", "archived rtf text")


def test_expand_archives_streaming_duality(spark, tmp_path):
    """expand_archives is a stateless Arrow pass, so it must run
    unchanged on a streaming DataFrame — one member row per archive
    member per micro-batch, errors funneled identically."""
    import gzip as _gz

    src = tmp_path / "stream_src"
    src.mkdir()
    blob1 = make_zip({"a.txt": b"alpha", "b.txt": b"bravo"})
    blob2 = _gz.compress(make_tar({"c.txt": b"charlie"}))
    df = spark.createDataFrame(
        [(1, bytearray(blob1)), (2, bytearray(blob2)), (3, bytearray(b"junk"))],
        "doc_id long, content binary",
    )
    df.write.mode("overwrite").parquet(str(src))
    out_dir = tmp_path / "out"
    stream = (
        spark.readStream.schema("doc_id long, content binary")
        .parquet(str(src))
    )
    q = (
        expand_archives(stream)
        .writeStream.format("parquet")
        .option("path", str(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(out_dir)).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["doc_id"], []).append(r)
    assert {r["member_name"] for r in by_id[1]} == {"a.txt", "b.txt"}
    assert by_id[2][0]["archive_format"] == "tar.gz"
    assert by_id[3][0]["error"] is not None


def test_targz_mid_size_container_not_bound_by_member_cap():
    """Review fix: the inflated stream of a .tar.gz is a CONTAINER, so
    the per-member cap must bind per member AFTER tar expansion, not on
    the whole stream — a tar.gz whose members each fit the member cap
    expands even when the container exceeds it."""
    import gzip as _gz

    members = {f"m{i}.bin": bytes([i]) * 200_000 for i in range(8)}
    tar = make_tar(members)  # ~1.6 MB container
    fmt, got = expand_archive(_gz.compress(tar), max_member_bytes=300_000,
                              max_total_bytes=4_000_000)
    assert fmt == "tar.gz" and len(got) == 8
    # ... while a plain-gzip single member that size still raises
    with pytest.raises(ArchiveError, match="per-member cap"):
        expand_archive(_gz.compress(b"\x01" * 500_000),
                       max_member_bytes=300_000, max_total_bytes=4_000_000)
    # and the TOTAL cap still binds the container itself
    with pytest.raises(ArchiveError, match="exceeds cap"):
        expand_archive(_gz.compress(tar), max_member_bytes=300_000,
                       max_total_bytes=1_000_000)


def test_encrypted_zip_member_is_archive_error():
    """stdlib zipfile raises RuntimeError for encrypted members — the
    operator's contract is ONE exception type (ArchiveError)."""
    import struct

    data = b"secret"
    name = b"locked.txt"
    # a stored member with the encryption general-purpose bit set
    lfh = (b"PK\x03\x04" + struct.pack("<HHHHH", 20, 0x0001, 0, 0, 0)
           + struct.pack("<IIIHH", 0, len(data), len(data), len(name), 0)
           + name + data)
    cd = (b"PK\x01\x02" + struct.pack("<HHHHHH", 20, 20, 0x0001, 0, 0, 0)
          + struct.pack("<IIIHHHHHII", 0, len(data), len(data), len(name),
                        0, 0, 0, 0, 0, 0) + name)
    eocd = b"PK\x05\x06" + struct.pack("<HHHHIIH", 0, 0, 1, 1, len(cd),
                                       len(lfh), 0)
    with pytest.raises(ArchiveError, match="encrypted zip member"):
        expand_archive(lfh + cd + eocd)


def test_zip64_and_long_tar_names():
    """zip64 members and GNU/PAX long tar names expand transparently
    (stdlib handles both; this pins the behavior)."""
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        info = zipfile.ZipInfo("big.bin")
        with zf.open(info, "w", force_zip64=True) as fh:
            fh.write(b"z" * 1000)
    fmt, members = expand_archive(buf.getvalue())
    assert members == [("big.bin", b"z" * 1000)]
    long_name = "deep/" * 40 + "leaf.txt"  # > 100 chars: needs PAX/GNU
    assert len(long_name) > 100
    fmt, members = expand_archive(make_tar({long_name: b"x"}))
    assert members == [(long_name, b"x")]


def test_decompress_capped_chunked_walk():
    """The bounded-feed member walk (r14 — the warc _GZ_CHUNK treatment,
    O(chunk) input copies per member instead of O(remaining payload))
    across the shapes the chunking can get wrong: a member whose
    COMPRESSED size exceeds the feed chunk, many tiny members, an
    all-zero padding tail, zeros-then-garbage, and mid-member
    truncation. Output bytes and error contracts must match the
    pre-chunking behavior exactly."""
    import random

    from sample_dms_kinesis_rds_mariadb_spark.sources import archives as am

    caps = {
        "max_members": 10_000,
        "max_member_bytes": 64 * 1024 * 1024,
        "max_total_bytes": 256 * 1024 * 1024,
    }
    chunk = am._FEED_CHUNK
    rng = random.Random(13)
    big = bytes(rng.randrange(256) for _ in range(3 * chunk))  # incompressible
    small = [f"member {i}".encode() for i in range(40)]
    members = [gzip.compress(big)] + [gzip.compress(s) for s in small]
    assert len(members[0]) > chunk  # really multi-chunk
    blob = b"".join(members)
    assert am._decompress_capped(blob, "gzip", caps) == big + b"".join(small)

    # all-zero padding tail after the last member (the strip contract)
    assert (
        am._decompress_capped(blob + b"\x00" * (2 * chunk + 17), "gzip", caps)
        == big + b"".join(small)
    )
    # zeros followed by garbage still raise a bad-stream error
    with pytest.raises(ArchiveError, match="bad gzip"):
        am._decompress_capped(blob + b"\x00" * 100 + b"junk", "gzip", caps)
    # nonzero trailing garbage raises as before
    with pytest.raises(ArchiveError, match="bad gzip"):
        am._decompress_capped(blob + b"garbage", "gzip", caps)
    # truncation mid-member (inside a late chunk of the big member)
    with pytest.raises(ArchiveError, match="truncated gzip"):
        am._decompress_capped(members[0][: chunk + 100], "gzip", caps)

    # bz2 and xz take the same walk (internal pending-input path)
    big2 = bytes(rng.randrange(256) for _ in range(2 * chunk))
    bz = bz2.compress(big2) + bz2.compress(b"tail-bz")
    assert am._decompress_capped(bz, "bzip2", caps) == big2 + b"tail-bz"
    xz = lzma.compress(big2) + lzma.compress(b"tail-xz")
    assert am._decompress_capped(xz, "xz", caps) == big2 + b"tail-xz"

    # the output cap still binds mid-walk
    tight = dict(caps, max_total_bytes=1024)
    with pytest.raises(ArchiveError, match="exceeds cap"):
        am._decompress_capped(blob, "gzip", tight)


@pytest.mark.parametrize("kind", ["gzip", "bzip2", "xz"])
@pytest.mark.parametrize("content", [b"", b"\x00" * 600], ids=["empty", "all-zero"])
def test_decompress_capped_without_a_member_raises(kind, content):
    """A compressed stream holds at least one member: empty and all-zero
    input raise instead of decoding to no bytes, as they did before the
    chunked walk; zeros after a member stay padding."""
    from sample_dms_kinesis_rds_mariadb_spark.sources import archives as am

    caps = {"max_members": 10, "max_member_bytes": 1 << 20, "max_total_bytes": 1 << 20}
    with pytest.raises(ArchiveError, match=f"empty {kind} stream"):
        am._decompress_capped(content, kind, caps)
    compress = {"gzip": gzip.compress, "bzip2": bz2.compress, "xz": lzma.compress}[kind]
    assert am._decompress_capped(compress(b"x") + content, kind, caps) == b"x"
