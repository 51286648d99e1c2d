"""WARC/gzip ingest — the Common Crawl front door: crawl dumps ship
as multi-member gzip streams where EACH WARC record is its own gzip
member (the random-access framing every WET/WARC consumer relies on),
and each member holds one WARC/1.0 record: a CRLF header block, a
blank line, ``Content-Length`` octets of block, and a CRLF CRLF
record separator.

Both layers are REAL here: the gzip walk parses member headers
field-by-field (magic, CM, the FLG optional fields FEXTRA/FNAME/
FCOMMENT/FHCRC in spec order) and verifies each member's CRC32 and
ISIZE trailer against the inflated payload (stdlib ``zlib`` does the
inflate — the ``encode_png`` convention: the CONTAINER logic is the
operator's job, the entropy coder is the library's); the WARC walk
parses the version line and header grammar and enforces the
Content-Length framing. Reference: RFC 1952 (gzip), ISO 28500 (WARC).

``warc_stats`` is a row function run through ``multimodal.map_blobs``
— the media stage shape and its skip contract; partition sizing is
``spark.sql.files.maxPartitionBytes``'s job.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame

from .multimodal import map_blobs

__all__ = [
    "split_gzip_members", "parse_warc_record", "encode_warc_gz",
    "warc_stats",
]


def split_gzip_members(blob: bytes) -> list[bytes]:
    """Walk a multi-member gzip stream (RFC 1952): per member, parse
    the 10-byte header, skip the optional FEXTRA/FNAME/FCOMMENT/FHCRC
    fields in spec order, inflate the deflate body, and VERIFY the
    CRC32 + ISIZE trailer (a member whose payload doesn't match its
    own trailer is corruption, not data). Returns the decompressed
    payloads in stream order. Raises ValueError on structural damage;
    zlib.error from a cut deflate body passes through (both are in
    DECODE_ERRORS)."""
    b = bytes(blob) if blob is not None else b""
    if len(b) < 18:
        raise ValueError("not gzip: short stream")
    out: list[bytes] = []
    i = 0
    while i < len(b):
        if i + 10 > len(b):
            raise ValueError("not gzip: truncated member header")
        if b[i:i + 2] != b"\x1f\x8b":
            raise ValueError(f"not gzip: bad magic at {i}")
        cm, flg = b[i + 2], b[i + 3]
        if cm != 8:
            raise ValueError(f"not gzip: compression method {cm}")
        if flg & 0xE0:
            raise ValueError(f"not gzip: reserved FLG bits {flg:#x}")
        j = i + 10
        if flg & 0x04:                      # FEXTRA
            if j + 2 > len(b):
                raise ValueError("not gzip: truncated FEXTRA")
            (xlen,) = struct.unpack_from("<H", b, j)
            j += 2 + xlen
        for bit in (0x08, 0x10):            # FNAME, FCOMMENT
            if flg & bit:
                end = b.find(b"\x00", j)
                if end < 0:
                    raise ValueError("not gzip: unterminated name")
                j = end + 1
        if flg & 0x02:                      # FHCRC
            j += 2
        if j > len(b):
            raise ValueError("not gzip: header past end")
        d = zlib.decompressobj(wbits=-15)
        payload = d.decompress(b[j:])
        if not d.eof:
            raise ValueError("not gzip: truncated deflate body")
        trailer_at = len(b) - len(d.unused_data)
        if trailer_at + 8 > len(b):
            raise ValueError("not gzip: truncated trailer")
        crc, isize = struct.unpack_from("<II", b, trailer_at)
        if crc != (zlib.crc32(payload) & 0xFFFFFFFF):
            raise ValueError("not gzip: member CRC mismatch")
        if isize != (len(payload) & 0xFFFFFFFF):
            raise ValueError("not gzip: member ISIZE mismatch")
        out.append(payload)
        i = trailer_at + 8
    return out


def parse_warc_record(payload: bytes) -> tuple[dict, bytes]:
    """Parse ONE WARC/1.0 record (ISO 28500): the ``WARC/1.0`` version
    line, CRLF-separated ``Name: value`` headers to the first blank
    line, exactly ``Content-Length`` octets of block, and the CRLF
    CRLF record separator. Returns ``(headers, block)`` with header
    names case-normalized to lower. Raises ValueError on grammar or
    framing violations (bad version, malformed header line, missing
    Content-Length, short block, missing separator, trailing bytes —
    one member frames ONE record in the crawl layout)."""
    if not payload.startswith(b"WARC/1.0\r\n"):
        raise ValueError("not WARC: bad version line")
    head_end = payload.find(b"\r\n\r\n")
    if head_end < 0:
        raise ValueError("not WARC: unterminated header block")
    headers: dict[str, str] = {}
    for line in payload[10:head_end].split(b"\r\n"):
        name, sep, val = line.partition(b":")
        if not sep or not name.strip():
            raise ValueError(f"not WARC: malformed header {line!r}")
        headers[name.strip().decode("ascii", "replace").lower()] = \
            val.strip().decode("utf-8", "replace")
    if "content-length" not in headers:
        raise ValueError("not WARC: missing Content-Length")
    try:
        clen = int(headers["content-length"])
    except ValueError:
        raise ValueError("not WARC: non-integer Content-Length")
    if clen < 0:
        # a negative length would slice an empty block and let the
        # header bytes double as the separator (r14 self-review)
        raise ValueError("not WARC: negative Content-Length")
    block_at = head_end + 4
    if block_at + clen > len(payload):
        raise ValueError("not WARC: block shorter than Content-Length")
    block = payload[block_at:block_at + clen]
    tail = payload[block_at + clen:]
    if tail != b"\r\n\r\n":
        raise ValueError(
            "not WARC: record must end with CRLF CRLF "
            f"(got {tail[:8]!r})")
    return headers, block


def encode_warc_gz(
    doc_id: int, n_records: int, seed: int = 0,
) -> bytes:
    """Deterministic crawl-layout fixture: ``n_records`` WARC/1.0
    records, EACH compressed as its own gzip member (the Common Crawl
    framing), with rotating record types and closed-form block bytes
    ``(seed + 7·i) mod 95 + 32`` (printable ASCII) the oracle replays
    as integer sums. Every third member carries an FNAME field so the
    optional-header path is exercised."""
    types = ("response", "request", "metadata")
    members = []
    for r in range(n_records):
        s = seed + 11 * r
        blen = 20 + (seed + 3 * r) % 40
        block = bytes((s + 7 * i) % 95 + 32 for i in range(blen))
        rec = (
            b"WARC/1.0\r\n"
            + f"WARC-Type: {types[r % 3]}\r\n".encode()
            + f"WARC-Target-URI: http://ex.test/{doc_id}/{r}\r\n".encode()
            + f"WARC-Record-ID: <urn:uuid:{doc_id:08d}-{r:04d}>\r\n".encode()
            + f"Content-Length: {blen}\r\n".encode()
            + b"\r\n" + block + b"\r\n\r\n")
        raw = zlib.compress(rec, 6)[2:-4]   # strip zlib wrapper
        flg, name = (0x08, f"rec{r}.warc\x00".encode()) \
            if r % 3 == 0 else (0x00, b"")
        member = (b"\x1f\x8b\x08" + bytes([flg]) + b"\x00\x00\x00\x00"
                  + b"\x00\xff" + name + raw
                  + struct.pack("<II", zlib.crc32(rec) & 0xFFFFFFFF,
                                len(rec) & 0xFFFFFFFF))
        members.append(member)
    return b"".join(members)


WARC_STATS_SCHEMA = (
    "path string, rec_idx int, warc_type string, target_uri string, "
    "content_length long, block_sum long, n_headers int"
)


def warc_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-RECORD statistics over crawl-layout blobs: gzip members
    walked and CRC-verified, each member's WARC record parsed, one
    row per record in stream order (the ``ico_stats`` container
    shape). Undecodable FILES skip whole — a stream whose framing is
    broken cannot be trusted past the break. ``block_sum`` hash-checks
    the member boundaries, inflate, Content-Length framing, and header
    grammar together."""

    def rows(blob: bytes):
        return [
            (idx, hdr.get("warc-type"), hdr.get("warc-target-uri"),
             len(block), sum(block), len(hdr))
            for idx, (hdr, block) in enumerate(
                parse_warc_record(p) for p in split_gzip_members(blob))
        ]

    return map_blobs(df, rows, WARC_STATS_SCHEMA, content_col, path_col)
