"""ZIP archive ingest — the other ubiquitous container a data
pipeline meets (datasets ship as .zip at least as often as .tar.gz):
a REAL central-directory walk per the PKWARE APPNOTE layout. The
End-of-Central-Directory record is found by scanning BACK from the
end (its variable-length comment means there is no fixed position —
the part naive parsers skip), each central entry is parsed and then
CROSS-VALIDATED against its local file header (the two headers are
redundant by design; disagreement is corruption or a zip-slip-style
smuggle), entry payloads are decompressed (stored or deflate — the
only two methods that matter in practice) and VERIFIED against the
recorded CRC32 and uncompressed size.

Every ``*_stats`` stage here is a row function run through
``multimodal.map_blobs`` — the media stage shape and its skip contract.
Reference: PKWARE APPNOTE.TXT 4.3 (public spec).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame

from .multimodal import map_blobs

__all__ = [
    "list_zip_entries", "encode_zip", "zip_stats",
    "list_tar_entries", "encode_tar_gz", "targz_stats",
    "crc32c", "list_tfrecords", "encode_tfrecords", "tfrecord_stats",
    "parse_proto_fields", "encode_proto_message", "proto_stats",
    "list_avro_blocks", "encode_avro_ocf", "avro_stats",
    "parse_msgpack", "encode_msgpack_doc", "msgpack_stats",
]

_EOCD_SIG = b"PK\x05\x06"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"


def list_zip_entries(blob: bytes) -> list[tuple[str, int, int, bytes]]:
    """Walk a ZIP archive: EOCD scan-back (up to the spec's 64 KiB
    max comment), central-directory entry parse, local-header
    cross-validation (name and method must agree), payload inflate
    (method 0 stored / 8 deflate), CRC32 + size verification.
    Returns ``(name, method, comp_size, payload)`` per entry in
    central-directory order. Raises ValueError on structural damage
    and NotImplementedError on honest unsupported shapes (other
    methods, encryption, zip64, multi-disk)."""
    b = bytes(blob) if blob is not None else b""
    if len(b) < 22:
        raise ValueError("not a ZIP: short blob")
    # scan BACK for the EOCD, iterating PAST signature bytes that
    # merely appear inside the archive comment (comments are
    # arbitrary bytes — a single rfind would latch onto them and
    # reject a spec-valid archive; r14 self-review): the real EOCD
    # is the candidate whose comment length reaches end-of-file
    scan_from = max(0, len(b) - 22 - 65535)
    at = b.rfind(_EOCD_SIG, scan_from)
    while at >= 0:
        if at + 22 <= len(b):
            (cl,) = struct.unpack_from("<H", b, at + 20)
            if at + 22 + cl == len(b):
                break
        at = b.rfind(_EOCD_SIG, scan_from, at)
    if at < 0:
        raise ValueError("not a ZIP: no end-of-central-directory")
    (disk, cd_disk, n_disk, n_total, cd_size, cd_off,
     comment_len) = struct.unpack_from("<HHHHIIH", b, at + 4)
    if disk != 0 or cd_disk != 0 or n_disk != n_total:
        raise NotImplementedError("multi-disk ZIP unsupported")
    if cd_off + cd_size > at:
        raise ValueError("not a ZIP: central directory out of bounds")
    out = []
    p = cd_off
    for _ in range(n_total):
        if b[p:p + 4] != _CEN_SIG:
            raise ValueError("not a ZIP: bad central entry signature")
        (_vmade, _vneed, flags, method, _t, _d, crc, csize, usize,
         nlen, xlen, clen, _dstart, _iattr, _eattr, loc_off
         ) = struct.unpack_from("<HHHHHHIIIHHHHHII", b, p + 4)
        if flags & 0x0001:
            raise NotImplementedError("encrypted ZIP entry")
        if method not in (0, 8):
            raise NotImplementedError(
                f"ZIP compression method {method} unsupported")
        if usize == 0xFFFFFFFF or csize == 0xFFFFFFFF:
            raise NotImplementedError("zip64 unsupported")
        name = b[p + 46:p + 46 + nlen].decode("utf-8", "replace")
        p += 46 + nlen + xlen + clen
        # cross-validate against the local header (redundant by
        # design — disagreement is corruption or a smuggled payload)
        if b[loc_off:loc_off + 4] != _LOC_SIG:
            raise ValueError("not a ZIP: bad local header signature")
        (_lv, _lf, lmethod, _lt, _ld, _lcrc, _lcs, _lus, lnlen, lxlen
         ) = struct.unpack_from("<HHHHHIIIHH", b, loc_off + 4)
        lname = b[loc_off + 30:loc_off + 30 + lnlen].decode(
            "utf-8", "replace")
        if lname != name or lmethod != method:
            raise ValueError(
                f"not a ZIP: local/central disagree on {name!r}")
        data_at = loc_off + 30 + lnlen + lxlen
        if data_at + csize > len(b):
            raise ValueError("not a ZIP: entry data out of bounds")
        raw = b[data_at:data_at + csize]
        payload = raw if method == 0 else zlib.decompress(raw, -15)
        if len(payload) != usize:
            raise ValueError(
                f"not a ZIP: {name!r} inflates to {len(payload)}B, "
                f"directory says {usize}B")
        if (zlib.crc32(payload) & 0xFFFFFFFF) != crc:
            raise ValueError(f"not a ZIP: CRC mismatch on {name!r}")
        out.append((name, method, csize, payload))
    return out


def encode_zip(
    doc_id: int, n_entries: int, seed: int = 0, comment: bool = True,
) -> bytes:
    """Deterministic ZIP fixture: ``n_entries`` members with
    closed-form payload bytes ``(seed + 11·e + 7·i) mod 95 + 32``,
    alternating stored/deflate methods, plus an archive comment so
    the EOCD scan-back path is always exercised."""
    locs, cens = [], []
    at = 0
    body = b""
    for e in range(n_entries):
        s = seed + 11 * e
        plen = 16 + (seed + 5 * e) % 48
        payload = bytes((s + 7 * i) % 95 + 32 for i in range(plen))
        method = 8 if e % 2 else 0
        data = (zlib.compress(payload, 6)[2:-4] if method == 8
                else payload)
        name = f"doc{doc_id}/part{e}.txt".encode()
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        loc = (_LOC_SIG + struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0, crc, len(data),
            plen, len(name), 0) + name + data)
        cens.append((name, method, crc, len(data), plen, at))
        body += loc
        at += len(loc)
    cd_off = at
    cd = b""
    for name, method, crc, csize, usize, loc_off in cens:
        cd += (_CEN_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0, crc,
            csize, usize, len(name), 0, 0, 0, 0, 0, loc_off) + name)
    cmt = f"fixture {doc_id}".encode() if comment else b""
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(cens), len(cens), len(cd), cd_off,
        len(cmt)) + cmt
    return body + cd + eocd


ZIP_STATS_SCHEMA = (
    "path string, entry_idx int, name string, method int, "
    "comp_size long, uncomp_size long, byte_sum long"
)


def zip_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-ENTRY statistics over ZIP blobs (the ``ico_stats``
    container shape); undecodable ARCHIVES skip whole (an archive
    whose directory or CRCs lie cannot be trusted). ``byte_sum``
    hash-checks the EOCD scan-back, directory walk, local
    cross-validation, and both decompression methods."""

    def rows(blob: bytes):
        return [
            (idx, name, method, csize, len(payload), sum(payload))
            for idx, (name, method, csize, payload)
            in enumerate(list_zip_entries(blob))
        ]

    return map_blobs(df, rows, ZIP_STATS_SCHEMA, content_col, path_col)


def list_tar_entries(blob: bytes) -> list[tuple[str, int, int, bytes]]:
    """Walk a POSIX ustar TAR stream: 512-byte headers with octal
    size fields, the header CHECKSUM verified (sum of header bytes
    with the checksum field read as spaces — the spec's self-check
    naive parsers skip), 512-padded payloads, regular-file ('0' or
    NUL) and directory ('5') typeflags, the ustar prefix field
    joined onto long names, and the two-zero-block terminator.
    Returns ``(name, typeflag, size, payload)`` per entry. Raises
    ValueError on structural damage and NotImplementedError on
    honest unsupported typeflags (links, PAX/GNU extensions)."""
    b = bytes(blob) if blob is not None else b""
    if len(b) < 1024 or len(b) % 512:
        raise ValueError("not a TAR: size not a 512 multiple (>=1024)")
    out = []
    at = 0
    while at + 512 <= len(b):
        hdr = b[at:at + 512]
        if hdr == b"\x00" * 512:
            if b[at + 512:at + 1024] != b"\x00" * 512:
                raise ValueError("not a TAR: lone terminator block")
            return out
        if hdr[257:263] != b"ustar\x00" and hdr[257:263] != b"ustar ":
            raise ValueError(
                f"not a TAR: bad ustar magic {hdr[257:263]!r}")

        def octal(fld: bytes) -> int:
            t = fld.split(b"\x00", 1)[0].strip()
            if not t:
                return 0
            try:
                return int(t, 8)
            except ValueError:
                raise ValueError(f"not a TAR: bad octal field {fld!r}")

        recorded = octal(hdr[148:156])
        actual = sum(hdr[:148]) + 8 * 32 + sum(hdr[156:])
        if recorded != actual:
            raise ValueError(
                f"not a TAR: header checksum {recorded} != {actual}")
        typeflag = chr(hdr[156]) if hdr[156] else "0"
        if typeflag not in ("0", "5"):
            raise NotImplementedError(
                f"TAR typeflag {typeflag!r} unsupported "
                "(links/PAX/GNU extensions)")
        name = hdr[:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        prefix = hdr[345:500].split(b"\x00", 1)[0].decode(
            "utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        size = octal(hdr[124:136])
        data_at = at + 512
        if data_at + size > len(b):
            raise ValueError("not a TAR: entry data out of bounds")
        payload = b[data_at:data_at + size]
        out.append((name, ord(typeflag) - 48, size, payload))
        at = data_at + (size + 511) // 512 * 512
    raise ValueError("not a TAR: missing terminator blocks")


def encode_tar_gz(
    doc_id: int, n_files: int, seed: int = 0,
) -> bytes:
    """Deterministic .tar.gz fixture: a leading directory entry plus
    ``n_files`` regular files with closed-form payload bytes
    ``(seed + 11·e + 7·i) mod 95 + 32``, correct octal fields and
    header checksums, the whole stream gzip-compressed as ONE member
    — decoding COMPOSES :func:`~puffbird_spark.operators.warc.
    split_gzip_members` with :func:`list_tar_entries` (the actual
    dataset-shipping format)."""

    def header(name: str, size: int, typeflag: bytes) -> bytes:
        h = bytearray(512)
        nb = name.encode()
        h[0:len(nb)] = nb
        h[100:108] = b"0000644\x00"
        h[108:116] = b"0000000\x00"
        h[116:124] = b"0000000\x00"
        h[124:136] = f"{size:011o}\x00".encode()
        h[136:148] = b"00000000000\x00"
        h[148:156] = b" " * 8
        h[156] = typeflag[0]
        h[257:263] = b"ustar\x00"
        h[263:265] = b"00"
        csum = sum(h)
        h[148:156] = f"{csum:06o}\x00 ".encode()
        return bytes(h)

    body = header(f"doc{doc_id}/", 0, b"5")
    for e in range(n_files):
        s = seed + 11 * e
        plen = 16 + (seed + 5 * e) % 48
        payload = bytes((s + 7 * i) % 95 + 32 for i in range(plen))
        body += header(f"doc{doc_id}/file{e}.txt", plen, b"0")
        body += payload + b"\x00" * ((512 - plen % 512) % 512)
    body += b"\x00" * 1024
    comp = zlib.compress(body, 6)[2:-4]
    return (b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff" + comp
            + struct.pack("<II", zlib.crc32(body) & 0xFFFFFFFF,
                          len(body) & 0xFFFFFFFF))


TAR_STATS_SCHEMA = (
    "path string, entry_idx int, name string, typeflag int, "
    "size long, byte_sum long"
)


def targz_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-entry statistics over .tar.gz blobs — COMPOSES the gzip
    member walk (CRC-verified inflate) with the ustar walk
    (checksum-verified headers), the genuine two-layer ingest every
    dataset tarball needs; same container shape and whole-file skip
    as ``zip_stats``."""
    from .warc import split_gzip_members

    def rows(blob: bytes):
        stream = b"".join(split_gzip_members(blob))
        return [
            (idx, name, tf, size, sum(payload))
            for idx, (name, tf, size, payload)
            in enumerate(list_tar_entries(stream))
        ]

    return map_blobs(df, rows, TAR_STATS_SCHEMA, content_col, path_col)


#: CRC-32C (Castagnoli, reflected poly 0x82F63B78) lookup table —
#: built once at import; the TFRecord framing masks this CRC, not
#: zlib's CRC-32 (different polynomial — using zlib.crc32 here is
#: the classic wrong-checksum bug)
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ (0x82F63B78 if _c & 1 else 0)
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C (Castagnoli) — table-driven, RFC 3720 §B.4 polynomial.
    Distinct from zlib's CRC-32 (0xEDB88320); TFRecord and iSCSI use
    THIS one."""
    crc ^= 0xFFFFFFFF
    for byte in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ byte) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _tfrecord_mask(crc: int) -> int:
    """TFRecord's masked CRC: rotate right 15 then add the magic
    delta (the framing spec's exact transform)."""
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def list_tfrecords(blob: bytes) -> list[bytes]:
    """Walk a TFRecord stream (the TensorFlow training-data shipping
    format): per record, an 8-byte little-endian length, the MASKED
    CRC-32C of those length bytes, ``length`` payload bytes, and the
    masked CRC-32C of the payload — BOTH checksums verified with the
    real Castagnoli polynomial (zlib's CRC-32 is a different
    polynomial; confusing them is the classic silent corruption
    hole). Returns payloads in stream order. Raises ValueError on
    truncation or checksum mismatch."""
    b = bytes(blob) if blob is not None else b""
    out = []
    i = 0
    while i < len(b):
        if i + 12 > len(b):
            raise ValueError("not TFRecord: truncated length header")
        length_bytes = b[i:i + 8]
        (length,) = struct.unpack("<Q", length_bytes)
        (len_crc,) = struct.unpack_from("<I", b, i + 8)
        if len_crc != _tfrecord_mask(crc32c(length_bytes)):
            raise ValueError("not TFRecord: length CRC mismatch")
        if length > len(b):
            raise ValueError("not TFRecord: implausible record length")
        data_at = i + 12
        if data_at + length + 4 > len(b):
            raise ValueError("not TFRecord: truncated record data")
        payload = b[data_at:data_at + length]
        (data_crc,) = struct.unpack_from("<I", b, data_at + length)
        if data_crc != _tfrecord_mask(crc32c(payload)):
            raise ValueError("not TFRecord: data CRC mismatch")
        out.append(payload)
        i = data_at + length + 4
    return out


def encode_tfrecords(
    doc_id: int, n_records: int, seed: int = 0,
) -> bytes:
    """Deterministic TFRecord fixture: ``n_records`` records with
    closed-form payload bytes ``(seed + 11·r + 7·i) mod 251`` and
    correct masked CRC-32C framing."""
    out = b""
    for r in range(n_records):
        s = seed + 11 * r
        plen = 24 + (seed + 5 * r) % 56
        payload = bytes((s + 7 * i) % 251 for i in range(plen))
        length_bytes = struct.pack("<Q", plen)
        out += (length_bytes
                + struct.pack("<I", _tfrecord_mask(crc32c(length_bytes)))
                + payload
                + struct.pack("<I", _tfrecord_mask(crc32c(payload))))
    return out


TFRECORD_STATS_SCHEMA = (
    "path string, rec_idx int, length long, byte_sum long"
)


def tfrecord_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-record statistics over TFRecord streams: both masked
    CRC-32C checksums verified per record, one row per record in
    stream order; undecodable STREAMS skip whole (a framing break
    poisons everything after it). Same container shape as
    ``zip_stats``."""

    def rows(blob: bytes):
        return [
            (idx, len(payload), sum(payload))
            for idx, payload in enumerate(list_tfrecords(blob))
        ]

    return map_blobs(df, rows, TFRECORD_STATS_SCHEMA, content_col, path_col)


def parse_proto_fields(blob: bytes) -> list[tuple[int, int, int, bytes]]:
    """Schema-free structural walk of a protobuf wire-format message
    (the protoscope shape — what a TFRecord payload actually holds):
    per field, the tag varint splits into (field_number, wire_type);
    type 0 reads a varint (with real multi-byte continuation), type 1
    a fixed 64-bit, type 5 a fixed 32-bit, type 2 a length-delimited
    payload; the deprecated group types 3/4 and reserved types raise.
    Varint continuations are bounded at 10 bytes (the 64-bit max —
    an unterminated continuation run is corruption, not a big
    number). Returns ``(field_no, wire_type, varint_value, payload)``
    per field in stream order (``varint_value`` 0 and the raw bytes
    for fixed/len types; field numbers must be >= 1)."""
    b = bytes(blob) if blob is not None else b""
    out = []
    i = 0

    def varint(at: int) -> tuple[int, int]:
        v = shift = 0
        for k in range(10):
            if at + k >= len(b):
                raise ValueError("not protobuf: truncated varint")
            byte = b[at + k]
            v |= (byte & 0x7F) << shift
            if not byte & 0x80:
                return v, at + k + 1
            shift += 7
        raise ValueError("not protobuf: varint over 10 bytes")

    while i < len(b):
        tag, i = varint(i)
        field_no, wt = tag >> 3, tag & 7
        if field_no < 1:
            raise ValueError(f"not protobuf: field number {field_no}")
        if wt == 0:
            val, i = varint(i)
            out.append((field_no, 0, val, b""))
        elif wt == 1:
            if i + 8 > len(b):
                raise ValueError("not protobuf: truncated fixed64")
            out.append((field_no, 1, 0, b[i:i + 8]))
            i += 8
        elif wt == 5:
            if i + 4 > len(b):
                raise ValueError("not protobuf: truncated fixed32")
            out.append((field_no, 5, 0, b[i:i + 4]))
            i += 4
        elif wt == 2:
            ln, i = varint(i)
            if i + ln > len(b):
                raise ValueError(
                    "not protobuf: length-delimited past end")
            out.append((field_no, 2, 0, b[i:i + ln]))
            i += ln
        else:
            raise ValueError(
                f"not protobuf: wire type {wt} "
                "(groups are deprecated; 6/7 reserved)")
    return out


def encode_proto_message(doc_id: int, n_fields: int, seed: int = 0) -> bytes:
    """Deterministic wire-format fixture: ``n_fields`` fields
    alternating varint / length-delimited / fixed32, with varint
    values ``128 + 200·f + seed mod 10000`` (always multi-byte — the
    continuation path is never skipped) and closed-form payload
    bytes."""
    out = b""

    def put_varint(v: int) -> bytes:
        r = b""
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                r += bytes([byte | 0x80])
            else:
                return r + bytes([byte])

    for f in range(1, n_fields + 1):
        kind = f % 3
        if kind == 1:                      # varint
            out += put_varint((f << 3) | 0)
            out += put_varint(128 + (200 * f + seed) % 10000)
        elif kind == 2:                    # length-delimited
            ln = 4 + (seed + 3 * f) % 12
            payload = bytes((seed + 11 * f + 7 * i) % 251
                            for i in range(ln))
            out += put_varint((f << 3) | 2) + put_varint(ln) + payload
        else:                              # fixed32
            out += put_varint((f << 3) | 5)
            out += struct.pack("<I", (seed * 7 + f) % 0xFFFFFFFF)
    return out


PROTO_STATS_SCHEMA = (
    "path string, n_fields int, max_field_no int, n_varint int, "
    "n_len int, n_fixed int, varint_sum long, len_bytes_sum long"
)


def proto_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-message structural statistics over protobuf wire-format
    blobs: one row per message summarizing the field walk —
    ``varint_sum`` hash-checks multi-byte continuation decoding,
    ``len_bytes_sum`` the length-delimited framing."""

    def rows(blob: bytes):
        fields = parse_proto_fields(blob)
        return [(
            len(fields),
            max((f for f, _, _, _ in fields), default=0),
            sum(1 for _, w, _, _ in fields if w == 0),
            sum(1 for _, w, _, _ in fields if w == 2),
            sum(1 for _, w, _, _ in fields if w in (1, 5)),
            sum(v for _, w, v, _ in fields if w == 0),
            sum(sum(p) for _, w, _, p in fields if w == 2),
        )]

    return map_blobs(df, rows, PROTO_STATS_SCHEMA, content_col, path_col)


def _avro_zigzag(b: bytes, at: int) -> tuple[int, int]:
    """Avro long: zigzag-encoded varint (the OTHER varint — protobuf
    varints are plain; confusing the two silently halves/negates
    every count). Bounded at 10 continuation bytes."""
    v = shift = 0
    for k in range(10):
        if at + k >= len(b):
            raise ValueError("not Avro: truncated varint")
        byte = b[at + k]
        v |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return (v >> 1) ^ -(v & 1), at + k + 1
        shift += 7
    raise ValueError("not Avro: varint over 10 bytes")


def list_avro_blocks(
    blob: bytes,
) -> tuple[dict[str, bytes], list[tuple[int, bytes]]]:
    """Structural walk of an Avro Object Container File (the Avro
    1.x spec): the ``Obj\\x01`` magic, the file-metadata MAP in real
    Avro encoding (zigzag block counts — including the negative
    count + byte-size form — string keys, bytes values, zero
    terminator), the 16-byte sync marker, then data blocks (record
    count, byte size, payload, sync) with EVERY block's sync marker
    verified against the header's (the spec's corruption fence) and
    the payload inflated when ``avro.codec`` is deflate. Record
    DECODE is deliberately out of scope — this is the container
    layer (the metadata map names the schema; payloads release as
    verified opaque bytes). Returns ``(metadata, [(n_records,
    payload), ...])``."""
    b = bytes(blob) if blob is not None else b""
    if len(b) < 20 or b[:4] != b"Obj\x01":
        raise ValueError("not Avro: bad magic")
    meta: dict[str, bytes] = {}
    i = 4
    while True:
        count, i = _avro_zigzag(b, i)
        if count == 0:
            break
        if count < 0:
            # negative count: abs(count) items preceded by a byte size
            _, i = _avro_zigzag(b, i)
            count = -count
        for _ in range(count):
            klen, i = _avro_zigzag(b, i)
            if klen < 0 or i + klen > len(b):
                raise ValueError("not Avro: bad metadata key")
            key = b[i:i + klen].decode("utf-8", "replace")
            i += klen
            vlen, i = _avro_zigzag(b, i)
            if vlen < 0 or i + vlen > len(b):
                raise ValueError("not Avro: bad metadata value")
            meta[key] = b[i:i + vlen]
            i += vlen
    if i + 16 > len(b):
        raise ValueError("not Avro: truncated sync marker")
    sync = b[i:i + 16]
    i += 16
    codec = meta.get("avro.codec", b"null").decode("ascii", "replace")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"Avro codec {codec!r} unsupported")
    blocks = []
    while i < len(b):
        n_rec, i = _avro_zigzag(b, i)
        size, i = _avro_zigzag(b, i)
        if n_rec < 0 or size < 0 or i + size + 16 > len(b):
            raise ValueError("not Avro: bad block framing")
        raw = b[i:i + size]
        i += size
        if b[i:i + 16] != sync:
            raise ValueError("not Avro: block sync marker mismatch")
        i += 16
        payload = raw if codec == "null" else zlib.decompress(raw, -15)
        blocks.append((n_rec, payload))
    return meta, blocks


def encode_avro_ocf(
    doc_id: int, n_blocks: int, seed: int = 0,
) -> bytes:
    """Deterministic Avro OCF fixture: a metadata map holding
    ``avro.schema`` (a fixed bytes-schema JSON) and ``avro.codec``
    (null for even docs, deflate for odd — both paths exercised),
    a seed-derived sync marker, and ``n_blocks`` blocks with
    closed-form payload bytes ``(seed + 11·blk + 7·i) mod 251``."""

    def zz(v: int) -> bytes:
        v = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        r = b""
        while True:
            byte = v & 0x7F
            v >>= 7
            if v:
                r += bytes([byte | 0x80])
            else:
                return r + bytes([byte])

    codec = b"null" if doc_id % 2 == 0 else b"deflate"
    schema = b'{"type":"bytes"}'
    meta = (zz(2)
            + zz(len(b"avro.schema")) + b"avro.schema"
            + zz(len(schema)) + schema
            + zz(len(b"avro.codec")) + b"avro.codec"
            + zz(len(codec)) + codec
            + zz(0))
    sync = bytes((seed + 3 * k) % 256 for k in range(16))
    out = b"Obj\x01" + meta + sync
    for blk in range(n_blocks):
        s = seed + 11 * blk
        plen = 20 + (seed + 5 * blk) % 40
        payload = bytes((s + 7 * i) % 251 for i in range(plen))
        raw = (payload if codec == b"null"
               else zlib.compress(payload, 6)[2:-4])
        out += zz(1 + blk % 3) + zz(len(raw)) + raw + sync
    return out


AVRO_STATS_SCHEMA = (
    "path string, block_idx int, codec string, n_records long, "
    "payload_len long, byte_sum long"
)


def avro_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-BLOCK statistics over Avro OCF blobs: the container walk
    (metadata map, codec dispatch, per-block sync verification) with
    one row per data block; undecodable files skip whole.
    ``byte_sum`` hash-checks zigzag counts, framing, and the deflate
    path together."""

    def rows(blob: bytes):
        meta, blocks = list_avro_blocks(blob)
        codec = meta.get("avro.codec", b"null").decode("ascii", "replace")
        return [
            (idx, codec, n_rec, len(payload), sum(payload))
            for idx, (n_rec, payload) in enumerate(blocks)
        ]

    return map_blobs(df, rows, AVRO_STATS_SCHEMA, content_col, path_col)


def parse_msgpack(blob: bytes, max_depth: int = 32):
    """Structural walk of ONE MessagePack object (the msgpack spec,
    all format families) — the schema-free decode for the other
    binary record format TFRecord-adjacent pipelines actually ship.
    Returns a census dict::

        n_items   every token (values AND map keys)
        n_ints    int family (fixint ±, uint8-64, int8-64), with
        int_sum   their exact integer sum
        n_strs    str family (fixstr, str8/16/32), with
        str_bytes_sum  the sum of their raw UTF-8 bytes
        n_bins / bin_bytes_sum    bin8/16/32 likewise
        n_floats  float32/64 (counted, never summed — the float
                  policy keeps transcendental payloads out of
                  released integers)
        n_bools / n_nils / n_exts
        n_arrays / n_maps          container headers
        depth     maximum nesting reached

    Corruption is loud: truncation mid-token, the never-used 0xc1
    byte, trailing bytes after the root object, and nesting past
    ``max_depth`` all raise ValueError (the record-walker fence
    family). Ext types (fixext1-16, ext8/16/32) are structurally
    consumed and counted — their payloads are application-defined,
    not corruption."""
    b = bytes(blob) if blob is not None else b""
    st = {
        "n_items": 0, "n_ints": 0, "int_sum": 0,
        "n_strs": 0, "str_bytes_sum": 0,
        "n_bins": 0, "bin_bytes_sum": 0,
        "n_floats": 0, "n_bools": 0, "n_nils": 0, "n_exts": 0,
        "n_arrays": 0, "n_maps": 0, "depth": 0,
    }

    def need(at: int, n: int) -> None:
        if at + n > len(b):
            raise ValueError("not msgpack: truncated")

    def be(at: int, n: int) -> int:
        need(at, n)
        return int.from_bytes(b[at:at + n], "big")

    def walk(at: int, depth: int) -> int:
        if depth > max_depth:
            raise ValueError(
                f"not msgpack: nesting past {max_depth}")
        st["depth"] = max(st["depth"], depth)
        need(at, 1)
        t = b[at]
        at += 1
        st["n_items"] += 1

        def take_int(v: int) -> int:
            st["n_ints"] += 1
            st["int_sum"] += v
            return at

        def take_str(ln: int, a: int) -> int:
            need(a, ln)
            st["n_strs"] += 1
            st["str_bytes_sum"] += sum(b[a:a + ln])
            return a + ln

        def take_bin(ln: int, a: int) -> int:
            need(a, ln)
            st["n_bins"] += 1
            st["bin_bytes_sum"] += sum(b[a:a + ln])
            return a + ln

        def take_seq(n: int, a: int, pairs: bool) -> int:
            for _ in range(n * (2 if pairs else 1)):
                a = walk(a, depth + 1)
            return a

        if t <= 0x7F:                              # positive fixint
            return take_int(t)
        if 0x80 <= t <= 0x8F:                      # fixmap
            st["n_maps"] += 1
            return take_seq(t & 0x0F, at, True)
        if 0x90 <= t <= 0x9F:                      # fixarray
            st["n_arrays"] += 1
            return take_seq(t & 0x0F, at, False)
        if 0xA0 <= t <= 0xBF:                      # fixstr
            return take_str(t & 0x1F, at)
        if t == 0xC0:
            st["n_nils"] += 1
            return at
        if t == 0xC1:
            raise ValueError("not msgpack: reserved byte 0xc1")
        if t in (0xC2, 0xC3):
            st["n_bools"] += 1
            return at
        if t in (0xC4, 0xC5, 0xC6):                # bin8/16/32
            n = 1 << (t - 0xC4)
            ln = be(at, n)
            return take_bin(ln, at + n)
        if t in (0xC7, 0xC8, 0xC9):                # ext8/16/32
            n = 1 << (t - 0xC7)
            ln = be(at, n)
            need(at + n, 1 + ln)                   # type byte + data
            st["n_exts"] += 1
            return at + n + 1 + ln
        if t == 0xCA:
            need(at, 4)
            st["n_floats"] += 1
            return at + 4
        if t == 0xCB:
            need(at, 8)
            st["n_floats"] += 1
            return at + 8
        if t in (0xCC, 0xCD, 0xCE, 0xCF):          # uint8-64
            n = 1 << (t - 0xCC)
            v = be(at, n)
            at += n
            return take_int(v)
        if t in (0xD0, 0xD1, 0xD2, 0xD3):          # int8-64
            n = 1 << (t - 0xD0)
            v = be(at, n)
            at += n
            if v >= 1 << (8 * n - 1):
                v -= 1 << (8 * n)
            return take_int(v)
        if t in (0xD4, 0xD5, 0xD6, 0xD7, 0xD8):    # fixext1-16
            ln = 1 << (t - 0xD4)
            need(at, 1 + ln)
            st["n_exts"] += 1
            return at + 1 + ln
        if t in (0xD9, 0xDA, 0xDB):                # str8/16/32
            n = 1 << (t - 0xD9)
            ln = be(at, n)
            return take_str(ln, at + n)
        if t in (0xDC, 0xDD):                      # array16/32
            n = 2 << (t - 0xDC)
            cnt = be(at, n)
            st["n_arrays"] += 1
            return take_seq(cnt, at + n, False)
        if t in (0xDE, 0xDF):                      # map16/32
            n = 2 << (t - 0xDE)
            cnt = be(at, n)
            st["n_maps"] += 1
            return take_seq(cnt, at + n, True)
        # 0xE0-0xFF negative fixint
        return take_int(t - 0x100)

    if not b:
        raise ValueError("not msgpack: empty")
    end = walk(0, 1)
    if end != len(b):
        raise ValueError(
            f"not msgpack: {len(b) - end} trailing bytes after root")
    return st


def encode_msgpack_doc(doc_id: int) -> bytes:
    """Deterministic MessagePack fixture covering every released
    family: a fixmap of 9 single-char keys holding a positive
    fixint, a uint16 (always multi-byte), a NEGATIVE int8, a uint64
    above 2³², a str8 of ascii letters, a bin8, a nested fixarray
    of fixints, nil-or-true, and a float64 — all parameterized by
    ``s = doc_id % 997`` with closed-form sums."""
    s = int(doc_id) % 997
    out = bytearray()
    out.append(0x89)                               # fixmap, 9 pairs

    def key(ch: str) -> None:
        out.append(0xA1)
        out.extend(ch.encode())

    key("a")
    out.append(s % 128)                            # pos fixint
    key("b")
    out += bytes([0xCD]) + (256 + (3 * s) % 60000).to_bytes(2, "big")
    key("c")
    out += bytes([0xD0, (256 - 1 - (s % 32)) & 0xFF])   # int8 < 0
    key("d")
    out += bytes([0xCF]) + ((1 << 32) + s).to_bytes(8, "big")
    key("e")
    sl = 32 + s % 16
    out += bytes([0xD9, sl])
    out += bytes(97 + (s + 5 * i) % 26 for i in range(sl))
    key("f")
    bl = 8 + s % 8
    out += bytes([0xC4, bl])
    out += bytes((s + 7 * i) % 251 for i in range(bl))
    key("g")
    al = 2 + s % 3
    out.append(0x90 | al)
    out += bytes((7 * j + s) % 128 for j in range(al))
    key("h")
    out.append(0xC0 if s % 2 == 0 else 0xC3)
    key("i")
    out += bytes([0xCB]) + struct.pack(">d", 0.5 + s)
    return bytes(out)


MSGPACK_STATS_SCHEMA = (
    "path string, n_items int, n_ints int, int_sum long, "
    "n_strs int, str_bytes_sum long, n_bins int, bin_bytes_sum long, "
    "n_floats int, n_bools int, n_nils int, n_exts int, "
    "n_arrays int, n_maps int, depth int"
)


def msgpack_stats(
    df: DataFrame,
    content_col: str = "content",
    path_col: str = "path",
) -> DataFrame:
    """Per-blob structural census over MessagePack objects — the
    :func:`proto_stats` shape."""
    cols = [c.split()[0] for c in MSGPACK_STATS_SCHEMA.split(", ")][1:]

    def rows(blob: bytes):
        st = parse_msgpack(blob)
        return [tuple(st[c] for c in cols)]

    return map_blobs(df, rows, MSGPACK_STATS_SCHEMA, content_col, path_col)
