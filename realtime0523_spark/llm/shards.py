"""Compressed text-shard ingestion: shards as an opaque binary column,
decompressed by Arrow-batched `mapInPandas` kernels.

The dominant wire format for web-scale LLM corpora (Common-Crawl
WET/WARC, most JSONL dumps) is gzip. This module parses it itself: a
full RFC 1952 member parser — magic/CM/FLG walk incl. the optional
FEXTRA / FNAME / FCOMMENT / FHCRC header fields, raw-DEFLATE inflate
via stdlib zlib, CRC32 + ISIZE trailer verification, and multi-member
concatenation (wild .gz shards are routinely several members
catenated; RFC 1952 §2.2 requires readers to accept that) — plus a
deterministic encoder for fixtures. On top sit the WARC record walk
(ISO 28500), and zstd (RFC 8878) and LZ4 frames, which decode through
the C codecs pyarrow bundles; pyarrow is already required by every
`mapInPandas` kernel.

Reference parity: realtime0523 has no compressed-shard path (its
sources are Kafka/JDBC); this implements the training-data-pipeline
ingestion surface the task brief specifies.

Scale: mapInPandas streams Arrow batches through Python workers —
per-partition decompression, no driver involvement, payloads never
shuffle; at 100 TB this is the classic embarrassingly-parallel scan
stage and the per-file members bound memory to one shard each.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterator
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16


def encode_gzip_member(
    raw: bytes,
    fname: bytes | None = None,
    fextra: bytes | None = None,
    fcomment: bytes | None = None,
    fhcrc: bool = False,
    level: int = 6,
) -> bytes:
    """One deterministic RFC 1952 member (MTIME=0, XFL=0, OS=255 so
    identical input bytes always produce identical member bytes —
    unlike the gzip module's default timestamping). The optional
    header fields exist so fixtures can exercise every branch of the
    decoder's header walk."""
    flg = 0
    header_tail = b""
    if fextra is not None:
        flg |= _FEXTRA
        header_tail += struct.pack("<H", len(fextra)) + fextra
    if fname is not None:
        flg |= _FNAME
        header_tail += fname + b"\x00"
    if fcomment is not None:
        flg |= _FCOMMENT
        header_tail += fcomment + b"\x00"
    if fhcrc:
        flg |= _FHCRC
    header = b"\x1f\x8b\x08" + bytes([flg]) + b"\x00\x00\x00\x00\x00\xff"
    header += header_tail
    if fhcrc:
        header += struct.pack("<H", zlib.crc32(header) & 0xFFFF)
    comp = zlib.compressobj(level, zlib.DEFLATED, -15)
    deflated = comp.compress(raw) + comp.flush()
    trailer = struct.pack(
        "<II", zlib.crc32(raw) & 0xFFFFFFFF, len(raw) & 0xFFFFFFFF
    )
    return header + deflated + trailer


def decode_gzip(payload: bytes) -> bytes:
    """Decompress a gzip payload of ONE OR MORE catenated RFC 1952
    members, verifying each member's CRC32 and ISIZE trailer. Raises
    ValueError naming the defect on any framing/checksum violation —
    a corrupt shard must fail loudly, not feed garbage downstream."""
    raw = bytes(payload)
    out = bytearray()
    pos = 0
    if not raw:
        raise ValueError("gzip: empty payload (not even one member)")
    while pos < len(raw):
        if raw[pos : pos + 2] != b"\x1f\x8b":
            raise ValueError(
                f"gzip: bad magic {raw[pos:pos + 2]!r} at offset {pos}"
            )
        if pos + 10 > len(raw):
            raise ValueError(
                f"gzip: member header truncated at offset {pos} "
                f"(need 10 bytes, payload has {len(raw) - pos})"
            )
        if raw[pos + 2] != 8:
            raise ValueError(
                f"gzip: compression method {raw[pos + 2]} != 8 (deflate)"
            )
        flg = raw[pos + 3]
        if flg & 0xE0:
            raise ValueError(f"gzip: reserved FLG bits set ({flg:#x})")
        hdr_start = pos
        pos += 10  # magic, CM, FLG, MTIME(4), XFL, OS
        if flg & _FEXTRA:
            if pos + 2 > len(raw):
                raise ValueError("gzip: FEXTRA length field truncated")
            (xlen,) = struct.unpack("<H", raw[pos : pos + 2])
            pos += 2 + xlen
        for bit, field in ((_FNAME, "FNAME"), (_FCOMMENT, "FCOMMENT")):
            if flg & bit:
                nul = raw.find(b"\x00", pos)
                if nul < 0:
                    raise ValueError(
                        f"gzip: unterminated {field} header field"
                    )
                pos = nul + 1
        if flg & _FHCRC:
            if pos + 2 > len(raw):
                raise ValueError("gzip: FHCRC field truncated")
            (want,) = struct.unpack("<H", raw[pos : pos + 2])
            got = zlib.crc32(raw[hdr_start:pos]) & 0xFFFF
            if got != want:
                raise ValueError(
                    f"gzip: header CRC16 mismatch ({got:#x} != {want:#x})"
                )
            pos += 2
        if pos > len(raw):
            raise ValueError("gzip: header overruns the payload")
        inflater = zlib.decompressobj(-15)
        member = inflater.decompress(raw[pos:])
        if not inflater.eof:
            raise ValueError("gzip: truncated deflate stream")
        tail = inflater.unused_data
        if len(tail) < 8:
            raise ValueError("gzip: missing CRC32/ISIZE trailer")
        crc, isize = struct.unpack("<II", tail[:8])
        if zlib.crc32(member) & 0xFFFFFFFF != crc:
            raise ValueError("gzip: CRC32 mismatch (corrupt member)")
        if len(member) & 0xFFFFFFFF != isize:
            raise ValueError(
                f"gzip: ISIZE {isize} != decompressed length {len(member)}"
            )
        out += member
        pos = len(raw) - len(tail) + 8
    return bytes(out)


def _attach_shards(
    df: DataFrame,
    build: Callable[[int, bytes], bytes],
    id_col: str,
    text_col: str,
    media_col: str,
) -> DataFrame:
    """The testdata adapters' one Arrow kernel: `build(doc_id, raw)`
    turns each row's UTF-8 text into its binary shard payload."""

    def _build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                build(int(doc_id), (text or "").encode("utf-8"))
                for doc_id, text in zip(pdf[id_col], pdf[text_col])
            ]
            yield pd.DataFrame(
                {id_col: pdf[id_col].astype("int64"), media_col: payloads}
            )

    return df.select(id_col, text_col).mapInPandas(
        _build, schema=f"{id_col} long, {media_col} binary"
    )


_GZIP_HEADER_VARIANTS = (
    {},
    {"fname": b"shard.txt"},
    {"fextra": b"\x01\x02meta"},
    {"fcomment": b"fixture"},
    {"fhcrc": True},
)


def _gzip_shard(doc_id: int, raw: bytes) -> bytes:
    kw = _GZIP_HEADER_VARIANTS[doc_id % 5]
    if len(raw) > 64:
        mid = len(raw) // 2
        return encode_gzip_member(raw[:mid], **kw) + encode_gzip_member(
            raw[mid:]
        )
    return encode_gzip_member(raw, **kw)


def attach_gzip_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "media",
) -> DataFrame:
    """Testdata adapter: compress each row's UTF-8 text into a gzip
    payload the SQL oracle can replay from hex(encode(text)). To
    exercise the whole decoder, the header variant cycles by
    doc_id % 5 (plain / FNAME / FEXTRA / FCOMMENT / FHCRC) and texts
    past 64 bytes are split into TWO catenated members — the
    multi-member shape of real concatenated .gz shards."""
    return _attach_shards(df, _gzip_shard, id_col, text_col, media_col)


BYTE_STATS_SCHEMA = "doc_id long, n_bytes bigint, byte_sum bigint"


def _byte_stats(
    df: DataFrame,
    decode: Callable[[bytes], bytes],
    id_col: str,
    media_col: str,
) -> DataFrame:
    """The ingest kernels' one Arrow kernel: decompress each shard with
    `decode` and emit exact integer evidence of the recovered bytes
    (length + byte-value sum), what an ingestion stage's
    checksum/accounting step records per shard. Map-only: one row out
    per shard, payloads never shuffle."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, n_bytes, sums = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                raw = decode(payload)
                arr = np.frombuffer(raw, dtype=np.uint8)
                ids.append(int(doc_id))
                n_bytes.append(len(raw))
                sums.append(int(arr.sum(dtype=np.int64)) if len(raw) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(n_bytes, dtype="int64"),
                    "byte_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return df.select(id_col, media_col).mapInPandas(
        _stats, schema=BYTE_STATS_SCHEMA
    )


def gzip_ingest_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Byte accounting of gzip shards. The match against an oracle
    replaying the raw text proves header walk, inflate, trailer
    verification and member concatenation byte for byte."""
    return _byte_stats(df, decode_gzip, id_col, media_col)


# ---------------------------------------------------------------------------
# WARC (ISO 28500) — the Common-Crawl wire format. A .warc.gz shard is
# a CATENATION of gzip members, one WARC record per member (the CC
# convention, so readers can seek to records); each record is a
# version line + named headers + CRLFCRLF + a Content-Length-delimited
# content block + CRLFCRLF. `parse_warc` implements the record walk;
# `warc_extract_stats` is the Spark kernel that pulls the response
# records' payloads out of a corpus of shards — the first stage of
# every web-scale text pipeline.
# ---------------------------------------------------------------------------

_WARC_VERSION = b"WARC/1.0"


def encode_warc_record(
    warc_type: str,
    payload: bytes,
    record_id: str,
    target_uri: str | None = None,
    date: str = "2026-01-01T00:00:00Z",
) -> bytes:
    """One spec-shaped WARC record with the four mandatory headers
    (WARC-Record-ID, Content-Length, WARC-Date, WARC-Type). The
    record id is caller-supplied so fixtures stay deterministic."""
    headers = [
        _WARC_VERSION,
        b"WARC-Type: " + warc_type.encode("ascii"),
        b"WARC-Record-ID: <urn:uuid:" + record_id.encode("ascii") + b">",
        b"WARC-Date: " + date.encode("ascii"),
    ]
    if target_uri is not None:
        headers.append(b"WARC-Target-URI: " + target_uri.encode("ascii"))
    headers.append(b"Content-Length: " + str(len(payload)).encode("ascii"))
    return b"\r\n".join(headers) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def parse_warc(stream: bytes) -> list[dict]:
    """Walk a decompressed WARC stream into records: each a dict of
    lower-cased headers plus `content` bytes. Raises ValueError
    naming the defect on framing violations (bad version line,
    missing Content-Length, truncated content block, missing record
    separator) — a malformed shard must fail loudly."""
    records: list[dict] = []
    pos = 0
    n = len(stream)
    while pos < n:
        head_end = stream.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError(
                f"WARC: no header terminator after offset {pos}"
            )
        head_lines = stream[pos:head_end].split(b"\r\n")
        if not head_lines[0].startswith(b"WARC/"):
            raise ValueError(
                f"WARC: bad version line {head_lines[0][:20]!r} at "
                f"offset {pos}"
            )
        rec: dict = {"warc_version": head_lines[0].decode("ascii")}
        # ISO 28500 §4: 'name:value' with OPTIONAL whitespace around
        # the value, plus LWS continuation — a line starting with
        # SP/HT folds into the previous header. Partitioning on b': '
        # rejected spec-valid 'name:value' shards (round-11 advice).
        folded: list[bytes] = []
        for line in head_lines[1:]:
            if line[:1] in (b" ", b"\t"):
                if not folded:
                    raise ValueError(
                        f"WARC: continuation line {line!r} with no "
                        f"preceding header"
                    )
                folded[-1] += b" " + line.strip()
            else:
                folded.append(line)
        for line in folded:
            key, sep, val = line.partition(b":")
            if not sep:
                raise ValueError(f"WARC: malformed header line {line!r}")
            rec[key.decode("ascii").lower().strip()] = val.strip().decode(
                "utf-8", errors="replace"
            )
        if "content-length" not in rec:
            raise ValueError("WARC: record missing Content-Length")
        clen = int(rec["content-length"])
        body_start = head_end + 4
        if body_start + clen > n:
            raise ValueError(
                f"WARC: content block truncated (need {clen} bytes at "
                f"offset {body_start}, shard has {n})"
            )
        rec["content"] = stream[body_start : body_start + clen]
        pos = body_start + clen
        if stream[pos : pos + 4] != b"\r\n\r\n":
            raise ValueError(
                f"WARC: missing record separator at offset {pos}"
            )
        pos += 4
        records.append(rec)
    return records


def _warc_shard(doc_id: int, raw: bytes) -> bytes:
    rid = f"doc-{doc_id}"
    uri = f"http://corpus.invalid/{doc_id}"
    return (
        encode_gzip_member(
            encode_warc_record("warcinfo", b"robots: classic", rid + "-info")
        )
        + encode_gzip_member(
            encode_warc_record("request", b"GET / HTTP/1.1", rid + "-req", uri)
        )
        + encode_gzip_member(encode_warc_record("response", raw, rid, uri))
    )


def attach_warc_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "media",
) -> DataFrame:
    """Testdata adapter: each row becomes a .warc.gz shard in the
    Common-Crawl layout — three records (warcinfo, request, response),
    EACH compressed as its own gzip member and catenated, response
    payload = the row's UTF-8 text — so the SQL oracle can replay the
    extracted payload from hex(encode(text))."""
    return _attach_shards(df, _warc_shard, id_col, text_col, media_col)


WARC_STATS_SCHEMA = (
    "doc_id long, n_records int, response_bytes bigint, byte_sum bigint"
)


def warc_extract_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """gunzip (multi-member) + WARC record walk + response-payload
    extraction, with exact byte accounting of the extracted text —
    the Common-Crawl ingestion stage. One row out per shard; payloads
    never shuffle. Non-response records (warcinfo/request/metadata)
    are counted but not extracted, as in a real CC text pipeline."""

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, counts, blens, bsums = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                records = parse_warc(decode_gzip(payload))
                body = b"".join(
                    r["content"]
                    for r in records
                    if r.get("warc-type") == "response"
                )
                arr = np.frombuffer(body, dtype=np.uint8)
                ids.append(int(doc_id))
                counts.append(len(records))
                blens.append(len(body))
                bsums.append(int(arr.sum(dtype=np.int64)) if len(body) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_records": pd.Series(counts, dtype="int32"),
                    "response_bytes": pd.Series(blens, dtype="int64"),
                    "byte_sum": pd.Series(bsums, dtype="int64"),
                }
            )

    return df.select(id_col, media_col).mapInPandas(
        _stats, schema=WARC_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# zstd (RFC 8878) and LZ4 frames — the post-2023 corpus wire format and
# the fast-tier one, decoded by the C codecs pyarrow bundles. A payload
# is one or more catenated frames; both formats share the skippable
# frame (magic 0x184D2A50-5F, 4-byte little-endian size, content) that
# shard writers stash metadata in.
# ---------------------------------------------------------------------------

_FRAME_MAGIC = {"zstd": b"\x28\xb5\x2f\xfd", "lz4": b"\x04\x22\x4d\x18"}
_LZ4_LEGACY_MAGIC = b"\x02\x21\x4c\x18"
_META = b"shard-meta"
_SHARD_META = struct.pack("<II", 0x184D2A53, len(_META)) + _META


def _first_frame_magic(raw: bytes) -> tuple[int, bytes]:
    """Offset and magic of the first frame that is not skippable; the
    magic is empty when skippable frames fill (or overrun) the
    payload."""
    pos = 0
    while (
        pos + 8 <= len(raw)
        and raw[pos + 1 : pos + 4] == b"\x2a\x4d\x18"
        and 0x50 <= raw[pos] <= 0x5F
    ):
        pos += 8 + int.from_bytes(raw[pos + 4 : pos + 8], "little")
    return pos, raw[pos : pos + 4]


def decode_frames(payload: bytes, codec: str) -> bytes:
    """Decompress a payload of catenated `codec` ("zstd" or "lz4")
    frames with pyarrow's bundled codec; skippable frames are skipped.
    A corrupt, truncated, empty or skippable-only payload raises
    ValueError naming the codec, so a bad shard fails loudly instead of
    feeding garbage downstream. The legacy LZ4 frame raises
    NotImplementedError."""
    raw = bytes(payload)
    pos, magic = _first_frame_magic(raw)
    if codec == "lz4" and magic == _LZ4_LEGACY_MAGIC:
        raise NotImplementedError(
            "lz4: legacy frame format (magic 0x184C2102) is not "
            "supported — obsolete since lz4 r126; re-compress with the "
            "modern frame format"
        )
    if magic != _FRAME_MAGIC[codec]:
        raise ValueError(
            f"{codec}: no {codec} frame at offset {pos} (found "
            f"{magic!r}); the payload is empty, holds only skippable "
            f"frames or is not {codec}"
        )
    try:
        return pa.CompressedInputStream(pa.BufferReader(raw), codec).read()
    except OSError as exc:
        raise ValueError(f"{codec}: corrupt shard: {exc}") from exc


def encode_frame(raw: bytes, codec: str) -> bytes:
    """One `codec` frame holding `raw`, from pyarrow's bundled codec."""
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, codec) as out:
        out.write(raw)
    return sink.getvalue().to_pybytes()


def _frame_shard(codec: str, doc_id: int, raw: bytes) -> bytes:
    if doc_id % 2 == 0:
        return encode_frame(raw, codec)
    mid = len(raw) // 2
    return (
        _SHARD_META
        + encode_frame(raw[:mid], codec)
        + encode_frame(raw[mid:], codec)
    )


def attach_zstd_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "media",
) -> DataFrame:
    """Testdata adapter: compress each row's UTF-8 text into a zstd
    payload the SQL oracle can replay from hex(encode(text)). Even
    doc_ids get one frame; odd ones a skippable frame, then the text's
    two halves as two catenated frames."""
    return _attach_shards(
        df, partial(_frame_shard, "zstd"), id_col, text_col, media_col
    )


def zstd_ingest_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Byte accounting of zstd shards (see `_byte_stats`)."""
    return _byte_stats(
        df, partial(decode_frames, codec="zstd"), id_col, media_col
    )


def attach_lz4_shards(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    media_col: str = "media",
) -> DataFrame:
    """Testdata adapter: the LZ4-frame twin of `attach_zstd_shards`,
    with the same two shapes."""
    return _attach_shards(
        df, partial(_frame_shard, "lz4"), id_col, text_col, media_col
    )


def lz4_ingest_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Byte accounting of LZ4-frame shards (see `_byte_stats`)."""
    return _byte_stats(
        df, partial(decode_frames, codec="lz4"), id_col, media_col
    )


def decode_auto(payload: bytes) -> bytes:
    """Magic-dispatched shard decompression: gzip (RFC 1952,
    `decode_gzip`), zstd and LZ4 frames after any leading skippable
    frames (`decode_frames`), bzip2 and xz (stdlib bz2/lzma —
    Wikipedia dumps and many academic corpora ship as .bz2/.xz).
    Unrecognized magic is a corrupt or unknown shard and fails
    loudly."""
    raw = bytes(payload)
    if raw[:2] == b"\x1f\x8b":
        return decode_gzip(raw)
    _, magic = _first_frame_magic(raw)
    if magic == _FRAME_MAGIC["zstd"]:
        return decode_frames(raw, "zstd")
    if magic in (_FRAME_MAGIC["lz4"], _LZ4_LEGACY_MAGIC):
        return decode_frames(raw, "lz4")
    if raw[:3] == b"BZh":
        import bz2

        return bz2.decompress(raw)
    if raw[:6] == b"\xfd7zXZ\x00":
        import lzma

        return lzma.decompress(raw)
    raise ValueError(
        f"shard decompression: unrecognized magic {raw[:4]!r} — gzip, "
        f"zstd, lz4, bzip2 and xz decode; anything else is a corrupt or "
        f"unsupported shard"
    )
