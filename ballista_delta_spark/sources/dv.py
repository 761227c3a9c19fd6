"""Deletion-vector reading and writing (Delta protocol "Deletion Vectors").

A deletion vector (DV) marks individual rows of one parquet data file as
deleted without rewriting the file — the merge-on-read half of Delta's DML
story (delta-spark writes DVs by default for DELETE/UPDATE/MERGE since 3.x;
the reference has no DV support at all, its write surface errors). This
module implements both directions — decoding for scans, serialization for
the DV-writing DELETE path (delta_dml.delete_delta mode="dv"):

- the Z85 decoding the descriptor uses for UUIDs and inline bitmaps,
- the portable 64-bit RoaringBitmapArray format the bitmap data uses
  (magic 1681511377; per-bitmap standard 32-bit roaring serialization per
  RoaringFormatSpec: array / bitmap / run containers, cookies 12346/12347),
- the on-disk framing (`[size:int32 BE][data][crc32 BE]` at `offset`) for
  storageType "u" (UUID-named file) / "p" (absolute path), and the inline
  form "i".

One roaring decoder, ``roaring_bitsets``, serves every reader. It turns
each 65,536-row container straight into its bitset of 1,024 uint64 words:
bitmap containers already are those words (a zero-copy view), array
containers set at most 4,096 bits, run containers fill ranges.
``roaring_indexes`` (row indexes as numpy) and
``parse_roaring_bitmap_array`` (as a list) unpack those bitsets for the
driver-side callers that merge DVs as index lists (DML, REORG, the stream
source).

Scale note: a DV is metadata — a compressed bitmap, loaded whole per file
by every engine (delta-spark holds it in task memory the same way). A scan
never expands it to row indexes: the driver turns each touched container
into one ``(file, row_index >> 16, bitset)`` row, and the scan keeps a row
when its bit is clear, through a broadcast join (see
delta.DeltaTable._dv_parts). That costs one bit per row of a DV'd file,
whatever the number of deletions.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib
from typing import Any

import numpy as np

# ZeroMQ Z85 alphabet (the Delta spec's encoding for pathOrInlineDv).
_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}

_MAGIC = 1681511377  # portable RoaringBitmapArray magic number


def z85_decode(s: str) -> bytes:
    """Z85 (ZeroMQ) decode — NOT Python's base64.b85decode, which uses the
    RFC 1924 alphabet."""
    if len(s) % 5:
        raise ValueError(f"Z85 length must be a multiple of 5, got {len(s)}")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for ch in s[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_INDEX[ch]
            except KeyError:
                raise ValueError(f"invalid Z85 character {ch!r}") from None
        if acc > 0xFFFFFFFF:
            # Z85 spec: a 5-char group encodes at most 2^32-1; letting
            # .to_bytes raise would leak OverflowError past the module's
            # ValueError contract.
            raise ValueError(f"Z85 group overflows 32 bits: {s[i:i+5]!r}")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise ValueError(f"Z85 input must be a multiple of 4 bytes, got {len(b)}")
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            chunk.append(_Z85_CHARS[rem])
        out += reversed(chunk)
    return "".join(out)


def _take(data: bytes, pos: int, dtype: str, count: int) -> tuple[np.ndarray, int]:
    """``count`` little-endian ``dtype`` items at ``pos`` as a zero-copy
    view; return (view, new_pos). A buffer cut short raises ValueError
    (inline DVs carry no CRC, so truncation reaches the decoder)."""
    end = pos + np.dtype(dtype).itemsize * count
    if end > len(data):
        raise ValueError(
            f"truncated deletion vector: need {end} bytes, have {len(data)}"
        )
    return np.frombuffer(data, dtype, count, pos), end


def _roaring32(data: bytes, pos: int) -> tuple[list[tuple[int, np.ndarray]], int]:
    """Decode one standard-serialized 32-bit roaring bitmap starting at
    ``pos``; return (per-container ``(key, words)``, new_pos), where
    ``words`` is the container's 65,536-bit set as 1,024 little-endian
    uint64 words and ``key`` its upper 16 bits. RoaringFormatSpec layouts:

    cookie 12347 (has run containers): size = (cookie >> 16) + 1, then a
    run-flag bitset of (size+7)//8 bytes; offset header present only when
    size >= 4. cookie 12346: size in the next 4 bytes, no run containers,
    offset header always present. Containers follow in key order: run
    (n_runs × [start, length-1]), array (cardinality × uint16) when
    cardinality <= 4096, else a 8192-byte bitmap — already the 1,024
    words, taken as a zero-copy view.
    """
    (cookie,), pos = _take(data, pos, "<u4", 1)
    cookie = int(cookie)
    if (cookie & 0xFFFF) == 12347:
        size = (cookie >> 16) + 1
        flag_bytes, pos = _take(data, pos, "u1", (size + 7) // 8)
        run_flags = np.unpackbits(flag_bytes, bitorder="little")[:size]
        has_offsets = size >= 4
    elif cookie == 12346:
        (size,), pos = _take(data, pos, "<u4", 1)
        size = int(size)
        run_flags = None  # no run containers
        has_offsets = True
    else:
        raise ValueError(f"invalid roaring bitmap cookie {cookie}")

    header, pos = _take(data, pos, "<u2", 2 * size)
    if run_flags is None:
        # Allocated only once the header read has shown that ``size``
        # fits the buffer.
        run_flags = np.zeros(size, np.uint8)
    keys = header[0::2].tolist()
    cards = (header[1::2].astype(np.int64) + 1).tolist()
    if has_offsets:
        pos += 4 * size  # sequential read; offsets are redundant

    out: list[tuple[int, np.ndarray]] = []
    for key, card, is_run in zip(keys, cards, run_flags):
        if is_run:
            (n_runs,), pos = _take(data, pos, "<u2", 1)
            runs, pos = _take(data, pos, "<u2", 2 * int(n_runs))
            # Pair (v, l) encodes the inclusive interval [v, v+l]
            # (RoaringFormatSpec "run containers"): +1 at each start and
            # -1 past each end, prefix-summed, marks the covered bits.
            starts = runs[0::2].astype(np.int64)
            ends = starts + runs[1::2] + 1
            if (ends > 1 << 16).any():
                raise ValueError("roaring run container overflows its key")
            edges = np.zeros((1 << 16) + 1, np.int32)
            np.add.at(edges, starts, 1)
            np.add.at(edges, ends, -1)
            bits = np.cumsum(edges[:-1]) > 0
        elif card <= 4096:
            low, pos = _take(data, pos, "<u2", card)
            bits = np.zeros(1 << 16, bool)
            bits[low] = True
        else:
            words, pos = _take(data, pos, "<u8", 1024)
            out.append((key, words))
            continue
        out.append((key, np.packbits(bits, bitorder="little").view("<u8")))
    return out, pos


def roaring_bitsets(data: bytes) -> list[tuple[int, np.ndarray]]:
    """Portable-format 64-bit RoaringBitmapArray -> one ``(row_index >>
    16, words)`` pair per container, ascending, where ``words`` holds
    the container's 65,536 row bits as 1,024 little-endian uint64 words
    (row ``r`` is bit ``r & 63`` of word ``(r & 65535) >> 6``). Work and
    memory scale with the containers, never with the deleted rows.
    Malformed or truncated input raises ValueError."""
    (magic,), pos = _take(data, 0, "<i4", 1)
    if magic != _MAGIC:
        raise ValueError(
            f"bad deletion-vector magic {magic} (expected {_MAGIC})"
        )
    (n_bitmaps,), pos = _take(data, pos, "<i8", 1)
    out: list[tuple[int, np.ndarray]] = []
    for _ in range(int(n_bitmaps)):
        (high,), pos = _take(data, pos, "<u4", 1)
        containers, pos = _roaring32(data, pos)
        out.extend(((int(high) << 16) | key, w) for key, w in containers)
    return out


# Set bits per byte value: the popcount of a bitset's uint8 view.
_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], np.int64)


def bitset_cardinality(words: np.ndarray) -> int:
    """Number of set bits in a bitset's words."""
    return int(_POPCOUNT8[words.view(np.uint8)].sum())


def roaring_indexes(data: bytes) -> np.ndarray:
    """Portable-format 64-bit RoaringBitmapArray -> sorted int64 row
    indexes. Malformed or truncated input raises ValueError."""
    parts = [
        (np.int64(hi) << 16)
        | np.flatnonzero(np.unpackbits(w.view(np.uint8), bitorder="little"))
        for hi, w in roaring_bitsets(data)
    ]
    if not parts:
        return np.empty(0, np.int64)
    return np.concatenate(parts)


def parse_roaring_bitmap_array(data: bytes) -> list[int]:
    """Portable-format 64-bit RoaringBitmapArray -> sorted row indexes, as
    a list (the driver-side callers: DML DV merging, REORG, the stream
    source)."""
    return roaring_indexes(data).tolist()


def dv_file_path(table_path: str, descriptor: dict[str, Any]) -> str:
    """Resolve the on-disk file for a file-backed DV descriptor.

    storageType='u': ``pathOrInlineDv = <optional random prefix><20-char
    Z85 uuid>``; the file is ``<prefix>/deletion_vector_<uuid>.bin``
    under the table root, and the resolved path is CONTAINMENT-checked —
    a crafted prefix ('..' or absolute) must not escape the root, since
    deep clone uses the result as a WRITE destination. storageType='p':
    ``pathOrInlineDv`` IS the path, verbatim (shallow clones point at
    the SOURCE table's bins — legitimately outside this root); z85-
    decoding its tail would fabricate a garbage path (any 20 hex/dash
    chars are valid Z85), which silently corrupted VACUUM's keep-set."""
    st = descriptor.get("storageType")
    pod = descriptor["pathOrInlineDv"]
    if st == "p":
        return _strip_file_scheme(pod)
    if st != "u":
        raise ValueError(f"no file path for DV storageType {st!r}")
    prefix, enc_uuid = pod[:-20], pod[-20:]
    u = _uuid.UUID(bytes=z85_decode(enc_uuid))
    name = f"deletion_vector_{u}.bin"
    out = os.path.join(table_path, prefix, name) if prefix else os.path.join(
        table_path, name
    )
    # realpath, not abspath: a lexical check passes when the prefix names
    # a symlink inside the table dir pointing outside it — read/WRITE
    # (deep clone) would then follow the link out of the root.
    root = os.path.realpath(table_path)
    if not os.path.realpath(out).startswith(root + os.sep):
        raise ValueError(
            f"DV prefix escapes the table root: {pod!r}"
        )
    return out


def _strip_file_scheme(path: str) -> str:
    """file:-scheme URI -> plain path (authority-form and Hadoop's
    single-slash ``file:/x`` both normalize; everything else verbatim)."""
    if not path.startswith("file:"):
        return path
    from urllib.parse import urlparse

    parsed = urlparse(path)
    return parsed.path or path


def read_dv_bytes(table_path: str, descriptor: dict[str, Any]) -> bytes:
    """The serialized RoaringBitmapArray bytes for one DV descriptor
    (storage u/i/p), framing and checksum verified. Metadata-sized: this is
    the compressed bitmap, NOT the expanded row indexes — safe to hold (and
    ship to executors) per file."""
    st = descriptor.get("storageType")
    size = int(descriptor["sizeInBytes"])
    if st == "i":
        decoded = z85_decode(descriptor["pathOrInlineDv"])
        if len(decoded) < size:
            raise ValueError(
                f"inline DV shorter than its declared sizeInBytes: "
                f"{len(decoded)} < {size}"
            )
        return decoded[:size]
    if st in ("u", "p"):
        path = dv_file_path(table_path, descriptor)
        offset = int(descriptor.get("offset") or 0)
        with open(path, "rb") as fh:
            fh.seek(offset)
            (stored_size,) = struct.unpack(">i", fh.read(4))
            if stored_size != size:
                raise ValueError(
                    f"DV size mismatch at {path}:{offset}: descriptor says "
                    f"{size}, file says {stored_size}"
                )
            data = fh.read(size)
            (crc,) = struct.unpack(">I", fh.read(4))
            if crc != (zlib.crc32(data) & 0xFFFFFFFF):
                raise ValueError(f"DV checksum mismatch at {path}:{offset}")
        return data
    raise ValueError(f"unsupported DV storageType {st!r}")


def read_deletion_vector(table_path: str, descriptor: dict[str, Any]) -> list[int]:
    """Deleted row indexes for one file's DV descriptor (storage u/i/p)."""
    data = read_dv_bytes(table_path, descriptor)
    idx = parse_roaring_bitmap_array(data)
    _check_cardinality(int(descriptor.get("cardinality") or 0), len(idx))
    return idx


def _check_cardinality(card: int, n: int) -> None:
    """A descriptor's cardinality (0 = not recorded) must match the
    decoded bitmap."""
    if card and card != n:
        raise ValueError(
            f"DV cardinality mismatch: descriptor says {card}, bitmap has {n}"
        )


# ------------------------------------------------------------- write side
def _serialize_roaring32(values: list[int]) -> bytes:
    """Standard 32-bit roaring serialization (RoaringFormatSpec), writer
    side: array containers for cardinality <= 4096, bitmap containers
    above. Run containers are parsed but never emitted (matches common
    writer behavior; they are an optional optimization)."""
    chunks: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        chunks.setdefault(v >> 16, []).append(v & 0xFFFF)
    # chunks was built from sorted input: keys ascend, values per key are
    # sorted-unique — iterate one snapshot, no re-sorting on the
    # O(deleted rows) DML write path.
    items = list(chunks.items())
    size = len(items)
    out = bytearray()
    out += struct.pack("<I", 12346)
    out += struct.pack("<I", size)
    for key, vals in items:
        out += struct.pack("<HH", key, len(vals) - 1)
    pos = len(out) + 4 * size
    for _key, vals in items:
        out += struct.pack("<I", pos)
        pos += 2 * len(vals) if len(vals) <= 4096 else 8192
    for _key, vals in items:
        if len(vals) <= 4096:
            out += struct.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v // 8] |= 1 << (v % 8)
            out += bits
    return bytes(out)


def serialize_roaring_bitmap_array(indexes: list[int]) -> bytes:
    """Portable 64-bit RoaringBitmapArray bytes for sorted row indexes."""
    by_high: dict[int, list[int]] = {}
    for i in sorted(set(indexes)):
        by_high.setdefault(i >> 32, []).append(i & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", _MAGIC, len(by_high)))
    for high, vals in sorted(by_high.items()):
        out += struct.pack("<I", high)
        out += _serialize_roaring32(vals)
    return bytes(out)


def write_deletion_vectors(
    table_path: str, per_file_indexes: dict[str, list[int]]
) -> dict[str, dict[str, Any]]:
    """Write ONE UUID-named .bin holding a DV per file (the delta-spark
    layout: many DVs share a file, distinguished by offset) and return
    rel_data_path -> descriptor.

    Empty inputs never touch disk: a DV must mark at least one row (the
    protocol forbids cardinality 0), so empty index lists are skipped
    and an all-empty call returns {} without creating an orphan bin."""
    per_file_indexes = {
        rel: idxs for rel, idxs in per_file_indexes.items() if idxs
    }
    if not per_file_indexes:
        return {}
    u = _uuid.uuid4()
    name = f"deletion_vector_{u}.bin"
    descriptors: dict[str, dict[str, Any]] = {}
    with open(os.path.join(table_path, name), "wb") as fh:
        fh.write(b"\x01")  # format version byte
        offset = 1
        for rel, idxs in sorted(per_file_indexes.items()):
            data = serialize_roaring_bitmap_array(idxs)
            fh.write(struct.pack(">i", len(data)))
            fh.write(data)
            fh.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
            descriptors[rel] = {
                "storageType": "u",
                "pathOrInlineDv": z85_encode(u.bytes),
                "offset": offset,
                "sizeInBytes": len(data),
                "cardinality": len(set(idxs)),
            }
            offset += 4 + len(data) + 4
    return descriptors
