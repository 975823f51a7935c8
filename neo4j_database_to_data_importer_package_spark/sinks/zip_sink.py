"""Zip packaging sink (S12/S13, ``neo4j_export.py:1246-1276``).

Driver-side post-step after the CSV jobs land: pack the export's files
(the CSVs plus the model JSON, chosen by the caller) with flattened
arcnames into one deflated archive. The timestamped auto-name replicates
``{base}-export-{%Y-%m-%d-%H%M%S}.zip`` (``:1256-1260``); ``clock`` is
injectable for deterministic tests (F7).

The archive is written by a streaming ZIP writer that deflates each entry
pigz-style on every core the process may run on:

- An entry is read in ``CHUNK_SIZE`` pieces. Piece *i* is raw-deflated on
  a thread pool (``zlib`` releases the GIL, so pieces compress in
  parallel) with the last ``WINDOW_SIZE`` bytes of piece *i-1* as preset
  dictionary. Every piece but the last ends in a sync flush and the last
  in a finish, so the concatenation is one valid deflate stream.
- Priming with the previous 32 KiB (deflate's whole back-reference
  window) lets a piece's first matches reach across the boundary, so the
  ratio stays within a few hundredths of a percent of a single-threaded
  deflate at the same level. The output depends only on the input, never
  on thread scheduling.
- At most ``2 × workers`` pieces are in flight per entry, so memory stays
  bounded whatever the file size. The CRC-32 runs serially in piece order.
- Each entry's local header is written first and patched with CRC and
  sizes once its data is out; the central directory and end record
  follow. Entry metadata (names, DOS time from mtime, Unix mode, the
  UTF-8 name flag, versions) and the ZIP64 rules for sizes, offsets and
  entry counts past the 32/16-bit limits follow ``zipfile.ZipFile.write``,
  so any unzip tool reads the archive as it read the old one.
- The archive is built at ``zip_path + ".tmp"`` and renamed onto
  ``zip_path`` only when complete; on any error the temp file is removed,
  so a failed zip never leaves a valid-looking partial archive behind.
"""

from __future__ import annotations

import os
import shutil
import struct
import zipfile
import zlib
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

CHUNK_SIZE = 1 << 20
WINDOW_SIZE = 1 << 15  # deflate's maximum match distance
LEVEL = zlib.Z_DEFAULT_COMPRESSION  # what ZipFile(..., ZIP_DEFLATED) uses

# Same limits as ``zipfile``: past them a field moves to the ZIP64 extra.
ZIP64_LIMIT = (1 << 31) - 1
ZIP_FILECOUNT_LIMIT = (1 << 16) - 1

_ZIP64_VERSION = 45
_FLAG_UTF8 = 0x800
_LOCAL_HEADER = struct.Struct("<4s2B4HL2L2H")
_CENTRAL_DIR = struct.Struct("<4s4B4HL2L5H2L")
_END_RECORD = struct.Struct("<4s4H2LH")
_END_RECORD64 = struct.Struct("<4sQ2H2L4Q")
_END_LOCATOR64 = struct.Struct("<4sLQL")


def create_zip(
    output_dir: str,
    files: list[str],
    zip_path: str | None = None,
    base_name: str | None = None,
    clock=None,
) -> str:
    """Pack ``files`` (names inside ``output_dir``, in the given order)
    into one deflated archive and return its path."""
    if zip_path is None:
        now = (clock or datetime.now)()
        ts = now.strftime("%Y-%m-%d-%H%M%S")
        base = base_name or os.path.basename(os.path.normpath(output_dir))
        zip_path = os.path.join(os.path.dirname(os.path.normpath(output_dir)), f"{base}-export-{ts}.zip")

    tmp = zip_path + ".tmp"
    workers = len(os.sched_getaffinity(0))
    try:
        with open(tmp, "wb") as out, ThreadPoolExecutor(max_workers=workers) as pool:
            entries = [
                _write_entry(out, pool, 2 * workers, os.path.join(output_dir, name), name)
                for name in files
            ]
            _write_central_directory(out, entries)
        os.replace(tmp, zip_path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    return zip_path


def _deflate_chunk(data: bytes, zdict: bytes, last: bool) -> bytes:
    """Raw-deflate one piece, primed with the bytes that precede it."""
    c = zlib.compressobj(LEVEL, zlib.DEFLATED, -15, zdict=zdict)
    return c.compress(data) + c.flush(zlib.Z_FINISH if last else zlib.Z_SYNC_FLUSH)


def _chunks(f):
    """Yield ``(piece, is_last)``; an empty file is one empty last piece."""
    cur = f.read(CHUNK_SIZE)
    while True:
        nxt = f.read(CHUNK_SIZE)
        yield cur, not nxt
        if not nxt:
            return
        cur = nxt


def _dos_time(dt) -> tuple[int, int]:
    return dt[3] << 11 | dt[4] << 5 | dt[5] // 2, (dt[0] - 1980) << 9 | dt[1] << 5 | dt[2]


def _write_entry(out, pool, max_inflight: int, path: str, arcname: str) -> zipfile.ZipInfo:
    # from_file gives ZipFile.write's metadata, including its ValueError
    # for an mtime before 1980.
    zi = zipfile.ZipInfo.from_file(path, arcname)
    zi.compress_type = zipfile.ZIP_DEFLATED
    zi.CRC = 0
    zi.header_offset = out.tell()
    # Decided before the size is known, with ZipFile's margin for
    # incompressible data; the local header keeps its length when patched.
    local_zip64 = zi.file_size * 1.05 > ZIP64_LIMIT
    if local_zip64:
        zi.extract_version = zi.create_version = _ZIP64_VERSION
    out.write(_local_header(zi, local_zip64))

    crc = size = compressed = 0
    inflight: deque = deque()

    def drain(keep: int) -> None:
        nonlocal compressed
        while len(inflight) > keep:
            data = inflight.popleft().result()
            compressed += len(data)
            out.write(data)

    prev = b""
    with open(path, "rb") as f:
        for piece, last in _chunks(f):
            crc = zlib.crc32(piece, crc)
            size += len(piece)
            inflight.append(pool.submit(_deflate_chunk, piece, prev[-WINDOW_SIZE:], last))
            drain(max_inflight)
            prev = piece
    drain(0)

    if not local_zip64 and max(size, compressed) > ZIP64_LIMIT:
        raise RuntimeError(f"{arcname} grew past the ZIP64 limit while it was zipped")
    zi.CRC, zi.file_size, zi.compress_size = crc, size, compressed
    end = out.tell()
    out.seek(zi.header_offset)
    out.write(_local_header(zi, local_zip64))
    out.seek(end)
    return zi


def _encoded_name(zi: zipfile.ZipInfo) -> tuple[bytes, int]:
    try:
        return zi.filename.encode("ascii"), zi.flag_bits
    except UnicodeEncodeError:
        return zi.filename.encode("utf-8"), zi.flag_bits | _FLAG_UTF8


def _local_header(zi: zipfile.ZipInfo, zip64: bool) -> bytes:
    name, flags = _encoded_name(zi)
    file_size, compress_size, extra = zi.file_size, zi.compress_size, b""
    if zip64:
        extra = struct.pack("<2H2Q", 1, 16, file_size, compress_size)
        file_size = compress_size = 0xFFFFFFFF
    dostime, dosdate = _dos_time(zi.date_time)
    return _LOCAL_HEADER.pack(
        b"PK\x03\x04", zi.extract_version, zi.reserved, flags, zi.compress_type,
        dostime, dosdate, zi.CRC, compress_size, file_size, len(name), len(extra),
    ) + name + extra


def _write_central_directory(out, entries: list[zipfile.ZipInfo]) -> None:
    start = out.tell()
    for zi in entries:
        fields = []
        file_size, compress_size, offset = zi.file_size, zi.compress_size, zi.header_offset
        if file_size > ZIP64_LIMIT or compress_size > ZIP64_LIMIT:
            fields += [file_size, compress_size]
            file_size = compress_size = 0xFFFFFFFF
        if offset > ZIP64_LIMIT:
            fields.append(offset)
            offset = 0xFFFFFFFF
        extra = struct.pack(f"<2H{len(fields)}Q", 1, 8 * len(fields), *fields) if fields else b""
        version = _ZIP64_VERSION if fields else zi.extract_version
        name, flags = _encoded_name(zi)
        dostime, dosdate = _dos_time(zi.date_time)
        out.write(_CENTRAL_DIR.pack(
            b"PK\x01\x02", version, zi.create_system, version, zi.reserved,
            flags, zi.compress_type, dostime, dosdate, zi.CRC, compress_size, file_size,
            len(name), len(extra), 0, 0, zi.internal_attr, zi.external_attr, offset,
        ) + name + extra)

    end = out.tell()
    count, size = len(entries), end - start
    if count > ZIP_FILECOUNT_LIMIT or start > ZIP64_LIMIT or size > ZIP64_LIMIT:
        out.write(_END_RECORD64.pack(
            b"PK\x06\x06", 44, _ZIP64_VERSION, _ZIP64_VERSION, 0, 0, count, count, size, start))
        out.write(_END_LOCATOR64.pack(b"PK\x06\x07", 0, end, 1))
        count, size, start = min(count, 0xFFFF), min(size, 0xFFFFFFFF), min(start, 0xFFFFFFFF)
    out.write(_END_RECORD.pack(b"PK\x05\x06", 0, 0, count, count, size, start, 0))


def move_zip(auto_zip: str, target: str) -> str:
    """Custom zip rename (S13, ``neo4j_export.py:1466-1470``)."""
    shutil.move(auto_zip, target)
    return target
