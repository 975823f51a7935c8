"""Zip packaging sink (S12/S13, ``neo4j_export.py:1246-1276``).

Driver-side step of the export: pack the export's files (the CSVs plus
the model JSON, chosen by the caller) with flattened arcnames into one
deflated archive. The timestamped auto-name replicates
``{base}-export-{%Y-%m-%d-%H%M%S}.zip`` (``:1256-1260``); ``clock`` is
injectable for deterministic tests (F7).

Deflating and assembling are split. An ``EntryDeflater`` deflates each
file pigz-style on every core the process may run on, as soon as it is
added; the exporter adds each single-file CSV the moment it is renamed
into place, so deflating overlaps the remaining Spark writes.
``create_zip`` adds every listed file not yet added (the model JSON, a
CSV already in the directory), so all entries take the same deflate
path, then waits for the entries in the given order and assembles them:

- An entry is read in ``CHUNK_SIZE`` pieces. Piece *i* is raw-deflated on
  the pool (``zlib`` releases the GIL, so pieces compress in parallel)
  with the last ``WINDOW_SIZE`` bytes of piece *i-1* as preset
  dictionary. Every piece but the last ends in a sync flush and the last
  in a finish, so the concatenation is one valid deflate stream.
- Priming with the previous 32 KiB (deflate's whole back-reference
  window) lets a piece's first matches reach across the boundary, so the
  ratio stays within a few hundredths of a percent of a single-threaded
  deflate at the same level. The output depends only on the input, never
  on thread scheduling or on when an entry was added.
- Deflated pieces are written in piece order to the entry's spool, an
  unnamed temp file in the spool directory (the export's output
  directory), so compressed entries never wait in memory. The CRC-32
  runs serially in the same order.
- At most ``2 × workers`` raw pieces are held at any time across all
  entries (read, deflating, or deflated and waiting for an earlier
  piece), so memory stays bounded whatever the number and size of the
  files. No pool thread ever waits on another pool task.
- Assembly writes each entry's local header, now with its CRC and sizes,
  copies its spool, and ends with the central directory and end record.
  Entry metadata (names, DOS time from mtime, Unix mode, the UTF-8 name
  flag, versions) and the ZIP64 rules for sizes, offsets and entry
  counts past the 32/16-bit limits follow ``zipfile.ZipFile.write``, so
  any unzip tool reads the archive as it read the old one.
- The archive is built at ``zip_path + ".tmp"`` and renamed onto
  ``zip_path`` only when complete; on any error the temp file is
  removed, and closing the deflater joins its pool and drops every
  spool, so a failed zip leaves no valid-looking partial archive behind.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import struct
import tempfile
import threading
import zipfile
import zlib
from collections import deque
from concurrent.futures import Future, ThreadPoolExecutor
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
    deflater: EntryDeflater | None = None,
) -> str:
    """Pack ``files`` (names inside ``output_dir``, in the given order)
    into one deflated archive and return its path.

    Entries already started on ``deflater`` are reused; every other
    listed file is added to it here. Without a ``deflater`` one is made
    for this call."""
    if zip_path is None:
        now = (clock or datetime.now)()
        ts = now.strftime("%Y-%m-%d-%H%M%S")
        base = base_name or os.path.basename(os.path.normpath(output_dir))
        zip_path = os.path.join(os.path.dirname(os.path.normpath(output_dir)), f"{base}-export-{ts}.zip")

    tmp = zip_path + ".tmp"
    with contextlib.ExitStack() as stack:
        if deflater is None:
            deflater = stack.enter_context(EntryDeflater(output_dir))
        try:
            for name in files:
                deflater.add(os.path.join(output_dir, name), name)
            with open(tmp, "wb") as out:
                entries = [deflater.write_entry(out, name) for name in files]
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


def _dos_time(dt) -> tuple[int, int]:
    return dt[3] << 11 | dt[4] << 5 | dt[5] // 2, (dt[0] - 1980) << 9 | dt[1] << 5 | dt[2]


class _Entry:
    """One file being deflated: its chunks land in the spool in order."""

    def __init__(self, path: str, arcname: str, spool_dir: str) -> None:
        # from_file gives ZipFile.write's metadata, including its
        # ValueError for an mtime before 1980.
        self.zi = zipfile.ZipInfo.from_file(path, arcname)
        self.zi.compress_type = zipfile.ZIP_DEFLATED
        self.chunks = max(1, -(-self.zi.file_size // CHUNK_SIZE))  # an empty file is one chunk
        self.submitted = self.flushed = 0
        self.crc = self.size = self.compressed = 0
        self.ready: dict[int, tuple[bytes, bytes]] = {}
        self.done: Future = Future()
        self.lock = threading.Lock()
        self.fd = os.open(path, os.O_RDONLY)
        try:
            self.spool = tempfile.TemporaryFile(dir=spool_dir)
        except BaseException:
            os.close(self.fd)
            raise

    def read(self, i: int) -> tuple[bytes, bytes]:
        """Chunk ``i`` and the ``WINDOW_SIZE`` bytes before it."""
        start = i * CHUNK_SIZE
        lo = max(0, start - WINDOW_SIZE)
        data = os.pread(self.fd, start + CHUNK_SIZE - lo, lo)
        return data[start - lo:], data[:start - lo]

    def put(self, i: int, piece: bytes, data: bytes) -> int:
        """Take chunk ``i`` and spool every chunk now next in order;
        return how many raw chunks this let go."""
        with self.lock:
            self.ready[i] = (piece, data)
            if self.done.done():
                return self._drop()
            let_go = 0
            try:
                while self.flushed in self.ready:
                    piece, data = self.ready[self.flushed]
                    self.spool.write(data)
                    del self.ready[self.flushed]
                    let_go += 1
                    self.flushed += 1
                    self.crc = zlib.crc32(piece, self.crc)
                    self.size += len(piece)
                    self.compressed += len(data)
                if self.flushed == self.chunks:
                    if self.size != self.zi.file_size:
                        raise RuntimeError(f"{self.zi.filename} changed size while it was zipped")
                    self.zi.CRC, self.zi.compress_size = self.crc, self.compressed
                    os.close(self.fd)
                    self.fd = None
                    self.done.set_result(None)
            except Exception as e:
                self.done.set_exception(e)
                return let_go + self._drop()
            return let_go

    def fail(self, e: Exception) -> int:
        """Chunk deflate raised ``e``; return the raw chunks let go."""
        with self.lock:
            if not self.done.done():
                self.done.set_exception(e)
            return 1 + self._drop()

    def _drop(self) -> int:
        n = len(self.ready)
        self.ready.clear()
        return n

    def close(self) -> None:
        if self.fd is not None:
            os.close(self.fd)
            self.fd = None
        self.spool.close()


class EntryDeflater:
    """Deflates files into spooled archive entries, for ``create_zip``.

    ``add`` starts an entry at once; its chunks are deflated on one pool
    of a thread per core, and at most ``2 × workers`` raw chunks are held
    at any time across all entries. Each entry's compressed bytes go to
    an unnamed temp file in ``spool_dir``. Closing (or leaving the
    ``with`` block) cancels chunks not yet started, joins the pool and
    drops every spool."""

    def __init__(self, spool_dir: str) -> None:
        self.workers = len(os.sched_getaffinity(0))
        self._spool_dir = spool_dir
        self._pool = ThreadPoolExecutor(max_workers=self.workers, thread_name_prefix="zip-deflate")
        self._lock = threading.Lock()
        self._free = 2 * self.workers
        self._queue: deque[_Entry] = deque()
        self._entries: dict[str, _Entry] = {}
        self._closed = False

    def __enter__(self) -> EntryDeflater:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def add(self, path: str, arcname: str) -> None:
        """Start deflating ``path`` as entry ``arcname``; a name already
        added is left as it is."""
        with self._lock:
            if self._closed:
                raise RuntimeError("deflater is closed")
            if arcname in self._entries:
                return
            entry = self._entries[arcname] = _Entry(path, arcname, self._spool_dir)
            self._queue.append(entry)
            self._pump()

    def write_entry(self, out, arcname: str) -> zipfile.ZipInfo:
        """Wait for entry ``arcname`` and write it (local header, then its
        deflated data) at ``out``'s position."""
        entry = self._entries[arcname]
        entry.done.result()
        zi = entry.zi
        zi.header_offset = out.tell()
        # ZipFile's rule: decided from the file size with a margin for
        # incompressible data.
        local_zip64 = zi.file_size * 1.05 > ZIP64_LIMIT
        if local_zip64:
            zi.extract_version = zi.create_version = _ZIP64_VERSION
        elif zi.compress_size > ZIP64_LIMIT:
            raise RuntimeError(f"{arcname} deflated past the ZIP64 limit")
        out.write(_local_header(zi, local_zip64))
        entry.spool.seek(0)
        shutil.copyfileobj(entry.spool, out, CHUNK_SIZE)
        entry.spool.close()
        return zi

    def close(self) -> None:
        with self._lock:
            self._closed = True
        self._pool.shutdown(wait=True, cancel_futures=True)
        for entry in self._entries.values():
            entry.close()

    def _pump(self) -> None:
        """Submit queued chunks while raw-chunk slots are free (caller
        holds ``_lock``)."""
        while self._free and self._queue and not self._closed:
            entry = self._queue[0]
            if entry.done.done() or entry.submitted == entry.chunks:
                self._queue.popleft()
                continue
            self._free -= 1
            self._pool.submit(self._deflate, entry, entry.submitted)
            entry.submitted += 1

    def _deflate(self, entry: _Entry, i: int) -> None:
        try:
            piece, zdict = entry.read(i)
            let_go = entry.put(i, piece, _deflate_chunk(piece, zdict, i == entry.chunks - 1))
        except Exception as e:
            let_go = entry.fail(e)
        with self._lock:
            self._free += let_go
            self._pump()


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
