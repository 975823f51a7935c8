"""Streaming parallel-deflate ZIP writer, read back with stdlib ``zipfile``
and compared with a ``ZipFile.write`` archive of the same files."""

from __future__ import annotations

import os
import random
import shutil
import struct
import subprocess
import sys
import threading
import time
import zipfile
from datetime import datetime

import pytest

from neo4j_database_to_data_importer_package_spark.sinks import zip_sink

MIB = 1 << 20
META = ("filename", "date_time", "external_attr", "flag_bits", "compress_type",
        "create_system", "create_version", "extract_version", "file_size", "CRC")


def _text(n: int, seed: int) -> bytes:
    """CSV-like, compressible bytes: repeats across chunk boundaries."""
    rng = random.Random(seed)
    words = [f"w{rng.randrange(5000)}" for _ in range(2000)]
    out = bytearray()
    while len(out) < n:
        out += (",".join(rng.choice(words) for _ in range(8)) + "\n").encode()
    return bytes(out[:n])


@pytest.fixture(scope="module")
def export_files(tmp_path_factory):
    src = tmp_path_factory.mktemp("export") / "out"
    src.mkdir()
    sizes = {"Empty.csv": 0, "One.csv": MIB, "OnePlus.csv": MIB + 1,
             "Multi.csv": 5 * MIB + 12345, "Café.csv": 4096, "Tail.csv": 100}
    for i, (name, n) in enumerate(sizes.items()):
        (src / name).write_bytes(_text(n, i))
    (src / "Random.csv").write_bytes(random.Random(7).randbytes(2 * MIB + 3))  # incompressible
    return src, sorted(os.listdir(src))


def _reference(src, files, path) -> str:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in files:
            zf.write(os.path.join(src, name), arcname=name)
    return str(path)


def _meta(path) -> list[tuple]:
    """Per-entry fields that must match ``ZipFile.write``, plus how many
    fields the entry's ZIP64 extra carries."""
    with zipfile.ZipFile(path) as zf:
        return [tuple(getattr(zi, a) for a in META) + (len(zi.extra),) for zi in zf.infolist()]


def _check_contents(path, src, files) -> None:
    with zipfile.ZipFile(path) as zf, open(path, "rb") as raw:
        assert zf.testzip() is None
        assert zf.namelist() == files
        for name in files:
            assert zf.read(name) == (src / name).read_bytes(), name
        for zi in zf.infolist():  # the patched local header agrees with the central one
            raw.seek(zi.header_offset)
            *_, crc, csize, usize, nlen, xlen = struct.unpack("<4s2B4HL2L2H", raw.read(30))
            if usize == 0xFFFFFFFF:  # sizes live in the ZIP64 extra
                usize, csize = struct.unpack("<2Q", raw.read(nlen + xlen)[nlen + 4:nlen + 20])
            assert (crc, usize, csize) == (zi.CRC, zi.file_size, zi.compress_size), zi.filename


def _unzip_test(path) -> None:
    if shutil.which("unzip"):
        subprocess.run(["unzip", "-tq", path], check=True, capture_output=True)


def test_entries_match_zipfile_write(export_files, tmp_path):
    src, files = export_files
    got = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "p.zip"))
    ref = _reference(src, files, tmp_path / "ref.zip")
    _check_contents(got, src, files)
    _unzip_test(got)
    assert _meta(got) == _meta(ref)
    with zipfile.ZipFile(got) as zf:
        assert zf.getinfo("Café.csv").flag_bits & 0x800
    # Same deflate level, and priming each chunk with the previous 32 KiB
    # keeps the chunk boundaries nearly free (unprimed they cost ~0.2%).
    with zipfile.ZipFile(got) as g, zipfile.ZipFile(ref) as r:
        for name in files:
            assert g.getinfo(name).compress_size <= r.getinfo(name).compress_size * 1.0005 + 8, name
    assert not os.path.exists(got + ".tmp")


def test_output_is_deterministic(export_files, tmp_path):
    src, files = export_files
    a = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "a.zip"))
    b = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "b.zip"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


def test_zip64_past_the_limits(export_files, tmp_path, monkeypatch):
    src, files = export_files
    for mod in (zip_sink, zipfile):  # zipfile too, so the reference takes the same path
        monkeypatch.setattr(mod, "ZIP64_LIMIT", 1 << 12)
        monkeypatch.setattr(mod, "ZIP_FILECOUNT_LIMIT", 3)
    got = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "p.zip"))
    ref = _reference(src, files, tmp_path / "ref.zip")
    _check_contents(got, src, files)
    _unzip_test(got)
    assert _meta(got) == _meta(ref)
    with open(got, "rb") as f:
        data = f.read()
    assert b"PK\x06\x06" in data and b"PK\x06\x07" in data  # ZIP64 end record + locator
    with zipfile.ZipFile(got) as zf:
        assert zf.getinfo("Multi.csv").extract_version == 45


def test_pre_1980_mtime_raises(tmp_path):
    src = tmp_path / "out"
    src.mkdir()
    (src / "Old.csv").write_bytes(b"a\n1\n")
    os.utime(src / "Old.csv", (0, 315_000_000))  # 1979
    zip_path = tmp_path / "p.zip"
    with pytest.raises(ValueError, match="1980"):
        zip_sink.create_zip(str(src), ["Old.csv"], zip_path=str(zip_path))
    assert os.listdir(tmp_path) == ["out"]


def test_failure_leaves_no_archive(export_files, tmp_path, monkeypatch):
    src, files = export_files
    deflate, calls = zip_sink._deflate_chunk, []

    def failing(data, zdict, last):
        calls.append(1)
        if len(calls) == 2:  # the first entry (Café.csv) is one chunk
            raise OSError("disk full")
        return deflate(data, zdict, last)

    monkeypatch.setattr(zip_sink, "_deflate_chunk", failing)
    zip_path = tmp_path / "p.zip"
    with pytest.raises(OSError, match="disk full"):
        zip_sink.create_zip(str(src), files, zip_path=str(zip_path))
    assert not zip_path.exists()
    assert not os.path.exists(str(zip_path) + ".tmp")


def test_auto_name(export_files):
    src, files = export_files
    got = zip_sink.create_zip(str(src), files, clock=lambda: datetime(2026, 1, 2, 3, 4, 5))
    assert got == os.path.join(os.path.dirname(src), "out-export-2026-01-02-030405.zip")
    _check_contents(got, src, files)


def _counting_reads(monkeypatch):
    """Count raw chunks held: +1 when a chunk is read, minus whatever the
    entry lets go; record the peak."""
    held = {"now": 0, "peak": 0}
    lock = threading.Lock()
    read, put, fail = zip_sink._Entry.read, zip_sink._Entry.put, zip_sink._Entry.fail

    def counted(n):
        with lock:
            held["now"] += n
            held["peak"] = max(held["peak"], held["now"])

    def read_counted(self, i):
        counted(1)
        return read(self, i)

    def put_counted(self, i, piece, data):
        let_go = put(self, i, piece, data)
        counted(-let_go)
        return let_go

    def fail_counted(self, e):
        let_go = fail(self, e)
        counted(-let_go)
        return let_go

    monkeypatch.setattr(zip_sink._Entry, "read", read_counted)
    monkeypatch.setattr(zip_sink._Entry, "put", put_counted)
    monkeypatch.setattr(zip_sink._Entry, "fail", fail_counted)
    return held


def test_raw_chunks_in_flight_bounded_across_entries(export_files, tmp_path, monkeypatch):
    """Entries started early, on several threads, share one bound of
    ``2 × workers`` raw chunks; every chunk is let go exactly once."""
    src, files = export_files
    held = _counting_reads(monkeypatch)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with zip_sink.EntryDeflater(str(src)) as deflater:
            threads = [threading.Thread(target=deflater.add, args=(os.path.join(src, n), n))
                       for n in files]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
                assert not t.is_alive()
            got = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "p.zip"),
                                      deflater=deflater)
            assert deflater._free == 2 * deflater.workers
    finally:
        sys.setswitchinterval(interval)
    assert 1 < held["peak"] <= 2 * deflater.workers
    assert held["now"] == 0
    ref = zip_sink.create_zip(str(src), files, zip_path=str(tmp_path / "ref.zip"))
    with open(got, "rb") as a, open(ref, "rb") as b:
        assert a.read() == b.read()


def test_raw_chunks_bounded_behind_a_slow_chunk(tmp_path, monkeypatch):
    """Chunks deflated ahead of a slow first chunk wait in memory until it
    lands; the bound still holds them to ``2 × workers``."""
    workers = len(os.sched_getaffinity(0))
    (tmp_path / "Big.csv").write_bytes(b"a,b,c\n" * ((2 * workers + 4) * MIB // 6))
    release = threading.Event()
    read = zip_sink._Entry.read

    def slow_first(self, i):
        if i == 0:
            release.wait(timeout=60)
        return read(self, i)

    monkeypatch.setattr(zip_sink._Entry, "read", slow_first)
    held = _counting_reads(monkeypatch)
    timer = threading.Timer(1.0, release.set)
    timer.start()
    try:
        got = zip_sink.create_zip(str(tmp_path), ["Big.csv"], zip_path=str(tmp_path / "p.zip"))
    finally:
        timer.cancel()
        release.set()
    assert held["peak"] == 2 * workers
    assert held["now"] == 0
    with zipfile.ZipFile(got) as zf:
        assert zf.read("Big.csv") == (tmp_path / "Big.csv").read_bytes()


def test_failed_entry_frees_its_chunks(export_files, tmp_path, monkeypatch):
    """A chunk that fails ends its entry and lets go of every chunk the
    entry held, also those waiting behind it, so the other entries still
    finish."""
    src, files = export_files
    read = zip_sink._Entry.read

    def failing(self, i):
        if self.zi.filename == "Multi.csv" and i == 2:
            # Fail once chunks 3-5 are deflated and waiting behind this one.
            deadline = time.monotonic() + 30
            while len(self.ready) < 3 and time.monotonic() < deadline:
                time.sleep(0.01)
            raise OSError("bad sector")
        return read(self, i)

    monkeypatch.setattr(zip_sink._Entry, "read", failing)
    held = _counting_reads(monkeypatch)
    with zip_sink.EntryDeflater(str(src)) as deflater:
        for name in files:
            deflater.add(os.path.join(src, name), name)
        with open(tmp_path / "entries.bin", "wb") as out:
            for name in files:
                if name == "Multi.csv":
                    with pytest.raises(OSError, match="bad sector"):
                        deflater.write_entry(out, name)
                else:
                    deflater.write_entry(out, name)
    assert held["now"] == 0
    assert deflater._free == 2 * deflater.workers
