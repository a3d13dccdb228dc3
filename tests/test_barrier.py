"""Unit tests for functions/barrier.scan_is_narrow (r16): unit-aware
maxPartitionBytes parsing (ADVICE r15) and the bounded driver-side stat
loop (VERDICT r15 item 5) — O(cores) stat calls on wide tables."""
import os

import pytest

from docker_aktin_dwh_spark.functions import barrier


def test_parse_bytes_units():
    assert barrier._parse_bytes("134217728b") == 128 * 1024 * 1024
    assert barrier._parse_bytes("128m") == 128 * 1024 * 1024
    assert barrier._parse_bytes("128MB") == 128 * 1024 * 1024
    assert barrier._parse_bytes("1g") == 1 << 30
    assert barrier._parse_bytes("4k") == 4096
    assert barrier._parse_bytes("512") == 512
    assert barrier._parse_bytes("1t") == 1 << 40
    assert barrier._parse_bytes("") == 0
    assert barrier._parse_bytes("garbage") == 0


class _FakeConf:
    def __init__(self, raw):
        self._raw = raw

    def get(self, key, default=None):
        return self._raw


class _FakeDF:
    """Duck-typed stand-in: scan_is_narrow only touches isStreaming,
    inputFiles(), and sparkSession.{sparkContext.defaultParallelism,
    conf.get}."""
    isStreaming = False

    def __init__(self, files, cores=8, max_pb="134217728b"):
        self._files = files

        class _SC:
            defaultParallelism = cores

        class _Sess:
            sparkContext = _SC()
            conf = _FakeConf(max_pb)

        self.sparkSession = _Sess()

    def inputFiles(self):
        return self._files


def test_narrow_single_small_file(tmp_path):
    f = tmp_path / "one.parquet"
    f.write_bytes(b"x" * 1024)
    assert barrier.scan_is_narrow(_FakeDF([str(f)])) is True


def test_wide_many_files_skips_stat_loop(tmp_path, monkeypatch):
    """A table with > 4*cores files reports wide after ZERO stat calls
    — the million-file NFS table must not be statted on the driver."""
    cores = 8
    files = [str(tmp_path / f"f{i}.parquet") for i in range(4 * cores + 1)]
    calls = []
    real = os.path.getsize

    def counting(p):
        calls.append(p)
        return real(p)

    monkeypatch.setattr(os.path, "getsize", counting)
    assert barrier.scan_is_narrow(_FakeDF(files, cores=cores)) is False
    assert calls == []


def test_wide_early_exit_bounds_stat_calls(tmp_path, monkeypatch):
    """Once the running total crosses cores*maxPartitionBytes the loop
    stops: big files terminate after a handful of stats even when the
    file count is under the cap."""
    cores = 8
    n = 4 * cores  # at the cap, so the stat loop runs
    files = []
    for i in range(n):
        f = tmp_path / f"f{i}.bin"
        f.write_bytes(b"x")
        files.append(str(f))
    big = 10 * 1024 * 1024 * 1024  # 10 GiB claimed per file
    calls = []

    def fake_getsize(p):
        calls.append(p)
        return big

    monkeypatch.setattr(os.path, "getsize", fake_getsize)
    # threshold = 8 * 128 MiB = 1 GiB -> first stat already crosses it
    assert barrier.scan_is_narrow(_FakeDF(files, cores=cores)) is False
    assert len(calls) == 1


def test_unit_suffixed_conf_keeps_threshold(tmp_path):
    """ADVICE r15: '128m' must parse as 128 MiB, not 128 bytes — a
    1 KB single file is still narrow under that setting."""
    f = tmp_path / "one.parquet"
    f.write_bytes(b"x" * 1024)
    assert barrier.scan_is_narrow(
        _FakeDF([str(f)], max_pb="128m")) is True


def test_missing_file_reports_wide(tmp_path):
    assert barrier.scan_is_narrow(
        _FakeDF([str(tmp_path / "absent.parquet")])) is False


class _RaisingDF(_FakeDF):
    def inputFiles(self):
        raise RuntimeError("file index listing failed")


def test_input_files_failure_raises():
    """A failing ``inputFiles()`` is an error, not a "wide" verdict:
    frames without file provenance return an empty list instead."""
    with pytest.raises(RuntimeError, match="file index listing failed"):
        barrier.scan_is_narrow(_RaisingDF([]))
