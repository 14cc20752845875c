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
    def __init__(self, confs):
        self._confs = confs

    def get(self, key):
        return self._confs[key]


class _FakeDF:
    """Duck-typed stand-in: scan_is_narrow only touches isStreaming,
    inputFiles(), and sparkSession.{sparkContext.defaultParallelism,
    conf.get}."""
    isStreaming = False

    def __init__(self, files, cores=8, max_pb="134217728b",
                 open_cost="4194304b"):
        self._files = files

        class _SC:
            defaultParallelism = cores

        class _Sess:
            sparkContext = _SC()
            conf = _FakeConf({
                "spark.sql.files.maxPartitionBytes": max_pb,
                "spark.sql.files.openCostInBytes": open_cost})

        self.sparkSession = _Sess()

    def inputFiles(self):
        return self._files


def test_narrow_single_small_file(tmp_path):
    f = tmp_path / "one.parquet"
    f.write_bytes(b"x" * 1024)
    assert barrier.scan_is_narrow(_FakeDF([str(f)])) is True


def test_wide_many_files_skips_stat_loop(tmp_path, monkeypatch):
    """A table with cores * maxPartitionBytes / openCostInBytes files
    (256 on 8 cores at the defaults) fills the cores with scan tasks
    whatever the file sizes, and reports wide after ZERO stat calls —
    the million-file NFS table must not be statted on the driver."""
    cores = 8
    files = [str(tmp_path / f"f{i}.parquet") for i in range(32 * cores)]
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
    n = 4 * cores  # under the file-count cap, so the stat loop runs
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


def test_narrow_many_small_files_packs_under_cores(tmp_path):
    """Spark packs tiny files into splits of maxPartitionBytes,
    charging each openCostInBytes: 33 small files on 8 cores fill about
    one scan task, so the scan is narrow and spread() still applies."""
    files = []
    for i in range(33):
        f = tmp_path / f"f{i}.parquet"
        f.write_bytes(b"x" * 1024)
        files.append(str(f))
    assert barrier.scan_is_narrow(_FakeDF(files, cores=8)) is True


def test_open_cost_conf_sets_the_file_cap(tmp_path, monkeypatch):
    """The file-count cap derives from the confs: at a 64 MiB open cost
    16 files already fill 8 cores' 128 MiB splits."""
    files = [str(tmp_path / f"f{i}.parquet") for i in range(16)]
    monkeypatch.setattr(os.path, "getsize",
                        lambda p: pytest.fail(f"statted {p}"))
    assert barrier.scan_is_narrow(
        _FakeDF(files, cores=8, open_cost="64m")) is False
