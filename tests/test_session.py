"""Session factory knobs: the host-derived driver heap and the
validation of every ``SPARK_GRAFT_*`` override."""

from __future__ import annotations

import pytest

from data_ingestion_task_spark import session


def _meminfo(tmp_path, kib: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kib} kB\nMemFree:        1234 kB\n")
    return str(p)


def test_default_driver_memory_is_half_of_memtotal(tmp_path):
    # a 15 GiB box: half of MemTotal, in MiB
    assert session.default_driver_memory(_meminfo(tmp_path, 16_303_428)) == "7960m"
    # a 128 GiB box
    assert session.default_driver_memory(_meminfo(tmp_path, 134_217_728)) == "65536m"


def test_default_driver_memory_has_a_floor(tmp_path):
    assert session.default_driver_memory(_meminfo(tmp_path, 1_000_000)) == "1024m"


@pytest.mark.parametrize(
    "name, value",
    [
        ("SPARK_GRAFT_CPUS", "0"),
        ("SPARK_GRAFT_CPUS", "four"),
        ("SPARK_GRAFT_CPUS", "-2"),
        ("SPARK_GRAFT_CODEGEN_CACHE", "0"),
        ("SPARK_GRAFT_CODEGEN_CACHE", "8k"),
        ("SPARK_GRAFT_DRIVER_MEM", "8gb"),
        ("SPARK_GRAFT_DRIVER_MEM", "8"),
        ("SPARK_GRAFT_DRIVER_MEM", "lots"),
    ],
)
def test_bad_knob_fails_before_the_session_is_built(monkeypatch, name, value):
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=name):
        session.get_spark("tests", shuffle_partitions=8)


@pytest.mark.parametrize("value", ["8g", "4096m", "2G", "65536M"])
def test_driver_memory_override_accepts_jvm_sizes(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", value)
    assert session._driver_memory() == value


def test_attaching_to_a_running_session_warns(spark):
    # Same name and width as the shared fixture, so attaching changes
    # no runtime conf of the session the other tests use.
    with pytest.warns(UserWarning, match="static confs"):
        again = session.get_spark("tests", shuffle_partitions=8)
    assert again.sparkContext is spark.sparkContext
