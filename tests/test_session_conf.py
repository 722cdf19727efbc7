"""Env-driven SparkSession conf overrides (SPARK_GRAFT_EXTRA_CONF)."""

from __future__ import annotations

from data_ingestion_resolution_platform_spark.session import _env_conf_pairs


def test_env_conf_pairs_basic():
    assert _env_conf_pairs(
        "spark.sql.parquet.compression.codec=zstd;spark.io.compression.codec=zstd"
    ) == [
        ("spark.sql.parquet.compression.codec", "zstd"),
        ("spark.io.compression.codec", "zstd"),
    ]


def test_env_conf_pairs_edges():
    assert _env_conf_pairs("") == []
    assert _env_conf_pairs(" ; ;") == []
    # value may itself contain '='; whitespace stripped
    assert _env_conf_pairs(" a.b = x=y ; ") == [("a.b", "x=y")]
    # key-less segments are dropped rather than producing ('', v)
    assert _env_conf_pairs("=v;k=1") == [("k", "1")]


def _mib(spec: str) -> int:
    n, unit = int(spec[:-1]), spec[-1].lower()
    return n * {"m": 1, "g": 1024}[unit]


def test_default_driver_memory_fits_memtotal():
    """The pre-touched default heap must fit the host, or no Spark
    session (and no Spark test) can start."""
    import os

    from data_ingestion_resolution_platform_spark.session import default_driver_memory

    if not os.path.exists("/proc/meminfo"):
        return
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = _mib(default_driver_memory())
    assert 0 < heap * 1024 <= total_kb // 2
    assert heap <= 16 << 10


def test_default_driver_memory_caps_and_falls_back(tmp_path):
    from data_ingestion_resolution_platform_spark.session import default_driver_memory

    big, small = tmp_path / "big", tmp_path / "small"
    big.write_text("MemTotal:       67108864 kB\nMemFree: 1 kB\n")
    small.write_text("MemFree: 1 kB\nMemTotal:        4194304 kB\n")
    assert default_driver_memory(str(big)) == "16384m"
    assert default_driver_memory(str(small)) == "2048m"
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
