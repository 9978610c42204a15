"""The session factory's machine-sized defaults."""

from warcbase_spark.session import DRIVER_MEM_CAP_MB, default_driver_memory


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_driver_memory_is_60_percent_of_memtotal(tmp_path):
    # a 15 GB machine gets a 9 GB heap, not the 48g that let one JVM grow
    # past the machine's memory
    assert default_driver_memory(_meminfo(tmp_path, 16_479_424)) == "9655m"
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "614m"


def test_driver_memory_capped_and_fallback(tmp_path):
    cap = f"{DRIVER_MEM_CAP_MB}m"
    assert default_driver_memory(_meminfo(tmp_path, 512 * 1024 * 1024)) == cap
    assert default_driver_memory(str(tmp_path / "missing")) == cap
    bad = tmp_path / "bad"
    bad.write_text("MemFree: 12 kB\n")
    assert default_driver_memory(str(bad)) == cap


def test_caches_stored_uncompressed(spark):
    # every cache of a round is written once and read once to three times;
    # compressing it ran a statistics pass over every column of every batch
    # (26% of executor CPU samples of a warm 340k-URL scheduler round) to
    # reject the dictionary of the unique url/url_key columns anyway
    assert spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed") == "false"
