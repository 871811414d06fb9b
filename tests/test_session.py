"""The default driver heap is sized to the machine, never above 48g."""

from ton_etl_spark.session import default_driver_memory


def _meminfo(tmp_path, kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1000 kB\n")
    return str(p)


def test_driver_memory_is_a_quarter_of_the_machine(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 16 * 1024 * 1024)) == "4096m"
    assert default_driver_memory(_meminfo(tmp_path, 15_728_640)) == "3840m"


def test_driver_memory_is_capped_and_floored(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024 * 1024)) == "49152m"
    assert default_driver_memory(_meminfo(tmp_path, 1024 * 1024)) == "512m"


def test_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "absent")) == "48g"
    (tmp_path / "bad").write_text("nothing here\n")
    assert default_driver_memory(str(tmp_path / "bad")) == "48g"
