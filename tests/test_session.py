"""Host-fit driver heap default of session.get_spark."""
from tosidewalk_spark import session


def _meminfo(tmp_path, total_kb):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_default_driver_mem_is_a_share_of_host_memory(tmp_path):
    # 15.7 GiB host -> 40 % = 6437 MiB, well under the 16g cap
    assert session.default_driver_mem(_meminfo(tmp_path, 16479424)) == "6437m"


def test_default_driver_mem_caps_at_16g_and_floors_at_1g(tmp_path):
    assert session.default_driver_mem(_meminfo(tmp_path, 512 * 1024 ** 2)) == "16384m"
    assert session.default_driver_mem(_meminfo(tmp_path, 1024 ** 2)) == "1024m"


def test_default_driver_mem_without_meminfo_keeps_16g(tmp_path):
    assert session.default_driver_mem(str(tmp_path / "missing")) == "16384m"
    empty = tmp_path / "empty"
    empty.write_text("")
    assert session.default_driver_mem(str(empty)) == "16384m"
