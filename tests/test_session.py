"""Driver heap sizing: the session default follows physical RAM."""

from orx_surgical_spark.session import driver_memory_for_box


def _meminfo(tmp_path, total_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kb} kB\nMemFree:        1024 kB\n")
    return str(p)


def test_heap_is_sixty_percent_of_ram_on_a_small_box(tmp_path):
    # 15 GiB of RAM: 60% is 9216 MiB, well under the 48 GiB cap
    assert driver_memory_for_box(meminfo=_meminfo(tmp_path, 15 * 1024 * 1024)) == "9216m"


def test_heap_is_capped_on_a_large_box(tmp_path):
    big = _meminfo(tmp_path, 512 * 1024 * 1024)
    assert driver_memory_for_box(meminfo=big) == f"{48 * 1024}m"
    assert driver_memory_for_box(4096, meminfo=big) == "4096m"


def test_heap_falls_back_to_the_cap_without_meminfo(tmp_path):
    assert driver_memory_for_box(24 * 1024, meminfo=str(tmp_path / "absent")) == "24576m"
    garbled = tmp_path / "garbled"
    garbled.write_text("MemTotal: lots\n")
    assert driver_memory_for_box(1024, meminfo=str(garbled)) == "1024m"
