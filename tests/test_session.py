from dts.session import default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_the_host_within_bounds():
    assert default_driver_memory(16 * GIB) == "8g"
    assert default_driver_memory(16 * 10**9) == "7g"  # whole GiB, rounded down
    assert default_driver_memory(512 << 20) == "1g"  # floor
    assert default_driver_memory(1 << 40) == "48g"  # today's cap
    assert default_driver_memory(96 * GIB) == "48g"
