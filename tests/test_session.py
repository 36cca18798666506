"""Driver heap sizing: a pure function of the host's MemAvailable."""

from cfe_39_spark import session

GIB_KIB = 1024 * 1024


def test_default_heap_is_a_quarter_of_available():
    assert session.default_driver_mem(15 * GIB_KIB) == "3840m"
    assert session.default_driver_mem(8 * GIB_KIB) == "2048m"


def test_default_heap_is_clamped():
    # a 256 GiB host gets the cap, a nearly full one the floor
    assert session.default_driver_mem(256 * GIB_KIB) == "24576m"
    assert session.default_driver_mem(GIB_KIB) == "1024m"
    assert session.default_driver_mem(None) == "24576m"


def test_default_heap_always_fits_pretouch():
    for gib in (2, 4, 15, 64, 96, 512):
        avail = gib * GIB_KIB
        assert session.pretouch_fits(session.default_driver_mem(avail), avail)


def test_pretouch_only_when_heap_fits():
    avail = 15 * GIB_KIB
    assert session.pretouch_fits("2g", avail)
    assert session.pretouch_fits("7680m", avail)
    assert not session.pretouch_fits("24g", avail)
    assert not session.pretouch_fits("8g", avail)
    # unknown free memory: never pre-touch
    assert not session.pretouch_fits("1g", None)


def test_heap_size_units():
    assert session._heap_mb("512m") == 512
    assert session._heap_mb("4g") == 4096
    assert session._heap_mb("4G") == 4096
    assert session._heap_mb("2048") == 2048
    assert session._heap_mb("1t") == 1024 * 1024


def test_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_mem() == "2g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert session.driver_mem() == session.default_driver_mem(session._mem_available_kib())
