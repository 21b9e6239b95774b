"""Session defaults that depend on the host."""

import io

from tcga_query_project_spark import session


def _fake_meminfo(text):
    def fake_open(path, *args, **kwargs):
        assert path == "/proc/meminfo"
        return io.StringIO(text)

    return fake_open


def test_default_driver_memory_is_half_of_host_memory(monkeypatch):
    # 15 GB host: half of MemTotal, in MiB
    monkeypatch.setattr(
        session, "open", _fake_meminfo("MemTotal:  15728640 kB\n"), raising=False
    )
    assert session.default_driver_memory() == "7680m"


def test_default_driver_memory_capped_at_16g(monkeypatch):
    monkeypatch.setattr(
        session, "open", _fake_meminfo("MemTotal: 263741440 kB\n"), raising=False
    )
    assert session.default_driver_memory() == "16384m"


def test_default_driver_memory_falls_back_without_meminfo(monkeypatch):
    def missing(path, *args, **kwargs):
        raise FileNotFoundError(path)

    monkeypatch.setattr(session, "open", missing, raising=False)
    assert session.default_driver_memory() == "16384m"


def test_dataset_handle_released_without_cycle_collector(spark):
    """A ``Dataset`` handle that had a method called is freed when its
    last reference goes, with the cycle collector off, and py4j's
    release worker polls at the engine's period."""
    import gc
    import weakref

    from py4j import clientserver

    jdf = spark.range(5)._jdf
    assert jdf.count() == 5
    handle = weakref.ref(jdf)
    gc.disable()
    try:
        del jdf
        assert handle() is None
    finally:
        gc.enable()
    assert clientserver.DEFAULT_WORKER_SLEEP_TIME == session.PY4J_RELEASE_POLL_S
