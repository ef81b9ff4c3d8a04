import pytest


def test_scratch_dir_registers_atexit_cleanup(monkeypatch):
    """_scratch_dir must defer removal to interpreter exit: the dir
    exists after the call (lazy roundtrip plans re-read it), and the
    registered atexit callback removes exactly that dir."""
    import os

    from data_pipeline_rsna_spark import queries as q

    registered = []
    import atexit as _atexit

    orig_register = _atexit.register
    monkeypatch.setattr(
        _atexit, "register", lambda *a, **k: registered.append(a)
        or orig_register(*a, **k)
    )
    path = q._scratch_dir("scratch_test_")
    assert os.path.isdir(path)
    assert any(a[1] == path for a in registered if len(a) > 1)
    # run the captured callback now instead of at exit
    fn, target = registered[-1][0], registered[-1][1]
    fn(target, ignore_errors=True)
    assert not os.path.exists(path)


@pytest.mark.slow
def test_rsna_pipeline_counts_cleans_its_shards(spark):
    """The E2E counts query counts the written shards eagerly and must
    not leak its /tmp shard directory (one ~80 MB dir per invocation
    otherwise)."""
    import glob as g
    import os
    import tempfile

    import __spark_entry__ as e

    pattern = os.path.join(tempfile.gettempdir(), "rsna_e2e_*")
    before = set(g.glob(pattern))
    df = e.queries()["rsna_pipeline_counts"](spark, "/root/testdata/sf0.001")
    assert df.count() >= 1
    after = set(g.glob(pattern))
    assert after - before == set()
