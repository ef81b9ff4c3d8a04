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


def test_atomic_write_replaces_on_success_and_cleans_up_on_failure(
    tmp_path,
):
    """A clean exit renames the temporary file to its final name; a
    raising block leaves no file behind and an earlier complete file
    untouched."""
    import os

    from data_pipeline_rsna_spark.sinks import atomic_write

    final = tmp_path / "data-00000-of-00001.tfrecord"
    with atomic_write(str(final)) as f:
        assert os.path.basename(f.name).startswith(".")
        assert not f.name.endswith(".tfrecord")
        f.write(b"whole")
    assert os.listdir(tmp_path) == [final.name]
    assert final.read_bytes() == b"whole"

    with pytest.raises(RuntimeError, match="mid-write"):
        with atomic_write(str(final)) as f:
            f.write(b"par")
            raise RuntimeError("mid-write")
    assert os.listdir(tmp_path) == [final.name]
    assert final.read_bytes() == b"whole"

    fresh = tmp_path / "fresh.png"
    with pytest.raises(RuntimeError):
        with atomic_write(str(fresh)) as f:
            raise RuntimeError("before any byte")
    assert os.listdir(tmp_path) == [final.name]


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
