"""Session factory: the warm-up writes driver-local files only on local
masters, so ``get_spark`` cannot fail on a cluster master."""
import tempfile
from types import SimpleNamespace

from bib_dedupe_spark.session import _warm_session


class _OnMaster:
    """The test session, reporting another master."""

    def __init__(self, spark, master):
        self._spark = spark
        self.sparkContext = SimpleNamespace(master=master)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def _spy_mkdtemp(monkeypatch):
    made = []
    mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        made.append(mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    return made


def test_warm_up_skips_driver_tempdir_on_cluster_master(spark, monkeypatch):
    made = _spy_mkdtemp(monkeypatch)
    _warm_session(_OnMaster(spark, "spark://cluster:7077"))
    assert made == []


def test_warm_up_round_trips_parquet_on_local_master(spark, monkeypatch):
    made = _spy_mkdtemp(monkeypatch)
    _warm_session(_OnMaster(spark, "local[4]"))
    assert len(made) == 1
