"""prepare_worker: once-per-process Python worker setup (spark/worker.py)."""

import gc
import importlib
import sys
import zipfile
import zipimport

import pytest

from go_readability_spark.spark import worker

eager_only = pytest.mark.skipif(
    not worker.EAGER_ZIP_REREAD, reason="zipimporter re-reads lazily on CPython >= 3.13"
)


class _InTask:
    """Stands in for pyspark's TaskContext inside a running task."""

    @staticmethod
    def get():
        return object()


@pytest.fixture
def fresh_worker(monkeypatch):
    """prepare_worker state as in a new worker process running a Spark
    task; the zipimport hook and the GC state of the test process are
    restored afterwards, and gc.freeze calls are counted instead of made."""
    freezes = []
    monkeypatch.setattr(worker, "TaskContext", _InTask)
    monkeypatch.setattr(worker, "_prepared", False)
    monkeypatch.setattr(worker, "_zip_reads", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker._stock_invalidate)
    monkeypatch.setattr(gc, "freeze", lambda: freezes.append(1))
    return freezes


@pytest.fixture
def zip_package(tmp_path, monkeypatch):
    """A package ``zpkg`` with a subpackage, imported from a zip on
    sys.path, so two zipimporters share one archive."""
    path = str(tmp_path / "zpkg.zip")
    _write_zip(path, {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zpkg.sub")
    yield path
    for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)


@pytest.fixture
def reads(monkeypatch):
    """Archives passed to zipimport._read_directory from now on."""
    seen = []
    stock = zipimport._read_directory

    def counted(archive):
        seen.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return seen


@eager_only
def test_unchanged_zip_is_not_reread(fresh_worker, zip_package, reads):
    importlib.invalidate_caches()
    stock_reads = reads.count(zip_package)
    assert stock_reads >= 2  # the stock method: once per importer
    worker.prepare_worker()
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_package) == 1  # first call: one read, shared
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(zip_package) == 0
    assert importlib.import_module("zpkg.sub").X == 1


@eager_only
def test_zip_rewritten_in_place_is_reread(fresh_worker, zip_package, reads):
    worker.prepare_worker()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zpkg.extra")
    _write_zip(
        zip_package,
        {"zpkg/__init__.py": "", "zpkg/sub/__init__.py": "X = 1\n", "zpkg/extra.py": "Y = 2\n"},
    )
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(zip_package) == 1
    assert importlib.import_module("zpkg.extra").Y == 2


@eager_only
def test_unreadable_archive_falls_back_to_stock(fresh_worker, zip_package, reads, tmp_path):
    worker.prepare_worker()
    importlib.invalidate_caches()
    (tmp_path / "zpkg.zip").unlink()
    importlib.invalidate_caches()  # stat fails: the stock method runs
    assert reads.count(zip_package) >= 2


def test_repeated_calls_freeze_once(fresh_worker):
    for _ in range(3):
        worker.prepare_worker()
    assert fresh_worker == [1]


def test_no_zip_hook_on_lazy_zipimport(fresh_worker, monkeypatch):
    monkeypatch.setattr(worker, "EAGER_ZIP_REREAD", False)
    worker.prepare_worker()
    assert zipimport.zipimporter.invalidate_caches is worker._stock_invalidate
    assert fresh_worker == [1]


def test_outside_a_spark_task_nothing_changes():
    """The driver and test processes import and call engine code too (here
    a WARC batch function, as tests/test_corpus.py does): their GC state
    and zipimport stay as they were."""
    import pyarrow as pa

    from go_readability_spark.spark import corpus

    frozen = gc.get_freeze_count()
    hook = zipimport.zipimporter.invalidate_caches
    worker.prepare_worker()
    batch = pa.RecordBatch.from_pydict({"content": [b""], "path": ["a"]})
    list(corpus._encode(corpus._warc_pages)(iter([batch])))
    assert not worker._prepared
    assert gc.get_freeze_count() == frozen
    assert zipimport.zipimporter.invalidate_caches is hook is worker._stock_invalidate


def test_default_cpus_is_the_host_core_count(monkeypatch):
    """One Python worker per core by default: each worker pays its first
    task's setup once."""
    from go_readability_spark.spark.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr("os.cpu_count", lambda: 3)
    assert default_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert default_cpus() == 2
