"""pyworker: Spark's per-task import-cache flush re-reads a zip archive only
when the archive changed, and the tagger's Python workers carry the install.
"""

import importlib
import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from autoner_spark import pyworker, synth
from autoner_spark.dictionary import build_trie
from autoner_spark.tagger import tag_transcripts


@pytest.fixture
def stock_flush(monkeypatch):
    """Run with the stock zipimporter flush and a fresh stamp table; both
    are restored afterwards, so no test leaks the install."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pyworker._reread)
    monkeypatch.setattr(pyworker, "_stamps", {})


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A temp zip: returns ``(write, archive)`` where ``write(names)``
    (re)writes it in place with one module per name. Its importer and
    modules are dropped afterwards."""
    archive = str(tmp_path / f"mods_{uuid.uuid4().hex}.zip")

    def write(names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

    yield write, archive
    sys.path_importer_cache.pop(archive, None)
    for name in [m for m in sys.modules if m.startswith("pyworker_zmod_")]:
        del sys.modules[name]


def _count_reads(monkeypatch, archive):
    reads = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_reread_at_most_once(
        stock_flush, zip_on_path, monkeypatch):
    write, archive = zip_on_path
    write(["pyworker_zmod_a"])
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("pyworker_zmod_a").NAME == "pyworker_zmod_a"
    reads = _count_reads(monkeypatch, archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 2  # the stock flush re-reads on every call
    reads.clear()
    pyworker.install()
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) <= 1


def test_rewritten_archive_is_picked_up(stock_flush, zip_on_path, monkeypatch):
    write, archive = zip_on_path
    write(["pyworker_zmod_b"])
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("pyworker_zmod_b")
    pyworker.install()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("pyworker_zmod_c")
    write(["pyworker_zmod_b", "pyworker_zmod_c"])
    importlib.invalidate_caches()
    assert importlib.import_module("pyworker_zmod_c").NAME == "pyworker_zmod_c"


def test_install_is_idempotent(stock_flush):
    stock = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is pyworker._invalidate_caches
    assert pyworker._invalidate_caches.__wrapped__ is stock
    # a second copy of the module (e.g. reloaded) wraps the stock method too
    spec = importlib.util.spec_from_file_location(
        "pyworker_copy", pyworker.__file__)
    copy = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(copy)
    copy.install()
    assert zipimport.zipimporter.invalidate_caches is copy._invalidate_caches
    assert copy._invalidate_caches.__wrapped__ is stock


@pytest.mark.parametrize("tokenizer,passthrough", [
    ("whitespace", ()),       # pre-tokenized text, the hot path
    ("charclass", ()),        # raw-text tokenizer
    ("whitespace", ("ts",)),  # passthrough column (streaming)
])
def test_tagger_workers_carry_the_install(spark, tokenizer, passthrough):
    """Every Python worker that ran a tagging task has the install. A
    private environment variable gives the tagging and probe stages their
    own worker pool (Spark keys Python worker pools by environment), so
    the probe's first task runs in a worker that only ever ran tagging."""
    sc = spark.sparkContext
    transcripts = synth.synth_transcripts(spark, 40, partitions=8).withColumn(
        "ts", F.lit(0))
    trie = build_trie(synth.dict_spec())

    def probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        flush = zipimport.zipimporter.invalidate_caches
        installed = getattr(sys.modules.get("autoner_spark.pyworker"),
                            "_invalidate_caches", None) is flush
        tagged = any(m in sys.modules for m in
                     ("autoner_spark.tagvec", "autoner_spark.tagger"))
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "tagged": [tagged],
             "installed": [installed]})

    key = "AUTONER_TEST_WORKER_POOL"
    sc.environment[key] = uuid.uuid4().hex
    try:
        mentions = tag_transcripts(transcripts, trie, tokenizer=tokenizer,
                                   passthrough=passthrough)
        probed = spark.range(8, numPartitions=8).mapInArrow(
            probe, "pid long, tagged boolean, installed boolean")
    finally:
        del sc.environment[key]
    assert mentions.count() > 0
    rows = probed.collect()
    tagging = {r.pid for r in rows if r.tagged}
    assert tagging, rows
    assert all(r.installed for r in rows if r.tagged), rows

