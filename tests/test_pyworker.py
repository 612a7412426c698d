"""pyworker: Spark's per-task import-cache flush re-reads a zip archive only
when the archive changed, and every package Python-UDF stage's workers carry
the install. The tagging stages' workers never load pandas.
"""

import ast
import importlib
import importlib.util
import os
import pathlib
import sys
import uuid
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from autoner_spark import dedup, pyworker, similarity, synth
from autoner_spark.dictionary import build_trie
from autoner_spark.labels import label_transcripts
from autoner_spark.markup import tag_marked_transcripts
from autoner_spark.tagger import tag_transcripts
from autoner_spark.triples import build_kg


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "autoner_spark"
UDF_METHODS = {"mapInArrow", "mapInPandas", "applyInPandasWithState"}


def _udf_functions(tree):
    """(call, function def or None) for each function passed to a Python-UDF
    DataFrame method, resolved in the innermost enclosing function first,
    then at module level; ``partial(fn, ...)`` is unwrapped."""
    funcs = [n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    module_defs = {n.name: n for n in tree.body
                   if isinstance(n, ast.FunctionDef)}
    for call in ast.walk(tree):
        if not (isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr in UDF_METHODS):
            continue
        arg = call.args[0]
        if isinstance(arg, ast.Call):  # partial(fn, ...)
            arg = arg.args[0]
        name = getattr(arg, "id", None)
        scope = max((f for f in funcs
                     if f.lineno <= call.lineno <= f.end_lineno),
                    key=lambda f: f.lineno, default=None)
        nested = {n.name: n for n in ast.walk(scope)
                  if isinstance(n, ast.FunctionDef) and n is not scope
                  } if scope else {}
        yield call, nested.get(name) or module_defs.get(name)


def test_every_python_udf_installs_the_flush_first():
    """Static: every function handed to mapInArrow / mapInPandas /
    applyInPandasWithState in the package calls ``pyworker.install()`` as
    its first statement, so no Python-UDF stage pays the stock per-task
    zip re-read."""
    checked, missing = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        for call, fn in _udf_functions(ast.parse(path.read_text())):
            where = f"{path.relative_to(PACKAGE)}:{call.lineno}"
            checked.append(where)
            if fn is None:
                missing.append(f"{where}: {ast.unparse(call.args[0])} "
                               "is not a def in scope")
                continue
            body = fn.body
            if (isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                body = body[1:]  # docstring
            if ast.unparse(body[0]) != "pyworker.install()":
                missing.append(f"{where}: {fn.name}")
    assert len(checked) >= 7, checked
    assert not missing, missing


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


def _docs(spark):
    return spark.range(64, numPartitions=8).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("w"), (F.col("id") % 7).cast("string"),
                    F.lit("x y")).alias("text"))


def _vectors(spark):
    return spark.range(64, numPartitions=8).select(
        F.col("id").alias("vec_id"),
        F.array((F.col("id") % 5).cast("double") - 2.0,
                F.lit(1.0)).alias("embedding"))


def _assert_stage_workers_installed(spark, source, stage,
                                    pandas_free=False):
    """Every Python worker that ran ``stage(source)`` has the install (and,
    with ``pandas_free``, has not imported pandas). A private environment
    variable gives the stage and the probe their own worker pool (Spark
    keys Python worker pools by environment, captured when the stage is
    built), so the probe's first task runs in a worker that only ever ran
    the stage; ``source`` is built outside that pool. The probe builds its
    row over Arrow buffers, as ``pa.array`` would import pandas itself."""
    sc = spark.sparkContext

    def probe(batches):
        import numpy as np
        import pyarrow as pa

        for _ in batches:
            pass
        flush = zipimport.zipimporter.invalidate_caches
        row = {
            "pid": os.getpid(),
            "ran": any(m.startswith("autoner_spark") for m in sys.modules),
            "installed": getattr(sys.modules.get("autoner_spark.pyworker"),
                                 "_invalidate_caches", None) is flush,
            "pandas": "pandas" in sys.modules,
        }
        yield pa.RecordBatch.from_arrays(
            [pa.Array.from_buffers(pa.int64(), 1, [None, pa.py_buffer(
                np.array([v], np.int64))]) for v in row.values()],
            names=list(row))

    key = "AUTONER_TEST_WORKER_POOL"
    sc.environment[key] = uuid.uuid4().hex
    try:
        out = stage(source)
        probed = spark.range(8, numPartitions=8).mapInArrow(
            probe, "pid long, ran long, installed long, pandas long")
    finally:
        del sc.environment[key]
    assert out.count() > 0
    rows = probed.collect()
    assert any(r.ran for r in rows), rows
    assert all(r.installed for r in rows if r.ran), rows
    if pandas_free:
        assert not any(r.pandas for r in rows if r.ran), rows


@pytest.mark.parametrize("tokenizer,passthrough", [
    ("whitespace", ()),       # pre-tokenized text, the hot path
    ("charclass", ()),        # raw-text tokenizer
    ("whitespace", ("ts",)),  # passthrough column (streaming)
])
def test_tagger_workers_carry_the_install(spark, tokenizer, passthrough):
    """The tagger's workers carry the install and never import pandas."""
    transcripts = synth.synth_transcripts(spark, 40, partitions=8).withColumn(
        "ts", F.lit(0))
    trie = build_trie(synth.dict_spec())
    _assert_stage_workers_installed(
        spark, transcripts,
        lambda t: tag_transcripts(t, trie, tokenizer=tokenizer,
                                  passthrough=passthrough),
        pandas_free=True)


def _kg_triples(t):
    return build_kg(t.sparkSession, t, synth.dict_spec())["triples"]


def _marked(t):
    """Each synth turn with its "hash join"s and "stream"s marked as
    AutoPhrase phrases."""
    return t.withColumn("text", F.regexp_replace(
        "text", "(hash join|stream)", "<phrase>$1</phrase>"))


@pytest.mark.parametrize("make_input,stage", [
    (lambda t: t, _kg_triples),
    (lambda t: t, lambda t: label_transcripts(
        t, build_trie(synth.dict_spec()))),
    (_marked, lambda t: tag_marked_transcripts(
        t, build_trie(synth.dict_spec()))),
], ids=["build_kg_triples", "labels", "markup"])
def test_tagging_workers_never_import_pandas(spark, make_input, stage):
    """The workers of every other tagvec emitter's stage carry the install
    and load no pandas: tagvec crosses between Arrow and NumPy over
    buffers."""
    _assert_stage_workers_installed(
        spark, make_input(synth.synth_transcripts(spark, 40, partitions=8)),
        stage, pandas_free=True)


@pytest.mark.parametrize("make_input,stage", [
    (_docs, dedup.simhash_arrow),
    (_vectors, lambda v: similarity.lsh_band_buckets_arrow(v, 4, 2)),
], ids=["dedup_simhash", "similarity_lsh"])
def test_arrow_stage_workers_carry_the_install(spark, make_input, stage):
    _assert_stage_workers_installed(spark, make_input(spark), stage)
