"""tagvec's Arrow <-> NumPy crossing and its batch slicing.

Every emitter crosses between Arrow and NumPy only through ``_np`` (Arrow
buffers read at the array's offset) and ``_pa`` (``Array.from_buffers``),
because ``pa.array``, ``pa.scalar``, ``Array.to_numpy`` and unpickling a
``pa.Scalar`` all import pandas, which no tagging worker otherwise loads.
The helpers are checked on sliced, NULL-bearing and empty arrays; the
emitters on sliced batches (``tagger.tag_stage`` feeds them row slices of
``tagvec.text_slices``); and a fresh interpreter that unpickles the
compiled automaton, as a Spark worker does with the broadcast, runs all
five emitters without importing pandas. tests/test_pyworker.py checks the
same in Spark's own workers.
"""

import ast
import pathlib
import pickle
import random
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest

from autoner_spark import synth, tagvec
from autoner_spark.dictionary import build_trie
from autoner_spark.tagger import compile_trie
from autoner_spark.triples import dict_link_pairs

ROOT = pathlib.Path(__file__).resolve().parents[1]
EMITTERS = ("tag_record_batch", "link_record_batch", "triple_record_batch",
            "label_record_batch", "markup_record_batch")
_TYPES = [pa.int8(), pa.int32(), pa.int64(), pa.float64(), pa.bool_()]


def _values(type_, n, rng):
    if type_ == pa.bool_():
        return [rng.random() < 0.5 for _ in range(n)]
    if type_ == pa.float64():
        return [rng.uniform(-1e6, 1e6) for _ in range(n)]
    return [rng.randrange(-100, 100) for _ in range(n)]


def _fill(type_):
    return False if type_ == pa.bool_() else -1


@pytest.mark.parametrize("nulls", [False, True], ids=["dense", "nulls"])
@pytest.mark.parametrize("type_", _TYPES, ids=str)
def test_np_reads_sliced_arrays(type_, nulls):
    """``_np`` reads a slice at any offset, bit offsets that are not a
    multiple of 8 included (boolean values and validity bitmaps), with
    NULL slots set to the fill, and gives an empty array for length 0."""
    rng = random.Random(5)
    vals = _values(type_, 37, rng)
    if nulls:
        vals = [None if rng.random() < 0.3 else v for v in vals]
    arr = pa.array(vals, type_)
    fill = _fill(type_)
    for off in (0, 1, 3, 8, 13, 36, 37):
        for n in (0, 1, 5, 37):
            part = arr.slice(off, n)
            got = tagvec._np(part, fill)
            assert got.dtype == (np.dtype(bool) if type_ == pa.bool_()
                                 else np.dtype(type_.to_pandas_dtype()))
            assert got.tolist() == [fill if v is None else v
                                    for v in part.to_pylist()], (off, n)


@pytest.mark.parametrize("nulls", [False, True], ids=["dense", "nulls"])
@pytest.mark.parametrize("type_", _TYPES, ids=str)
def test_pa_round_trips_through_np(type_, nulls):
    """``_pa`` builds the array ``pa.array`` would, NULL where the mask
    is set, and ``_np`` reads it back, whole and sliced."""
    rng = random.Random(9)
    fill = _fill(type_)
    for n in (0, 1, 7, 8, 9, 37):
        vals = np.array(_values(type_, n, rng),
                        dtype=bool if type_ == pa.bool_()
                        else type_.to_pandas_dtype())
        mask = (np.array([rng.random() < 0.3 for _ in range(n)], dtype=bool)
                if nulls else None)
        arr = tagvec._pa(vals, type_, mask)
        arr.validate(full=True)
        assert arr.equals(pa.array(vals, type_, mask=mask))
        want = vals if mask is None else np.where(mask, fill, vals)
        assert tagvec._np(arr, fill).tolist() == want.tolist()
        for off in (1, 3, 9):
            assert (tagvec._np(arr.slice(off), fill).tolist()
                    == want[off:].tolist())


def test_pa_converts_to_the_type_width():
    """Values of another dtype (int64 positions, bool flags) are cast to
    the Arrow type's width."""
    assert tagvec._pa(np.array([1, 2**40 + 3]), pa.int32()).to_pylist() == [
        1, 3]
    assert tagvec._pa(np.array([True, False]), pa.int8()).to_pylist() == [
        1, 0]


def test_np_fills_unmatched_index_in():
    """A token absent from the value set is a NULL ``index_in`` result,
    read as -1, also on a slice of the result."""
    words = pa.array(["x", "a", None, "z", "b", "a", "q", "b"]).slice(1)
    idx = pc.index_in(words, value_set=pa.array(["a", "b"]))
    assert idx.null_count == 3
    assert tagvec._np(idx, -1).tolist() == [0, -1, -1, 1, 0, -1, 1]
    assert tagvec._np(idx.slice(3), -1).tolist() == [1, 0, -1, 1]
    assert tagvec._np(idx.slice(5, 0), -1).tolist() == []


# ---------------------------------------------------------------------------
# the emitters on sliced batches
# ---------------------------------------------------------------------------

_WORDS = ["hash", "join", "sort", "merge", "table", "scan", "window", "agg",
          "shuffle", "fast", "the", "vector", "stream", "big", "row",
          "group", "by", "zz", "HASH", "\n", ",", "-", "(", "x/y", "é"]
# marked lines whose phrases all close under the whitespace tokenizer,
# markup-only tokens included
_MARKED = [
    "x <phrase> hash join </phrase> y",
    "<phrase></phrase> <phrase>stream</phrase>",
    "a <phrase>hash join</phrase> b c</phrase>",
    "<phrase>big <phrase>big table</phrase> <phrase>,</phrase>",
]
# a FILTERED run ("fast scan", full dictionary only) ending where an
# entity ("hash join") starts
_FILTERED_THEN_ENTITY = "fast scan hash join"


def _batch(rows):
    return pa.RecordBatch.from_arrays(
        [pa.array([r[k] for r in rows], t) for k, t in (
            ("conv_id", pa.string()), ("turn_idx", pa.int32()),
            ("text", pa.string()))],
        names=["conv_id", "turn_idx", "text"])


def _fuzz_rows():
    """Token soup over synth's dictionary with NULL and empty text, NULL
    ids, a FILTERED run that ends where an entity starts, a 2,500-token
    turn and marked lines."""
    rng = random.Random(11)
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(40)))
             for _ in range(300)]
    specials = [None, "", "   ", _FILTERED_THEN_ENTITY, *_MARKED,
                " ".join(rng.choice(_WORDS) for _ in range(2_500))]
    for k, text in enumerate(specials):
        texts.insert(17 * k + 5, text)
    rows = [{"conv_id": f"c{i % 7}", "turn_idx": i, "text": t}
            for i, t in enumerate(texts)]
    rows[9]["conv_id"] = None
    rows[10]["turn_idx"] = None
    rows[11].update(conv_id=None, turn_idx=None)
    return rows


@pytest.fixture(scope="module")
def vec():
    spec = synth.dict_spec()
    return tagvec.compile_vec(compile_trie(build_trie(spec)),
                              dict_link_pairs(spec))


def _emit(name, batch, vec, tokenizer):
    """The emitter's output, or the message of the ValueError it raises
    (markup under the charclass tokenizer: "/" is a separator, so
    "</phrase>" never closes)."""
    try:
        return getattr(tagvec, name)(batch, vec, tokenizer)
    except ValueError as e:
        return str(e)


def test_fuzz_rows_hold_a_filtered_run_before_an_entity(vec):
    rows = [{"conv_id": "f", "turn_idx": 0, "text": _FILTERED_THEN_ENTITY}]
    out = tagvec.label_record_batch(_batch(rows), vec).to_pylist()
    assert out[0]["boundary"] == [0, 0, 1, -1]
    assert _FILTERED_THEN_ENTITY in [r["text"] for r in _fuzz_rows()]


@pytest.mark.parametrize("tokenizer", tagvec.TOKENIZER_NAMES)
@pytest.mark.parametrize("name", EMITTERS)
def test_emitters_on_sliced_batches(vec, name, tokenizer):
    """An emitter gives the same output on ``batch.slice(k, m)`` (arrays
    with offsets, bit offsets not a multiple of 8 among them) as on the
    same rows built afresh."""
    rows = _fuzz_rows()
    batch = _batch(rows)
    n = len(rows)
    for k, m in ((0, n), (1, 9), (13, 60), (3, n - 3), (n - 7, 7), (5, 0)):
        got = _emit(name, batch.slice(k, m), vec, tokenizer)
        want = _emit(name, _batch(rows[k:k + m]), vec, tokenizer)
        if isinstance(want, str):
            assert got == want
        else:
            assert got.equals(want), (k, m)


def test_text_slices_bound_the_text_bytes():
    """Slices are consecutive, each within the byte budget (UTF-8 bytes:
    "é" is 2) unless it is one longer turn; a batch within the budget is
    passed on whole."""
    texts = ["ab", None, "x" * 10, "", "é", "zzz", "w"]
    batch = _batch([{"conv_id": "s", "turn_idx": i, "text": t}
                    for i, t in enumerate(texts)])
    parts = list(tagvec.text_slices(batch, 5))
    assert [p.num_rows for p in parts] == [2, 1, 3, 1]
    assert pa.Table.from_batches(parts).equals(
        pa.Table.from_batches([batch]))
    whole = list(tagvec.text_slices(batch, 19))
    assert len(whole) == 1 and whole[0] is batch
    empty = batch.slice(0, 0)
    assert list(tagvec.text_slices(empty, 5)) == [empty]


# ---------------------------------------------------------------------------
# no pandas on the executor paths
# ---------------------------------------------------------------------------

_CHILD = """
import pickle, sys
from autoner_spark import tagvec
with open(sys.argv[1], "rb") as f:
    vec, batch = pickle.load(f)
out = {}
for name in %r:
    for tokenizer in tagvec.TOKENIZER_NAMES:
        try:
            out[name, tokenizer] = getattr(tagvec, name)(batch, vec, tokenizer)
        except ValueError as e:
            out[name, tokenizer] = str(e)
loaded = "pandas" in sys.modules
with open(sys.argv[2], "wb") as f:
    pickle.dump((loaded, out), f)
""" % (EMITTERS,)


def test_emitters_run_without_pandas(vec, tmp_path):
    """A fresh interpreter unpickles ``compile_vec``'s output, as a worker
    unpickles the broadcast, runs all five emitters with both tokenizers
    over the fuzz batch and has not imported pandas; its outputs are the
    ones computed here."""
    assert not any(isinstance(v, pa.Scalar) for v in vec.values())
    batch = _batch(_fuzz_rows())
    src, dst = tmp_path / "in.pkl", tmp_path / "out.pkl"
    src.write_bytes(pickle.dumps((vec, batch)))
    subprocess.run([sys.executable, "-c", _CHILD, str(src), str(dst)],
                   check=True, cwd=ROOT)
    loaded, out = pickle.loads(dst.read_bytes())
    assert not loaded, "an emitter imported pandas"
    assert len(out) == 2 * len(EMITTERS)
    for (name, tokenizer), got in out.items():
        want = _emit(name, batch, vec, tokenizer)
        assert got == want if isinstance(want, str) else got.equals(want)
        if name != "markup_record_batch":
            assert got.num_rows > 0, name


def test_only_compile_vec_calls_the_pandas_paths():
    """Static: outside ``compile_vec`` (which runs on the driver), no
    tagvec code calls ``pa.array``, ``pa.scalar`` or ``.to_numpy(``, so
    executor paths no runtime test reaches load no pandas either."""
    tree = ast.parse((ROOT / "autoner_spark" / "tagvec.py").read_text())
    skip = {id(n) for f in tree.body
            if isinstance(f, ast.FunctionDef) and f.name == "compile_vec"
            for n in ast.walk(f)}
    bad = []
    for node in ast.walk(tree):
        if id(node) in skip or not isinstance(node, ast.Call):
            continue
        fn = node.func
        if isinstance(fn, ast.Attribute) and (
                fn.attr == "to_numpy"
                or (fn.attr in ("array", "scalar")
                    and isinstance(fn.value, ast.Name) and fn.value.id == "pa")):
            bad.append(f"tagvec.py:{node.lineno}: {ast.unparse(fn)}")
    assert not bad, bad
