"""Labels table (D6) + distributed .ck export vs the compiled reference."""

import glob
import shutil
import subprocess
from pathlib import Path

import pytest

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.labels import ck_lines, label_transcripts, write_ck
from autoner_spark.textutil import tokenize_turn

GENERATE_CPP = Path("/root/reference/src/generate.cpp")


@pytest.fixture(scope="module")
def labels(spark):
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 12, partitions=3)
    return label_transcripts(t, trie).cache()


def test_labels_shape_and_invariants(spark, labels):
    rows = labels.collect()
    assert rows
    for r in rows:
        n = len(r.tokens)
        assert len(r.boundary) == n and len(r.types) == n and len(r.safe) == n
        assert all(b in (-1, 0, 1) for b in r.boundary)
        for b, t, s in zip(r.boundary, r.types, r.safe):
            if b == 0:
                assert t == "None" and not s
            else:
                assert s
        assert " ".join(r.tokens) and tokenize_turn(" ".join(r.tokens)) == list(r.tokens)


def test_ck_export_matches_reference_binary(spark, labels, tmp_path):
    if shutil.which("g++") is None or not GENERATE_CPP.exists():
        pytest.skip("no toolchain")
    binary = tmp_path / "generate"
    res = subprocess.run(
        ["g++", "-O2", "-fopenmp", "-std=c++11", f"-I{GENERATE_CPP.parent}",
         str(GENERATE_CPP), "-o", str(binary)],
        capture_output=True, text=True,
    )
    if res.returncode != 0:
        pytest.skip("compile failed")

    spec = synth.dict_spec()
    rows = sorted(
        labels.select("conv_id", "turn_idx", "tokens").collect(),
        key=lambda r: (r.conv_id, r.turn_idx),
    )
    raw_lines = []
    for r in rows:
        raw_lines.extend(r.tokens)
        raw_lines.append("")

    (tmp_path / "data").mkdir()
    (tmp_path / "data" / "stopwords.txt").write_text(
        "".join(w + "\n" for w in spec.stopwords))
    (tmp_path / "core.txt").write_text(
        "".join(f"{t}\t{s}\n" for t, s in spec.core))
    (tmp_path / "full.txt").write_text("".join(s + "\n" for s in spec.full))
    (tmp_path / "raw.txt").write_text("".join(ln + "\n" for ln in raw_lines))
    subprocess.run([str(binary), "raw.txt", "core.txt", "full.txt", "out.ck"],
                   cwd=tmp_path, check=True, capture_output=True)
    ref = (tmp_path / "out.ck").read_text()

    # distributed export: range partitions in part-file name order
    out_dir = str(tmp_path / "ck_out")
    write_ck(labels, out_dir)
    parts = sorted(glob.glob(out_dir + "/part-*"))
    ours = "".join(open(p).read() for p in parts)
    # generate.cpp's fprintf("%s\n") adds one extra trailing newline
    assert ours + "\n" == ref


def test_write_ck_parts_concatenate_to_the_ordered_stream(labels, tmp_path):
    """write_ck spreads the export over several tasks, and its part files
    in name order are the .ck blocks in (conv_id, turn_idx) order (the text
    writer ends each block with one newline)."""
    assert labels.rdd.getNumPartitions() >= 3
    out_dir = str(tmp_path / "ck_out")
    write_ck(labels, out_dir)
    parts = [open(p).read() for p in sorted(glob.glob(out_dir + "/part-*"))]
    assert sum(1 for p in parts if p) >= 2
    blocks = sorted(ck_lines(labels).collect(),
                    key=lambda r: (r.conv_id, r.turn_idx))
    assert "".join(parts) == "".join(r.ck + "\n" for r in blocks)


def test_ck_lines_empty_turn(spark):
    trie = build_trie(synth.dict_spec())
    t = spark.createDataFrame(
        [("c", 0, "u", "", None, None)], synth.TRANSCRIPTS_DDL
    )
    lab = label_transcripts(t, trie)
    row = ck_lines(lab).collect()[0]
    assert row.ck == "\n"  # just the sentinel's blank line (writer adds \n)


def test_spans_from_labels_to_span_semantics(spark):
    """Relational to_span analogue (ner.py:176-239): Breaks delimit
    segments, segment type = type at start, None-typed segments dropped,
    final segment closed at turn end."""
    from autoner_spark.evaluate import spans_from_labels

    rows = [
        # turn 0: [0,2) Operator, [2,3) None, [3,5) Object (closed at end)
        ("c", 0, 0, "hash", 1, "Operator", True),
        ("c", 0, 1, "join", -1, "Operator", True),
        ("c", 0, 2, "the", 1, "None", True),
        ("c", 0, 3, "big", 1, "Object", True),
        ("c", 0, 4, "table", -1, "Object", True),
        # turn 1: unknown region (boundary 0) folds into preceding segment
        ("c", 1, 0, "stream", 1, "Object,Operator", True),
        ("c", 1, 1, "slow", 0, "None", False),
        ("c", 1, 2, "merge", 0, "None", False),
    ]
    labels = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, tok_idx int, token string, "
        "boundary int, entity_type string, safe boolean",
    )
    got = {
        (r.conv_id, r.turn_idx, r.begin_tok, r.end_tok, r.entity_type)
        for r in spans_from_labels(labels).collect()
    }
    assert got == {
        ("c", 0, 0, 2, "Operator"),
        ("c", 0, 3, 5, "Object"),
        ("c", 1, 0, 3, "Object,Operator"),
    }


@pytest.mark.parametrize("null_col", ["conv_id", "turn_idx"])
def test_labels_carry_null_ids(spark, null_col):
    """A turn with a NULL conv_id or turn_idx is labelled like any other:
    the NULL is carried onto its labels row, and the other row's labels
    are unchanged."""
    trie = build_trie(synth.dict_spec())
    ids = {"conv_id": "c", "turn_idx": 1, null_col: None}
    rows = [
        ("c", 0, "u", "see hash join here", None, None),
        (ids["conv_id"], ids["turn_idx"], "u", "big table x", None, None),
    ]
    got = sorted(
        (tuple(r) for r in label_transcripts(
            spark.createDataFrame(rows, synth.TRANSCRIPTS_DDL), trie
        ).collect()),
        key=repr,
    )
    assert got == sorted([
        ("c", 0, ["see", "hash", "join", "here"], [1, 1, -1, 1],
         ["None", "Operator", "Operator", "None"], [True] * 4),
        (ids["conv_id"], ids["turn_idx"], ["big", "table", "x"], [1, -1, 1],
         ["Object", "Object", "None"], [True] * 3),
    ], key=repr)
