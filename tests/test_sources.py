""".ck reader round-trip + IOBES converter parity with the reference script."""

import subprocess
import sys
from pathlib import Path

import pytest

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.labels import label_transcripts, write_ck
from autoner_spark.sources.ck import parse_ck, read_ck_df
from autoner_spark.sources.iobes import iobes_to_ck

REF_SCRIPT = Path("/root/reference/preprocess_partial_ner/bioes_chunking.py")


def test_ck_round_trip(spark, tmp_path):
    trie = build_trie(synth.dict_spec())
    t = synth.synth_transcripts(spark, 8, partitions=2)
    labels = label_transcripts(t, trie).cache()
    out = str(tmp_path / "ck")
    write_ck(labels, out)

    back = read_ck_df(spark, out).collect()
    orig = sorted(
        (
            (tuple(r.tokens), tuple(r.boundary), tuple(r.types), tuple(r.safe))
            for r in labels.collect()
            if r.tokens  # empty turns have no <s>/<eof> block in the file
        )
    )
    got = sorted(
        (tuple(r.tokens), tuple(r.boundary), tuple(r.types), tuple(r.safe))
        for r in back
    )
    assert got == orig and got


def test_parse_ck_unknown_and_gold_variants():
    text = (
        "<s> O None S\n"
        "fast O None D\n"
        "scan O None D\n"
        "<eof> I None S\n\n\n"
        "<s> O None\n"
        "hash I Operator\n"
        "join O Operator\n"
        "<eof> I None\n"
    )
    s = parse_ck(text)
    assert len(s) == 2
    assert s[0]["boundary"] == [0, 0] and s[0]["safe"] == [False, False]
    assert s[1]["boundary"] == [1, -1] and s[1]["safe"] == [True, True]


IOBES_LINES = [
    "EU NNP B-ORG",  # actually S- in strict IOBES; exercise branches:
    "rejects VBZ O",
    "German JJ S-MISC",
    "call NN O",
    "",
    "Peter NNP B-PER",
    "Blackburn NNP E-PER",
    "",
    "BRUSSELS NNP S-LOC",
    "1996-08-22 CD O",
]


def _ck_text(misc_label):
    return (
        "<s> O None\nEU I ORG\nrejects I None\n"
        f"German I {misc_label}\ncall I None\n<eof> I None\n\n"
        "<s> O None\nPeter I PER\nBlackburn O PER\n<eof> I None\n\n"
        "<s> O None\nBRUSSELS I LOC\n1996-08-22 I None\n<eof> I None\n"
    )


@pytest.mark.skipif(not REF_SCRIPT.exists(),
                    reason="reference bioes_chunking.py not available")
def test_iobes_to_ck_matches_reference_script(tmp_path):
    (tmp_path / "in.iobes").write_text(
        "".join(ln + "\n" for ln in IOBES_LINES))
    for flag in ([], ["--ignore_misc"]):
        ref_out = tmp_path / f"ref{'_m' if flag else ''}.ck"
        subprocess.run(
            [sys.executable, str(REF_SCRIPT), "--input",
             str(tmp_path / "in.iobes"), "--output", str(ref_out), *flag],
            check=True, capture_output=True,
        )
        ours = iobes_to_ck(IOBES_LINES, ignore_misc=bool(flag))
        assert ours == ref_out.read_text(), f"flag={flag}"


@pytest.mark.parametrize("ignore_misc,misc_label",
                         [(False, "MISC"), (True, "None")])
def test_iobes_to_ck_pinned_text(ignore_misc, misc_label):
    """The reference script's .ck output for IOBES_LINES, pinned as a
    literal so the converter stays checked where the script is absent:
    the first token of a sentence is always 'I'; E- continues ('O');
    --ignore_misc turns MISC into None; sentences close with
    '<eof> I None' and a blank line, the last one without it."""
    assert iobes_to_ck(IOBES_LINES, ignore_misc=ignore_misc) == _ck_text(
        misc_label)
