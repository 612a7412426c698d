"""Distributed tagger vs single-node oracle: the P/R >= 0.95 gate.

The Spark tagger (autoner_spark.tagger — independent optimized
implementation) must emit exactly the oracle's typed spans on the synthetic
transcripts table. Since the oracle itself is byte-for-byte identical to the
compiled reference binary (tests/test_reference_binary.py), this transitively
pins the distributed pipeline to the reference tagger at P = R = 1.0.
"""

import pytest

from autoner_spark import synth
from autoner_spark.dictionary import build_trie
from autoner_spark.oracle import tag_turn
from autoner_spark.tagger import compile_trie, tag_tokens_compiled, tag_transcripts
from autoner_spark.textutil import tokenize_turn

N_CONVS = 30


@pytest.fixture(scope="module")
def trie():
    return build_trie(synth.dict_spec())


def oracle_spans(rows, trie):
    gold = set()
    for row in rows:
        toks = tokenize_turn(row["text"])
        for m in tag_turn(toks, trie):
            gold.add(
                (row["conv_id"], row["turn_idx"], m.begin_tok, m.end_tok,
                 m.surface, m.entity_type)
            )
    return gold


def test_compiled_dp_matches_oracle_per_turn(trie):
    """Fast path vs readable oracle, turn by turn (no Spark)."""
    compiled = compile_trie(trie)
    rows = synth.local_rows(n_convs=N_CONVS)
    for row in rows:
        toks = tokenize_turn(row["text"])
        fast = tag_tokens_compiled(toks, compiled)
        slow = [
            (m.begin_tok, m.end_tok, m.surface, m.entity_type)
            for m in tag_turn(toks, trie)
        ]
        assert fast == slow, f"mismatch on {row['conv_id']}#{row['turn_idx']}: {row['text']!r}"


def test_spark_tagger_matches_oracle_exactly(spark, trie):
    rows = synth.local_rows(n_convs=N_CONVS)
    transcripts = synth.synth_transcripts(spark, N_CONVS, partitions=5)
    mentions = tag_transcripts(transcripts, trie)
    got = {
        (r.conv_id, r.turn_idx, r.begin_tok, r.end_tok, r.surface, r.entity_type)
        for r in mentions.collect()
    }
    gold = oracle_spans(rows, trie)
    assert gold, "fixture must produce mentions"
    # exact parity -> P = R = 1.0 (gate is >= 0.95)
    assert got == gold


def test_spark_tagger_deterministic_across_partitioning(spark, trie):
    a = tag_transcripts(synth.synth_transcripts(spark, 10, partitions=1), trie)
    b = tag_transcripts(synth.synth_transcripts(spark, 10, partitions=7), trie)
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in b.collect()}
    assert sa == sb


def test_per_turn_text_equality_invariant(spark):
    """input_hint invariant: reassembled per-turn token stream == text."""
    from pyspark.sql import functions as F

    t = synth.synth_transcripts(spark, 10, partitions=3)
    bad = t.filter(
        F.array_join(F.split(F.col("text"), " "), " ") != F.col("text")
    ).count()
    assert bad == 0


def _passthrough_transcripts(spark):
    """Turns carrying ts and a string note: (conv_id, turn_idx) pairs
    repeat with different ts/note, and some notes and texts are NULL."""
    import datetime

    base = datetime.datetime(2025, 3, 9, 1, 30)  # spans a DST change
    rows = []
    for i, r in enumerate(synth.local_rows(n_convs=8)):
        for k in range(1 + (i % 3 == 0)):
            rows.append((r["conv_id"], r["turn_idx"],
                         None if i % 11 == 5 else r["text"],
                         base + datetime.timedelta(hours=i, minutes=7 * k),
                         None if (i + k) % 4 == 0 else f"note {i}.{k}"))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, ts timestamp, "
              "note string").repartition(3)


def test_passthrough_carries_source_row_values(spark, trie):
    """Every mention carries exactly its own source row's ``ts`` and
    ``note``, also when (conv_id, turn_idx) repeats with other values and
    under a non-UTC session time zone; the output multiset equals a
    per-row scalar reference."""
    from collections import Counter

    conf = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(conf)
    spark.conf.set(conf, "America/Los_Angeles")
    try:
        transcripts = _passthrough_transcripts(spark)
        src = transcripts.collect()
        got = Counter(tuple(r) for r in tag_transcripts(
            transcripts, trie, passthrough=("ts", "note")).collect())
    finally:
        spark.conf.set(conf, old_tz)
    compiled = compile_trie(trie)
    want = Counter(
        (r.conv_id, r.turn_idx, *m, r.ts, r.note)
        for r in src if r.text
        for m in tag_tokens_compiled(tokenize_turn(r.text), compiled))
    assert got == want
    keys = Counter((r.conv_id, r.turn_idx) for r in src if r.text)
    assert any(keys[m[:2]] > 1 for m in got), "fixture must repeat turns"
    assert any(m[7] is None for m in got), "fixture must carry NULL notes"


@pytest.mark.parametrize("passthrough", [(), ("ts",), ("ts", "note")])
@pytest.mark.parametrize("tokenizer", ["whitespace", "charclass"])
def test_one_arrow_executor_for_every_shape(spark, trie, tokenizer,
                                            passthrough):
    """Every tokenizer and passthrough runs through one MapInArrow; no
    pandas or row-at-a-time Python stage."""
    mentions = tag_transcripts(_passthrough_transcripts(spark), trie,
                               passthrough=passthrough, tokenizer=tokenizer)
    plan = mentions._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("stage", ["labels", "markup"])
def test_one_arrow_executor_for_labels_and_markup(spark, trie, stage):
    """Tie-or-Break labels and phrase markup run through the same one
    MapInArrow as the tagger; no pandas or row-at-a-time Python stage."""
    from autoner_spark.labels import label_transcripts
    from autoner_spark.markup import tag_marked_transcripts

    run = {"labels": label_transcripts, "markup": tag_marked_transcripts}
    out = run[stage](_passthrough_transcripts(spark), trie)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan, plan


def test_only_golden_imports_the_oracle():
    """``oracle`` holds the reference implementations the tests and the
    golden tables compare against; no production module runs them."""
    import ast
    import pathlib

    import autoner_spark

    root = pathlib.Path(autoner_spark.__file__).parent
    importers = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            names = ([a.name for a in node.names]
                     if isinstance(node, ast.Import) else
                     [node.module or "", *(a.name for a in node.names)]
                     if isinstance(node, ast.ImportFrom) else [])
            if any(n == "oracle" or n.endswith(".oracle") for n in names):
                importers.add(path.relative_to(root).as_posix())
    assert importers == {"golden.py"}


def test_unknown_tokenizer_fails_on_the_driver(spark, trie):
    sc = spark.sparkContext
    group = "unknown-tokenizer"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="tokenizer"):
            tag_transcripts(synth.synth_transcripts(spark, 2), trie,
                            tokenizer="unicode")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
