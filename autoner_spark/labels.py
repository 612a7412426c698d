"""Distant-supervision LABELS table (SURVEY.md D6) + distributed .ck sink.

The reference materializes Tie-or-Break labels as a line-per-token `.ck`
file (annotation.h:319-351). The Spark-native shape is per-turn ARRAY
columns — no explosion, no line formats on the hot path:

    labels(conv_id, turn_idx, tokens array<string>, boundary array<int>,
           types array<string>, safe array<boolean>)

boundary: 1 Break / -1 Tie / 0 Unknown (getBoundary, annotation.h:267-296);
types: per-token comma-joined type or 'None' (getTypes, :298-317);
safe: col-4 S/D of the .ck format (Unknown -> Dangerous).

The table is one narrow ``mapInArrow`` of ``tagvec.label_record_batch``,
which builds the three label arrays from the DP's ENTITY and FILTERED
segments with ordered NumPy scatters; ``oracle.get_boundary`` /
``get_types`` are the references it is pinned to
(tests/test_tagvec_parity.py).

``ck_lines`` re-serializes a labels row into the exact reference file
format (label INVERSION preserved: file 'I' = Break, 'O' = Tie) so the
distributed export is byte-comparable to `bin/generate` output — the golden
test reuses the compiled binary. The export is only for interchange; the
engine itself always consumes the array form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tagvec
from .dictionary import TrieKB
from .tagger import broadcast_automaton, tag_stage


def label_transcripts(transcripts: DataFrame, trie: TrieKB) -> DataFrame:
    """transcripts -> labels table: one narrow ``mapInArrow`` of
    ``tagvec.label_record_batch`` over the broadcast automaton. A turn is
    labelled with its trailing "\\n" sentinel and the sentinel's slot is
    dropped, mirroring the global-stream semantics exactly; conv_id and
    turn_idx are copied from the source row, NULLs included."""
    return tag_stage(
        transcripts.select("conv_id", "turn_idx", "text"),
        broadcast_automaton(transcripts.sparkSession, trie),
        tagvec.label_record_batch, tagvec.LABELS_SCHEMA)


def ck_lines(labels: DataFrame) -> DataFrame:
    """labels -> (conv_id, turn_idx, ck string): the reference .ck block for
    each turn (one sentence), including the <s>/<eof> sentinels and the
    trailing blank lines of the "\\n" sentinel token. Concatenating blocks
    in (conv_id, turn_idx) order reproduces `bin/generate` output exactly.

    JVM-side expression (zip_with + when), no UDF.
    """
    body = F.array_join(
        F.zip_with(
            F.col("tokens"),
            F.zip_with(
                F.col("boundary"), F.col("types"),
                lambda b, t: F.struct(b.alias("b"), t.alias("t")),
            ),
            lambda tok, bt: F.concat(
                tok,
                F.lit(" "),
                F.when(bt["b"] == 0, F.lit("O None D"))
                .when(bt["b"] == 1, F.concat(F.lit("I "), bt["t"], F.lit(" S")))
                .otherwise(F.concat(F.lit("O "), bt["t"], F.lit(" S"))),
            ),
        ),
        "\n",
    )
    empty_turn = F.size(F.col("tokens")) == 0
    block = F.when(
        empty_turn,
        # no tokens: toCk emits no <s>/<eof>, just the sentinel's two lines
        F.lit("\n"),
    ).otherwise(
        F.concat(
            F.lit("<s> O None S\n"),
            body,
            F.lit("\n<eof> I None S\n\n"),
        )
    )
    return labels.select("conv_id", "turn_idx", block.alias("ck"))


def write_ck(labels: DataFrame, path: str) -> None:
    """Distributed .ck export: one task per range of (conv_id, turn_idx),
    the session's default parallelism of them (an explicit count, which AQE
    does not coalesce), each sorted within. Part files concatenated in name
    order are the whole .ck stream in (conv_id, turn_idx) order."""
    n_parts = labels.sparkSession.sparkContext.defaultParallelism
    (
        ck_lines(labels)
        .repartitionByRange(n_parts, "conv_id", "turn_idx")
        .sortWithinPartitions("conv_id", "turn_idx")
        .select("ck")
        .write.mode("overwrite")
        .text(path)
    )
