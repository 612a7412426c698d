"""Distant-supervision LABELS table (SURVEY.md D6) + distributed .ck sink.

The reference materializes Tie-or-Break labels as a line-per-token `.ck`
file (annotation.h:319-351). The Spark-native shape is per-turn ARRAY
columns — no explosion, no line formats on the hot path:

    labels(conv_id, turn_idx, tokens array<string>, boundary array<int>,
           types array<string>, safe array<boolean>)

boundary: 1 Break / -1 Tie / 0 Unknown (getBoundary, annotation.h:267-296);
types: per-token comma-joined type or 'None' (getTypes, :298-317);
safe: col-4 S/D of the .ck format (Unknown -> Dangerous).

``ck_lines`` re-serializes a labels row into the exact reference file
format (label INVERSION preserved: file 'I' = Break, 'O' = Tie) so the
distributed export is byte-comparable to `bin/generate` output — the golden
test reuses the compiled binary. The export is only for interchange; the
engine itself always consumes the array form.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pyworker
from .dictionary import TrieKB
from .oracle import get_boundary, get_types, segment_dp
from .textutil import tokenize_turn

LABELS_SCHEMA = (
    "conv_id string, turn_idx int, tokens array<string>, "
    "boundary array<int>, types array<string>, safe array<boolean>"
)


def label_transcripts(transcripts: DataFrame, trie: TrieKB) -> DataFrame:
    """transcripts -> labels table (one narrow Arrow stage, broadcast trie).

    Reuses the oracle's readable implementations per turn — label
    generation is not the throughput hot path (mention extraction is), and
    sharing the code keeps the .ck serialization pinned to the golden
    tests. A turn is processed with its trailing "\\n" sentinel and the
    sentinel's label slots are dropped, mirroring the global-stream
    semantics exactly.
    """
    bc = transcripts.sparkSession.sparkContext.broadcast(trie)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.install()
        kb = bc.value
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "tokens", "boundary", "types", "safe")}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                toks = tokenize_turn(text) if text else []
                stream = toks + ["\n"]
                segs = segment_dp(stream, kb)
                boundary = get_boundary(stream, segs)[: len(toks)]
                types = get_types(stream, segs)[: len(toks)]
                out["conv_id"].append(conv_id)
                out["turn_idx"].append(int(turn_idx))
                out["tokens"].append(toks)
                out["boundary"].append(boundary)
                out["types"].append(types)
                out["safe"].append([b != 0 for b in boundary])
            yield pd.DataFrame(out)

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        run, LABELS_SCHEMA
    )


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
