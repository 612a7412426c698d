""".ck (Tie-or-Break) file source — S8/S9 of the operator inventory.

Parses the reference's annotated format (annotation.h:319-351 writer;
encode_folder.py:55-144 readers) back into per-sentence ARRAY rows, i.e.
the labels-table shape. Accepts both the 4-column distant-supervision
variant (`tok I/O type S/D`) and the 3-column gold variant (`tok I/O type`,
always Safe).

Boundary decoding inverts the file's label inversion: file 'I' = Break(1),
file 'O' = Tie(-1) — except `O None D`, the Unknown(0) marker.

Distributed read: one file = one parse unit (`wholetext`), so sentence
grouping never straddles a partition boundary; scale-out is by file count
(the .ck export writes one file per conversation range).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from .. import pyworker

CK_DF_SCHEMA = (
    "file string, sentence_idx int, tokens array<string>, "
    "boundary array<int>, types array<string>, safe array<boolean>"
)


def parse_ck(text: str) -> list[dict]:
    """.ck text -> list of sentence dicts (tokens/boundary/types/safe)."""
    sentences: list[dict] = []
    cur: dict | None = None
    for line in text.split("\n"):
        if not line.strip():
            continue
        cols = line.split(" ")
        tok = cols[0]
        if tok == "<s>":
            cur = {"tokens": [], "boundary": [], "types": [], "safe": []}
            continue
        if tok == "<eof>":
            if cur is not None:
                sentences.append(cur)
            cur = None
            continue
        if cur is None or len(cols) < 3:
            continue  # stray line outside a sentence (e.g. -DOCSTART-)
        label, type_str = cols[1], cols[2]
        safe = cols[3] != "D" if len(cols) > 3 else True
        if not safe and type_str == "None":
            b = 0
        elif label == "I":
            b = 1
        else:
            b = -1
        cur["tokens"].append(tok)
        cur["boundary"].append(b)
        cur["types"].append(type_str)
        cur["safe"].append(safe)
    return sentences


def read_ck_df(spark: SparkSession, path: str) -> DataFrame:
    """Directory/glob of .ck files -> labels-shaped DataFrame."""
    raw = spark.read.text(path, wholetext=True).selectExpr(
        "input_file_name() as file", "value"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.install()
        for pdf in batches:
            out = {k: [] for k in
                   ("file", "sentence_idx", "tokens", "boundary", "types", "safe")}
            for fname, text in zip(pdf["file"], pdf["value"]):
                for i, s in enumerate(parse_ck(text)):
                    out["file"].append(fname)
                    out["sentence_idx"].append(i)
                    out["tokens"].append(s["tokens"])
                    out["boundary"].append(s["boundary"])
                    out["types"].append(s["types"])
                    out["safe"].append(s["safe"])
            pdf_out = pd.DataFrame(out)
            pdf_out["sentence_idx"] = pdf_out["sentence_idx"].astype("int32")
            yield pdf_out

    return raw.mapInPandas(run, CK_DF_SCHEMA)
