"""Phrase-markup front-end (M11): AutoPhrase `<phrase>...</phrase>` corpora.

Faithful re-implementation of `Annotation::getDistantSupervision(filename)`
(annotation.h:397-476) — the alternative mention detector for corpora whose
candidate phrases were pre-marked by AutoPhrase, bypassing the DP matcher:

* markers are stripped wherever they appear inside a token (repeated
  substring removal, :413-421);
* tokens outside phrases become type-less segments;
* a closed phrase is looked up as an EXACT trie path (getTypeFromKB,
  :162-178): known -> one typed segment spanning the phrase, with the
  surface SPACE-joined (:444-450, unlike the DP path's concatenation);
  unknown -> one single-token FILTERED segment per phrase token (:457-462);
* quirks preserved: a token that is only markup becomes an EMPTY raw token;
  FILTERED type from getTypeFromKB counts as "known" (creates a typed
  segment whose type is __FILTERED__, which the boundary serializer then
  treats as Unknown).

Distributed form: per-turn parsing inside mapInPandas with the broadcast
trie (same shape as the DP tagger; a turn = one line of the marked file).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from . import pyworker, tagvec
from .dictionary import TrieKB
from .oracle import Segment, extract_mentions
from .tagger import stage_schema
from .textutil import split_by


def _strip_marker(token: str, marker: str) -> tuple[str, bool]:
    found = False
    while marker in token:
        i = token.find(marker)
        token = token[:i] + token[i + len(marker):]
        found = True
    return token, found


def parse_marked_line(
    line: str, trie: TrieKB, base: int = 0
) -> tuple[list[str], list[Segment]]:
    """One marked line -> (raw_tokens, segments); offsets start at ``base``.

    Mirrors the per-line body of annotation.h:402-468 (without the trailing
    "\\n" push — the caller owns sentinel placement).
    """
    raw: list[str] = []
    segs: list[Segment] = []
    in_phrase = False
    phrase: list[str] = []
    for token in split_by(line, " "):
        token, start = _strip_marker(token, "<phrase>")
        token, end = _strip_marker(token, "</phrase>")
        if start:
            in_phrase = True
            phrase = []
        raw.append(token)
        if in_phrase:
            phrase.append(token)
        else:
            segs.append(
                Segment(
                    l=base + len(raw) - 1,
                    r=base + len(raw),
                    token=token,
                    type="",
                )
            )
        if end:
            in_phrase = False
            type_str = trie.get_type_from_kb(phrase)
            if type_str != "":
                segs.append(
                    Segment(
                        l=base + len(raw) - len(phrase),
                        r=base + len(raw),
                        token=" ".join(phrase),  # space-joined (:444-450)
                        type=type_str,
                    )
                )
            else:
                for i, ptok in enumerate(phrase):
                    l = base + len(raw) - len(phrase) + i
                    segs.append(
                        Segment(l=l, r=l + 1, token=ptok, type="__FILTERED__")
                    )
    # annotation.h:467 asserts the phrase closed by end of line
    if in_phrase:
        raise ValueError(f"unclosed <phrase> in line: {line!r}")
    return raw, segs


def tag_marked_transcripts(transcripts: DataFrame, trie: TrieKB) -> DataFrame:
    """Marked transcripts -> mentions: exact-lookup typing per marked
    phrase (no DP). Same output schema as the DP tagger: conv_id and
    turn_idx are copied from the source row, NULLs included."""
    bc = transcripts.sparkSession.sparkContext.broadcast(trie)
    src = transcripts.select("conv_id", "turn_idx", "text")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pyworker.install()
        kb = bc.value
        for pdf in batches:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "begin_tok", "end_tok",
                    "surface", "entity_type")}
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                if not text:
                    continue
                raw, segs = parse_marked_line(text, kb)
                for m in extract_mentions(raw, segs):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["begin_tok"].append(m.begin_tok)
                    out["end_tok"].append(m.end_tok)
                    out["surface"].append(m.surface)
                    out["entity_type"].append(m.entity_type)
            pdf_out = pd.DataFrame(out)
            # a NULL turn_idx arrives as NaN in a float column
            pdf_out["turn_idx"] = pdf_out["turn_idx"].astype("Int32")
            pdf_out["begin_tok"] = pdf_out["begin_tok"].astype("int32")
            pdf_out["end_tok"] = pdf_out["end_tok"].astype("int32")
            yield pdf_out

    return src.mapInPandas(run, stage_schema(src.schema, tagvec.OUT_SCHEMA))
