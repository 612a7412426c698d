"""Phrase-markup front-end (M11): AutoPhrase `<phrase>...</phrase>` corpora.

`Annotation::getDistantSupervision(filename)` (annotation.h:397-476) — the
alternative mention detector for corpora whose candidate phrases were
pre-marked by AutoPhrase, bypassing the DP matcher:

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
  treats as Unknown); a `<phrase>` inside an open phrase restarts it; a
  stray `</phrase>` looks the last phrase up again, ending at the stray
  token; an unclosed phrase raises.

``oracle.parse_marked_line`` is the readable per-line reference. The
distributed form is ``tagvec.markup_record_batch`` run by
``tagger.tag_stage`` (a turn = one line of the marked file), pinned to that
reference by tests/test_tagvec_parity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import tagvec
from .dictionary import TrieKB
from .tagger import broadcast_automaton, tag_stage


def tag_marked_transcripts(transcripts: DataFrame, trie: TrieKB) -> DataFrame:
    """Marked transcripts -> mentions: exact-lookup typing per marked
    phrase (no DP), one narrow ``mapInArrow`` over the broadcast
    automaton. Same output schema as the DP tagger: conv_id and turn_idx
    are copied from the source row, NULLs included."""
    return tag_stage(
        transcripts.select("conv_id", "turn_idx", "text"),
        broadcast_automaton(transcripts.sparkSession, trie),
        tagvec.markup_record_batch, tagvec.OUT_SCHEMA)
