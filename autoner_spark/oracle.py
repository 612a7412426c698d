"""Single-node reference tagger — the correctness oracle.

A faithful, readable Python transcription of the reference's deterministic
distant-supervision pipeline:

* ``segment_dp``    <- StringMatching::segmentDP   (src/string_match.h:21-89)
* ``get_boundary``  <- AnnotatedData::getBoundary  (src/annotation.h:267-296)
* ``get_types``     <- AnnotatedData::getTypes     (src/annotation.h:298-317)
* ``to_ck``         <- AnnotatedData::toCk         (src/annotation.h:319-351)
* ``parse_marked_line`` <- the per-line body of
  Annotation::getDistantSupervision(filename) (src/annotation.h:397-476),
  the AutoPhrase ``<phrase>`` markup front-end
* ``extract_mentions`` <- the typed-span emission semantics of
  test_partial_ner.py:99-109 (surface = ' '-joined span tokens) applied to
  the deterministic tagger's segments.

This module is intentionally written single-node / per-token, mirroring the
C++ control flow line-for-line, and is the home of these reference
implementations: the tests and the golden tables (``golden``, the only
package module that imports it) run them; no production path does. Every
distributed path (mentions, linked mentions, triples, Tie-or-Break labels,
phrase markup) is an independent, optimized ``autoner_spark.tagvec``
emitter; pytest compares each with these references (plus the compiled
reference binary when a C++ toolchain is available) for exact parity — the
P/R >= 0.95 gate of BASELINE.json, met at 1.0 by construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from .dictionary import TrieKB
from .textutil import (
    FILTERED_TYPE,
    is_real_separator,
    is_separator_token,
    split_by,
)


@dataclass
class Segment:
    """Mirrors Annotation::Token (annotation.h:253-260): a traceback segment
    [l, r) with `token` = concatenated raw tokens (NO space — string_match.h:
    78-81) and `type` = comma-joined sorted type set (string_match.h:70-76;
    C++ std::set<string> iterates in lexicographic order)."""

    l: int
    r: int
    token: str
    type: str


def segment_dp(tokens: list[str], trie: TrieKB, weight: float = 1.0) -> list[Segment]:
    """Maximal non-overlapping span segmentation (string_match.h:21-89).

    DP over the token stream: f[i+1] >= f[i] via a skip transition (strict
    improvement only, :28); from each start i, walk the trie over
    tokens[i..j] — never across a "\\n" sentinel (:35-37) — scoring core-dict
    matches f[i] + len^2 (:45) and full-dict (FILTERED) matches
    f[i] + weight*len^2 (:51), again strict-improvement-only so the first
    candidate examined at an equal score wins. Traceback yields contiguous
    segments covering [0, n).
    """
    n = len(tokens)
    f = [-1.0] * (n + 1)
    f[0] = 0.0
    tb_i = [0] * (n + 1)
    tb_types: list[frozenset[str]] = [frozenset()] * (n + 1)

    get_child = trie.get_child
    is_entity = trie.is_entity
    is_filtered = trie.is_filtered

    for i in range(n):
        if f[i] > f[i + 1]:
            f[i + 1] = f[i]
            tb_i[i + 1] = i
            tb_types[i + 1] = frozenset()
        u = 0
        delta = 0
        for j in range(i, n):
            if tokens[j] == "\n":
                break
            delta += 1
            u = get_child(u, tokens[j])
            if u == -1:
                break
            if is_entity(u):
                score = f[i] + delta * delta
                if f[j + 1] < score:
                    f[j + 1] = score
                    tb_i[j + 1] = i
                    tb_types[j + 1] = trie.get_types(u)
            elif is_filtered(u):
                score = f[i] + weight * delta * delta
                if f[j + 1] < score:
                    f[j + 1] = score
                    tb_i[j + 1] = i
                    tb_types[j + 1] = trie.get_types(u)

    segments: list[Segment] = []
    j = n
    while j > 0:
        i = tb_i[j]
        types = tb_types[j]
        segments.append(
            Segment(
                l=i,
                r=j,
                token="".join(tokens[i:j]),
                type=",".join(sorted(types)),
            )
        )
        j = i
    segments.reverse()
    return segments


def get_boundary(raw_tokens: list[str], segments: list[Segment]) -> list[int]:
    """Per-token Tie-or-Break vector (annotation.h:267-296).

    1 = Break, -1 = Tie/Connect, 0 = Unknown. Quirks preserved:
    * single-char separator segments (that are not "\\n") are skipped
      entirely (:272-274) — their positions keep the default Break;
    * a FILTERED segment [l, r) zeroes positions l..r INCLUSIVE of r
      (:278: ``j <= token.r``) — i.e. the boundary after the filtered span
      becomes Unknown unless a later segment overwrites it. The reference
      writes one-past-the-end; we size the array n+1 and let callers ignore
      the final slot (in the reference the slot lands on the "\\n" sentinel,
      which toCk never reads a boundary for).
    """
    n = len(raw_tokens)
    ret = [1] * (n + 1)
    for seg in segments:
        if is_separator_token(seg.token) and not is_real_separator(seg.token):
            continue  # whitespace/separator — skipped (annotation.h:272)
        if seg.type == FILTERED_TYPE:
            ret[seg.l] = 0
            for j in range(seg.l + 1, seg.r + 1):  # <= token.r (quirk)
                ret[j] = 0
        elif seg.type == "":
            pass  # O — default Break
        else:
            ret[seg.l] = 1
            for j in range(seg.l + 1, seg.r):
                ret[j] = -1
    return ret[: n + 1]


def get_types(raw_tokens: list[str], segments: list[Segment]) -> list[str]:
    """Per-token type vector, 'None' default (annotation.h:298-317)."""
    ret = ["None"] * len(raw_tokens)
    for seg in segments:
        if is_separator_token(seg.token) and not is_real_separator(seg.token):
            continue
        if seg.type == FILTERED_TYPE or seg.type == "":
            continue
        for j in range(seg.l, seg.r):
            ret[j] = seg.type
    return ret


def to_ck(raw_tokens: list[str], segments: list[Segment]) -> str:
    """Tie-or-Break `.ck` serialization (annotation.h:319-351).

    Note the label inversion: in the FILE, `I` means Break and `O` means
    Tie (encode_folder.py reads them back with cl_map={'I':0,'O':1}).
    Column 4: S(afe) for known boundaries, D(angerous) for Unknown.
    """
    boundary = get_boundary(raw_tokens, segments)
    types = get_types(raw_tokens, segments)
    buf: list[str] = []
    status = 0  # outside
    for i, tok in enumerate(raw_tokens):
        if tok == "-DOCSTART-" or tok == "\n":
            if status == 1:
                buf.append("<eof> I None S\n")
                status = 0
            buf.append(tok + "\n")  # C++: sout << rawTokens[i] << endl
            continue
        if status != 1:
            buf.append("<s> O None S\n")
            status = 1
        if boundary[i] == 0:
            assert types[i] == "None"
            buf.append(f"{tok} O None D\n")
        elif boundary[i] == 1:
            buf.append(f"{tok} I {types[i]} S\n")
        else:
            assert boundary[i] == -1
            buf.append(f"{tok} O {types[i]} S\n")
    return "".join(buf)


def to_bioes(raw_tokens: list[str], segments: list[Segment]) -> str:
    """BIOES serialization (annotation.h:353-394) — the reference's unused
    alternative encoding, kept for interchange with BIOES-consuming tools.

    Quirks preserved: Unknown positions emit the hardcoded
    all-candidates-of-BC5CDR label string (:368); an O token emits a
    LEADING space (" O", :372 — `sout << rawTokens[i] << " " << " O"`);
    sentence sentinels emit a bare empty line (:361-363).
    """
    boundary = get_boundary(raw_tokens, segments)
    types = get_types(raw_tokens, segments)
    buf: list[str] = []
    n = len(raw_tokens)
    for i, tok in enumerate(raw_tokens):
        if tok == "-DOCSTART-" or tok == "\n":
            buf.append("\n")
            continue
        prefix = f"{tok} "
        if boundary[i] == 0:
            assert types[i] == "None"
            buf.append(
                prefix
                + "B-Chemical,I-Chemical,E-Chemical,S-Chemical,"
                  "B-Disease,I-Disease,E-Disease,S-Disease,O\n"
            )
        elif boundary[i] == 1:
            if types[i] == "None":
                buf.append(prefix + " O\n")  # leading space quirk (:372)
            elif i + 1 < n and boundary[i + 1] == -1:
                buf.append(prefix + f"B-{types[i]}\n")
            else:
                buf.append(prefix + f"S-{types[i]}\n")
        else:
            assert boundary[i] == -1
            if i + 1 < n and boundary[i + 1] == -1:
                buf.append(prefix + f"I-{types[i]}\n")
            else:
                buf.append(prefix + f"E-{types[i]}\n")
    return "".join(buf)


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


@dataclass(frozen=True)
class Mention:
    """A typed entity span [begin_tok, end_tok) within one turn."""

    begin_tok: int
    end_tok: int
    surface: str
    entity_type: str  # comma-joined sorted type set


def extract_mentions(tokens: list[str], segments: list[Segment]) -> list[Mention]:
    """Typed entity spans from the DP segmentation.

    A segment is a mention iff its type is non-empty and not FILTERED
    (annotation.h:286-293 treats exactly those as entity spans) and it is
    not a skipped single-char separator (annotation.h:272-274). Surface is
    the ' '-joined span tokens, matching the reference's emitted TSV
    (test_partial_ner.py:99-103: ``' '.join(chunk_surface[...])``).
    """
    mentions: list[Mention] = []
    for seg in segments:
        if seg.type == "" or seg.type == FILTERED_TYPE:
            continue
        if is_separator_token(seg.token) and not is_real_separator(seg.token):
            continue
        mentions.append(
            Mention(
                begin_tok=seg.l,
                end_tok=seg.r,
                surface=" ".join(tokens[seg.l : seg.r]),
                entity_type=seg.type,
            )
        )
    return mentions


def tag_turn(tokens: list[str], trie: TrieKB, weight: float = 1.0) -> list[Mention]:
    """Tag one turn (= one sentence). A trailing "\\n" sentinel is appended
    to mirror the reference's blank-line-terminated sentence stream
    (generate.cpp:26-28); DP matches can therefore never cross the turn
    boundary (string_match.h:35-37) and the FILTERED one-past-end boundary
    write lands on the sentinel exactly as in the reference."""
    segments = segment_dp(tokens + ["\n"], trie, weight)
    return extract_mentions(tokens + ["\n"], segments)
