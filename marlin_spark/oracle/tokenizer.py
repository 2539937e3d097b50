"""Reimplementation of the reference engine's default analyzer in Python.

Semantics derived by reading /root/reference/src/analyzer/default_analyzer.c
(no code copied — different language, different structure; the quirks are
reproduced deliberately because "per-turn text equality" rank-identity
depends on them):

- Normalization = utf8proc_map with CASEFOLD|STRIPMARK|COMPOSE|COMPAT|
  LUMP|STRIPCC|STRIPNA|IGNORE (default_analyzer.c:9-13). Emulated with
  unicodedata: NFKD -> casefold -> strip marks (Mn/Mc/Me) -> lump common
  punctuation variants -> strip control/format/unassigned -> NFC.
- Token codepoint categories: Ll Lo Pc Mc Mn Nd Nl No
  (default_analyzer.c:32-41); everything else separates.
- '.' after a single char or inside an abbreviation is dropped:
  "u.s.a." -> "usa" (default_analyzer.c:44-50).
- "'" is dropped: "don't" -> "dont" (default_analyzer.c:51-55).
- '-' splits: each part is emitted at ++position as it is completed at a
  '-' boundary; the FINAL part is emitted at the *current* position (shared
  with the previous part); in index mode the concatenation of all parts is
  additionally emitted at that same position (default_analyzer.c:56-90).
  A trailing '-' suppresses the concatenation (the len-hs==0 goto,
  default_analyzer.c:82-84).
- The 128-codepoint token buffer resets when len reaches 127
  (default_analyzer.c:97-99) — C keeps writing over the same buffer, which
  we emulate with an explicit (buf, length) pair so >127-char runs behave
  bit-identically.
- Positions are 1-based ints.

Two modes: "index" (emits hyphen concatenation) and "search" (does not) —
the only difference between analyze_string_for_indexing and
analyze_string_for_search in the reference.
"""

from __future__ import annotations

import unicodedata
from typing import List, Tuple

# Categories whose codepoints are token characters
# (/root/reference/src/analyzer/default_analyzer.c:32-41).
_TOKEN_CATS = frozenset({"Ll", "Lo", "Pc", "Mc", "Mn", "Nd", "Nl", "No"})

# utf8proc LUMP: variant punctuation lumped to an ASCII canonical form.
# Subset relevant to tokenization (quotes -> "'", dashes -> "-",
# exotic spaces -> " "); NFKC handles most width/compat variants already.
_LUMP = {
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "′": "'", "´": "'", "`": "'",
    "“": '"', "”": '"', "„": '"', "‟": '"',
    "‐": "-", "‑": "-", "‒": "-", "–": "-",
    "—": "-", "―": "-", "−": "-",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", "　": " ",
    "⁄": "/", "∕": "/",
}

# Control chars converted to space by STRIPCC (others are removed).
_CC_TO_SPACE = frozenset("\t\n\v\f\r\x85  ")

_MARK_CATS = frozenset({"Mn", "Mc", "Me"})


def normalize(text: str) -> str:
    """Emulate the utf8proc_map flag set of the reference analyzer."""
    s = unicodedata.normalize("NFKD", text).casefold()
    # casefold can produce composed chars; decompose again before stripping
    s = unicodedata.normalize("NFKD", s)
    out = []
    for ch in s:
        ch = _LUMP.get(ch, ch)
        cat = unicodedata.category(ch)
        if cat in _MARK_CATS:  # STRIPMARK
            continue
        if cat == "Cc":  # STRIPCC
            if ch in _CC_TO_SPACE:
                out.append(" ")
            continue
        if cat in ("Cf", "Cn"):  # IGNORE / STRIPNA
            continue
        out.append(ch)
    return unicodedata.normalize("NFC", "".join(out))  # COMPOSE


import re as _re

# Fast path guard: pure-ASCII text with none of the special-cased
# characters (. ' -) and no >=127-char token tokenizes identically via a
# single regex (token chars among ASCII = [a-z0-9_] after casefold).
_ASCII_FAST = _re.compile(r"[a-z0-9_]+")
# chars that behave as PLAIN separators (or token chars) under the full
# normalization: excludes . ' - (special-cased), exotic controls (REMOVED
# by STRIPCC, which joins adjacent tokens), and all non-ASCII
_ALLOWED = frozenset(
    "abcdefghijklmnopqrstuvwxyz0123456789_"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    # NOTE: no backtick — LUMP turns ` into ' which the abbreviation
    # rule then drops (joining neighbors); it needs the slow loop
    " \t\n\r,;:!?\"()[]{}<>/\\|@#$%^&*+=~"
)


def _tokenize_fast_ascii(text: str) -> List[Tuple[str, int]] | None:
    """Regex fast path; returns None when the input needs the faithful
    slow loop. Equality with the slow path is property-tested."""
    if not set(text) <= _ALLOWED:
        return None
    low = text.lower()
    out = []
    pos = 0
    for m in _ASCII_FAST.finditer(low):
        t = m.group()
        if len(t) >= 127:
            return None  # buffer-reset semantics: use the slow loop
        pos += 1
        out.append((t, pos))
    return out


# Characters on which normalize() provably reduces to str.lower():
# printable ASCII (NFKD/NFC/IGNORE/STRIPNA no-ops; casefold == lower;
# no marks) minus '`' (LUMPed to "'"), plus the Cc chars that STRIPCC
# turns into spaces — in the token loop a space and any non-token char
# separate identically, so mapping them is unnecessary. Other control
# chars (e.g. \x01, \x7f) are REMOVED by STRIPCC, which *joins* adjacent
# tokens, so they must keep the full normalize. Equality of the two
# paths on this set is property-tested (tests/test_tokenizer_fast.py).
_ASCII_NORM_SET = frozenset(
    chr(c) for c in range(0x20, 0x7F) if chr(c) != "`"
) | frozenset("\t\n\v\f\r")


def tokenize(text: str, mode: str = "index") -> List[Tuple[str, int]]:
    """Tokenize normalized text into (term, 1-based position) pairs.

    ``mode`` is "index" or "search"; they differ only in hyphen
    concatenation emission (see module docstring).
    """
    fast = _tokenize_fast_ascii(text)
    if fast is not None:
        return fast
    index_mode = mode == "index"
    # ASCII medium path: the per-char unicodedata normalize pass was the
    # dominant cost of slow-path docs (hyphens/apostrophes/abbreviations
    # in otherwise-plain text); on _ASCII_NORM_SET it is just lower()
    if _ASCII_NORM_SET.issuperset(text):
        norm = text.lower()
    else:
        norm = normalize(text)
    n = len(norm)
    out: List[Tuple[str, int]] = []
    # C-faithful fixed buffer emulation: ``buf`` only grows, ``length`` is
    # the live prefix; resets set length=0 without clearing buf.
    buf: List[str] = []
    length = 0
    hs = 0
    position = 0
    is_abbrev = False
    is_hyphen = False

    i = 0
    while i < n:
        cp = norm[i]
        add_word = 2 if i == n - 1 else 0
        cat = unicodedata.category(cp)
        if cat in _TOKEN_CATS:
            if length < len(buf):
                buf[length] = cp
            else:
                buf.append(cp)
            length += 1
        else:
            consumed = False
            if cp == "." and (length == 1 or is_abbrev):
                is_abbrev = True
                consumed = True
            elif cp == "'":
                is_abbrev = True
                consumed = True
            elif cp == "-" and length > 0:
                is_hyphen = True
                position += 1
                out.append(("".join(buf[hs:length]), position))
                hs = length
                consumed = True
            if not consumed:
                add_word = 1
        i += 1

        if add_word and length > 0:
            if is_hyphen:
                if length - hs > 0:
                    out.append(("".join(buf[hs:length]), position))
                    if index_mode:
                        # C: position-- then the concat emit at ++position —
                        # net: concatenation shares the final part's position
                        out.append(("".join(buf[:length]), position))
                # else: parts already emitted; concatenation suppressed
            else:
                position += 1
                out.append(("".join(buf[:length]), position))
            is_hyphen = False
            is_abbrev = False
            length = 0
            hs = 0
        if length >= 127:
            length = 0

    return out


# Batch fast-path bail: after .lower(), a doc needs the faithful slow
# loop iff it contains (a) any char outside the plain-separator/token
# ASCII set ('.' IS allowed here — for multi-char tokens it is a plain
# separator), (b) a single-char token followed by '.' (abbreviation rule
# merges across it: "u.s.a." -> "usa"), or (c) a >=127-char token run
# (the C buffer-reset semantics).
_BAD_CHAR = _re.compile(r"[^a-z0-9_ \t\n\r,;:!?\"()\[\]{}<>/\\|@#$%^&*+=~.]")
# every guard-allowed separator -> space (token chars map to themselves)
_SEP_TBL = str.maketrans(
    {c: " " for c in " \t\n\r,;:!?\"()[]{}<>/\\|@#$%^&*+=~."}
)
_ABBREV_DOT = _re.compile(r"(?:^|[^a-z0-9_])[a-z0-9_]\.")
_LONG_RUN = _re.compile(r"[a-z0-9_]{127}")


def _batch_bails(s: str) -> bool:
    """Staged guard, cheapest check first: one char-class scan for the
    common case ('.', "'" and '-' are NOT in the class: ' and - always
    bail via it); the abbreviation-dot / 127-run patterns only run when
    their trigger char/length is present."""
    if _BAD_CHAR.search(s):
        return True
    if "." in s and _ABBREV_DOT.search(s):
        return True
    return len(s) >= 127 and _LONG_RUN.search(s) is not None


class _BatchBailShim:
    """re-like .search() facade over the staged guard (tests use it)."""

    @staticmethod
    def search(s: str):
        return _batch_bails(s) or None


_BATCH_BAIL = _BatchBailShim()


def analyze_batch(
    texts, analyzer: str = "marlin", mode: str = "index"
) -> tuple:
    """Vectorized batch tokenizer: one C-level regex pass per doc on the
    fast path, numpy position construction, slow-loop fidelity fallback
    per doc that needs it. Returns (counts:int64[n], terms:object[total],
    pos:int64[total]) in doc-major order — the shape the index builder
    consumes directly (no per-token Python tuples).

    Property-tested equal to per-doc ``analyze`` (tests/test_tokenizer_fast.py).
    """
    import numpy as np
    from itertools import chain

    n = len(texts)
    if analyzer != "marlin":
        fn = ANALYZERS[analyzer]
        lists = [fn(t) if t else [] for t in texts]
        counts = np.fromiter(map(len, lists), dtype=np.int64, count=n)
        flat = list(chain.from_iterable(lists))
        terms = np.empty(len(flat), dtype=object)
        pos = np.empty(len(flat), dtype=np.int64)
        for i, (t, p) in enumerate(flat):
            terms[i] = t
            pos[i] = p
        return counts, terms, pos

    lowered = [t.lower() if t else "" for t in texts]
    # fast tokenize = translate separators to space + C-level split: on
    # a guard-passed doc every char is either [a-z0-9_] or a mapped
    # separator, so runs between spaces ARE the tokens
    term_lists = [s.translate(_SEP_TBL).split() for s in lowered]
    pos_overrides = {}
    for i, s in enumerate(lowered):
        if _batch_bails(s):
            tl = tokenize(texts[i], mode)
            term_lists[i] = [t for t, _ in tl]
            pos_overrides[i] = np.fromiter(
                (p for _, p in tl), dtype=np.int64, count=len(tl)
            )
    counts = np.fromiter(map(len, term_lists), dtype=np.int64, count=n)
    terms = np.array(list(chain.from_iterable(term_lists)), dtype=object)
    total = int(counts.sum())
    first = np.cumsum(counts) - counts
    pos = np.arange(1, total + 1, dtype=np.int64) - np.repeat(first, counts)
    for i, arr in pos_overrides.items():
        pos[first[i]:first[i] + counts[i]] = arr
    return counts, terms, pos


def simple_tokenize(text: str) -> List[Tuple[str, int]]:
    """SQL-expressible analyzer: lowercase, split on non-[a-z0-9].

    Matches ``split(lower(text), '[^a-z0-9]+')`` in both Spark SQL and
    DuckDB — used for the DuckDB-oracle-checked query entries.
    """
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return [(t, i + 1) for i, t in enumerate(toks)]


def whitespace_tokenize(text: str) -> List[Tuple[str, int]]:
    """Reference whitespace analyzer analog
    (the reference's src/analyzer/whitespace_analyzer.c). Splits on
    ASCII whitespace only, as the Catalyst split on Java's ``\\s+`` does
    (analyzers.whitespace_tokens, which counts dl): Python's
    str.split() would also split on U+00A0, U+2003, U+0085 and the
    U+001C-U+001F separators, and index more tokens than dl counts."""
    toks = [t for t in _ASCII_WS.split(text) if t]
    return [(t, i + 1) for i, t in enumerate(toks)]


_ASCII_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


ANALYZERS = {
    "marlin": lambda s: tokenize(s, "index"),
    "marlin_search": lambda s: tokenize(s, "search"),
    "simple": simple_tokenize,
    "whitespace": whitespace_tokenize,
}


def analyze(text: str, analyzer: str = "marlin", mode: str = "index"):
    if analyzer == "marlin":
        return tokenize(text, mode)
    return ANALYZERS[analyzer](text)
