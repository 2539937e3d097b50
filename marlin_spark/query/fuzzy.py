"""Fuzzy-lookup pruning: bound the dictionary scan of typo expansion.

Round-2 verdict item: ``_typo_expand_*`` pruned only by a length band, so
every fuzzy query was an O(|dictionary|) distributed scan. The reference
bounds the walk with its trie (node_lev, /root/reference/src/main/
dtrie.c:702-791): a DP branch dies as soon as every completion of the
current prefix exceeds maxdist — i.e. the FIRST CHARACTERS of a
candidate carry most of the pruning power.

The distributed analog: partition dictionary/ by a first-char class
``fc`` and decompose each (word w, prefix-mode, maxdist d) spec into an
EXACT superset of its match set, built from three kinds of pushable
predicates:

  1. partition scan      fc IN {fc(w[0]), .., fc(w[d])} ∪ {oth}
  2. prefix ranges       term BETWEEN p AND next(p)    (sorted files ->
                         parquet row-group min/max pruning)
  3. exact candidates    term IN (...)                 (same stats)

with the banded OSA DP (query/typo_vec.py) run on the retrieved rows as
the final truth — so over-approximation in 1-3 never changes results.

Correctness argument (OSA distance, per spec):
- Any term containing a char outside [a-z0-9_] lives in the always-
  scanned ``oth`` partition, so the enumerations below only need the
  ASCII token alphabet.
- d = 0: the match set is exactly {w} (or terms with prefix w in prefix
  mode) -> one exact candidate / one range; NO scan at all. This is
  also the engine's exact and prefix dictionary lookup
  (SearchEngine._dictionary_lookup).
- d >= 1 and t[0] in {w[0], w[1], (w[2] if d = 2)}: partition scan + DP.
- d = 1, t[0] elsewhere: the single edit is consumed at position 0
  (substitution -> t = c + w[1:], insertion -> t = c + w); both
  enumerable exactly over the ASCII alphabet. (Deletion of w[0] or a
  transposition gives t[0] = w[1], already scanned.)
- d = 2, t[0] elsewhere: one edit is consumed at position 0, leaving
  budget 1 for t[1:] vs w[1:] (sub) or w (ins). Then either
  t[1] in {w[0], w[1], w[2]} -> two-char prefix ranges {c + x}, or the
  second edit is consumed at position 1 too and the tail is exact:
  t = c1 + c2 + tail with tail in {w, w[1:], w[2:]} -> exact candidates.
- Prefix-mode specs match any term whose PREFIX is within d of w; the
  same front-edit analysis applies to that prefix, so exact candidates
  simply become prefix ranges.

Reference maxdist tiers (dtrie.c:766-770): len<=3 -> 0, 4..7 -> 1,
else 2 — so d=2 always has w[0..2] defined.
"""

from __future__ import annotations

from dataclasses import dataclass, field

ALNUM = "abcdefghijklmnopqrstuvwxyz0123456789_"
_ALNUM_SET = frozenset(ALNUM)
OTHER_FC = "oth"


def term_fc_py(term: str) -> str:
    """First-char class of a term. Any term containing a character
    outside the ASCII token alphabet routes to ``oth`` (this is what
    makes the ASCII-only enumerations above exact). Digits map to
    'd0'..'d9' and '_' to 'us' so every partition value is non-numeric
    (hive partition type inference stays string)."""
    if not term or not _ALNUM_SET.issuperset(term):
        return OTHER_FC
    c = term[0]
    if c.isdigit():
        return "d" + c
    if c == "_":
        return "us"
    return c


def fc_of_char(c: str) -> str | None:
    """Partition class a first char *c* can select, or None if only the
    oth partition can hold such terms."""
    if c not in _ALNUM_SET:
        return None
    return "d" + c if c.isdigit() else ("us" if c == "_" else c)


@dataclass
class FuzzyFilter:
    """Union-of-specs pushable superset of the fuzzy match sets."""

    partitions: set = field(default_factory=set)   # fc classes to scan fully
    exact: set = field(default_factory=set)        # exact term candidates
    ranges: set = field(default_factory=set)       # prefix strings

    def merge(self, other: "FuzzyFilter") -> None:
        self.partitions |= other.partitions
        self.exact |= other.exact
        self.ranges |= other.ranges


# every fc partition value that exists: a filter scanning ALL of them is
# the correct-but-unpruned degenerate (= full dictionary scan)
ALL_FCS = frozenset(fc_of_char(c) for c in ALNUM) | {OTHER_FC}


def spec_filter(word: str, prefix: bool, d: int) -> FuzzyFilter:
    """Pushable superset filter for one (word, prefix-mode, maxdist).

    The d==2 enumeration below assumes the reference's length tiers
    (w[0..2] defined, dtrie.c:766-770). Specs outside those tiers —
    d > 2, or a word shorter than d+1 chars — degrade to a full
    partition scan instead of silently UNDER-approximating (e.g. 'x' is
    OSA distance 2 from 'ab' yet no front-edit enumeration admits it);
    the exact-superset contract must hold for every caller of
    _docids_for, not just analyzer-produced specs."""
    f = FuzzyFilter()
    if (prefix and not word) or (d >= 1 and (d > 2 or len(word) < d + 1)):
        # every term has the empty prefix; degenerate typo specs scan all
        f.partitions |= ALL_FCS
        return f
    if not word:
        return f
    if d == 0:
        if prefix:
            f.ranges.add(word)
        else:
            f.exact.add(word)
        return f
    # full-DP partitions: classes of w[0..d] + oth (non-ASCII terms)
    f.partitions.add(OTHER_FC)
    front = {fc_of_char(c) for c in word[: d + 1]}
    f.partitions |= {p for p in front if p is not None}
    scanned_first = set(word[: d + 1])
    wild = [c for c in ALNUM if c not in scanned_first]
    if d == 1:
        # sub@0 -> c + w[1:], ins@0 -> c + w; tail exact
        for c in wild:
            if prefix:
                f.ranges.add(c + word[1:])
                f.ranges.add(c + word)
            else:
                f.exact.add(c + word[1:])
                f.exact.add(c + word)
    else:  # d == 2 (reference caps maxdist at 2, dtrie.c:766-770)
        seconds = set(word[:3])
        tails = {word, word[1:], word[2:]}
        for c in wild:
            # budget-1 tail with t[1] still anchored to w's front chars:
            # two-char prefix ranges, DP verifies the rest
            for x in seconds:
                f.ranges.add(c + x)
            # both edits consumed at the front -> exact tail
            for c2 in ALNUM:
                if c2 in seconds:
                    continue  # covered by the (c, x) range above
                for t in tails:
                    if prefix:
                        f.ranges.add(c + c2 + t)
                    else:
                        f.exact.add(c + c2 + t)
    return f


def specs_filter(specs: list[tuple[str, bool, int]]) -> FuzzyFilter:
    out = FuzzyFilter()
    for w, pf, d in specs:
        out.merge(spec_filter(w, pf, d))
    # a range subsumes any exact candidate / longer range it prefixes
    if out.ranges:
        rs = sorted(out.ranges)
        keep: list[str] = []
        for r in rs:
            if not keep or not r.startswith(keep[-1]):
                keep.append(r)
        out.ranges = set(keep)
        out.exact = {
            e for e in out.exact
            if not any(e.startswith(r) for r in out.ranges)
        }
    return out


def _next_string(p: str) -> str:
    """Smallest string greater than every string with prefix p."""
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return p + chr(0x10FFFF)


def _any(conds: list):
    """OR of ``conds`` as a balanced tree, or None if empty: a d = 2
    prefix spec gives thousands of ranges, and a left-deep chain of them
    overflows the JVM stack when Spark converts the Column."""
    while len(conds) > 1:
        pairs = [a | b for a, b in zip(conds[::2], conds[1::2])]
        conds = pairs + conds[2 * len(pairs):]
    return conds[0] if conds else None


def arrow_expression(f: FuzzyFilter):
    """pyarrow.dataset filter expression for the driver reads, or None
    when *f* admits no term. Every disjunct carries its fc predicate, so
    the dataset opens only the partitions some disjunct can match: the
    exact candidates' own classes, a range's first-char class and oth."""
    import pyarrow.dataset as pads

    fc, term = pads.field("fc"), pads.field("term")
    conds = []
    if f.partitions:
        conds.append(fc.isin(sorted(f.partitions)))
    if f.exact:
        conds.append(
            fc.isin(sorted({term_fc_py(e) for e in f.exact}))
            & term.isin(sorted(f.exact))
        )
    for r in sorted(f.ranges):
        fcs = sorted({OTHER_FC, fc_of_char(r[0])} - {None})
        conds.append(
            fc.isin(fcs) & (term >= r) & (term < _next_string(r))
        )
    return _any(conds)


def spark_conditions(f: FuzzyFilter) -> list:
    """Catalyst mirror of arrow_expression for the distributed fallback,
    as SEPARATE per-scan conditions (a single OR spanning the partition
    column and data columns defeats both partition pruning and predicate
    pushdown — each scan must carry its prunable predicate as a
    conjunct):

      scan 1: fc IN partitions                  -> partition pruning
      scan 2: fc NOT IN partitions AND           (disjoint from scan 1)
              (term IN exact | term ranges)     -> row-group stats pruning
    """
    from pyspark.sql import functions as F

    out = []
    if f.partitions:
        out.append(F.col("fc").isin(sorted(f.partitions)))
    cands = []
    if f.exact:
        cands.append(F.col("term").isin(sorted(f.exact)))
    for r in sorted(f.ranges):
        cands.append((F.col("term") >= r) & (F.col("term") < _next_string(r)))
    if cands:
        c = _any(cands)
        if f.partitions:
            c = ~F.col("fc").isin(sorted(f.partitions)) & c
        out.append(c)
    return out
