"""Gazetteer + pattern mention detection kernel (reference N1/N2/N9).

DEFAULT BEHAVIOR IS REFERENCE-FAITHFUL, including the two quirks of
rule_based_ner/dict_ner.py (the north rule grades triple parity against
reference semantics, so the quirks are the spec):

1. **Separator consumption / alternation** (dict_ner.py:106-107): the
   reference regex is ``sep + alias + sep`` per type and ``finditer``
   consumes the trailing separator, so in a run of *adjacent* same-type
   matches only alternate occurrences fire.  Token-aligned equivalent
   (proof in docstring of ``_alternate``): group candidates of one type
   into islands where each next candidate starts exactly one char after
   the previous ends, and keep the odd-ranked ones.
2. **Pattern-rule trim** (dict_ner.py:78,106): the pattern regex has no
   separator wrapper, yet every match is trimmed by one char on each
   side — so pattern spans are emitted corrupted, with no boundary
   requirement.  Replicated verbatim.

Shared with the reference: matching is case-insensitive
(dict_ner.py:107), dictionary matches require a separator on BOTH sides
(document-initial/final words never match, dict_ner.py:44-45), and
mentions whose text has no alphanumeric char are dropped
(predict.py:345-346).

``fixed_bugs=True`` switches to the sane semantics (every
boundary-valid occurrence, true pattern spans) — documented deviation
mode, not used in the parity-gated paths.

Known edge (documented, untested-by-design): the reference separator
class ``[\\n| |\\t]`` also contains a literal ``'|'``; a ``'|'``
*inside* a token can therefore act as a boundary in the reference.  The
token-aligned kernel does not replicate that; fixtures and corpus
contain no ``'|'``.
"""

from __future__ import annotations

import re

from ..config import GAZETTEER, PATTERN_RULES

ALNUM_RE = re.compile(r"[0-9A-Za-z]")


class AliasTable(dict):
    """One n-gram level of the gazetteer, ``{alias_lower: (ent_type,
    canonical_id)}``, plus ``firsts``: the set of the aliases' first
    words, which prefilters the n-gram scan.  Built once per table, not
    per document.  Every insert keeps ``firsts`` current, so an alias
    added after first use is still found; a removal leaves ``firsts``
    a superset, which only costs a failed lookup."""

    def __init__(self, *args, **kw):
        super().__init__(*args, **kw)
        self.firsts = {a.split(" ", 1)[0] for a in self}

    def __setitem__(self, alias, value):
        super().__setitem__(alias, value)
        self.firsts.add(alias.split(" ", 1)[0])

    def setdefault(self, alias, default=None):
        self.firsts.add(alias.split(" ", 1)[0])
        return super().setdefault(alias, default)

    def update(self, *args, **kw):
        for alias, value in dict(*args, **kw).items():
            self[alias] = value

    def __ior__(self, other):
        self.update(other)
        return self

    def __reduce__(self):  # pickled into UDF closures
        return type(self), (dict(self),)


def gazetteer_by_ngram(gazetteer=GAZETTEER) -> dict[int, AliasTable]:
    """alias-token-count -> AliasTable {alias_lower: (ent_type, canonical_id)}."""
    out: dict[int, AliasTable] = {}
    for alias, ent_type, canonical in gazetteer:
        n = len(alias.split(" "))
        out.setdefault(n, AliasTable())[alias.lower()] = (ent_type, canonical)
    return out


_GAZ_BY_N = gazetteer_by_ngram()
_PATTERNS = [(re.compile(pat, re.IGNORECASE), ent_type)
             for pat, ent_type in PATTERN_RULES]


def _alternate(cands: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Greedy separator-consumption filter for one type.

    finditer on ``sep+alias+sep`` keeps candidate c (span [s, e)) iff
    its raw match [s-1, e+1) starts at or after the scan cursor, which
    sits at ``last_kept.end + 1``; i.e. keep iff ``s - last_kept_end >=
    2``.  For token-aligned, same-type-non-overlapping candidates that
    is exactly: alternate within maximal chains of start == prev_end+1.
    """
    kept: list[tuple[int, int]] = []
    last_end = None
    for s, e in sorted(cands):
        if last_end is None or s - last_end >= 2:
            kept.append((s, e))
            last_end = e
    return kept


def pattern_spans(text: str,
                  fixed_bugs: bool = False) -> set[tuple[str, int, int]]:
    """The PATTERN-RULE half of the detector on its own: regex matches
    with the reference's one-char-per-side trim quirk (dict_ner.py:78,
    106).  Exposed separately because these spans are CHAR-level and
    routinely mid-token ('0 k' out of '30 km') — no token-aligned
    sequence model can emit them, so the model cascade unions them in
    alongside the learned chunks, exactly as the reference runs its
    strength regex alongside the dictionary/neural NER."""
    n_text = len(text)
    found: set[tuple[str, int, int]] = set()
    for rx, ent_type in _PATTERNS:
        for m in rx.finditer(text):
            s, e = m.start(), m.end()
            if fixed_bugs:
                if (s == 0 or e >= n_text or text[s - 1] not in "\n \t"
                        or text[e] not in "\n \t"):
                    continue
                found.add((ent_type, s, e))
            else:
                # dict_ner.py:106 trims every match by one char per side
                if e - 1 > s + 1:
                    found.add((ent_type, s + 1, e - 1))
    return found


def detect_mentions(text: str,
                    offsets: list[tuple[str, int, int]],
                    gaz_by_n: dict[int, AliasTable] | None = None,
                    fixed_bugs: bool = False,
                    ) -> list[tuple[str, int, int, str]]:
    """Return mentions ``[(ent_type, start, end, ent_text), ...]``
    sorted by (start, end, ent_type)."""
    n_text = len(text)
    by_type: dict[str, set[tuple[int, int]]] = {}

    # one lowercase pass per document, shared by every n-gram level
    # (r06: was one .lower() per token PER LEVEL)
    toks_low = [t[0].lower() for t in offsets]

    # dictionary aliases via token n-gram alignment
    for n, aliases in (gaz_by_n or _GAZ_BY_N).items():
        get = aliases.get
        if n == 1:
            # unigram fast path: the token IS the surface (offset
            # invariant text[start:end] == token), no slicing needed
            for (tok, start, end), low in zip(offsets, toks_low):
                if start == 0 or end >= n_text:
                    continue  # reference requires a separator both sides
                hit = get(low)
                if hit is not None:
                    by_type.setdefault(hit[0], set()).add((start, end))
            continue
        # n-gram path: prefilter on the first word of each alias
        firsts = aliases.firsts
        for i in range(len(offsets) - n + 1):
            if toks_low[i] not in firsts:
                continue
            start = offsets[i][1]
            end = offsets[i + n - 1][2]
            if start == 0 or end >= n_text:
                continue
            hit = get(text[start:end].lower())
            if hit is not None:
                by_type.setdefault(hit[0], set()).add((start, end))

    found: set[tuple[str, int, int]] = set()
    for ent_type, cands in by_type.items():
        spans = sorted(cands) if fixed_bugs else _alternate(sorted(cands))
        for s, e in spans:
            found.add((ent_type, s, e))

    found |= pattern_spans(text, fixed_bugs)

    out = []
    for (t, s, e) in found:
        surf = text[s:e]
        if ALNUM_RE.search(surf):
            out.append((t, s, e, surf))
    out.sort(key=lambda r: (r[1], r[2], r[0]))
    return out
