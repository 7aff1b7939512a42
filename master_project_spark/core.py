"""Pure-Python shared text core (no Spark imports).

This module is the single source of truth for text semantics. It is used by
BOTH the single-process oracle (tests/oracle) and the Spark pandas/Arrow UDFs,
so the distributed pipeline cannot diverge from the reference-faithful
semantics.

Reference parity (file:line cites are into /root/reference):

- ``deburr`` / ``clean`` / ``words``: pydash string helpers used at
  texts.py:14,73,111,119 — re-implemented here (pydash is not a dependency).
- ``normalize_and_split``: the ``sentence_splitter`` pipeline texts.py:72-120,
  step-for-step in the same order, including the ``[dot]`` slug round-trip
  (texts.py:42-66), citation strippers (texts.py:67-71), emoticon strip
  (texts.py:41), the <4-word sentence reject (texts.py:115).
- ``group_sentences``: texts.py:7-26 including the two verified quirks —
  chunks overshoot max_tokens by one sentence (the check happens before
  appending, texts.py:11-14) and the FIRST chunk is dropped whenever
  overlap >= 1 (``chunks[bool(overlap):]``, texts.py:26).
- ``extract_triples`` / ``extract_mentions``: deterministic pattern-based
  stand-in for the LLM extraction step (ent_extraction.py:295-344), with the
  reference's post-filters: citation-parenthetical removal
  (ent_extraction.py:333-336), " X et al." removal (:338), split on ", "
  (:339-341), <10-word + no-"et al." filter (:342).
- ``expand_aliases``: parenthetical abbreviation mining
  (ent_extraction.py:367-373).
- ``normalize_verify_query`` / ``verify_offline``: the verification query
  build (ent_extraction.py:220-237) and the substring-"y" answer semantics
  (ent_extraction.py:279-283), de-externalized into an alias-set lookup.

Deliberate deviations (documented, shared by oracle AND Spark so no
divergence is possible):
- pydash ``words`` is approximated with a camelCase/digit-boundary splitter
  (affects only chunk-boundary token counts).
- the multi-dot abbreviation discovery (texts.py:74-83) iterates a Python
  ``set`` in the reference (hash-order nondeterministic); we sort patterns by
  (-len, lex) for determinism.
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import unicodedata
from dataclasses import dataclass

# ---------------------------------------------------------------------------
# pydash string helper stand-ins
# ---------------------------------------------------------------------------

_DEBURR_MAP = {
    "ß": "ss", "Æ": "Ae", "æ": "ae", "Ø": "O", "ø": "o", "Þ": "Th",
    "þ": "th", "Đ": "D", "đ": "d", "Ł": "L", "ł": "l", "Œ": "Oe",
    "œ": "oe", "ſ": "s",
}


def deburr(text: str) -> str:
    """Strip diacritics (pydash ``deburr``, used at texts.py:73)."""
    if text.isascii():  # identity on ASCII — the hot-path fast exit
        return text
    text = "".join(_DEBURR_MAP.get(ch, ch) for ch in text)
    decomposed = unicodedata.normalize("NFKD", text)
    return "".join(ch for ch in decomposed if not unicodedata.combining(ch))


def clean(text: str) -> str:
    """Collapse whitespace runs to single spaces and trim (pydash ``clean``,
    texts.py:111)."""
    return " ".join(text.split())


_WORDS_RE = re.compile(r"[A-Z]+(?=[A-Z][a-z])|[A-Z]?[a-z]+|[A-Z]+|\d+")


def words(text: str) -> list[str]:
    """camelCase/digit-aware word splitter (pydash ``words``, texts.py:14)."""
    return _WORDS_RE.findall(text)


# ---------------------------------------------------------------------------
# sentence_splitter pipeline (texts.py:39-120)
# ---------------------------------------------------------------------------

# texts.py:41 — the emoticon alternation, verbatim.
EMOTICONS = r"\(>\.>\)|\(\^\.\^ゞ\)|\(\^_\^\)Y|:\-\)|;\-@|;\-\^|\(>\.<\)\(\^\.\^\)|\(\^_\-\)/\~\~|:\^|;\(|\(\^_\^\)/|\(ToT\)|:\-\^|\(\^\^ゞ|:\-=|:\-\#|;\-\[|\(>_>\)|:\-D|\(>\.<\)|\(\^o\^\)丿|:\-\.|:P|\(\^_\^\)\-☆|\(\^_\^\)w|;\\|:\-o|;\-C|;\-S|\(\^_\^\)v|:\-C|\(>\.<\)b|\(\*_\*\)|\(\-_\-;\)|;P|;=|\(\^_\-\)b|\(\^o\^\)|:\-P|:\#|\(\*\^\.\^\*\)|>:\[|\(\^_\-\)/\~|:\$|\(\^ω\^\)|:\-\{|:'\-\(|\(\^_\-\)\-☆|\(\-_\-\)|x\-\)|:\-X|:X|\(\*O\*\)|\(\*\^_\^\*\)|\(<_<\)|\(ーー;\)|;\-\#|:\*|;\-P|;\-!|:@|\(\^_\-\)Y|:/|\(\^_\-\)W|:\-0|\(\~_\~\)|;/|:!|;\-D|X\-\)|;\-/|;\-=|\(@_@\)|\(°\~°\)|\(\^_\^メ\)|:'\(|8\-\)|\(°u°\)|;\-\(|:\-\(|:\\|:D|;\-\\|\(>_<\)|\(\^ε\^\)|\(\^_\^\)b|:O|\(\^з\^\)|:\-\&|:=|O:\-\)|\(\^\.\^\)|:\-!|;'\-\)|\('\-'\)|\(\._\.\)|:\-<|;O|\(\^人\^\)|\(\^_\^\)|\(°\-°\)|:'\)|;\-\)|\(\^\-\^\)|;\-\$|\(\^\-\^\)b|\(,_,\)|\(\^_\-\)w|;\-\&|;D|:\-\||\(°_°\)|:S|:\-\\|>:D|;\-\{|\(\^\.\^\)y|\(\^_\-\)d|\(°\.°\)|\(\^_\^\)/\~|:\-\[|:\-/|\(\^_\^\*\)|:\&|;\-<|;'\)|:\)|;\)|;\*|\(\^_\-\)|:\-O|;'\-\(|:\-S|;\-O|:\(|B\-\)|\(\~_\^\)|;@|\(\^\-\^ゝ゛\)|\(\^_\^\)W|;\^|;S|\(°o°\)|\(\^O\^\)|\(\*o\*\)|\(>﹏<\)|;\||;\&|\(\^_\^\)/\~\~|:\||>:\)|\(\^_\-\)/|:\-\*|0:\-\)|;\$|;!|;\-\||;\#|\(\^_\^'\)|:\-\$|:\-@|\(≧∇≦\)|\(T_T\)|\(\*\^0\^\*\)|;\-\*"

# texts.py:42-46
ABBR_TO_SLUG_CS = [
    (r"([A-Z][a-z]+)\.(?: ?(\d+) ?\.( [A-Z]))", r"\1[dot] \2[dot] \3"),
    (r"([A-Z][a-z]+) ?(\d+)\. ?( [A-Z])", r"\1 \2[dot] \3"),
    (r"([A-Z][a-z]+)\.", r"\1[dot]"),
]
# texts.py:47-52
ABBR_TO_SLUG_CI = [
    (r"et\.? al\.", "[etal]"),
    (r"vs\.", "[vs]"),
    (r"etc\.", "[etc]"),
    (r"Eq\.", "[Eq]"),
]
# texts.py:53-66
SLUG_TO_ABBR = [
    (r"\[dot\]", "."),
    (r"\[etc\]", "etc."),
    (r"\[vs\]", "vs."),
    (r"\[fig\]", "fig"),
    (r"\[tab\]", "tab"),
    (r"\[ie\]", "i.e."),
    (r"\[sec\]", "sec."),
    (r"\[eq\]", "eq."),
    (r"\[eg\]", "e.g."),
    (r"\[ellipsis\]", "..."),
    (r"\[aka\]", "a.k.a."),
    (r"\[etal\]", "et al."),
]
# texts.py:67-71 — citation / equation-number strippers.
GENERAL_STRIP = [
    r"\( *(?:[a-zA-Z_& \.,*-]+\d{4};?)+ *\)",
    r" ?\[\d+( ?, ?\d+)*\]( ?,? ?\[\d+( ?, ?\d+)*\])*",
    r"\(\d+\)( ?, ?\(\d+\))*",
]

_MULTIDOT_RE = re.compile(r"\b(?:[a-zA-Z]+\.){1,}[a-zA-Z]\.")
_SENTENCE_RE = re.compile(r"[^\.\!\?]*[\.\!\?]")


def _ci(pat: str, repl) -> tuple[re.Pattern, object]:
    return (re.compile(pat, re.IGNORECASE), repl)


def _cs(pat: str, repl) -> tuple[re.Pattern, object]:
    return (re.compile(pat), repl)


# --- emoticon alternation, trie-compiled -----------------------------------
# The reference's EMOTICONS pattern is an alternation of 165 LITERAL
# strings; Python re tries branches sequentially at every position, making
# this single step ~47% of the whole normalization chain (measured). Two
# literal branches can match at the same position ONLY when one is a
# case-folded prefix of the other, so a prefix trie whose alternatives are
# ordered by the minimum original branch index is EXACTLY equivalent to
# the original left-to-right alternation (first-match-wins along each
# prefix chain, and non-prefix branches can never compete). Equivalence is
# property-tested in tests/test_core.py; any construction failure falls
# back to the verbatim pattern.

def _split_alternation(pattern: str) -> list[str]:
    """Escape-aware '|' split, then unescape to literal strings."""
    parts, cur, i = [], "", 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            cur += pattern[i + 1]
            i += 2
            continue
        if c == "|":
            parts.append(cur)
            cur = ""
        else:
            cur += c
        i += 1
    parts.append(cur)
    return parts


def _ordered_trie_regex(literals: list[str]) -> str:
    """Regex exactly equivalent to the ordered literal alternation under
    IGNORECASE, with shared prefixes (trie) for speed.

    Exactness: two literals can match at the same position only when one
    is a case-folded prefix of the other, so correctness only requires
    that along every prefix CHAIN the alternatives are tried in original
    index order. At a node with a terminal (a branch ending here), the
    continuations are therefore SPLIT into earlier-than-terminal and
    later-than-terminal groups: [continuations idx<t] | <empty> |
    [continuations idx>t]. Sibling groups on different characters cannot
    compete (different folded next char), so they are merely ordered by
    min index. Property-tested against the verbatim alternation."""
    # case-fold dedup: a later literal identical under folding can never
    # win over the earlier one
    seen: dict[str, int] = {}
    items: list[tuple[int, str]] = []
    for idx, lit in enumerate(literals):
        f = lit.lower()
        if f not in seen:
            seen[f] = idx
            items.append((idx, f))

    def emit_chars(group: list[tuple[int, str]]) -> str:
        by_ch: dict[str, list[tuple[int, str]]] = {}
        for idx, suf in group:
            by_ch.setdefault(suf[0], []).append((idx, suf[1:]))
        entries = sorted(by_ch.items(), key=lambda kv: min(i for i, _ in kv[1]))
        alts = [re.escape(ch) + emit_group(sub) for ch, sub in entries]
        return alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"

    def emit_group(group: list[tuple[int, str]]) -> str:
        term = next((it for it in group if it[1] == ""), None)
        if term is None:
            return emit_chars(group) if group else ""
        before = [it for it in group if it[1] and it[0] < term[0]]
        after = [it for it in group if it[1] and it[0] > term[0]]
        parts = ([emit_chars(before)] if before else []) + [""] \
            + ([emit_chars(after)] if after else [])
        return "(?:" + "|".join(parts) + ")" if len(parts) > 1 else ""

    return emit_group(items)


try:
    EMOTICON_LITERALS = [x for x in _split_alternation(EMOTICONS) if x]
    _EMOTICONS_FAST = _ordered_trie_regex(EMOTICON_LITERALS)
    # import-time sanity: the trie must match every literal in full
    _t = re.compile(_EMOTICONS_FAST, re.IGNORECASE)
    if not all(_t.fullmatch(lit) for lit in EMOTICON_LITERALS):
        raise ValueError("trie does not cover all branches")
except Exception:                                    # pragma: no cover
    _EMOTICONS_FAST = EMOTICONS

# --- per-step match guards -------------------------------------------------
# Profiling (round 4): the normalize chain was 47% of extract_turn, and
# ~85% of its re.sub scans matched nothing. Each step therefore carries a
# conjunction of cheap NECESSARY conditions ("clauses") for its pattern to
# possibly match: a frozenset clause holds when the text's character set
# intersects it; a tuple clause holds when any of its literal substrings
# occurs. A failed clause PROVES pat.sub is the identity, so the scan is
# skipped. Guards never change output — exactness is property-tested
# against the unguarded chain (tests/test_core.py, _GUARDS_ENABLED flip).

_DIGITS = frozenset("0123456789")
_UPPER = frozenset("ABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _fs(chars: str) -> frozenset:
    return frozenset(chars)


def _ci_subs(lit: str) -> tuple[str, ...]:
    """Every case variant of a short literal — substring guards for
    case-insensitive steps (len(lit) <= 4 keeps this tiny)."""
    outs = [""]
    for ch in lit:
        cases = sorted({ch.lower(), ch.upper()})
        outs = [o + c for o in outs for c in cases]
    return tuple(outs)


def _anyof_clause(literals: list[str]) -> frozenset:
    """Greedy hitting set over the literals' case-folded charsets: a char
    set S such that EVERY literal contains >=1 char of S (so cs ∩ S == ∅
    proves no literal can match, case-insensitively). Both cases of each
    chosen char go into the clause; chars whose upper/lower form isn't a
    single char (ß-class) are skipped as candidates."""
    remaining = [frozenset(c for c in lit.lower()
                           if len(c.upper()) == 1 and len(c.lower()) == 1)
                 for lit in literals]
    chosen: set[str] = set()
    while remaining:
        counts: dict[str, int] = {}
        for s in remaining:
            for ch in s:
                counts[ch] = counts.get(ch, 0) + 1
        best = max(sorted(counts), key=lambda ch: counts[ch])
        chosen.add(best)
        remaining = [s for s in remaining if best not in s]
    return frozenset(v for ch in chosen for v in (ch.lower(), ch.upper()))


class _FindChain:
    """Ordered-occurrence clause: s1, then s2 strictly after the FIRST s1,
    then s3 strictly after that s2, ... If a pattern needs characters
    a<b<c in order (e.g. '(' ... '.' ... ')'), the chain over first
    occurrences is a NECESSARY condition: the match's own a/b/c positions
    witness each find. Implements the compiled-clause ``.search`` protocol
    (None = fail) so _clauses_ok needs no new branch."""

    __slots__ = ("subs",)

    def __init__(self, *subs: str):
        self.subs = subs

    def search(self, x: str):
        idx = 0
        for s in self.subs:
            i = x.find(s, idx)
            if i < 0:
                return None
            idx = i + 1
        return True


#: any-of probes for a digit immediately followed by '.' — necessary for
#: the version-number pattern (\d+)(?:\.(\d+))+
_DIGIT_DOT_PROBES = tuple(f"{d}." for d in "0123456789")

try:
    _EMO_CLAUSE = _anyof_clause(EMOTICON_LITERALS)
    # import-time soundness check: every literal must hit the clause
    if not all(any(c in _EMO_CLAUSE for c in lit.lower() + lit.upper())
               for lit in EMOTICON_LITERALS):
        raise ValueError("emoticon clause does not cover all literals")
    _EMO_GUARD: tuple = (_EMO_CLAUSE,)
except Exception:                                    # pragma: no cover
    _EMO_GUARD = ()                 # no guard — always run the step

#: index-aligned guards for _NORMALIZE_STEPS (CNF clause lists; () = always
#: run). Mirrors the step list construction below one-for-one.
_STEP_GUARDS: list[tuple] = [
    (_fs("("), _fs(")"), _DIGITS),            # GENERAL_STRIP cite (a,2019)
    (_fs("["), _fs("]"), _DIGITS),            # GENERAL_STRIP [12,13]
    (_fs("("), _fs(")"), _DIGITS),            # GENERAL_STRIP (1),(2)
    _EMO_GUARD,                               # emoticons
    ((",.",),),                               # ,\. [A-Z0-9] — literal ',.'
    ((",.",),),                               # ,\. ?[a-z0-9]
    (_fs("@"), _fs(".")),                     # email [dot]
    (_fs("\"'"), _fs(".!?")),                 # quoted sentence
    # space-before-punct: a zero-space match rewrites to itself, so the
    # step only CHANGES output when ' .', ' ,' or ' :' occurs — skipping
    # identity rewrites is output-exact
    ((" .", " ,", " :"),),
    (("...",),),                              # \.{3}
    (("..",),),                               # \.{2}
    (("....",),),                             # \.{4,}
    ((",,", ", ,"),),                         # comma runs
    (_fs("("),),                              # glue-(
    (_fs(")"),),                              # )-glue
    (("// ",),),                              # slash runs
    (_DIGITS, _DIGIT_DOT_PROBES),             # 1.2.3 versions — needs '\d.'
    # the former '[a-z]\.' clause of the two steps below was dropped: on
    # sentence-shaped text it passes ~always (every sentence ends
    # lowercase-dot), so it was a pure extra scan, never a skip
    (_DIGITS, _UPPER),                        # ABBR_CS 'Fig. 6 .'
    (_UPPER, re.compile(r"\d\.")),            # ABBR_CS 'Fig 6.'
    (_UPPER,),                                # ABBR_CS 'Word.'
    (_fs("."), _ci_subs(" al"), ("l.", "L.")),  # et al. — 'al\.' => 'l.'
    (_ci_subs("vs."),),                       # vs.
    (_ci_subs("etc."),),                      # etc.
    (_ci_subs("eq."),),                       # Eq.
    (("[dot] [dot]",),),                      # [dot] run collapse — 2 repeats
    (_fs(":"), _DIGITS),                      # arXiv ids
    (_fs("("), _fs(")"), _FindChain("(", ".", ")")),  # (..) dot slug
    (_fs("["), _fs("]"), _FindChain("[", ".", "]")),  # [..] dot slug
    (_fs("{"), _fs("}"), _FindChain("{", ".", "}")),  # {..} dot slug
    (_fs('"'), _FindChain('"', ".", '"')),    # ".." dot slug
    (_fs("'"), _FindChain("'", ".", "'")),    # '..' dot slug
    # \b\d+(\.\d+)* only CHANGES output when a match contains a dot, which
    # needs digit-dot-digit; dotless matches rewrite to themselves, so the
    # skip is output-exact (same argument as space-before-punct above)
    (_DIGITS, re.compile(r"\d\.\d")),         # \b\d+(\.\d+)*
]

#: tests flip this to False to verify guard exactness on arbitrary input
_GUARDS_ENABLED = True


def _clauses_ok(clauses: tuple, cs: set, x: str) -> bool:
    for cl in clauses:
        if type(cl) is frozenset:
            if cs.isdisjoint(cl):
                return False
        elif type(cl) is tuple:
            for s in cl:
                if s in x:
                    break
            else:
                return False
        elif cl.search(x) is None:    # compiled-pattern clause
            return False
    return True


# texts.py:84-113, precompiled once, EXACT order preserved (the chain is
# order-sensitive — SURVEY §2.8 F7)
_NORMALIZE_STEPS: list[tuple[re.Pattern, object]] = [
    *[_ci(p, "") for p in GENERAL_STRIP],                       # texts.py:84
    _ci(_EMOTICONS_FAST, ""),                                   # texts.py:85
    _ci(r",\. ([A-Z0-9])", r". \1"),                            # texts.py:86
    _ci(r",\. ?([a-z0-9])", r", \1"),                           # texts.py:87
    _ci(r"(\w+)@(\w+)\.(\w+)", r"\1@\2[dot]"),                  # texts.py:88
    _ci(r"[\"'] *(.*)([\.\!\?]) *[\"']", r'"\1\"\2'),           # texts.py:89
    _ci(r" *([\.,:])", r"\1"),                                  # texts.py:90
    _ci(r"\.{3}", "[ellipsis]"),                                # texts.py:91
    _ci(r"\.{2}", "."),                                         # texts.py:92
    _ci(r"\.{4,}", ""),                                         # texts.py:93
    _ci(r"(?:, ?){2,}", ""),                                    # texts.py:94
    _ci(r"([^ \(\.,])\(", r"\1 ("),                             # texts.py:95
    _ci(r"\)([^ \)\.,:])", r") \1"),                            # texts.py:96
    _ci(r"\/{2,} ", ""),                                        # texts.py:97
    _ci(r"(\d+)(?:\.(\d+))+", r"\1[dot]\2"),                    # texts.py:98
    *[_cs(p, r) for p, r in ABBR_TO_SLUG_CS],                   # texts.py:99
    *[_ci(p, r) for p, r in ABBR_TO_SLUG_CI],                   # texts.py:100
    _ci(r"(?:\[dot] ){2,}", "[dot]"),                           # texts.py:101
    _ci(r"arXiv:(\d+)\.(\w+) ?(?:\[(\w+)\.(\w+)\])?",
        r"arXiv:\1[dot]\2 [\3[dot]\4]"),                        # texts.py:102-104
    _ci(r"\(([^\)]*?)\.([^\)]*?)\)", r"(\1[dot]\2)"),           # texts.py:105
    _ci(r"\[([^\]]*?)\.([^\]]*?)\]", r"[\1[dot]\2]"),           # texts.py:106
    _ci(r"\{([^\}]*?)\.([^\}]*?)\}", r"{\1[dot]\2}"),           # texts.py:107
    _ci(r"\"([^\"]*?)\.([^\"]*?)\"", r"\"\1[dot]\2\""),         # texts.py:108
    _ci(r"\'([^\']*?)\.([^\']*?)\'", r"'\1[dot]\2'"),           # texts.py:109
    _ci(r"\b\d+(\.\d+)*",
        lambda m: m.group(0).replace(".", "[dot]")),            # texts.py:110
]
_POSTCLEAN_STEPS = [_ci(r" \)", ")"), _ci(r"\( ", "(")]         # texts.py:112-113
_POSTCLEAN_GUARDS: list[tuple] = [((" )",),), (("( ",),)]
_SLUG_RESTORE_STEPS = [_ci(p, r) for p, r in SLUG_TO_ABBR]      # texts.py:116-118

assert len(_STEP_GUARDS) == len(_NORMALIZE_STEPS)
_GUARDED_STEPS = [(p, r, g)
                  for (p, r), g in zip(_NORMALIZE_STEPS, _STEP_GUARDS)]
_GUARDED_POSTCLEAN = [(p, r, g)
                      for (p, r), g in zip(_POSTCLEAN_STEPS,
                                           _POSTCLEAN_GUARDS)]
_MULTIDOT_GUARD_RE = re.compile(r"[a-zA-Z]\.[a-zA-Z]")


def normalize_text_chain(text: str) -> str:
    """texts.py:72-113 — the normalization chain alone (everything before
    the sentence split). Exposed separately so the streaming chunker can
    carry a NORMALIZED remainder across segment boundaries.

    Steps run through the _STEP_GUARDS necessary-condition screen: the
    text's charset is computed once and refreshed only when a step
    actually modified the string (CPython's Pattern.sub returns the
    original object on zero matches). A stale charset after clean() or a
    deleting step is a SUPERSET of the live one, which keeps every guard
    sound (it can only run a step needlessly, never skip a matching one);
    inserted literals ([dot], [ellipsis]) refresh it via the identity
    check."""
    x = deburr(text)
    cs = set(x)

    # texts.py:74-83 — per-string discovered multi-dot abbreviations
    # (a.k.a., i.i.d., e.g.) -> [dot]-slugged forms. Sorted for determinism
    # (the reference iterates a set). Guard: the pattern's minimal form is
    # 'x.y.' — it always contains letter-dot-letter.
    if not _GUARDS_ENABLED or _MULTIDOT_GUARD_RE.search(x) is not None:
        found = sorted(set(_MULTIDOT_RE.findall(x)),
                       key=lambda s: (-len(s), s))
        for abbr in found:
            x = re.sub(re.escape(abbr), abbr.replace(".", "[dot]"), x)
        if found:
            cs = set(x)

    for pat, repl, clauses in _GUARDED_STEPS:
        if _GUARDS_ENABLED and not _clauses_ok(clauses, cs, x):
            continue
        # function replacements (the \b\d+ step) rebuild an EQUAL string
        # for dotless matches; the y != x check keeps those identity
        # rewrites from rebuilding the charset or dropping the original
        # object (which later steps' zero-match fast path reuses)
        y = pat.sub(repl, x)
        if y is not x and y != x:
            x = y
            cs = set(x)
    # texts.py:111. clean() maps tab/newline to ' ' besides removing chars,
    # so the cached charset `cs` may MISS the inserted space after this
    # point — safe only because every _GUARDED_POSTCLEAN clause is a
    # substring probe against the live string; do not add frozenset
    # (charset-subset) clauses to post-clean guards (ADVICE round-4).
    x = clean(x)
    for pat, repl, clauses in _GUARDED_POSTCLEAN:
        if _GUARDS_ENABLED and not _clauses_ok(clauses, cs, x):
            continue
        x = pat.sub(repl, x)
    return x


def split_normalized(x: str) -> tuple[list[str], str]:
    """texts.py:114-119 over an already-normalized string. Returns
    (sentences, unterminated remainder). The sentence regex consumes the
    string contiguously, so the remainder is exactly the trailing text with
    no terminator — the streaming carry."""
    matches = _SENTENCE_RE.findall(x)  # texts.py:114
    remainder = x[sum(len(m) for m in matches):]
    sentences = [s for s in matches if len(s.split(" ")) >= 4]  # texts.py:115
    restored = []
    for s in sentences:
        # every SLUG_TO_ABBR pattern is bracket-delimited ('\[...\]'), so
        # '[' is a shared necessary condition for the whole restore loop
        if "[" in s or not _GUARDS_ENABLED:
            for pat, repl in _SLUG_RESTORE_STEPS:
                s = pat.sub(repl, s)
        restored.append(s.strip())  # texts.py:119
    return restored, remainder


def normalize_and_split(text: str) -> list[str]:
    """texts.py:72-120 ``sentence_splitter``: normalize then split into
    sentences, rejecting those with fewer than 4 space-separated words
    (texts.py:115), restoring slugged abbreviations, trimming."""
    return split_normalized(normalize_text_chain(text))[0]


def group_sentences(sentences: list[str], max_tokens: int = 100,
                    overlap: int = 1) -> list[str]:
    """texts.py:7-26, quirk-faithful.

    Quirks preserved exactly:
    - a chunk only closes once the running token count has REACHED
      max_tokens, so every chunk overshoots by one sentence (texts.py:11-14);
    - the trailing ``for/else`` always appends the in-progress chunk
      (texts.py:23-24), even when ``sentences`` is empty;
    - ``chunks[bool(overlap):]`` DROPS the first chunk whenever overlap >= 1
      (texts.py:26).
    """
    chunks: list[list[str]] = []
    tokens_amount = 0
    chunk: list[str] = []
    for sentence in sentences:
        if tokens_amount < max_tokens:
            chunk.append(sentence)
            tokens_amount += len(words(sentence))
        else:
            chunks.append(chunk)
            chunk = chunk[len(chunk) - overlap:] + [sentence]
            tokens_amount = sum(len(words(s)) for s in chunk)
    chunks.append(chunk)
    return [" ".join(c) for c in chunks[bool(overlap):]]


def chunker(text: str, max_tokens: int = 200, overlap: int = 2) -> list[str]:
    """texts.py:124-128 — normalize+split then group (reference defaults)."""
    return group_sentences(normalize_and_split(text), max_tokens, overlap)


#: bounded-memory guard: a carry (terminator-free run of text) larger than
#: this is force-closed as a sentence rather than growing without bound
MAX_CARRY_CHARS = 1_000_000


class StreamingChunker:
    """Incremental ``group_sentences`` (texts.py:7-26) with IDENTICAL quirk
    semantics, but fed text in pieces so an arbitrarily long conversation
    chunks in bounded memory (live state = one in-progress chunk + the
    normalized unterminated remainder, never the whole conversation).

    Boundary handling: each segment is normalized, sentence-split, and the
    UNTERMINATED remainder (already normalized) is prepended to the next
    segment before ITS normalization — so sentences and normalization rules
    that span a segment boundary behave as in whole-text processing. Two
    documented residual divergences (the trade for boundedness; both
    pinned in tests/test_chunker_scale.py):
    - the chain must be idempotent on its own output for the short
      remainder fragment (holds for this rule set: slugs contain no '.',
      cleaned whitespace stays cleaned);
    - the reference's quote/bracket PAIRING rules (texts.py:89,105-109)
      bind an opener to a closer arbitrarily far ahead in the WHOLE text —
      unbounded lookahead that no bounded streaming cut can reproduce, so
      a pair straddling a segment cut normalizes segment-locally instead;
    - punctuation RUNS assembled across a cut (e.g. '.' + '..' forming the
      '...' the ellipsis rule rewrites, texts.py:91-93) normalize
      per-segment (measured 1/500 adversarial random-soup trials; zero on
      sentence-shaped text).

    Quirk parity with group_sentences:
    - a chunk closes only once the running count REACHED max_tokens
      (overshoot-by-one, texts.py:11-14);
    - ``finish()`` always emits the in-progress chunk (the trailing
      for/else append, texts.py:23-24);
    - the FIRST emitted chunk is dropped when overlap >= 1
      (``chunks[bool(overlap):]``, texts.py:26);
    - the conversation's final unterminated remainder is dropped, exactly
      as the sentence regex drops it on the whole text (texts.py:114).
    """

    def __init__(self, max_tokens: int = 200, overlap: int = 2):
        self.max_tokens, self.overlap = max_tokens, overlap
        self.chunk: list[str] = []
        self.tokens = 0
        self.carry = ""               # normalized unterminated remainder
        self._started = False         # a join-space precedes every feed > 1
        self._lead = False            # a sentence terminator was consumed
        self._dropped_first = overlap < 1  # nothing to drop when overlap=0

    def _emit(self, out: list[str]) -> None:
        if not self._dropped_first:
            self._dropped_first = True
            return
        out.append(" ".join(self.chunk))

    def feed_text(self, raw_text: str) -> list[str]:
        """Feed the next raw segment; returns chunks completed so far.

        Segments are pieces of a whole-conversation text joined by single
        spaces, so every feed after the first re-inserts the join space
        even when the carry is empty, AND the space is restored after
        normalization: clean() trims leading whitespace, but in whole-text
        mode this position is mid-string (right after the last consumed
        terminator), where that space survives — and the reference's
        sentence regex counts it as an (empty) token in the <4-word filter
        (texts.py:115). Both space bugs were hypothesis-caught."""
        text = self.carry + (" " if self._started else "") + raw_text
        # the restored lead = the stitch region's true first char in
        # whole-text mode: the carry's own leading space when it has one,
        # else the inter-segment join space — but only once the region is
        # mid-string (some sentence already consumed); at text start
        # whole-text clean() trims exactly like we do
        lead = ""
        if self._lead:
            if self.carry:
                lead = " " if self.carry.startswith(" ") else ""
            else:
                lead = " "
        self._started = True
        x = normalize_text_chain(text)
        if lead and not x.startswith(" "):
            x = lead + x
        if _SENTENCE_RE.search(x):
            self._lead = True
        sentences, self.carry = split_normalized(x)
        if len(self.carry) > MAX_CARRY_CHARS:
            # terminator-free megarun: force-close so memory stays bounded
            sentences = sentences + split_normalized(self.carry + ".")[0]
            self.carry = ""
        return self.feed_sentences(sentences)

    def feed_sentences(self, sentences: list[str]) -> list[str]:
        out: list[str] = []
        for sentence in sentences:
            if self.tokens < self.max_tokens:
                self.chunk.append(sentence)
                self.tokens += len(words(sentence))
            else:
                self._emit(out)
                self.chunk = self.chunk[len(self.chunk) - self.overlap:] \
                    + [sentence]
                self.tokens = sum(len(words(s)) for s in self.chunk)
        return out

    def finish(self) -> list[str]:
        """Flush at end of conversation: the final unterminated carry is
        dropped (whole-text parity), then the for/else chunk append."""
        self.carry = ""
        out: list[str] = []
        self._emit(out)
        return out


# ---------------------------------------------------------------------------
# Corpus keyword filter (ent_extraction.py:26-33, 99-166)
# ---------------------------------------------------------------------------

# ent_extraction.py:99-144 (DATASET) / :145-165 (BASELINE), verbatim pattern
# lists (the round-1 regex keyword vocabulary).
DATASET_KEYWORDS = [
    r"data(set|base)", r"anal(ytics|ysis)", r"resear(ch|ch paper)",
    r"stud(y|ies?)", r"exper(iment|iments?)", r"method(ology|ologies?)",
    r"collect(ion|ions?)", r"sampl(e|ing)", r"variabl(e|es?)",
    r"observ(ation|ations?)", r"surve(y|ys?)", r"popul(ation|ations?)",
    r"repositor(y|ies?)", r"databas(e|es?)", r"sourc(e|es?)", r"raw data",
    r"secondar(y|ies?)", r"primar(y|ies?)", r"min(e|ing)", r"proces(s|sing)",
    r"clean(ing|)", r"manipul(ation|ations?)", r"integrat(e|ion)",
    r"aggregat(e|ion)", r"visualiz(e|ation)", r"interpret(ation|ations?)",
    r"(used|employed|utilized) for (analysis|modeling|evaluation|research)",
    r"(trained|experimented) on", r"analy(zed|sis) (data|dataset)",
    r"(examined|derived|investigated|explored) (data|dataset)",
    r"(employed|modeled) with (data|dataset)", r"(evaluated|tested|compared) on",
    r"(referenced|applied) (dataset|data)", r"(accessed|reviewed) (data|dataset) from",
    r"data(-|\s)?set", r"task", r"challenge", r"(knowledge|data)\s*base",
    r"benchmark", r"(experiment|train|performance)[\sa-zA-Z0-9]+on",
    r"corpus", r"class", r"(train|test)[\sa-zA-Z0-9]+(set)?",
]
BASELINE_KEYWORDS = [
    r"compared (to|with)", "versus", "against", "in contrast to",
    "as opposed to", "evaluation", "assessment", r"compar(ison|ing|e)",
    "benchmark", "reference", "outperform", "baseline",
    r"(standard|traditional|established) (method|model)",
    r"(benchmark|reference) (algorithm|model)", r"(control|prior) method",
    "performance", "accuracy",
    r"(effectiveness|efficiency|superiority|improvement)",
    r"(experimental )?(setup|design|protocol)",
]


def keyword_alternation(keywords: list[str]) -> str:
    """OR-of-patterns as one alternation — P2's ``py_.some`` over per-keyword
    ``re.search`` (ent_extraction.py:27-32) is equivalent to a single
    case-insensitive alternation search."""
    return "(?i:" + "|".join(f"(?:{k})" for k in keywords) + ")"


def chunk_matches_keywords(chunk: str, keywords: list[str],
                           regex: bool = True) -> bool:
    """P1/P2 — ent_extraction.py:26-33. ``regex=False`` escapes literals
    (rounds >= 2 of the fixpoint use the grown literal keyword set)."""
    for kw in keywords:
        if re.search(kw if regex else re.escape(kw), chunk, re.IGNORECASE):
            return True
    return False


# ---------------------------------------------------------------------------
# Deterministic pattern-based mention & triple extraction
# (stand-in for the LLM step ent_extraction.py:295-344; cue vocabulary
#  derived from regex_keywords_phrases ent_extraction.py:99-166 and the two
#  LLM prompts ent_extraction.py:58-85)
# ---------------------------------------------------------------------------

# A named-entity-ish surface form: capitalized head token, optional
# hyphen/slash/digit tails, optional further capitalized tokens
# ("SQuAD", "CIFAR-10", "Penn Treebank", "BERT-base", "GPT-2").
ENT = r"[A-Z][A-Za-z0-9]*(?:[-/][A-Za-z0-9]+)*(?: [A-Z0-9][A-Za-z0-9]*(?:[-/][A-Za-z0-9]+)*)*"

STOP_ENTS = frozenset({
    "The", "We", "Our", "This", "These", "Those", "It", "Its", "In", "On",
    "For", "As", "A", "An", "They", "I", "You", "He", "She", "But", "And",
    "Or", "If", "Is", "Was", "Are", "Were", "Not", "No", "See", "Fig",
    "Figure", "Table", "Tab", "Eq", "Section", "Sec", "Note", "To", "Of",
    "With", "At", "By", "From", "Results", "Result", "Thanks", "Ok", "Yes",
    "Here", "There", "When", "What", "How", "Why", "Also", "Then", "First",
    "Second", "Finally", "However", "Moreover",
})


@dataclass(frozen=True)
class TriplePattern:
    pred: str
    regex: re.Pattern
    mtype: str          # DATASET | BASELINE | MODEL (TaskType analog, enums.py:3-5)
    confidence: float
    has_subj: bool      # two-slot pattern: group1=subj, group2=obj
    #: necessary-condition screen: conjunctive groups of lowercase literals;
    #: the regex can only match a sentence whose .lower() contains at least
    #: one literal from EVERY group (each group covers one mandatory
    #: alternation of the pattern — e.g. 'pre-?trained|trained|fine-?tuned'
    #: always yields 'trained' or 'tuned' in the lowercased match). Exact
    #: for ASCII sentences only (Python .lower() and regex (?i) can
    #: disagree on exotic case folds), so _scan_sentences applies it behind
    #: an isascii() check; necessity is property-tested per pattern in
    #: tests/test_core.py.
    screens: tuple = ()


def _p(pred: str, pattern: str, mtype: str, conf: float,
       has_subj: bool = False,
       screens: tuple = ()) -> TriplePattern:
    return TriplePattern(pred, re.compile(pattern), mtype, conf, has_subj,
                         screens)


# Cue lexicon derived from the DATASET/BASELINE keyword banks
# (ent_extraction.py:127-134 "trained on"/"evaluated on"/"tested on",
#  :145-158 "compared to/with"/"versus"/"against"/"outperform").
TRIPLE_PATTERNS: list[TriplePattern] = [
    # two-slot (subject captured)
    _p("trained_on", rf"({ENT}) (?i:(?:was|is|were|are) )?(?i:pre-?trained|trained|fine-?tuned) (?i:on|using) (?i:the )?({ENT})", "DATASET", 0.95, True,
       screens=(("trained", "tuned"),)),
    _p("outperforms", rf"({ENT}) (?i:outperforms?|beats?|surpasse?s?) (?i:the )?({ENT})", "BASELINE", 0.95, True,
       screens=(("outperform", "beat", "surpass"),)),
    _p("evaluated_on", rf"({ENT}) (?i:was|is|were|are) (?i:evaluated|tested|benchmarked|assessed) (?i:on|against) (?i:the )?({ENT})", "DATASET", 0.9, True,
       screens=(("evaluated", "tested", "benchmarked", "assessed"),)),
    # one-slot (subject resolved from sentence context)
    _p("trained_on", rf"(?i:we |authors )?(?i:pre-?trained|trained|fine-?tuned) (?i:on|using) (?i:the )?({ENT})", "DATASET", 0.9,
       screens=(("trained", "tuned"),)),
    _p("evaluated_on", rf"(?i:evaluated|tested|benchmarked|experimented) (?i:on) (?i:the )?({ENT})", "DATASET", 0.9,
       screens=(("evaluated", "tested", "benchmarked", "experimented"),)),
    _p("uses_dataset", rf"(?i:utilized?|use[ds]?|employ(?:ed)?|leverage[ds]?) (?i:the )?({ENT}) (?i:data ?set|corpus|benchmark|treebank|database|collection)", "DATASET", 0.85,
       screens=(("utiliz", "use", "employ", "leverag"),
                ("data", "corpus", "benchmark", "treebank", "collection"))),
    _p("collected_from", rf"(?i:data|corpus) (?i:was )?(?i:collected|sourced|derived) (?i:from) (?i:the )?({ENT})", "DATASET", 0.8,
       screens=(("data", "corpus"), ("collected", "sourced", "derived"),
                ("from",))),
    _p("compared_with", rf"(?i:compared?|comparison) (?i:to|with|against) (?i:the )?({ENT})", "BASELINE", 0.9,
       screens=(("compar",),)),
    _p("compared_with", rf"(?i:against|versus|vs\.?) (?i:the )?({ENT})(?i: baseline)?", "BASELINE", 0.85,
       screens=(("against", "versus", "vs"),)),
    _p("compared_with", rf"(?i:baselines? (?:such as|like|including)) ({ENT})", "BASELINE", 0.9,
       screens=(("baseline",),)),
]

# --- compiled screen bitsets -----------------------------------------------
# Bit b of a sentence's mask is set iff _SCREEN_LITERALS[b] occurs in the
# lowercased sentence; a pattern passes iff the mask intersects EVERY one of
# its group masks. This is literally `all(any(t in low for t in grp) for grp
# in pat.screens)` — the screens stay the declarative source of truth and
# keep their necessity property tests — evaluated as C-level substring
# probes + int ANDs instead of one nested generator pair per (sentence,
# pattern). Equivalence is asserted per-sentence in tests/test_core.py.
_SCREEN_LITERALS: list[str] = []
_SCREEN_LIT_BIT: dict[str, int] = {}


def _screen_group_masks(screens: tuple) -> tuple[int, ...]:
    masks = []
    for grp in screens:
        m = 0
        for lit in grp:
            bit = _SCREEN_LIT_BIT.get(lit)
            if bit is None:
                bit = 1 << len(_SCREEN_LITERALS)
                _SCREEN_LIT_BIT[lit] = bit
                _SCREEN_LITERALS.append(lit)
            m |= bit
        masks.append(m)
    return tuple(masks)


_PATTERN_SCREEN_MASKS: list[tuple[TriplePattern, tuple[int, ...]]] = [
    (pat, _screen_group_masks(pat.screens)) for pat in TRIPLE_PATTERNS]
_SCREEN_PROBES: list[tuple[str, int]] = [
    (lit, _SCREEN_LIT_BIT[lit]) for lit in _SCREEN_LITERALS]
#: mask -> patterns (TRIPLE_PATTERNS order) whose screens all intersect it.
#: Hard-capped memo: distinct masks over a corpus are few (most sentences
#: light 0-3 bits); past the cap the tuple is rebuilt, never evicted.
_SCREEN_DISPATCH: dict[int, tuple] = {}


def _patterns_for_mask(mask: int) -> tuple:
    pats = _SCREEN_DISPATCH.get(mask)
    if pats is None:
        pats = tuple(pat for pat, gmasks in _PATTERN_SCREEN_MASKS
                     if all(mask & g for g in gmasks))
        if len(_SCREEN_DISPATCH) < 4096:
            _SCREEN_DISPATCH[mask] = pats
    return pats


_ENT_RE = re.compile(ENT)
_CITE_PAREN_RE = re.compile(r"\((.*?)\)")
_CITE_INNER_RE = re.compile(r"\( *(?:[\w& \.,*-]+\d{4};?)+ *\)")

# Every TRIPLE_PATTERNS regex requires one of these ASCII letter sequences
# (case-insensitive). Over-inclusive substrings ('use' in 'because') only
# cost a full pass, never correctness; the gate lives in the SHARED core so
# the oracle and the Spark UDFs skip identically by construction.
_CUE_RE = re.compile(
    r"train|tuned|tuning|outperform|beat|surpass|evaluat|test|benchmark"
    r"|assess|experiment|utiliz|use|employ|leverag|collect|sourc|deriv"
    r"|compar|against|versus|vs|baseline", re.IGNORECASE)

# The normalization chain mostly REPLACES or INSERTS (which cannot create a
# cue word: every inserted literal — 'dot', 'ellipsis', 'etal', ... — is
# bracket-delimited, and brackets are non-letters no cue can span). But
# five rules DELETE text outright, and a deletion can JOIN letter fragments
# into a cue word the raw text lacks ('trai(Smith 2020)ned' normalizes to
# 'trained', ADVICE round 3). When the raw-text cue gate misses, fall
# through to the full pass iff one of those deletion triggers is present —
# the only way normalization can create extraction input from none.
_DELETION_TRIGGER_RE = re.compile(
    "|".join([*GENERAL_STRIP,        # citation / [n] / (n) strippers
              _EMOTICONS_FAST,       # emoticon removal (texts.py:85)
              r"\.{4,}",             # dot-run deletion (texts.py:93)
              r"(?:, ?){2,}",        # comma-run deletion (texts.py:94)
              r"\/{2,} "]),          # slash-run deletion (texts.py:97)
    re.IGNORECASE)


#: A/B bench switch (round-4 VERDICT ask #3): "1" reverts the gate to the
#: round-2 cue-only semantics so bench.py can price the round-3 widening
#: (deletion-trigger fall-through) in isolation. NEVER set in production —
#: the narrow gate drops turns whose cue only appears after normalization.
#: Read at import so Spark's Python workers (separate processes that
#: re-import this module) see the same gate as the driver.
_AB_NARROW_CUE_GATE = os.environ.get("MPS_AB_NARROW_CUE_GATE") == "1"


def turn_may_extract(text: str) -> bool:
    """Cheap necessary condition for extraction output (hot-path gate)."""
    d = deburr(text)
    if _CUE_RE.search(d):
        return True
    if _AB_NARROW_CUE_GATE:
        return False
    return bool(_DELETION_TRIGGER_RE.search(d))


def java_cue_gate_pattern() -> str:
    """The turn_may_extract gate as ONE Java regex (Spark ``rlike``) for
    the JVM-side extract prefilter (VERDICT round-3 ask #1): on ASCII text
    it is exactly equivalent to the Python gate (deburr is the identity
    there and ``(?i)`` matches Python's ASCII casefold); non-ASCII text is
    handled by the caller keeping every such row (deburr can only be
    evaluated Python-side). Both regex dialects accept the same pattern
    source: plain alternations, character classes, bounded repeats, and
    escaped literals only — validated against java.util.regex at pipeline
    setup (pipeline.cue_prefilter_condition)."""
    body = _CUE_RE.pattern if _AB_NARROW_CUE_GATE else (
        _CUE_RE.pattern + "|" + _DELETION_TRIGGER_RE.pattern)
    return "(?i)(?:" + body + ")"


def strip_citation_parentheticals(text: str) -> str:
    """ent_extraction.py:333-336 — remove parentheticals that look like
    author-year citations; keep all other parentheticals (e.g. aliases)."""
    if "(" not in text:    # necessary-condition guard (hot surface path)
        return text
    for inner in _CITE_PAREN_RE.findall(text):
        if not _CITE_INNER_RE.search(f"({inner})"):
            continue
        text = re.sub(re.escape(f"({inner})"), "", text)
    return text


def strip_et_al(text: str) -> str:
    """ent_extraction.py:338 — drop ' X et al.' / ' X et. al.' runs."""
    return re.sub(r" \w+ et\.? al\.", "", text, flags=re.IGNORECASE)


@functools.lru_cache(maxsize=8192)
def entity_ok(surface: str) -> bool:
    """P3 — ent_extraction.py:340-344: <10 words, no 'et al.'; plus the
    stop-entity screen for sentence-initial capitalized function words.
    Pure function of the surface; memoized — captured surfaces repeat
    heavily (the entity vocabulary is tiny next to the corpus)."""
    if not surface or "et al." in surface:
        return False
    toks = surface.split(" ")
    if len(toks) >= 10:
        return False
    if all(t in STOP_ENTS for t in toks):
        return False
    return True


@functools.lru_cache(maxsize=8192)
def _clean_surface(surface: str) -> str:
    """Pure; memoized — the triple AND mention derivations clean the same
    captured groups, and surfaces repeat across turns."""
    s = strip_et_al(strip_citation_parentheticals(surface))
    return clean(s.strip(" ,.;:"))


#: shared necessary condition for _is_et_al_author: the sentence must
#: contain an 'et al.' occurrence at all — computed once per sentence by
#: the derivations below instead of per captured surface
_ET_AL_ANY_RE = re.compile(r"et\.? al\.", re.IGNORECASE)


def _is_et_al_author(surface: str, sentence: str) -> bool:
    """ent_extraction.py:338 strips ' X et al.' from the LLM answer — the
    word BEFORE 'et al.' is an author name, not an entity. Our pattern
    capture stops before 'et al.', so check the sentence context."""
    return bool(re.search(rf"{re.escape(surface)} et\.? al\.", sentence,
                          re.IGNORECASE))


#: Reserved subject for one-slot patterns: the speaking agent/paper. The
#: reference's extraction has no subject slot at all (it emits entity SETS,
#: models.py:40); 'self' is the deterministic subject that preserves its
#: semantics in triple form.
SELF_SUBJECT = "self"


def _scan_sentences(sentences: list[str]) -> list[list[tuple]]:
    """One finditer pass per sentence of every TRIPLE_PATTERN that can
    possibly match it; both the triple and the mention derivations consume
    this shared scan.

    ASCII sentences (the overwhelming case — the input was deburred by the
    normalize chain) go through each pattern's per-pattern literal screen
    (TriplePattern.screens): one .lower() plus a few C-level substring
    probes replaces both the shared _CUE_RE gate and most of the 10
    compiled-pattern scans — the over-inclusive cue stems ('use' in
    'because', 'test' in 'latest') admit ~75% of corpus sentences, but a
    typical admitted sentence satisfies only 1-2 patterns' screens, so
    8-9 full regex passes are skipped (measured −64% scan wall). Each
    screen is a NECESSARY condition (every mandatory alternation of the
    pattern puts one of the group's literals in the lowercased match),
    so the skip is exact — property-tested per pattern in
    tests/test_core.py. Non-ASCII sentences (where regex (?i) and
    str.lower() can disagree on exotic case folds) keep the round-4
    behavior: the _CUE_RE necessary-condition gate, then all patterns.
    _GUARDS_ENABLED=False routes everything through that unscreened arm
    for the guard-exactness tests."""
    out = []
    for sentence in sentences:
        if _GUARDS_ENABLED and sentence.isascii():
            low = sentence.lower()
            mask = 0
            for lit, bit in _SCREEN_PROBES:
                if lit in low:
                    mask |= bit
            hits = [(pat, m) for pat in _patterns_for_mask(mask)
                    for m in pat.regex.finditer(sentence)]
        elif _CUE_RE.search(sentence):
            hits = [(pat, m) for pat in TRIPLE_PATTERNS
                    for m in pat.regex.finditer(sentence)]
        else:
            hits = []
        out.append(hits)
    return out


def extract_turn(text: str) -> tuple[list[dict], list[dict]]:
    """Single-pass per-turn extraction of BOTH triples and mentions (one
    normalization + one pattern scan — the hot path of the pipeline).
    Returns (triples, mentions)."""
    if not turn_may_extract(text):
        return [], []
    sentences = normalize_and_split(text)
    scans = _scan_sentences(sentences)
    triples = _triples_from_sentences(sentences, scans)
    mentions = _mentions_from_sentences(sentences, scans)
    return triples, mentions


def extract_triples(text: str) -> list[dict]:
    """Per-turn deterministic (subj, pred, obj, confidence, mtype) extraction.

    Pipeline: normalize+split (texts.py:72-120) -> per-sentence cue-pattern
    match -> citation strip (:333-338) -> post-filter (:340-344) -> dedupe by
    (subj, pred, obj) keeping max confidence (set semantics, models.py:40).
    """
    if not turn_may_extract(text):
        return []
    return _triples_from_sentences(normalize_and_split(text))


def _triples_from_sentences(sentences: list[str],
                            scans: list[list[tuple]] | None = None) -> list[dict]:
    scans = scans if scans is not None else _scan_sentences(sentences)
    out: dict[tuple[str, str, str], dict] = {}
    for sent_idx, sentence in enumerate(sentences):
        if not scans[sent_idx]:
            continue
        sent_has_etal = bool(_ET_AL_ANY_RE.search(sentence))
        sent_out: dict[tuple[str, str, str], dict] = {}
        for pat, m in scans[sent_idx]:
            if pat.has_subj:
                subj = _clean_surface(m.group(1))
                obj = _clean_surface(m.group(2))
                if not entity_ok(subj) or subj in STOP_ENTS:
                    subj = SELF_SUBJECT
            else:
                obj = _clean_surface(m.group(1))
                subj = SELF_SUBJECT
            if not entity_ok(obj) or obj in STOP_ENTS:
                continue
            if subj == obj:
                continue
            if sent_has_etal and (_is_et_al_author(obj, sentence) or (
                    subj != SELF_SUBJECT
                    and _is_et_al_author(subj, sentence))):
                continue
            key = (subj, pat.pred, obj)
            prev = sent_out.get(key)
            if prev is None or prev["confidence"] < pat.confidence:
                sent_out[key] = {
                    "subj": subj, "pred": pat.pred, "obj": obj,
                    "confidence": pat.confidence, "mtype": pat.mtype,
                    "sent_idx": sent_idx,
                }
        # a one-slot 'self' triple is subsumed by an explicit-subject triple
        # for the same (pred, obj) found in the same sentence
        explicit = {(p, o) for (s, p, o) in sent_out if s != SELF_SUBJECT}
        for (s, p, o) in list(sent_out):
            if s == SELF_SUBJECT and (p, o) in explicit:
                del sent_out[(s, p, o)]
        for key, t in sent_out.items():
            prev = out.get(key)
            if prev is None or prev["confidence"] < t["confidence"]:
                out[key] = t
    return sorted(out.values(), key=lambda d: (d["sent_idx"], d["subj"], d["pred"], d["obj"]))


def extract_mentions(text: str) -> list[dict]:
    """Mention detection: every post-filter-surviving entity surface from the
    triple patterns, with spans into the normalized turn text
    (= " ".join(normalized sentences))."""
    if not turn_may_extract(text):
        return []
    return _mentions_from_sentences(normalize_and_split(text))


def _mentions_from_sentences(sentences: list[str],
                             scans: list[list[tuple]] | None = None) -> list[dict]:
    scans = scans if scans is not None else _scan_sentences(sentences)
    norm_text = " ".join(sentences)
    mentions: dict[tuple[str, str], dict] = {}
    offset = 0
    for sent_idx, sentence in enumerate(sentences):
        sent_has_etal = (bool(_ET_AL_ANY_RE.search(sentence))
                         if scans[sent_idx] else False)
        for pat, m in scans[sent_idx]:
            groups = [m.group(1)] + ([m.group(2)] if pat.has_subj else [])
            for g in groups:
                surface = _clean_surface(g)
                if not entity_ok(surface) or surface in STOP_ENTS:
                    continue
                if sent_has_etal and _is_et_al_author(surface, sentence):
                    continue
                key = (surface, pat.mtype)
                if key in mentions:
                    continue
                pos = norm_text.find(g, offset)
                if pos < 0:
                    pos = norm_text.find(g)
                mentions[key] = {
                    "surface": surface, "mtype": pat.mtype,
                    "span_start": max(pos, 0),
                    "span_end": max(pos, 0) + len(g),
                }
        offset += len(sentence) + 1
    out = sorted(mentions.values(), key=lambda d: (d["span_start"], d["surface"], d["mtype"]))
    for i, mnt in enumerate(out):
        mnt["mention_id"] = i
    return out


# ---------------------------------------------------------------------------
# Alias expansion + offline verification
# ---------------------------------------------------------------------------

_PAREN_RE = re.compile(r"\((.*?)\)")


def expand_aliases(entities: set[str]) -> set[str]:
    """ent_extraction.py:367-373 — parenthetical abbreviation mining: for
    'Stanford Question Answering Dataset (SQuAD)' add both 'SQuAD' and the
    paren-stripped long form."""
    expanded = set(entities)
    for ent in entities:
        inner = _PAREN_RE.findall(ent)
        if inner:
            inner = [s.strip() for s in inner]
            expanded |= set(inner)
            expanded |= {re.sub(rf"\({re.escape(s)}\)", "", ent).strip() for s in inner}
    return expanded


def normalize_verify_query(entity: str, mtype: str) -> str:
    """ent_extraction.py:220-237 — the verification query normalization:
    drop generic type words, collapse doubled spaces, append '+dataset' /
    '+baseline', keep only tokens with len > 2 (P4)."""
    # NB the replacement is "\1" from the OPTIONAL last alternative
    # "( ){2,}": for the word alternatives group 1 is empty, so they are
    # deleted while doubled spaces collapse to one — the reference's own
    # quirk (empty-match substitution is intentional, ent_extraction.py:224)
    if mtype == "DATASET":
        q = re.sub(r"data ?set|corpus|treebank|database|( ){2,}", r"\1", entity)
        q = f"{q} +dataset"
    else:
        q = re.sub(r"baseline|( ){2,}", r"\1", entity)
        q = f"{q} +baseline"
    return " ".join(tok for tok in q.split(" ") if len(tok) > 2)


def verify_offline(entity: str, mtype: str, alias_lookup: set[str]) -> bool:
    """De-externalized verification (replaces DDGS + LLM y/n,
    ent_extraction.py:239-283). The reference treats ANY answer containing
    'y' as yes (substring semantics, :282); our deterministic analog is
    membership of the entity (or its normalized verify-query form) in the
    broadcast alias/evidence set."""
    lo = entity.lower()
    if lo in alias_lookup:
        return True
    stripped = normalize_verify_query(entity, mtype).replace(" +dataset", "").replace(" +baseline", "")
    return clean(stripped).lower() in alias_lookup


# ---------------------------------------------------------------------------
# Deterministic feature-hash embeddings (replaces SentenceTransformer,
# texts.py:122 / ent_extraction.py:51) + cosine top-k reference math
# ---------------------------------------------------------------------------

EMBED_DIM = 64


@functools.lru_cache(maxsize=1 << 18)
def _embed_tok(tok: str, dim: int) -> tuple[int, float]:
    """(bucket index, sign) of one token's hashed-BoW contribution. Pure
    function of the token; memoized because the md5 here was ~the entire
    cost of embed_text while corpus token vocabularies are tiny relative
    to token counts (measured 6-8x on the semantic-search bench query).
    Cache bound: 262144 entries. Filled with distinct 3-12 character
    tokens, tracemalloc measures ~265 B per entry on CPython 3.11 (key
    string, key tuple, result tuple, cache link), ~66 MB per Python worker;
    longer tokens cost more, and an executor pins that once per reused
    worker."""
    h = hashlib.md5(tok.encode("utf-8")).digest()
    return int.from_bytes(h[:4], "big") % dim, \
        (1.0 if h[4] % 2 == 0 else -1.0)


def embed_text(text: str, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic hashed bag-of-words embedding, L2-normalized. Stand-in
    for 'all-MiniLM-L6-v2' (384-d) with the same dataflow shape; dim=64
    matches the sandbox ``embeddings`` testdata. Bit-exact regardless of
    the token-level memo: contributions are ±1.0 integers, whose float
    accumulation is exact (well inside 2^53), so bucket sums — and the
    norm computed from them in fixed index order — cannot depend on
    evaluation order."""
    vec = [0.0] * dim
    for tok in words(text.lower()):
        idx, sign = _embed_tok(tok, dim)
        vec[idx] += sign
    norm = sum(v * v for v in vec) ** 0.5
    if norm > 0:
        vec = [v / norm for v in vec]
    return vec


# ---------------------------------------------------------------------------
# MinHash / fingerprints for canonicalization & dedup blocking
# ---------------------------------------------------------------------------

def char_shingles(s: str, k: int = 3) -> set[str]:
    s = clean(s.lower())
    if len(s) <= k:
        return {s} if s else set()
    return {s[i:i + k] for i in range(len(s) - k + 1)}


def minhash_signature(s: str, num_hashes: int = 16, k: int = 3) -> list[int]:
    """MD5-seeded MinHash over character shingles — deterministic across
    processes (no PYTHONHASHSEED dependence)."""
    shingles = char_shingles(s, k)
    if not shingles:
        return [0] * num_hashes
    sig = []
    for seed in range(num_hashes):
        best = None
        for sh in shingles:
            h = int.from_bytes(
                hashlib.md5(f"{seed}:{sh}".encode("utf-8")).digest()[:8], "big")
            if best is None or h < best:
                best = h
        sig.append(best & 0x7FFFFFFFFFFFFFFF)
    return sig


def simhash64(tokens: list[str]) -> int:
    """64-bit SimHash over tokens (md5-based, deterministic)."""
    acc = [0] * 64
    for tok in tokens:
        h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if acc[b] > 0:
            out |= (1 << b)
    return out


def canonical_key(surface: str) -> str:
    """Canonicalization-normal form for an entity surface: deburr, lowercase,
    strip punctuation, collapse whitespace."""
    s = deburr(surface).lower()
    s = re.sub(r"[^a-z0-9]+", " ", s)
    return clean(s)
