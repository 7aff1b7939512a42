"""Property-based tests for the shared core (SURVEY.md §5.2 item 4)."""

import string

from hypothesis import given, settings, strategies as st

from master_project_spark import core

text_st = st.text(
    alphabet=string.ascii_letters + string.digits + " .,!?()[]\"'-:;/@{}",
    max_size=400)


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_extract_never_crashes_and_is_deterministic(text):
    a = core.extract_triples(text)
    b = core.extract_triples(text)
    assert a == b
    for t in a:
        assert t["subj"] and t["obj"] and t["pred"]
        assert 0 < t["confidence"] <= 1
        assert len(t["obj"].split(" ")) < 10        # ent_extraction.py:342
        assert "et al." not in t["obj"]


@settings(max_examples=200, deadline=None)
@given(text_st)
def test_normalize_invariants(text):
    sents = core.normalize_and_split(text)
    for s in sents:
        # texts.py:115 counts split(" ") tokens BEFORE the final trim
        # (:119), so leading-space sentences can surface with 3 visible
        # words — reference-faithful lower bound is 3, not 4
        assert len(s.split(" ")) >= 3
        assert s == s.strip()
        assert "  " not in s                        # whitespace collapsed


@settings(max_examples=100, deadline=None)
@given(st.lists(st.text(alphabet=string.ascii_lowercase + " ",
                        min_size=1, max_size=60), max_size=30),
       st.integers(min_value=1, max_value=50),
       st.integers(min_value=0, max_value=3))
def test_chunker_covers_all_sentences_modulo_first_drop(sents, max_tokens, overlap):
    chunks = core.group_sentences(sents, max_tokens, overlap)
    joined = " ".join(chunks)
    # every sentence appears in the chunk stream except those lost to the
    # reference's first-chunk drop (texts.py:26)
    if overlap == 0:
        for s in sents:
            assert s in joined


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=200))
def test_embed_unit_norm_or_zero(text):
    v = core.embed_text(text)
    n = sum(x * x for x in v)
    assert abs(n - 1.0) < 1e-9 or n == 0.0


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.printable, max_size=200))
def test_minhash_signature_shape(text):
    sig = core.minhash_signature(text)
    assert len(sig) == 16
    assert all(0 <= s < 2 ** 63 for s in sig)
    assert sig == core.minhash_signature(text)


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=string.printable + "éàüßñ°☆^ゞ丿メ", max_size=300))
def test_guarded_normalize_equals_unguarded(text):
    """Hypothesis sweep of the round-4 step guards: guarded and unguarded
    normalization chains agree on arbitrary printable+unicode text."""
    try:
        core._GUARDS_ENABLED = True
        g = core.normalize_text_chain(text)
        ge = core.extract_turn(text)
        core._GUARDS_ENABLED = False
        assert core.normalize_text_chain(text) == g
        assert core.extract_turn(text) == ge
    finally:
        core._GUARDS_ENABLED = True


def _bfs_components(pairs) -> set[frozenset]:
    """Reference: components of an undirected edge list by breadth-first
    search over an adjacency map."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, comps = set(), set()
    for start in adj:
        if start in seen:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            nxt = [n for x in frontier for n in adj[x] if n not in comp]
            comp.update(nxt)
            frontier = nxt
        seen |= comp
        comps.add(frozenset(comp))
    return comps


@settings(max_examples=300, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                max_size=80))
def test_union_find_components_equal_bfs(edges):
    """The driver-side union-find behind canonicalize.connected_components
    groups keys exactly as a BFS does, over random edge lists (self-loops,
    duplicates and long chains included)."""
    from master_project_spark.canonicalize import union_find_roots

    pairs = [(f"k{a}", f"k{b}") for a, b in edges]
    roots = union_find_roots(pairs)
    by_root: dict = {}
    for k, r in roots.items():
        by_root.setdefault(r, set()).add(k)
    assert {frozenset(c) for c in by_root.values()} == _bfs_components(pairs)
    assert all(roots[r] == r for r in roots.values())
