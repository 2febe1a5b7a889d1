"""Property-based tests (hypothesis) for the core trie scanner — a test
tier the reference lacks entirely (SURVEY.md §5: JUnit fixtures only).

The naive oracle re-implements CONTIGUOUS longest-match greedily from the
spec, with no shared code beyond the tokenizer; agreement over random
dictionaries × random texts is evidence the production scanner implements
the spec, not just its own behavior.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from kgpipe.normalize import MatchConfig, tokenize_with_offsets
from kgpipe.trie import DictionaryTrie

CFG = MatchConfig(
    search_strategy="CONTIGUOUS_MATCH", case_match="CASE_SENSITIVE",
    stemmer="NONE", stopwords="NONE", order_independent=False,
    find_all_matches=False, synonym_type="ALL",
)

TOKENS = ["alpha", "beta", "gamma", "delta", "eps"]

variant_st = st.lists(st.sampled_from(TOKENS), min_size=1, max_size=3).map(
    " ".join
)
dict_st = st.dictionaries(variant_st, st.integers(0, 9), min_size=1,
                          max_size=8)
text_st = st.lists(st.sampled_from(TOKENS), min_size=0, max_size=25).map(
    " ".join
)


def naive_contiguous_longest(text: str, variants: dict[str, str]):
    """Spec oracle: greedy left-to-right, at each token take the LONGEST
    contiguous token run that is a dictionary variant, emit every concept
    of that variant, continue after it; else advance one token."""
    toks = tokenize_with_offsets(text)
    out = []
    i = 0
    n = len(toks)
    while i < n:
        best = None
        for j in range(i, n):
            cand = " ".join(t for t, _, _ in toks[i:j + 1])
            if cand in variants:
                best = j
        if best is not None:
            cand = " ".join(t for t, _, _ in toks[i:best + 1])
            b, e = toks[i][1], toks[best][2]
            for cid in variants[cand]:
                out.append((cid, b, e, text[b:e]))
            i = best + 1
        else:
            i += 1
    return sorted(out)


@settings(max_examples=150, deadline=None)
@given(d=dict_st, text=text_st)
def test_contiguous_longest_match_equals_spec_oracle(d, text):
    variants = {v: [f"C:{i:04d}"] for v, i in d.items()}
    trie = DictionaryTrie(CFG)
    for v, cids in variants.items():
        for cid in cids:
            trie.add(v, "T", cid)
    got = sorted(
        (cid, b, e, cov) for _, cid, b, e, cov in trie.scan_text(text)
    )
    assert got == naive_contiguous_longest(text, variants)


@settings(max_examples=150, deadline=None)
@given(d=dict_st, text=text_st,
       strategy=st.sampled_from(
           ["CONTIGUOUS_MATCH", "SKIP_ANY_MATCH", "SKIP_ANY_MATCH_ALLOW_OVERLAP"]
       ),
       find_all=st.booleans())
def test_offsets_always_slice_to_covered_text(d, text, strategy, find_all):
    cfg = MatchConfig(
        search_strategy=strategy, case_match="CASE_SENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=find_all, synonym_type="ALL",
    )
    trie = DictionaryTrie(cfg)
    for i, v in enumerate(d):
        trie.add(v, "T", f"C:{i:04d}")
    for _, _, b, e, cov in trie.scan_text(text):
        assert 0 <= b < e <= len(text)
        assert text[b:e] == cov  # the turn-relative offset invariant


@settings(max_examples=80, deadline=None)
@given(pair=st.tuples(st.sampled_from(TOKENS), st.sampled_from(TOKENS))
       .filter(lambda p: p[0] != p[1]))
def test_order_independent_matches_permuted(pair):
    a, b = pair
    cfg = MatchConfig(
        search_strategy="CONTIGUOUS_MATCH", case_match="CASE_SENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=True,
        find_all_matches=False, synonym_type="ALL",
    )
    trie = DictionaryTrie(cfg)
    trie.add(f"{a} {b}", "T", "C:0001")
    hits = trie.scan_text(f"{b} {a}")
    assert any(cid == "C:0001" for _, cid, *_ in hits)


def _feasible_last(toks, i, variant_toks, max_gap=1):
    """Independent spec oracle for SKIP_ANY: the furthest-right end token
    index of an embedding of variant_toks starting exactly at i, with at
    most max_gap skipped tokens between consecutive variant tokens; None
    if infeasible.  Exhaustive DP over positions."""
    if not variant_toks or i >= len(toks) or toks[i] != variant_toks[0]:
        return None
    frontier = {i}
    for v in variant_toks[1:]:
        nxt = set()
        for p in frontier:
            for q in range(p + 1, min(len(toks), p + max_gap + 2)):
                if toks[q] == v:
                    nxt.add(q)
        if not nxt:
            return None
        frontier = nxt
    return max(frontier)


@settings(max_examples=150, deadline=None)
@given(d=dict_st, text=text_st)
def test_skip_any_spans_match_spec_oracle(d, text):
    """SKIP_ANY non-overlap: every reported span must be (start, best
    feasible last) for its start; starts must follow the non-overlap
    advancement; concepts must belong to a variant achieving that last."""
    cfg = MatchConfig(
        search_strategy="SKIP_ANY_MATCH", case_match="CASE_SENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    variants = {v: f"C:{i:04d}" for v, i in d.items()}
    trie = DictionaryTrie(cfg)
    for v, cid in variants.items():
        trie.add(v, "T", cid)

    toks_off = tokenize_with_offsets(text)
    toks = [t for t, _, _ in toks_off]

    hits = trie.scan_text(text)
    # recompute expected greedy-left scan from the spec
    expected = []
    i = 0
    while i < len(toks):
        lasts = {}
        for v, cid in variants.items():
            fl = _feasible_last(toks, i, v.split())
            if fl is not None:
                lasts.setdefault(fl, set()).add(cid)
        if lasts:
            best = max(lasts)
            expected.append((toks_off[i][1], toks_off[best][2], lasts[best]))
            i = best + 1
        else:
            i += 1
    got = [(b, e, cid) for _, cid, b, e, _ in hits]
    assert len(got) == len(expected), (got, expected)
    for (b, e, cid), (eb, ee, cands) in zip(got, expected):
        assert (b, e) == (eb, ee)
        assert cid in cands


def naive_order_independent(text: str, variants: dict[str, str],
                            find_all: bool):
    """Spec oracle for OrderIndependentLookup over CONTIGUOUS windows: a
    window matches a variant when its tokens equal the variant's in order
    or, for multi-token variants, as sorted sequences.  Longest-only takes,
    at each start, the longest matching window and every concept matching
    it, then continues after it; find-all emits every matching (concept,
    window) and advances one token.  Shares only the tokenizer."""
    toks = tokenize_with_offsets(text)
    words = [t for t, _, _ in toks]

    def concepts(i, j):
        window = words[i:j + 1]
        return {
            cid for v, cid in variants.items()
            if v.split() == window
            or (len(window) > 1 and sorted(v.split()) == sorted(window))
        }

    out = set()
    i = 0
    while i < len(words):
        hits = {j: cids for j in range(i, len(words))
                if (cids := concepts(i, j))}
        if find_all:
            for j, cids in hits.items():
                out |= {(cid, toks[i][1], toks[j][2]) for cid in cids}
            i += 1
        elif hits:
            j = max(hits)
            out |= {(cid, toks[i][1], toks[j][2]) for cid in hits[j]}
            i = j + 1
        else:
            i += 1
    return out


@settings(max_examples=300, deadline=None)
@given(d=dict_st,
       text=st.lists(st.sampled_from(TOKENS + ["oov", "zeta"]), min_size=0,
                     max_size=25).map(" ".join),
       find_all=st.booleans(), data=st.data())
def test_order_independent_equals_spec_oracle(d, text, find_all, data):
    """Random dictionaries over TOKENS, some holding permutations of each
    other under other concepts; texts that also hold tokens outside the
    dictionary (the scan's vocabulary prune skips sorted windows that
    contain one); longest-only and find-all."""
    cfg = MatchConfig(
        search_strategy="CONTIGUOUS_MATCH", case_match="CASE_SENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=True,
        find_all_matches=find_all, synonym_type="ALL",
    )
    variants = {v: f"C:{i:04d}" for v, i in d.items()}
    for k, v in enumerate(data.draw(st.lists(st.sampled_from(sorted(d)),
                                             max_size=3))):
        perm = " ".join(data.draw(st.permutations(v.split())))
        variants.setdefault(perm, f"P:{k:04d}")
    trie = DictionaryTrie(cfg)
    for v, cid in variants.items():
        trie.add(v, "T", cid)
    got = [(cid, b, e) for _, cid, b, e, _ in trie.scan_text(text)]
    if find_all:
        assert len(got) == len(set(got))
    assert set(got) == naive_order_independent(text, variants, find_all)
