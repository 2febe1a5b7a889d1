from dataclasses import replace
from itertools import product

from kgpipe import normalize
from kgpipe.normalize import (
    MatchConfig,
    chunk_spans,
    config_for,
    porter_stem,
    tokenize_with_offsets,
)


def test_tokenize_offsets():
    text = "Rb-Mediated Neuronal Differentiation"
    toks = tokenize_with_offsets(text)
    assert toks[0] == ("Rb", 0, 2)
    assert toks[1] == ("Mediated", 3, 11)
    assert text[toks[2][1]:toks[2][2]] == "Neuronal"


def test_porter_stem_basics():
    assert porter_stem("cells") == "cell"
    assert porter_stem("neurons") == "neuron"
    assert porter_stem("neuronal") == "neuron"
    assert porter_stem("interneurons") == "interneuron"
    assert porter_stem("caresses") == "caress"
    assert porter_stem("ponies") == "poni"
    assert porter_stem("relational") == "relat"
    assert porter_stem("hopping") == "hop"
    assert porter_stem("is") == "is"  # <=2 chars after step handling


def test_biolemmatizer_matches_irregular_forms():
    """BIOLEMMATIZER must diverge from PORTER the way the reference's grid
    permutations do (ConceptMapperEvalOutputCompiler.java:92-94): an
    irregular surface form ("mice") reaches a dictionary entry ("mouse")
    that Porter suffix rules never reach."""
    from dataclasses import replace

    from kgpipe.normalize import STEM_BIOLEMMATIZER, STEM_PORTER
    from kgpipe.obo import Term, dictionary_rows
    from kgpipe.trie import DictionaryTrie

    terms = [
        Term(id="TAX:10090", name="mouse"),
        Term(id="GO:0008150", name="running",
             synonyms=[("ran", "EXACT")]),
    ]
    base = config_for("NCBI_TAXON")
    text = "the mice ran across; women were seen"

    def detect(stemmer):
        cfg = replace(base, stemmer=stemmer)
        rows = dictionary_rows(terms, "TAX", cfg)
        trie = DictionaryTrie.from_rows(rows, cfg)
        return {(cid, cov) for _, cid, _, _, cov in trie.scan_text(text)}

    porter = detect(STEM_PORTER)
    bio = detect(STEM_BIOLEMMATIZER)
    # "mice" only lemmatizes to "mouse" through the irregular table
    assert ("TAX:10090", "mice") in bio
    assert ("TAX:10090", "mice") not in porter
    # "ran" is an EXACT synonym in the dictionary, so BOTH stemmers match
    # it (the dictionary side normalizes through the same config)
    assert ("GO:0008150", "ran") in porter and ("GO:0008150", "ran") in bio
    # BIOLEMMATIZER is a superset on this fixture
    assert porter <= bio


def test_biolemmatizer_grid_param_strings_unchanged():
    """Adding the lemma table must not alter the 576-permutation grid's
    parameter strings (the reference's knob-string format)."""
    from kgpipe.grid import param_grid, param_string

    grid = param_grid()
    assert len(grid) == 576
    assert sum("Stemmer:BIOLEMMATIZER" in param_string(c) for c in grid) == 192


def test_case_insensitive_preserves_acronyms():
    cfg = MatchConfig(case_match="CASE_INSENSITIVE", stemmer="NONE")
    assert cfg.normalize_token("Cell") == "cell"
    assert cfg.normalize_token("RB") == "RB"  # all-caps stays
    assert cfg.normalize_token("Rb") == "rb"


def test_chunk_spans_linebreaks_and_sentences():
    text = "First sentence. Second one.\nThird line"
    spans = chunk_spans(text)
    assert [text[b:e] for b, e in spans] == [
        "First sentence.",
        "Second one.",
        "Third line",
    ]


def test_config_for_default():
    assert config_for("UNKNOWN_ONT") is config_for("DEFAULT")


def test_ptb_tokenize_golden():
    """Literal-cascade parity with the reference's PTB tokenizer
    (PennTreebankTokenizer.java:28-60, the public McIntyre tokenizer.sed
    MorphAdorner variant): contractions, special words, punctuation."""
    from kgpipe.normalize import ptb_tokenize

    assert ptb_tokenize("Hello, world.") == ["Hello", ",", "world", "."]
    assert ptb_tokenize("I can't do it.") == ["I", "ca", "n't", "do", "it", "."]
    assert ptb_tokenize("He cannot (really) swim -- ever.") == [
        "He", "can", "not", "(", "really", ")", "swim", "--", "ever", "."]
    assert ptb_tokenize("The cell's receptor isn't active; T-cells are.") == [
        "The", "cell", "'s", "receptor", "is", "n't", "active", ";",
        "T-cells", "are", "."]
    # hyphenated biomedical terms stay whole (unlike the alnum-run default)
    assert "T-cells" in ptb_tokenize("T-cells respond")
    assert ptb_tokenize("gonna wanna gotta") == [
        "gon", "na", "wan", "na", "got", "ta"]


def test_ptb_tokenize_offsets_exact():
    from kgpipe.normalize import ptb_tokenize_with_offsets

    texts = [
        "Hello, world.",
        "I can't do it.",
        'She said "gonna win" at 20.5 percent!',
        "The cell's receptor isn't active; T-cells are.",
        "Whaddya want? 'Tis done...",
        "",
        "   spaced   out   ",
    ]
    texts.append("vitamin A . next")     # space-deleting rule: 'A .' -> 'A.'
    for text in texts:
        for tok, b, e in ptb_tokenize_with_offsets(text):
            span = text[b:e]
            if any(c.isspace() for c in span):
                # merged across a deleted space (initial + period): span
                # covers the interior whitespace
                assert "".join(span.split()) == tok, (text, tok, b, e)
            else:
                assert span == tok, (text, tok, b, e)


def test_ptb_tokenize_offsets_property():
    """Tokens appear in order, never overlap, and cover every
    non-whitespace, non-removed character of the input."""
    from hypothesis import given, strategies as st

    from kgpipe.normalize import ptb_tokenize_with_offsets

    @given(st.text(
        alphabet="abcDEF'.,!?()-- 0123456789\"",
        max_size=60,
    ))
    def check(text):
        spans = ptb_tokenize_with_offsets(text)
        last = 0
        for tok, b, e in spans:
            assert b >= last and e - b >= len(tok)
            span = text[b:e]
            if any(c.isspace() for c in span):
                assert "".join(span.split()) == tok
            else:
                assert span == tok
            last = e

    check()


# ---------------------------------------------------------------------------
# per-token memo
# ---------------------------------------------------------------------------

_MEMO_TOKENS = [
    # acronyms and mixed case
    "RB", "DNA", "TNF", "Rb", "Cell", "cells", "Neurons", "X",
    # digit tokens
    "123", "p53", "IL6", "Il6", "2B",
    # irregular lemma forms
    "mice", "Mice", "ran", "children", "bacteria", "analyses", "were",
    # PubMed stopwords in several cases
    "the", "The", "THE", "of", "Of", "and", "shown", "using",
]


def _all_norm_configs():
    cases = [normalize.CASE_SENSITIVE, normalize.CASE_INSENSITIVE,
             normalize.CASE_IGNORE, normalize.CASE_FOLD_DIGITS]
    stems = [normalize.STEM_NONE, normalize.STEM_PORTER,
             normalize.STEM_BIOLEMMATIZER]
    stops = [normalize.STOP_NONE, normalize.STOP_PUBMED]
    return [MatchConfig(case_match=c, stemmer=s, stopwords=w)
            for c, s, w in product(cases, stems, stops)]


def test_token_memo_equals_direct_decision():
    normalize._TOKEN_MEMOS.clear()
    for cfg in _all_norm_configs():
        memo = normalize.token_memo(cfg)
        for _ in range(2):  # first a miss, then a hit
            for tok in _MEMO_TOKENS:
                want = (None if cfg.is_stopword(tok)
                        else cfg.normalize_token(tok))
                assert memo[tok] == want, (cfg, tok)


def _isolation_case():
    from kgpipe.obo import Term

    terms = [
        Term(id="CL:1", name="neuron"),
        Term(id="CL:2", name="cell of retina"),
        Term(id="CL:3", name="RB protein"),
    ]
    text = ("Neurons and neurons. The cells in the retina bind RB proteins;"
            " Rb protein too")
    return terms, text


def _scan(cfg, terms, text):
    from kgpipe.obo import dictionary_rows
    from kgpipe.trie import DictionaryTrie

    trie = DictionaryTrie.from_rows(dictionary_rows(terms, "CL", cfg), cfg)
    return trie, sorted(trie.scan_text(text))


def test_token_memo_config_isolation():
    """Configs that differ only in one normalization knob, scanned
    alternately over one text, each give what they give alone on an empty
    memo."""
    terms, text = _isolation_case()
    base = MatchConfig(stopwords=normalize.STOP_PUBMED)
    for knob, other in [("case_match", normalize.CASE_SENSITIVE),
                        ("stemmer", normalize.STEM_NONE),
                        ("stopwords", normalize.STOP_NONE)]:
        cfgs = [base, replace(base, **{knob: other})]
        alone = []
        for cfg in cfgs:
            normalize._TOKEN_MEMOS.clear()
            alone.append(_scan(cfg, terms, text)[1])
        assert alone[0] != alone[1], knob  # the knob matters on this text
        normalize._TOKEN_MEMOS.clear()
        tries = [_scan(cfg, terms, text)[0] for cfg in cfgs]
        for _ in range(3):
            for trie, want in zip(tries, alone):
                assert sorted(trie.scan_text(text)) == want, knob


def test_token_memo_bound(monkeypatch):
    """More distinct tokens than the bound: every memo stays within it and
    the mentions do not change."""
    from kgpipe.trie import DictionaryTrie

    cfg = MatchConfig(stopwords=normalize.STOP_PUBMED)
    words = [f"w{i}cells" for i in range(300)]
    text = " ".join(f"The {w} of {w.upper()}." for w in words)
    trie = DictionaryTrie(cfg)
    for i, w in enumerate(words[::7]):
        trie.add(normalize.normalize_variant(cfg, w), "T", f"T:{i}")
    normalize._TOKEN_MEMOS.clear()
    want = trie.scan_text(text)
    assert len(want) == len(words[::7])
    monkeypatch.setattr(normalize, "TOKEN_MEMO_MAX", 32)
    normalize._TOKEN_MEMOS.clear()
    for _ in range(2):
        assert trie.scan_text(text) == want
        assert all(len(m) <= 32 for m in normalize._TOKEN_MEMOS.values())
    assert normalize._TOKEN_MEMOS
