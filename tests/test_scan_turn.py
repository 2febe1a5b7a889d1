"""The per-turn scan kernel ``trie.scan_turn`` against a naive per-trie
``scan_text`` with first-wins dedup, and a guard that every plan reaches
the tries through it.  No Spark: the tries come from the benchmark
generator's ontologies (``perfbench/gen.py``) at seed 1."""

from __future__ import annotations

import ast
import os

import pytest

from conftest import load_perfbench_gen, perfbench_obo_paths
from kgpipe.detect import build_tries
from kgpipe.normalize import config_for
from kgpipe.obo import dictionary_rows, parse_ontology
from kgpipe.trie import pretokenize, scan_turn

SEED = 1


def naive_scan(text, tries) -> list:
    """Each trie's own ``scan_text`` (its own tokenisation), then the
    first hit per (concept_id, begin, end) in scan order."""
    if not isinstance(text, str):
        return []
    first: dict = {}
    for trie in tries:
        for ont, cid, b, e, cov in trie.scan_text(text):
            first.setdefault((cid, b, e), (ont, cid, b, e, cov))
    return list(first.values())


@pytest.fixture(scope="module")
def scan_inputs(tmp_path_factory):
    """(tries, texts): CL, GO_MF and PR tries plus the CL trie again under
    the label CL2, so every CL hit recurs with the same (concept, span)
    and a different ontology; texts are turns of both workloads and every
    shared-synonym surface, which several concepts share."""
    gen = load_perfbench_gen()
    paths = perfbench_obo_paths(tmp_path_factory.mktemp("obo"), SEED)
    rows = []
    for ont, path in sorted(paths.items()):
        rows += dictionary_rows(parse_ontology(path), ont, config_for(ont))
    rows += [{**r, "ontology": "CL2"} for r in rows if r["ontology"] == "CL"]
    tries = build_tries(rows, {"CL2": config_for("CL")})
    texts = [t["text"] for w in ("long_turns", "resume")
             for t in gen.make_corpus(w, SEED).turns[:150]]
    onts = gen.make_ontologies(SEED)
    shared = [p.surface for o in onts.values() for p in o.shared]
    texts += shared[:50] + [" and ".join(shared[:10])]
    return tries, texts


def test_scan_turn_equals_naive_first_wins(scan_inputs):
    tries, texts = scan_inputs
    multi = tuple(tries[o] for o in ("CL", "GO_MF", "PR", "CL2"))
    dropped = shared_spans = 0
    for text in texts:
        want = naive_scan(text, multi)
        assert scan_turn(text, multi) == want
        assert scan_turn(text, multi, pretokenize(text)) == want
        for trie in multi:
            assert scan_turn(text, (trie,)) == naive_scan(text, (trie,))
        dropped += sum(len(t.scan_text(text)) for t in multi) - len(want)
        spans = [(b, e) for _, _, b, e, _ in want]
        shared_spans += len(spans) - len(set(spans))
    # the inputs exercise the dedup and several concepts on one span
    assert dropped > 0 and shared_spans > 0
    # first wins: the CL2 copy of a CL hit is dropped
    assert not any(h[0] == "CL2" for text in texts
                   for h in scan_turn(text, multi))


@pytest.mark.parametrize("text", [None, float("nan"), ""])
def test_scan_turn_missing_or_empty_text(scan_inputs, text):
    tries, _ = scan_inputs
    assert scan_turn(text, tuple(tries.values())) == []
    assert scan_turn(text, (), None) == []


def _scan_text_calls(path: str) -> list[int]:
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "scan_text"]


def test_only_the_kernel_walks_a_trie_per_turn():
    """No kgpipe module but ``trie.py`` calls ``.scan_text(``: detect, the
    fused scan and the grid sweep reach the tries through ``scan_turn``,
    so a change to the per-turn scan lands in one place."""
    import kgpipe

    root = os.path.dirname(os.path.abspath(kgpipe.__file__))
    offenders = [f"{name}:{line}" for name in sorted(os.listdir(root))
                 if name.endswith(".py") and name != "trie.py"
                 for line in _scan_text_calls(os.path.join(root, name))]
    assert offenders == []
    # the scan itself finds calls
    assert _scan_text_calls(os.path.join(root, "trie.py"))
