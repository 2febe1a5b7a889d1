"""Tests of the benchmark's own pieces; none starts Spark.

    python3 -m pytest perfbench/tests

``data/eventlog.jsonl`` was recorded from a ``local[2]`` application that
ran a ``mapInPandas`` job under the description ``perfbench:detect``, a
two-job aggregation under ``perfbench:disambig`` and one job without a
description; the log was cut down to its job-start and task-end events.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import gen  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def corpus_bytes(c: gen.Corpus) -> bytes:
    return json.dumps({"obo": {n: o.obo for n, o in c.ontologies.items()},
                       "turns": c.turns, "gold": c.gold},
                      default=str, sort_keys=True).encode()


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generator_is_deterministic(workload):
    a = corpus_bytes(gen.make_corpus(workload, 11))
    assert a == corpus_bytes(gen.make_corpus(workload, 11))
    assert a != corpus_bytes(gen.make_corpus(workload, 12))


def test_ontologies_have_the_promised_shape():
    onts = gen.make_ontologies(5)
    assert sum(o.n_terms for o in onts.values()) >= 10_000
    for o in onts.values():
        assert o.max_depth >= 8
        assert "replaced_by:" in o.obo and o.shared


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_trie_recovers_planted_gold(workload):
    """The tries built from the generated OBO files find exactly the planted
    mentions of a sample of turns, once each span's concept is mapped to
    its shared-synonym component."""
    from kgpipe.canon import components_from_rows
    from kgpipe.detect import build_tries
    from kgpipe.normalize import config_for
    from kgpipe.obo import dictionary_rows, parse_obo

    corpus = gen.make_corpus(workload, 3)
    rows = []
    for name, ont in corpus.ontologies.items():
        rows += dictionary_rows(parse_obo(ont.obo, from_text=True), name,
                                config_for(name))
    tries = build_tries(rows)
    comp = components_from_rows(rows)
    sample = gen.sample_turns(corpus.turns, 200, 3)
    keys = {(t["conv_id"], t["turn_idx"]) for t in sample}
    got = set()
    for turn in sample:
        for trie in tries.values():
            for _ont, cid, b, e, _cov in trie.scan_text(turn["text"]):
                got.add((turn["conv_id"], turn["turn_idx"], b, e,
                         comp.get(cid, cid)))
    want = {g for g in corpus.gold if (g[0], g[1]) in keys}
    assert want and got == want


def test_event_log_reader_attributes_by_description():
    ev = eventlog.by_description(eventlog.read_events(
        os.path.join(HERE, "data", "eventlog.jsonl")))
    detect, disambig = ev["perfbench:detect"], ev["perfbench:disambig"]
    assert (detect["jobs"], detect["tasks"]) == (1, 2)
    assert detect["to_python_bytes"] == 8608
    assert detect["from_python_bytes"] == 8352
    assert detect["python_s"] == pytest.approx(4.424)
    # start and initialisation time of the workers, both tasks
    assert detect["python_boot_s"] == pytest.approx(3.75)
    assert detect["shuffle_write_bytes"] == 0
    assert (disambig["jobs"], disambig["tasks"]) == (2, 3)
    assert disambig["shuffle_write_bytes"] == 364
    assert disambig["python_s"] == 0
    assert ev[eventlog.NO_DESCRIPTION]["jobs"] == 2
    assert detect["task_skew"] >= 1.0


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]] + list(eventlog.METRICS)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name
