"""Accuracy gate on the benchmark's synthetic corpus (``perfbench/gen.py``):
denotes-triple precision and recall >= 0.95 against the planted gold,
through ``run_pipeline`` on the staged plan (committed through lineage and
a snapshot), the fused scan, and the ``max_turns_per_group`` side-table
plan; and mention precision and recall >= 0.95 per ontology on the staged
``build_mentions``.  The corpus mixes the ``long_turns`` shape (plants from CL, GO_MF and
PR, so each of their ``normalize.ONTOLOGY_CONFIGS`` entries is exercised,
with planted negatives) and the ``resume`` shape (shared synonyms, so
disambiguation and canonicalization decide the answer).  Nothing outside
the repo is needed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import load_perfbench_gen, perfbench_obo_paths, prf

SEED = 7
PR_MIN = 0.95
T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")
# whole conversations from the head of each workload's corpus
SHAPES = (("long_turns", 300), ("resume", 600))


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """(turns, gold {(conv, turn, begin, end, concept)}, {ontology: obo})."""
    gen = load_perfbench_gen()
    turns, gold = [], set()
    for workload, n_turns in SHAPES:
        c = gen.make_corpus(workload, SEED)
        head = []  # a conversation's turns are contiguous in c.turns
        for t in c.turns:
            if len(head) >= n_turns and t["conv_id"] != head[-1]["conv_id"]:
                break
            head.append(t)
        keep = {t["conv_id"] for t in head}
        turns += [{**t, "conv_id": f"{workload}-{t['conv_id']}"} for t in head]
        gold |= {(f"{workload}-{conv}", ti, b, e, cid)
                 for conv, ti, b, e, cid in c.gold if conv in keep}
    obo = perfbench_obo_paths(tmp_path_factory.mktemp("obo"), SEED)
    return turns, gold, obo


def _denotes(df) -> set:
    from kgpipe.triples import PRED_DENOTES

    return {(r[0], r[1], r[2], r[3]) for r in
            df.filter(F.col("pred") == PRED_DENOTES)
            .select("subj", "obj", "evidence.begin", "evidence.end")
            .collect()}


def _gold_denotes(gold) -> set:
    from kgpipe.triples import CONV_NS, OBO_PREFIX

    return {(f"{CONV_NS}{c}#t{t}", OBO_PREFIX + cid.replace(":", "_"), b, e)
            for c, t, b, e, cid in gold}


def _check(df, gold) -> None:
    p, r, _ = prf(_denotes(df), _gold_denotes(gold))
    assert p >= PR_MIN and r >= PR_MIN, (p, r)


def test_staged_lineage_snapshot_accuracy(spark, tmp_path, corpus):
    from kgpipe.pipeline import PipelineConfig, run_pipeline
    from kgpipe.triples import read_triples_snapshot

    turns, gold, obo = corpus
    out = str(tmp_path / "out")
    cfg = PipelineConfig(obo_paths=obo, n_buckets=8, snapshot=True)
    run_pipeline(spark, spark.createDataFrame(turns, T_SCHEMA), cfg, out,
                 lineage_path=str(tmp_path / "lin"))
    _check(read_triples_snapshot(spark, out), gold)


def test_fused_scan_accuracy(spark, tmp_path, corpus):
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    turns, gold, obo = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, spark.createDataFrame(turns, T_SCHEMA),
                 PipelineConfig(obo_paths=obo, fused=True, n_buckets=8), out)
    _check(spark.read.parquet(out), gold)


def test_exact_conv_plan_accuracy(spark, tmp_path, corpus, monkeypatch):
    from kgpipe import fused
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    calls = []
    exact = fused._exact_conv_plan
    monkeypatch.setattr(fused, "_exact_conv_plan",
                        lambda *a, **kw: calls.append(1) or exact(*a, **kw))
    turns, gold, obo = corpus
    out = str(tmp_path / "out")
    # the guard at cooc_window: every conversation longer than 3 turns
    # sends the run to the side-table plan
    cfg = PipelineConfig(obo_paths=obo, fused=True, n_buckets=8,
                         max_turns_per_group=3)
    run_pipeline(spark, spark.createDataFrame(turns, T_SCHEMA), cfg, out)
    assert calls, "the run did not take _exact_conv_plan"
    _check(spark.read.parquet(out), gold)


def test_mention_accuracy_per_ontology(spark, corpus):
    """(conv, turn, begin, end, canonical concept) mentions of
    ``pipeline.build_mentions`` against the planted gold, split by the
    ontology of the concept: P/R >= 0.95 for each of CL, GO_MF and PR."""
    from kgpipe.detect import build_dictionary_df
    from kgpipe.pipeline import PipelineConfig, build_mentions

    turns, gold, obo = corpus
    ontology_of = {prefix: name for name, prefix, _, _ in
                   load_perfbench_gen().ONTOLOGIES}

    def by_ontology(tuples) -> dict:
        out: dict = {}
        for t in tuples:
            out.setdefault(ontology_of[t[4].split(":")[0]], set()).add(t)
        return out

    cfg = PipelineConfig(obo_paths=obo)
    mentions = build_mentions(spark.createDataFrame(turns, T_SCHEMA),
                              build_dictionary_df(spark, obo), cfg)
    mine = by_ontology(
        tuple(r) for r in mentions.filter(F.col("error").isNull()).select(
            "conv_id", "turn_idx", "begin", "end", "canonical_id").collect())
    want = by_ontology(gold)
    assert set(want) == {"CL", "GO_MF", "PR"}
    for ont, gold_ont in sorted(want.items()):
        p, r, _ = prf(mine.get(ont, set()), gold_ont)
        assert p >= PR_MIN and r >= PR_MIN, (ont, p, r)
