"""The fused conversation-local pipeline must produce exactly the same
triple set as the staged operators when configured identically
(disambiguation off — the staged path scores globally, the fused path
conversation-locally, so equality is asserted on the shared semantics)."""

from __future__ import annotations

from conftest import MINI_OBO
from kgpipe.canon import canonicalize
from kgpipe.detect import build_dictionary_df, detect_mentions
from kgpipe.fused import fused_conv_triples
from kgpipe.synth import generate_transcripts
from kgpipe.triples import all_triples

T_SCHEMA = ("conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp")


def test_fused_equals_staged(spark):
    rows, _ = generate_transcripts(n_convs=40, seed=7)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})

    staged_mentions = canonicalize(detect_mentions(tdf, ddf), ddf)
    staged = all_triples(tdf, staged_mentions, concept_col="canonical_id",
                         cooc_window=3)
    fused = fused_conv_triples(tdf, ddf, cooc_window=3, disambiguate=False)

    s_rows = {tuple(r) for r in
              staged.select("subj", "pred", "obj", "conv_id", "turn_idx",
                            "evidence").collect()}
    f_rows = {tuple(r) for r in
              fused.select("subj", "pred", "obj", "conv_id", "turn_idx",
                           "evidence").collect()}
    only_s = s_rows - f_rows
    only_f = f_rows - s_rows
    assert not only_s and not only_f, (
        sorted(only_s)[:3], sorted(only_f)[:3]
    )


def test_fused_disambiguation_keeps_one_per_span(spark):
    # two concepts share the variant "shared gadget" in mini.obo; with
    # disambiguation on, only one survives per span and it is canonicalized
    tdf = spark.createDataFrame(
        [("c1", 0, "user", "a shared gadget appears", None, None)], T_SCHEMA
    )
    ddf = build_dictionary_df(spark, {"SYN": MINI_OBO})
    out = fused_conv_triples(tdf, ddf, disambiguate=True).filter(
        "pred = 'http://purl.org/kgpipe/denotes'"
    ).collect()
    assert len(out) == 1
    assert out[0].obj.endswith("SYN_0000001")  # merged representative


def test_fused_mayla_matches_staged(spark):
    """Mayla is document-local, so the fused per-conversation scan must
    reproduce the staged detect → mayla_filter → canonicalize → triples
    chain exactly — in every threshold mode, and under block splitting."""
    from kgpipe.disambig import mayla_filter

    tdf = spark.createDataFrame(
        [
            ("m1", 0, "user", "a Neuron appears near a fibroblast", None, None),
            ("m1", 1, "user", "the neuron and the neuron again", None, None),
            ("m1", 2, "user", "NEURON SHOUTS at an interneurone", None, None),
            ("m2", 0, "user", "nerve cell appears once", None, None),
            ("m2", 1, "user", "fibroblast then Fibroblast follow", None, None),
        ],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]

    baseline = {tuple(r) for r in
                fused_conv_triples(tdf, ddf, cooc_window=3,
                                   disambiguate=False)
                .select(*cols).collect()}

    for freq in (None, 2, {"CL": 2}):
        staged_m = mayla_filter(detect_mentions(tdf, ddf), tdf, ddf,
                                concept_freq=freq)
        staged = all_triples(tdf, canonicalize(staged_m, ddf),
                             concept_col="canonical_id", cooc_window=3)
        fused = fused_conv_triples(
            tdf, ddf, cooc_window=3, disambiguate=False,
            mayla=True, mayla_concept_freq=freq,
        )
        s_rows = {tuple(r) for r in staged.select(*cols).collect()}
        f_rows = {tuple(r) for r in fused.select(*cols).collect()}
        assert s_rows == f_rows, (
            freq, sorted(s_rows - f_rows)[:3], sorted(f_rows - s_rows)[:3]
        )
        # the filter must actually bite on this corpus
        assert f_rows < baseline, freq
        # split mode (skew guard) must not change Mayla decisions: the
        # filter only reads the mention's own turn
        split = {tuple(r) for r in
                 fused_conv_triples(tdf, ddf, cooc_window=3,
                                    disambiguate=False, mayla=True,
                                    mayla_concept_freq=freq,
                                    max_turns_per_group=3)
                 .select(*cols).collect()}
        assert split == f_rows, freq


def test_fused_mayla_conversation_scope_matches_staged(spark):
    """freq_scope='conversation' (the reference's whole-document
    frequency granularity) on the fused path must match the staged
    detect → mayla_filter(freq_scope='conversation') chain, and must
    diverge from turn scope on a surface spread one-per-turn."""
    from kgpipe.disambig import mayla_filter

    # synonym surfaces ('nerve cell' → canonical 'neuron', 'interneurone'
    # → 'interneuron') so the canonical-equality short-circuit never
    # fires and the decision rides on frequency alone
    tdf = spark.createDataFrame(
        [
            ("s1", 0, "user", "a nerve cell appears", None, None),
            ("s1", 1, "user", "the nerve cell waits", None, None),
            ("s1", 2, "user", "that nerve cell leaves", None, None),
            ("s2", 0, "user", "one interneurone only", None, None),
        ],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]

    staged_m = mayla_filter(detect_mentions(tdf, ddf), tdf, ddf,
                            concept_freq=2, freq_scope="conversation")
    staged = all_triples(tdf, canonicalize(staged_m, ddf),
                         concept_col="canonical_id", cooc_window=3)
    fused = fused_conv_triples(
        tdf, ddf, cooc_window=3, disambiguate=False,
        mayla=True, mayla_concept_freq=2, mayla_freq_scope="conversation",
    )
    s_rows = {tuple(r) for r in staged.select(*cols).collect()}
    f_rows = {tuple(r) for r in fused.select(*cols).collect()}
    assert s_rows == f_rows
    # conv scope keeps the one-per-turn 'nerve cell' (conv freq 3 >= 2)
    # that turn scope drops (turn freq 1 < 2); s2's lone synonym drops
    denotes = {(r[3], r[4]) for r in f_rows
               if r[1] == "http://purl.org/kgpipe/denotes"}
    assert denotes == {("s1", 0), ("s1", 1), ("s1", 2)}
    turn_scoped = fused_conv_triples(
        tdf, ddf, cooc_window=3, disambiguate=False,
        mayla=True, mayla_concept_freq=2, mayla_freq_scope="turn",
    ).filter("pred = 'http://purl.org/kgpipe/denotes'").count()
    assert turn_scoped == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        fused_conv_triples(tdf, ddf, mayla=True, mayla_concept_freq=2,
                           mayla_freq_scope="document")


def test_fused_mayla_truth_table(spark):
    """No-freq mode on the fused path keeps acronym/capitalized surfaces
    only (MaylaPostProcessingComponent.java:97-113 casing rules)."""
    tdf = spark.createDataFrame(
        [("d1", 0, "user",
          "a Neuron appears, NEURON again, but a neuron and a fibroblast"
          " stay lowercase", None, None)],
        T_SCHEMA,
    )
    # CASE_IGNORE so the all-caps surface is even detected (ConceptMapper's
    # CASE_INSENSITIVE keeps acronyms case-significant, normalize_token)
    from dataclasses import replace

    from kgpipe.normalize import CASE_IGNORE, config_for

    cfgs = {"CL": replace(config_for("CL"), case_match=CASE_IGNORE)}
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO}, cfgs)
    out = fused_conv_triples(tdf, ddf, configs=cfgs, disambiguate=False,
                             mayla=True, mayla_concept_freq=None).filter(
        "pred = 'http://purl.org/kgpipe/denotes'"
    ).collect()
    assert {(r.evidence.text) for r in out} == {"Neuron", "NEURON"}


def test_pipeline_fused_accepts_mayla(spark, tmp_path):
    """run_pipeline(fused=True, mayla=True) is accepted and filters."""
    from kgpipe.pipeline import PipelineConfig, run_pipeline

    tdf = spark.createDataFrame(
        [("c1", 0, "user", "a Neuron appears near a fibroblast", None, None)],
        T_SCHEMA,
    )
    cfg = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True, mayla=True,
                         disambiguate=False, n_buckets=2)
    out = run_pipeline(spark, tdf, cfg, str(tmp_path / "out"))
    denotes = [r for r in out.collect()
               if r.pred == "http://purl.org/kgpipe/denotes"]
    assert {r.evidence.text for r in denotes} == {"Neuron"}


def test_fused_block_split_matches_unsplit(spark):
    """Mega-conversation skew guard: splitting conversations into turn
    blocks (ghost-replicated boundaries) must reproduce the unsplit triple
    set exactly — structure, denotes, and windowed co-occurrence."""
    rows, _ = generate_transcripts(n_convs=30, seed=13)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )
    assert max(r["turn_idx"] for r in rows) >= 10  # multi-block coverage
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})

    unsplit = fused_conv_triples(tdf, ddf, cooc_window=3, disambiguate=False)
    split = fused_conv_triples(tdf, ddf, cooc_window=3, disambiguate=False,
                               max_turns_per_group=5)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    u = {tuple(r) for r in unsplit.select(*cols).collect()}
    s = {tuple(r) for r in split.select(*cols).collect()}
    assert u == s, (sorted(u - s)[:3], sorted(s - u)[:3])


def test_fused_split_exact_tf_matches_unsplit(spark):
    """VERDICT r4 #4: max_turns_per_group must not change TF-disambiguation
    semantics — the auto exact-conv-scores plan makes split+disambiguate
    IDENTICAL to the unsplit fused plan (previously a documented
    divergence)."""
    # span-ambiguous 'shared gadget' (SYN:0000001 vs SYN:0000002) in block
    # 0, with ALL the unambiguous TF evidence for SYN:0000002 ('type 2
    # widget') in blocks 1-2: conversation-level TF resolves the ambiguous
    # span to SYN:0000002, which a block-local count cannot see.
    # canonical=False so the winning concept stays observable (the two
    # SYN concepts share a synonym and would merge under canonicalization)
    def text_of(t):
        if t == 2:
            return "a shared gadget appears"
        # evidence sits in blocks 1-2 and OFF the ghost boundary (block 0's
        # ghosts are turns 5-7), so the block-local plan cannot see it
        if t in (8, 11, 13):
            return "the type 2 widget returns"
        return "filler text only"

    extra = [(f"amb{i}", t, "user", text_of(t), None, None)
             for i in range(3) for t in range(16)]
    rows, _ = generate_transcripts(n_convs=15, seed=21)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows] + extra,
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"SYN": MINI_OBO})
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]

    kw = dict(cooc_window=3, disambiguate=True, canonical=False)
    unsplit = {tuple(r) for r in
               fused_conv_triples(tdf, ddf, **kw).select(*cols).collect()}
    split_exact = {tuple(r) for r in
                   fused_conv_triples(tdf, ddf, max_turns_per_group=5, **kw)
                   .select(*cols).collect()}
    assert split_exact == unsplit, (
        sorted(unsplit - split_exact)[:3], sorted(split_exact - unsplit)[:3])
    amb_obj = {r[2] for r in split_exact
               if r[3] == "amb0" and r[4] == 2
               and r[1] == "http://purl.org/kgpipe/denotes"}
    assert amb_obj == {"http://purl.obolibrary.org/obo/SYN_0000002"}


def test_fused_split_exact_mayla_conv_scope_matches_unsplit(spark):
    """Conversation-scope Mayla frequency under block splitting: the
    side-table plan reproduces the unsplit fused output exactly, even when
    a surface's frequency evidence lives entirely in OTHER blocks."""
    # 'nerve cell' once per turn across 6 turns: conv freq 6 >= 2 keeps it,
    # but any block-local count at block size 5 would see freq 1 in the
    # lone block-1 turn
    tdf = spark.createDataFrame(
        [("s1", t, "user", f"turn {t} with a nerve cell inside", None, None)
         for t in range(6)]
        + [("s2", 0, "user", "one interneurone only", None, None)],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]

    kw = dict(cooc_window=3, disambiguate=False, mayla=True,
              mayla_concept_freq=2, mayla_freq_scope="conversation")
    unsplit = {tuple(r) for r in
               fused_conv_triples(tdf, ddf, **kw).select(*cols).collect()}
    split_exact = {tuple(r) for r in
                   fused_conv_triples(tdf, ddf, max_turns_per_group=5, **kw)
                   .select(*cols).collect()}
    assert split_exact == unsplit, (
        sorted(unsplit - split_exact)[:3], sorted(split_exact - unsplit)[:3])
    # all six one-per-turn mentions survive (conv freq 6 >= 2) — including
    # the turn-5 mention whose frequency evidence lives in block 0
    denotes = {(r[3], r[4]) for r in split_exact
               if r[1] == "http://purl.org/kgpipe/denotes"}
    assert denotes == {("s1", t) for t in range(6)}


def test_fused_exact_plan_quarantines_per_turn(spark, tmp_path):
    """Exact split plan + lineage: a failing detect config quarantines and
    the ERROR bucket retries to the clean output (the pipeline wiring of
    _exact_conv_plan's ERROR_PRED rows)."""
    from kgpipe.lineage import COMPLETE
    from kgpipe.normalize import MatchConfig
    from kgpipe.pipeline import PipelineConfig, run_pipeline
    from pyspark.sql import functions as F

    rows, _ = generate_transcripts(n_convs=10, seed=9)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows],
        T_SCHEMA,
    )
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    out = str(tmp_path / "triples")
    lin = str(tmp_path / "lineage")
    cfg_err = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                             disambiguate=True, n_buckets=4,
                             max_turns_per_group=5,
                             detect_configs={"CL": bogus})
    errs = run_pipeline(spark, tdf, cfg_err, out, lineage_path=lin)
    assert {r.status for r in errs.collect()} == {"ERROR"}

    cfg_ok = PipelineConfig(obo_paths={"CL": MINI_OBO}, fused=True,
                            disambiguate=True, n_buckets=4,
                            max_turns_per_group=5)
    rows2 = run_pipeline(spark, tdf, cfg_ok, out, lineage_path=lin)
    latest = (rows2.groupBy("partition_id")
              .agg(F.max_by("status", "run_date").alias("status")))
    assert {r.status for r in latest.collect()} == {COMPLETE}

    out_clean = str(tmp_path / "clean")
    run_pipeline(spark, tdf, cfg_ok, out_clean)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    clean = spark.read.parquet(out_clean).select(*cols)
    got = spark.read.parquet(out).select(*cols)
    assert got.exceptAll(clean).count() == 0
    assert clean.exceptAll(got).count() == 0


def test_fused_exact_plan_lineage_long_conversation(spark, tmp_path):
    """Side-table plan under lineage (a conversation longer than
    max_turns_per_group): failing detect quarantines into ERROR buckets,
    the retry completes them, and the result equals the plain scan's."""
    from kgpipe.lineage import COMPLETE
    from kgpipe.normalize import MatchConfig
    from kgpipe.pipeline import PipelineConfig, run_pipeline
    from pyspark.sql import functions as F

    rows, _ = generate_transcripts(n_convs=10, seed=9)
    tdf = spark.createDataFrame(
        [(r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
         for r in rows]
        + [("long", t, "user", "a neuron near a fibroblast", None, None)
           for t in range(12)],
        T_SCHEMA,
    )
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    kw = dict(obo_paths={"CL": MINI_OBO}, fused=True, n_buckets=4)
    out = str(tmp_path / "triples")
    lin = str(tmp_path / "lineage")
    errs = run_pipeline(spark, tdf, PipelineConfig(
        max_turns_per_group=5, detect_configs={"CL": bogus}, **kw),
        out, lineage_path=lin)
    assert {r.status for r in errs.collect()} == {"ERROR"}
    rows2 = run_pipeline(spark, tdf, PipelineConfig(max_turns_per_group=5,
                                                    **kw),
                         out, lineage_path=lin)
    latest = (rows2.groupBy("partition_id")
              .agg(F.max_by("status", "run_date").alias("status")))
    assert {r.status for r in latest.collect()} == {COMPLETE}

    out_scan = str(tmp_path / "scan")
    run_pipeline(spark, tdf, PipelineConfig(**kw), out_scan)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    scan = spark.read.parquet(out_scan).select(*cols)
    got = spark.read.parquet(out).select(*cols)
    assert got.exceptAll(scan).count() == 0
    assert scan.exceptAll(got).count() == 0


def test_fused_split_without_lineage_fails_on_detect_error(spark):
    """Without quarantine (no lineage), a failing detect must fail the job
    in split mode exactly as it does in the unsplit scan — never silently
    drop the failed turns."""
    import pytest
    from kgpipe.normalize import MatchConfig

    tdf = spark.createDataFrame(
        [("c1", t, "user", "a neuron appears", None, None)
         for t in range(7)], T_SCHEMA)
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO}, {"CL": bogus})
    for split in (None, 5):
        with pytest.raises(Exception, match="BOGUS"):
            fused_conv_triples(tdf, ddf, configs={"CL": bogus},
                               max_turns_per_group=split).collect()


def test_fused_split_plan_only_for_long_conversations(spark):
    """max_turns_per_group routes to the side-table plan only when some
    conversation has more turns than the guard; the quarantine granularity
    shows which plan ran (per turn there, per conversation in the scan)."""
    from kgpipe.fused import ERROR_PRED
    from kgpipe.normalize import MatchConfig

    tdf = spark.createDataFrame(
        [("c1", t, "user", "a neuron appears", None, None)
         for t in range(7)], T_SCHEMA)
    bogus = MatchConfig(
        search_strategy="BOGUS", case_match="CASE_INSENSITIVE",
        stemmer="NONE", stopwords="NONE", order_independent=False,
        find_all_matches=False, synonym_type="ALL",
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO}, {"CL": bogus})
    for split, n_errors in ((5, 7), (6, 7), (7, 1), (None, 1)):
        out = fused_conv_triples(tdf, ddf, configs={"CL": bogus},
                                 max_turns_per_group=split,
                                 quarantine_errors=True)
        assert out.filter(out.pred == ERROR_PRED).count() == n_errors, split


def test_fused_side_table_plan_mayla_high_offsets(spark):
    """With a conversation longer than the guard (so the side-table plan
    runs), turn-scope Mayla in every threshold mode and turn indexes far
    from 0 give the scan's output."""
    texts = ["a Neuron appears near a fibroblast",
             "the neuron and the neuron again",
             "NEURON SHOUTS at an interneurone",
             "fibroblast then Fibroblast follow"]
    tdf = spark.createDataFrame(
        [("c9", 100 + t, "user", texts[t % 4], None, None) for t in range(8)]
        + [("m2", 0, "user", "nerve cell appears once", None, None)],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    for mayla, freq in ((False, None), (True, None), (True, 2),
                        (True, {"CL": 2})):
        kw = dict(cooc_window=3, disambiguate=False, mayla=mayla,
                  mayla_concept_freq=freq)
        scan = {tuple(r) for r in
                fused_conv_triples(tdf, ddf, **kw).select(*cols).collect()}
        split = {tuple(r) for r in
                 fused_conv_triples(tdf, ddf, max_turns_per_group=5, **kw)
                 .select(*cols).collect()}
        assert split == scan, (mayla, freq, sorted(scan - split)[:3],
                               sorted(split - scan)[:3])
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert any(r[1] == rdf_type and r[3] == "c9" for r in split)


def test_fused_block_split_requires_window_fit(spark):
    tdf = spark.createDataFrame(
        [("c1", 0, "user", "x", None, None)], T_SCHEMA
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    import pytest

    with pytest.raises(ValueError):
        fused_conv_triples(tdf, ddf, cooc_window=5, max_turns_per_group=4)


def test_fused_block_split_high_turn_offsets(spark):
    """Regression: a conversation whose lowest turn_idx lands past block 0
    must still get its conversation-level rdf:type triple in split mode."""
    tdf = spark.createDataFrame(
        [("c9", 100, "user", "a neuron appears", None, None),
         ("c9", 101, "user", "then a fibroblast", None, None)],
        T_SCHEMA,
    )
    ddf = build_dictionary_df(spark, {"CL": MINI_OBO})
    unsplit = fused_conv_triples(tdf, ddf, cooc_window=3, disambiguate=False)
    split = fused_conv_triples(tdf, ddf, cooc_window=3, disambiguate=False,
                               max_turns_per_group=5)
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    u = {tuple(r) for r in unsplit.select(*cols).collect()}
    s = {tuple(r) for r in split.select(*cols).collect()}
    assert u == s
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    assert any(r[1] == rdf_type for r in s)
