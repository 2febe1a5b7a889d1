"""The traced run: per-layer times and Spark metrics of the KG path.

Every layer is timed from outside ``kgpipe`` through its public functions.
The staged plan is materialised prefix by prefix with the ``noop`` sink
(detect, +disambig, +canon, +triples), each prefix built from scratch with
the caching ``run_pipeline`` uses; a layer's time is its prefix's wall time
minus the previous prefix's, and the write's is the committed build's minus
the dictionary build and the whole plan.  On ``resume`` the plans run over
the outstanding turns, as the timed resume does.  Each job runs
under its own job description, so the event log (``eventlog.py``)
attributes stage and SQL-node metrics (Python worker time and bytes,
shuffle, output) to it.  A layer whose public function a later change has
removed is reported in ``absent_layers`` and its metrics are left out,
instead of failing the run.

The traced run also runs the jobs of an untraced round (one staged and one
fused build through ``run_pipeline``, checked like an untraced run) and
reports its own overhead: its wall time minus that of those two builds.
"""

from __future__ import annotations

import importlib
import os
import pickle
import time
from contextlib import contextmanager

import eventlog
import gen
from run import N_BUCKETS, Jobs, Workload, log, metric

TRIE_SAMPLE_TURNS = 300
ERROR_ID = "__ERROR__"

# layer -> the public functions it is timed through
LAYER_API = {
    "obo": [("kgpipe.detect", "build_dictionary_df"),
            ("kgpipe.detect", "collect_dictionary")],
    "detect": [("kgpipe.detect", "build_tries"),
               ("kgpipe.detect", "detect_mentions")],
    "trie": [("kgpipe.detect", "build_tries"),
             ("kgpipe.trie", "pretokenize")],
    "disambig": [("kgpipe.disambig", "tfidf_disambiguate")],
    "canon": [("kgpipe.canon", "canonicalize"),
              ("kgpipe.canon", "components_from_rows")],
    "triples": [("kgpipe.triples", "all_triples")],
    "fused": [("kgpipe.fused", "fused_conv_triples")],
    "lineage": [("kgpipe.lineage", "with_bucket")],
}
# staged prefixes in plan order; a prefix needs every layer before it
STAGED = ("detect", "disambig", "canon", "triples")


def resolve(layer: str) -> dict | None:
    """The layer's public functions by name, or None if any is gone."""
    fns = {}
    for mod, name in LAYER_API[layer]:
        try:
            fns[name] = getattr(importlib.import_module(mod), name)
        except (ImportError, AttributeError):
            return None
    return fns


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.walls: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    @contextmanager
    def job(self, desc: str):
        """Time the block as *desc*; its Spark jobs carry the description
        ``perfbench:<desc>``."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"perfbench:{desc}")
        t = time.perf_counter()
        try:
            yield
        finally:
            self.walls[desc] = time.perf_counter() - t
            sc.setJobDescription(None)

    def noop(self, desc: str, df) -> None:
        """Materialise *df* with the ``noop`` sink, counting its rows."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(desc)
        with self.job(desc):
            (df.observe(obs, F.count(F.lit(1)).alias("n"))
             .write.format("noop").mode("overwrite").save())
        self.rows[desc] = obs.get["n"]


def staged_prefix(api: dict, upto: str, transcripts, dictionary, cfg):
    """The staged plan up to and including layer *upto*, built as
    ``run_pipeline`` builds it: the detect output is persisted before the
    TF-IDF aggregations and the canonical mentions before the triple
    fan-out.  Returns (DataFrame, persisted frames to release)."""
    from pyspark.sql import functions as F

    n = STAGED.index(upto) + 1
    cache = []
    df = api["detect"]["detect_mentions"](transcripts, dictionary,
                                          cfg.detect_configs)
    if n > 1:
        df = df.persist()
        cache.append(df)
        df = api["disambig"]["tfidf_disambiguate"](df)
    if n > 2:
        df = api["canon"]["canonicalize"](df, dictionary)
    if n > 3:
        df = df.persist()
        cache.append(df)
        df = api["triples"]["all_triples"](
            transcripts, df.filter(F.col("concept_id") != ERROR_ID),
            concept_col="canonical_id", cooc_window=cfg.cooc_window)
    return df, cache


def trie_baseline(api: dict, rows: list[dict], configs, turns: list[dict],
                  seed: int) -> float:
    """Turns per second of a single-core ``DictionaryTrie.scan_text`` over a
    fixed sample of the workload's turns, every trie per turn as the detect
    operator scans them."""
    sample = gen.sample_turns(turns, TRIE_SAMPLE_TURNS, seed)
    tries = api["trie"]["build_tries"](rows, configs)
    pretokenize = api["trie"]["pretokenize"]
    t = time.perf_counter()
    for turn in sample:
        pre = pretokenize(turn["text"])
        for trie in tries.values():
            trie.scan_text(turn["text"], pre)
    return len(sample) / (time.perf_counter() - t)


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) of a written table."""
    n = size = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def traced_run(wl: Workload, event_dir: str, seed: int) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    t_start = time.perf_counter()
    jobs = wl.jobs
    tr = Tracer(jobs.sp.spark)
    api = {layer: resolve(layer) for layer in LAYER_API}
    m: dict[str, dict] = {}
    w = tr.walls

    # the jobs of an untraced round, checked as in an untraced run
    for plan in Jobs.PLANS:
        with tr.job(f"e2e:{plan}"):
            wl.timed_job(plan)
        m[f"e2e.{plan}_turns_per_s"] = metric(
            wl.n_timed_turns / w[f"e2e:{plan}"], "turns/s")
    with tr.job("noop_resume"):
        wl.noop_job("staged")
    wl.verify()
    log("traced: untraced round done")

    cfg = jobs.config("staged")
    t = jobs.transcripts()
    dictionary = rows = None
    if api["obo"]:
        with tr.job("obo"):
            dictionary = api["obo"]["build_dictionary_df"](
                tr.spark, cfg.obo_paths, cfg.detect_configs)
        rows = api["obo"]["collect_dictionary"](dictionary)
        m["obo.parse_s"] = metric(w["obo"], "s")
        m["obo.dict_rows"] = metric(len(rows), "count")
    if wl.resume and api["lineage"]:
        # the plans below run over the turns the timed resume processed
        t = (api["lineage"]["with_bucket"](t, N_BUCKETS)
             .filter(~F.col("partition_id").isin(wl.done_buckets))
             .drop("partition_id"))

    # staged prefixes, each materialised from scratch; what the committed
    # build adds on top of the whole plan is the write (on resume also the
    # lineage bookkeeping)
    n_staged = 0
    if dictionary is not None:
        n_staged = next((i for i, layer in enumerate(STAGED)
                         if api[layer] is None), len(STAGED))
    if n_staged:
        t0 = time.perf_counter()
        tries = api["detect"]["build_tries"](rows, cfg.detect_configs)
        m["detect.build_tries_s"] = metric(time.perf_counter() - t0, "s")
        m["detect.broadcast_bytes"] = metric(
            len(pickle.dumps(tries, pickle.HIGHEST_PROTOCOL)), "B")
    for layer in STAGED[:n_staged]:
        df, cache = staged_prefix(api, layer, t, dictionary, cfg)
        tr.noop(layer, df)
        for c in cache:
            c.unpersist()
    if n_staged == len(STAGED):
        files, size = dir_stats(wl.out_dir("staged"))
        m["triples.rows"] = metric(tr.rows["triples"], "count")
        m["triples.write_s"] = metric(
            w["e2e:staged"] - w["obo"] - w["triples"], "s")
        m["triples.files"] = metric(files, "count")
        m["triples.bytes"] = metric(size, "B")
    if api["fused"] and dictionary is not None:
        tr.noop("fused", api["fused"]["fused_conv_triples"](
            t, dictionary, configs=cfg.detect_configs,
            cooc_window=cfg.cooc_window))
        m["fused.s"] = metric(w["fused"], "s")
        m["fused.write_s"] = metric(w["e2e:fused"] - w["obo"] - w["fused"],
                                    "s")
    log("traced: plan prefixes done")

    # lineage: the staged build with lineage (resume: the timed resume;
    # else a first build of every bucket) minus the dictionary build and
    # the noop-sink time of the staged plan over the same turns
    lin_desc = None
    if api["lineage"] and n_staged == len(STAGED):
        if wl.resume:
            lin_desc = "e2e:staged"
            buckets = N_BUCKETS - len(wl.done_buckets)
        else:
            lin_desc, buckets = "lineage", N_BUCKETS
            with tr.job("lineage"):
                jobs.build("staged", wl.path("traced", "out"),
                           lineage=wl.path("traced", "lineage"),
                           snapshot=True)
        m["lineage.overhead_s"] = metric(
            w[lin_desc] - w["obo"] - w["triples"], "s")
        m["lineage.buckets"] = metric(buckets, "count")
        m["lineage.noop_s"] = metric(w["noop_resume"], "s")

    if api["trie"] and rows is not None:
        m["trie.scan_turns_per_s_1core"] = metric(
            trie_baseline(api, rows, cfg.detect_configs, wl.corpus.turns,
                          seed), "turns/s")
    if api["canon"] and rows is not None:
        comp = api["canon"]["components_from_rows"](rows)
        m["canon.merged_concepts"] = metric(
            sum(1 for c, rep in comp.items() if c != rep), "count")
    trace_s = time.perf_counter() - t_start

    # the event log is complete once its application has stopped
    jobs.sp.stop()
    ev = eventlog.by_description(
        eventlog.read_events(eventlog.app_logs(event_dir)[-1]))

    def em(desc: str, key: str) -> float:
        return ev.get(f"perfbench:{desc}", {}).get(key, 0.0)

    if "detect" in w:
        m["detect.s"] = metric(w["detect"], "s")
        for key in ("python_s", "python_boot_s"):
            m[f"detect.{key}"] = metric(em("detect", key), "s")
        for key in ("to_python_bytes", "from_python_bytes"):
            m[f"detect.{key}"] = metric(em("detect", key), "B")
        m["detect.mentions"] = metric(tr.rows["detect"], "count")
    if "disambig" in w:
        m["disambig.s"] = metric(w["disambig"] - w["detect"], "s")
        m["disambig.shuffle_bytes"] = metric(
            em("disambig", "shuffle_write_bytes")
            - em("detect", "shuffle_write_bytes"), "B")
        m["disambig.kept_ratio"] = metric(
            tr.rows["disambig"] / max(1, tr.rows["detect"]), "ratio")
    if "canon" in w:
        m["canon.s"] = metric(w["canon"] - w["disambig"], "s")
    if "triples" in w:
        m["triples.fanout_s"] = metric(w["triples"] - w["canon"], "s")
        m["triples.shuffle_bytes"] = metric(
            em("triples", "shuffle_write_bytes")
            - em("canon", "shuffle_write_bytes"), "B")
    if "fused" in w:
        m["fused.python_s"] = metric(em("fused", "python_s"), "s")
        m["fused.shuffle_bytes"] = metric(
            em("fused", "shuffle_write_bytes"), "B")
    if lin_desc is not None:
        m["lineage.jobs"] = metric(em(lin_desc, "jobs"), "count")
    e2e = [ev.get(f"perfbench:e2e:{p}", {}) for p in Jobs.PLANS]
    for name, key, unit in (("jobs", "jobs", "count"),
                            ("tasks", "tasks", "count"),
                            ("executor_cpu_s", "cpu_s", "s"),
                            ("gc_s", "gc_s", "s"),
                            ("spill_bytes", "spill_bytes", "B"),
                            ("shuffle_write_bytes", "shuffle_write_bytes",
                             "B")):
        m[f"spark.{name}"] = metric(sum(e.get(key, 0.0) for e in e2e), unit)
    m["spark.task_skew"] = metric(
        max(e.get("task_skew", 0.0) for e in e2e), "ratio")
    m["trace.overhead_s"] = metric(
        trace_s - w["e2e:staged"] - w["e2e:fused"], "s")

    ran = {name.split(".")[0] for name in m}
    extra = {"absent_layers": sorted(set(LAYER_API) - ran),
             "traced_walls": w, "traced_rows": tr.rows,
             "event_log_descriptions": sorted(ev)}
    return m, extra
