#!/usr/bin/env python3
"""KG-path benchmark for kgpipe.

    python3 perfbench/run.py --workload resume --seed 1 --seconds 5 --trace 0

Run from the repository root.  One closed-loop driver process runs one job
at a time through the public entry ``kgpipe.pipeline.run_pipeline`` (staged
and fused plans), reading a parquet transcript table that set-up wrote from
the seeded generator in ``gen.py``, on a Spark ``local[k]`` with
k = min(4, usable CPUs).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
pass (``layers.py``) and prints the per-layer metrics.  Both check the
outputs against the planted gold.  The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
host context.  Everything the run writes goes under ``.perfbench_work/`` in
the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from procstat import TreeSampler  # noqa: E402

# the CLI default is 64; at 64 a resume run takes ~40 s longer (per-bucket
# files, listings and commits), more than the benchmark's time budget allows
N_BUCKETS = 8
RUN_KEY = "CONCEPTMAPPER_DEFAULT"
DRIVER_MEM = "1g"
SETUP_REPS = 3  # session starts per run; the first launches the JVM
# C1 only: at these job sizes C2 compilation is pure warm-up cost (a cold
# staged job took 23 s against 15 s with C1), while warm job times match.
# C1-only mode shrinks the default code cache to 48 MB, which a resume run
# fills; the JVM then stops compiling and runs interpreted.  The heap is
# committed and touched at start, so that the tree's peak memory does not
# depend on when the collector chose to grow the heap.
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
PR_MIN = 0.95
# turns of the warm-up builds in set-up: without them the first timed job of
# each plan also times the JVM compiling the plan's code, which varies by a
# third from run to run on a busy host
WARMUP_TURNS = 100


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def task_slots() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def write_inputs(corpus: gen.Corpus, d: str) -> dict:
    """The transcript parquet table, its first turns as the warm-up table
    and one OBO file per ontology under *d*."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC"))])
    paths = {"transcripts": os.path.join(d, "transcripts.parquet"),
             "warmup": os.path.join(d, "warmup.parquet"), "obo": {}}
    table = pa.Table.from_pylist(corpus.turns, schema=schema)
    pq.write_table(table, paths["transcripts"])
    pq.write_table(table.slice(0, WARMUP_TURNS), paths["warmup"])
    for name, ont in corpus.ontologies.items():
        p = os.path.join(d, f"{name}.obo")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(ont.obo)
        paths["obo"][name] = p
    return paths


# ---------------------------------------------------------------------------
# Spark sessions
# ---------------------------------------------------------------------------

def prepare_env(work: str, k: int, event_dir: str | None) -> None:
    """Keep Spark, its JVM and its Python workers inside *work*, and switch
    on the uncompressed event log under *event_dir* when given; must run
    before the JVM is launched."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    root = os.getcwd()
    old = os.environ.get("PYTHONPATH")
    os.environ.update(
        PYTHONPATH=root + (os.pathsep + old if old else ""),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(k),
        KGPIPE_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "".join(f"--conf {key}={v} " for key, v in conf.items())
            + "--driver-java-options "
            f"\"-Djava.io.tmpdir={tmp} {JVM_OPTS}\" pyspark-shell"),
    )


class Spark:
    """The JVM gateway and the current session."""

    def __init__(self, k: int):
        self.k = k
        self.spark = None

    def start(self) -> float:
        """New session (stopping the current one; the first call launches
        the JVM); returns its set-up time: SparkSession start plus the
        warm-up job."""
        from kgpipe.session import get_spark

        self.stop()
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        warm_up_job(self.spark, self.k)
        return time.perf_counter() - t

    def stop(self) -> None:
        """Stop the session (this also closes its event log)."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)


def warm_up_job(spark, k: int) -> None:
    """One SQL job through a Python operator, so that the Python worker
    daemon and workers are up before the first scan."""
    from pyspark.sql import functions as F

    (spark.range(0, 10_000, numPartitions=k)
     .mapInPandas(lambda it: it, "id long")
     .agg(F.sum("id")).collect())


# ---------------------------------------------------------------------------
# jobs through the public entry
# ---------------------------------------------------------------------------

class Jobs:
    """Builds through ``run_pipeline`` with the CLI defaults; counts every
    job attempted and failed."""

    PLANS = ("staged", "fused")

    def __init__(self, sp: Spark, inputs: dict):
        self.sp = sp
        self.inputs = inputs
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def config(self, plan: str, snapshot: bool = False):
        from kgpipe.pipeline import PipelineConfig

        return PipelineConfig(obo_paths=self.inputs["obo"],
                              fused=plan == "fused", n_buckets=N_BUCKETS,
                              snapshot=snapshot, run_key=RUN_KEY)

    def transcripts(self, table: str = "transcripts"):
        return self.sp.spark.read.parquet(self.inputs[table])

    def build(self, plan: str, out: str, lineage: str | None = None,
              snapshot: bool = False, table: str = "transcripts") -> float:
        """Wall seconds from reading the input *table* to the committed
        triple table."""
        from kgpipe.pipeline import run_pipeline

        self.attempted += 1
        t = time.perf_counter()
        try:
            run_pipeline(self.sp.spark, self.transcripts(table),
                         self.config(plan, snapshot), out, lineage)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            raise
        return time.perf_counter() - t


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def triple_hash(df) -> str:
    """Order-insensitive hash of a triple table: row count plus the sum of
    per-row xxhash64 over every triple column."""
    from pyspark.sql import functions as F

    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "evidence"]
    r = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect()[0]
    return f"{r['n']}:{int(r['s'] or 0) % (1 << 64):016x}"


def denotes_pr(df, gold: list[tuple]) -> tuple[float, float]:
    """Precision and recall of the ``denotes`` triples (turn, canonical
    concept, span) against the planted gold."""
    from pyspark.sql import functions as F

    from kgpipe.triples import CONV_NS, OBO_PREFIX, PRED_DENOTES

    got = {(r[0], r[1], r[2], r[3]) for r in
           df.filter(F.col("pred") == PRED_DENOTES)
           .select("subj", "obj", "evidence.begin", "evidence.end")
           .collect()}
    want = {(f"{CONV_NS}{c}#t{t}", OBO_PREFIX + cid.replace(":", "_"), b, e)
            for c, t, b, e, cid in gold}
    hit = len(got & want)
    return (hit / len(got) if got else 0.0), (hit / len(want) if want else 1.0)


def lineage_check(spark, lineage_path: str, n_turns: int) -> tuple[bool, int]:
    """(every bucket of the input COMPLETE and the latest per-bucket
    n_turns summing to the input turn count, quarantined ERROR buckets)."""
    from pyspark.sql import functions as F

    latest = (spark.read.parquet(lineage_path)
              .filter(F.col("run_key") == RUN_KEY)
              .groupBy("partition_id")
              .agg(F.max_by("status", "run_date").alias("status"),
                   F.max_by("n_turns", "run_date").alias("n_turns")))
    rows = latest.collect()
    errors = sum(r["status"] == "ERROR" for r in rows)
    ok = (all(r["status"] == "COMPLETE" for r in rows)
          and sum(r["n_turns"] or 0 for r in rows) == n_turns)
    return ok, errors


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            log(f"CHECK FAILED: {what}")


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def copy_state(src: str, dst: str) -> None:
    if os.path.exists(dst):
        shutil.rmtree(dst)
    shutil.copytree(src, dst)


def complete_lineage(bucketed):
    """One COMPLETE lineage row per bucket of the bucketed input, as a
    finished ``--lineage`` run records them."""
    from pyspark.sql import functions as F

    return (bucketed.groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("n_turns"))
            .select(F.lit(RUN_KEY).alias("run_key"),
                    F.col("partition_id").cast("int"),
                    F.lit("COMPLETE").alias("status"),
                    F.col("n_turns").cast("long"),
                    F.lit(None).cast("long").alias("n_mentions"),
                    F.lit(None).cast("long").alias("n_triples"),
                    F.current_timestamp().alias("run_date"),
                    F.lit(None).cast("string").alias("error"),
                    F.lit(None).cast("string").alias("component_at_fault")))


def half_state(scratch_out: str, lineage, done: list[int],
               template: str) -> None:
    """The state a ``--lineage --snapshot`` run leaves when it stopped after
    the buckets *done*: their data, copied from the from-scratch table
    *scratch_out*, in the run's staging directory, their COMPLETE rows of
    *lineage*, and no committed snapshot."""
    from pyspark.sql import functions as F

    from kgpipe.triples import snapshot_staging_path

    staging = snapshot_staging_path(os.path.join(template, "out"), RUN_KEY)
    os.makedirs(staging)
    for b in done:
        name = f"bucket={b}"
        shutil.copytree(os.path.join(scratch_out, name),
                        os.path.join(staging, name))
    (lineage.filter(F.col("partition_id").isin(done))
     .write.parquet(os.path.join(template, "lineage")))


class Workload:
    """Set-up and timed jobs of one workload.  ``long_turns`` times full
    builds (``run_pipeline`` without lineage); its no-op re-invocation runs
    over an all-COMPLETE lineage written in set-up.  ``resume`` times
    ``--lineage --snapshot`` resumes of the OUTSTANDING half of the buckets
    from a copied half-COMPLETE state; its no-op re-invocation runs over the
    finished resume."""

    def __init__(self, name: str, corpus: gen.Corpus, jobs: Jobs,
                 checks: Checks, work: str):
        self.name = name
        self.corpus = corpus
        self.jobs = jobs
        self.checks = checks
        self.work = work
        self.resume = name == "resume"
        self.n_turns = len(corpus.turns)
        self.n_timed_turns = self.n_turns  # OUTSTANDING turns on resume
        self.scratch_hash: str | None = None
        self.done_buckets: list[int] = []  # COMPLETE before a resume
        self.plan_hash: dict[str, str] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Untimed: writes the start state of the timed jobs."""
        from pyspark.sql import functions as F

        from kgpipe.lineage import with_bucket

        # on resume the from-scratch build below warms the staged plan
        for plan in ("fused",) if self.resume else Jobs.PLANS:
            self.jobs.build(plan, self.path("warmup", plan), table="warmup")
        bucketed = with_bucket(self.jobs.transcripts(), N_BUCKETS)
        if not self.resume:
            # the no-op re-invocation's start state
            complete_lineage(bucketed).write.parquet(
                self.path("noop", "lineage"))
            return
        # the half of the buckets whose turns come closest to half of the
        # input, so that the resumed share barely varies with the seed
        counts = dict(bucketed.groupBy("partition_id").count().collect())
        self.done_buckets = list(min(
            itertools.combinations(sorted(counts), N_BUCKETS // 2),
            key=lambda c: abs(2 * sum(counts[b] for b in c) - self.n_turns)))
        self.n_timed_turns = self.n_turns - sum(
            counts[b] for b in self.done_buckets)
        # the from-scratch build (staged plan, bucketed table); both plans'
        # resumes are checked against it, so the check also holds the two
        # plans to the same triple table
        s = self.path("scratch")
        self.jobs.build("staged", s)
        self.scratch_hash = triple_hash(self.jobs.sp.spark.read.parquet(s))
        half_state(s, complete_lineage(bucketed), self.done_buckets,
                   self.path("template"))

    # -- timed jobs ----------------------------------------------------------
    def out_dir(self, plan: str) -> str:
        return self.path("run", plan, "out")

    def lineage_dir(self, plan: str) -> str:
        return self.path("run", plan, "lineage")

    def timed_job(self, plan: str) -> float:
        """One timed build of *plan*: a full build, or on ``resume`` the
        resume of the outstanding buckets from a fresh copy of the
        template."""
        if self.resume:
            copy_state(self.path("template"), self.path("run", plan))
            return self.jobs.build(plan, self.out_dir(plan), snapshot=True,
                                   lineage=self.lineage_dir(plan))
        return self.jobs.build(plan, self.out_dir(plan))

    def noop_job(self, plan: str) -> float:
        if self.resume:
            return self.jobs.build(plan, self.out_dir(plan), snapshot=True,
                                   lineage=self.lineage_dir(plan))
        return self.jobs.build(plan, self.path("noop", "out"), snapshot=True,
                               lineage=self.path("noop", "lineage"))

    # -- correctness ---------------------------------------------------------
    def output(self, plan: str):
        spark = self.jobs.sp.spark
        if self.resume:
            from kgpipe.triples import read_triples_snapshot

            return read_triples_snapshot(spark, self.out_dir(plan))
        return spark.read.parquet(self.out_dir(plan))

    def verify(self) -> tuple[float, float]:
        """Checks every plan's last output; returns the lower P and R."""
        ps, rs = [], []
        for plan in Jobs.PLANS:
            df = self.output(plan)
            p, r = denotes_pr(df, self.corpus.gold)
            ps.append(p)
            rs.append(r)
            self.checks.check(p >= PR_MIN and r >= PR_MIN,
                              f"{plan} denotes P={p:.4f} R={r:.4f}")
            self.plan_hash[plan] = triple_hash(df)
            if self.resume:
                self.checks.check(
                    self.plan_hash[plan] == self.scratch_hash,
                    f"{plan} resumed hash {self.plan_hash[plan]} != "
                    f"from-scratch {self.scratch_hash}")
                ok, errors = lineage_check(
                    self.jobs.sp.spark, self.lineage_dir(plan), self.n_turns)
                self.checks.check(ok, f"{plan} lineage incomplete")
                self.checks.failed += errors  # quarantined ERROR buckets
        return min(ps), min(rs)


def timed_window(wl: Workload, seconds: float) -> dict:
    """Closed loop: rounds of (staged, fused) jobs, alternating which plan
    goes first, until *seconds* have passed."""
    times: dict[str, list[float]] = {p: [] for p in Jobs.PLANS}
    peaks: list[int] = []
    sampler = TreeSampler().start()
    t_end = time.perf_counter() + seconds
    rnd = 0
    try:
        while rnd == 0 or time.perf_counter() < t_end:
            order = Jobs.PLANS if rnd % 2 == 0 else Jobs.PLANS[::-1]
            for plan in order:
                times[plan].append(wl.timed_job(plan))
                peaks.append(sampler.take_peak())
            rnd += 1
    finally:
        sampler.stop()
    n_jobs = sum(len(v) for v in times.values())
    return {"times": times, "cpu_s": sampler.cpu_s,
            "peak_rss_bytes": peaks,
            "turns_done": wl.n_timed_turns * n_jobs}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def versions() -> dict:
    import subprocess

    out = {"python": platform.python_version()}
    try:
        import pyspark

        out["pyspark"] = pyspark.__version__
    except ImportError:
        out["pyspark"] = None
    try:
        r = subprocess.run(["java", "-version"], capture_output=True,
                           text=True, timeout=30)
        out["java"] = (r.stderr or r.stdout).splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        out["java"] = None
    return out


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def untraced_run(wl: Workload, seconds: float,
                 setup_s: float) -> tuple[dict, dict]:
    res = timed_window(wl, seconds)
    log("timed window done")
    p, r = wl.verify()
    kturns = res["turns_done"] / 1000.0
    staged, fused = res["times"]["staged"], res["times"]["fused"]
    # Wall-time throughput is reported in the context only: on a shared
    # 4-core host whole runs slow down by up to a third, which puts the
    # run-to-run spread of job times beyond any usable bound; the process
    # tree's CPU time does not count the time it waited for a CPU.
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "cpu_s_per_kturn": metric(res["cpu_s"] / kturns, "s/kturn"),
        # the lowest of the timed jobs' peaks: how many idle Python workers
        # a job finds alive varies from run to run by up to 1.5 GB
        "peak_rss_mb": metric(min(res["peak_rss_bytes"]) / 2**20, "MB"),
        "triple_precision": metric(p, "ratio"),
        "triple_recall": metric(r, "ratio"),
    }
    extra = {"staged_turns_per_s":
             wl.n_timed_turns / statistics.median(staged),
             "fused_turns_per_s": wl.n_timed_turns / statistics.median(fused),
             "samples": {"staged_jobs": len(staged), "fused_jobs": len(fused)},
             "job_seconds": res["times"],
             "job_peak_rss_mb": [b / 2**20 for b in res["peak_rss_bytes"]]}
    return metrics, extra


def run(args) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    k = task_slots()
    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()
    event_dir = os.path.join(work, "events") if args.trace else None
    prepare_env(work, k, event_dir)
    sp = Spark(k)
    try:
        corpus = gen.make_corpus(args.workload, args.seed)
        inputs = write_inputs(corpus, os.path.join(work, "in"))
        jobs = Jobs(sp, inputs)
        checks = Checks()
        wl = Workload(args.workload, corpus, jobs, checks, work)
        log(f"inputs ready at {time.perf_counter() - t0:.1f}s")
        setups = [sp.start() for _ in range(SETUP_REPS)]
        setup_s = statistics.median(setups)
        log(f"session up at {time.perf_counter() - t0:.1f}s")
        wl.setup()
        log(f"set-up done at {time.perf_counter() - t0:.1f}s")
        if args.trace:
            import layers

            metrics, extra = layers.traced_run(wl, event_dir, args.seed)
        else:
            metrics, extra = untraced_run(wl, args.seconds, setup_s)
        log(f"checks done at {time.perf_counter() - t0:.1f}s")
        failed = jobs.failed + checks.failed
        attempted = jobs.attempted + checks.attempted
        if not args.trace:
            # 1 - failed_frac: the same count as a share that is never 0
            metrics["ok_frac"] = metric(1.0 - failed / attempted, "ratio")
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(), "local_k": k,
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            **versions(),
            "setup_seconds": setups,
            "dictionary": {"source": "perfbench/gen.py synthetic OBO",
                           "ontologies": {n: o.n_terms for n, o in
                                          corpus.ontologies.items()}},
            "input": {"turns": wl.n_turns, "timed_turns": wl.n_timed_turns,
                      "tokens": corpus.n_tokens,
                      "gold_mentions": len(corpus.gold),
                      "negatives_planted": corpus.n_negatives},
            "plan_hash": wl.plan_hash, "scratch_hash": wl.scratch_hash,
            # failed jobs + failed checks + quarantined ERROR buckets, over
            # jobs + checks attempted
            "failed_frac": failed / attempted,
            "failures": checks.notes + jobs.errors,
            **extra,
        }
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        return context, result
    finally:
        sp.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("kgpipe", "pipeline.py")):
        log("kgpipe/ not found: run from the repository root")
        return 2
    sys.path.insert(0, os.getcwd())
    try:
        context, result = run(args)
    except Exception:
        traceback.print_exc()
        log("run failed; no result")
        return 1
    print(json.dumps({"context": context}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
