"""(subj, pred, obj) triple materialization into partitioned tables.

Spark-first rendering of the reference's RDF sink
(``PmcAnnotationRdfPipeline.java:126-142``, N-TRIPLES via
``RdfFormat.NTRIPLES``; document-level triples
``PmcOaDocumentRdfGenerator.java:24-42``; URI strategy
``PmcOaDocumentSectionUriFactory.java:22-88`` — http ids pass through,
typography types drop).  All triple emission is pure column expressions —
one narrow ``select`` per family, a single aggregation for co-occurrence —
so Catalyst fuses everything into the detection stage where possible.

Vocabulary (public): RDF/OA/DCTERMS plus OBO PURLs for concepts.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OA_HAS_BODY = "http://www.w3.org/ns/oa#hasBody"
OA_HAS_TARGET = "http://www.w3.org/ns/oa#hasTarget"
DC_IS_PART_OF = "http://purl.org/dc/terms/isPartOf"
IAO_DOCUMENT = "http://purl.obolibrary.org/obo/IAO_0000310"
KGP = "http://purl.org/kgpipe/"
PRED_DENOTES = KGP + "denotes"
PRED_COOCCURS = KGP + "cooccursWith"
PRED_ROLE = KGP + "hasRole"
PRED_TOOL = KGP + "usedTool"
PRED_IN_SESSION = KGP + "inSession"
CLASS_CONV = KGP + "Conversation"
CLASS_TURN = KGP + "Turn"
CONV_NS = "https://kg.example.org/conv/"
OBO_PREFIX = "http://purl.obolibrary.org/obo/"


def conv_uri_col(conv_id="conv_id"):
    return F.concat(F.lit(CONV_NS), F.col(conv_id))


def turn_uri_col(conv_id="conv_id", turn_idx="turn_idx"):
    return F.concat(
        F.lit(CONV_NS), F.col(conv_id), F.lit("#t"), F.col(turn_idx).cast("string")
    )


def concept_uri_col(concept_id="concept_id"):
    """OBO PURL unless already an IRI (pass-through verbatim,
    ``PmcOaDocumentSectionUriFactory.java:22-32``)."""
    c = F.col(concept_id)
    return F.when(c.startswith("http"), c).otherwise(
        F.concat(F.lit(OBO_PREFIX), F.regexp_replace(c, ":", "_"))
    )


def _as_triples(df: DataFrame, subj, pred, obj, conv_id=None, turn_idx=None,
                evidence=None) -> DataFrame:
    cols = [
        subj.alias("subj"),
        pred.alias("pred"),
        obj.alias("obj"),
        (F.col(conv_id) if conv_id else F.lit(None).cast("string")).alias("conv_id"),
        (F.col(turn_idx).cast("int") if turn_idx else F.lit(None).cast("int")).alias("turn_idx"),
        (evidence if evidence is not None else
         F.lit(None).cast("struct<begin:int,end:int,text:string>")).alias("evidence"),
    ]
    return df.select(*cols)


def conversation_triples(transcripts: DataFrame) -> DataFrame:
    """Document-level triples (analogue of ``<doc> rdf:type iao:publication``,
    ``PmcOaDocumentRdfGenerator.java:33-42``) plus per-turn structure and
    role/tool predicates (north-star role/tool-aware predicates)."""
    convs = transcripts.select("conv_id").distinct()
    t_conv = _as_triples(convs, conv_uri_col(), F.lit(RDF_TYPE), F.lit(IAO_DOCUMENT),
                         conv_id="conv_id")
    turns = transcripts.select("conv_id", "turn_idx", "role", "tool")
    t_part = _as_triples(turns, turn_uri_col(), F.lit(DC_IS_PART_OF), conv_uri_col(),
                         conv_id="conv_id", turn_idx="turn_idx")
    t_role = _as_triples(
        turns.filter(F.col("role").isNotNull()),
        turn_uri_col(), F.lit(PRED_ROLE), F.col("role"),
        conv_id="conv_id", turn_idx="turn_idx",
    )
    t_tool = _as_triples(
        turns.filter(F.col("tool").isNotNull()),
        turn_uri_col(), F.lit(PRED_TOOL), F.col("tool"),
        conv_id="conv_id", turn_idx="turn_idx",
    )
    return t_conv.unionByName(t_part).unionByName(t_role).unionByName(t_tool)


def mention_triples(mentions: DataFrame, concept_col: str = "concept_id") -> DataFrame:
    """Annotation-level triples: (turn, denotes, concept) with span evidence
    (the reference's per-annotation web-annotation RDF —
    ``TextPositionWebAnnotationRdfGenerator`` wiring at
    ``PmcAnnotationRdfPipeline.java:132-136`` — flattened to one triple +
    evidence struct per mention)."""
    ev = F.struct(
        F.col("begin").alias("begin"),
        F.col("end").alias("end"),
        F.col("covered_text").alias("text"),
    )
    return _as_triples(
        mentions, turn_uri_col(), F.lit(PRED_DENOTES), concept_uri_col(concept_col),
        conv_id="conv_id", turn_idx="turn_idx", evidence=ev,
    )


def cooccurrence_pairs(
    mentions: DataFrame,
    window: int = 3,
    concept_col: str = "concept_id",
    min_count: int = 1,
) -> DataFrame:
    """Concept co-occurrence counts within a conversation turn-window:
    rows ``(conv_id, ca, cb, n)`` with ``ca < cb`` (north-star
    co-occurrence predicates; SURVEY.md §2.3 last row).

    **Banded join**, not a conv-wide self-join: both sides key on
    (conv_id, turn-bucket of width window+1) and one side replicates to
    the two adjacent buckets, so every |Δturn| <= window pair meets on
    exactly one equi-key and the join never enumerates a conversation's
    full O(n²) pair space — a hot conv_id costs O(n · per-window density).
    AQE's skew-join splitting further splits residual hot buckets.
    """
    bw = window + 1
    a = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("ta"),
        F.col(concept_col).alias("ca"),
        F.floor(F.col("turn_idx") / bw).alias("bkt"),
    )
    b = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("tb"),
        F.col(concept_col).alias("cb"),
        F.explode(
            F.array(*[
                F.floor(F.col("turn_idx") / bw) + d for d in (-1, 0, 1)
            ])
        ).alias("bkt"),
    )
    return (
        a.join(b, ["conv_id", "bkt"])
        .filter(
            (F.abs(F.col("ta") - F.col("tb")) <= window)
            & (F.col("ca") < F.col("cb"))
        )
        .groupBy("conv_id", "ca", "cb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def cooccurrence_stats(
    mentions: DataFrame,
    window: int = 3,
    concept_col: str = "concept_id",
) -> DataFrame:
    """Corpus-level co-occurrence statistics for edge weighting:
    ``(ca, cb, n_pair, n_a, n_b)`` — pair counts summed over all
    conversations plus each concept's total mention count (the integer
    inputs to PMI/log-likelihood scoring; the caller applies
    ``log(n_pair * N / (n_a * n_b))`` driver- or column-side so the heavy
    lifting stays in exact integer aggregations).

    Two aggregations over the banded pair join plus one broadcast-joined
    marginal count — no floats, no extra corpus scan.
    """
    pairs = (
        cooccurrence_pairs(mentions, window, concept_col)
        .groupBy("ca", "cb")
        .agg(F.sum("n").alias("n_pair"))
    )
    marg = mentions.groupBy(F.col(concept_col).alias("c")).agg(
        F.count(F.lit(1)).alias("n_c")
    )
    return (
        pairs.join(F.broadcast(marg.withColumnRenamed("c", "ca")
                               .withColumnRenamed("n_c", "n_a")), "ca")
        .join(F.broadcast(marg.withColumnRenamed("c", "cb")
                          .withColumnRenamed("n_c", "n_b")), "cb")
        .select("ca", "cb", F.col("n_pair").cast("long").alias("n_pair"),
                F.col("n_a").cast("long").alias("n_a"),
                F.col("n_b").cast("long").alias("n_b"))
    )


def cooccurrence_triples(
    mentions: DataFrame,
    window: int = 3,
    concept_col: str = "concept_id",
    min_count: int = 1,
) -> DataFrame:
    """``cooccurrence_pairs`` rendered as (concept, cooccursWith, concept)
    triples with conv_id provenance."""
    pairs = cooccurrence_pairs(mentions, window, concept_col, min_count)
    return _as_triples(
        pairs, concept_uri_col("ca"), F.lit(PRED_COOCCURS), concept_uri_col("cb"),
        conv_id="conv_id",
    )


def all_triples(transcripts: DataFrame, mentions: DataFrame,
                concept_col: str = "concept_id", cooc_window: int = 3) -> DataFrame:
    return (
        conversation_triples(transcripts)
        .unionByName(mention_triples(mentions, concept_col))
        .unionByName(cooccurrence_triples(mentions, cooc_window, concept_col))
    )


def session_triples(
    transcripts: DataFrame, gap_seconds: int = 900
) -> DataFrame:
    """Session-membership triples: ``(turn, kgp:inSession, session)``
    with session URIs ``<conv>#s<idx>`` from gap-based sessionization
    (kgpipe.convops.sessionize) — the conversation-window structure the
    north-star's windowed predicates hang off.  One conv_id window
    exchange (the sessionize plan) plus narrow URI concat columns.
    """
    from .convops import sessionize

    s = sessionize(transcripts, gap_seconds=gap_seconds)
    return _as_triples(
        s,
        turn_uri_col(),
        F.lit(PRED_IN_SESSION),
        F.concat(F.lit(CONV_NS), F.col("conv_id"), F.lit("#s"),
                 F.col("session_idx").cast("string")),
        conv_id="conv_id",
        turn_idx="turn_idx",
    )


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------

def _nt_escape(col):
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, r"\\", r"\\\\"), '"', '\\\\"'),
        "\n", "\\\\n",
    )


def to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """Render N-TRIPLES lines (the reference's RDF serialization format,
    ``PmcAnnotationRdfPipeline.java:131``): IRIs bracketed, non-IRI objects
    as quoted literals."""
    obj = F.when(
        F.col("obj").startswith("http"),
        F.concat(F.lit("<"), F.col("obj"), F.lit(">")),
    ).otherwise(F.concat(F.lit('"'), _nt_escape(F.col("obj")), F.lit('"')))
    return triples.select(
        F.concat(
            F.lit("<"), F.col("subj"), F.lit("> <"), F.col("pred"), F.lit("> "),
            obj, F.lit(" ."),
        ).alias("value")
    )


def write_triples(
    triples: DataFrame, path: str, n_buckets: int = 64, mode: str = "append",
    layout: str = "partitioned",
) -> None:
    """Bucketed triple-table write: content-keyed bucket of conv_id
    (``lineage.bucket_col`` — deterministic under resume, SURVEY.md §7, and
    the same bucket lineage records a conversation under, NULL conv_id
    included) as the clustering key.
    Parquet stands in for Iceberg in this harness; the layout (bucketed by
    conv hash, snapshot-appendable) is Iceberg-compatible
    (``bucket(conv_id)`` partition transform).

    layout='partitioned': hive-style bucket directories — required for
    dynamic-partition-overwrite resume semantics (kgpipe.lineage), but the
    directory-commit protocol is serial driver work.
    layout='clustered': single directory, rows repartitioned + sorted by
    bucket so parquet row-group min/max stats still prune bucket predicates
    — the faster choice when resume isn't replaying individual buckets
    (an Iceberg catalog gives partitioned semantics at clustered cost via
    metadata commits)."""
    from .lineage import bucket_col

    clustered = (
        triples.withColumn("bucket", bucket_col(n_buckets))
        # cluster rows by their target partition first: without this every
        # task fans out one file per bucket (tasks × buckets tiny files +
        # commit overhead); with it each task writes ~1 bucket
        .repartition(n_buckets, "bucket")
    )
    if layout == "clustered":
        clustered.sortWithinPartitions("bucket").write.mode(mode).parquet(path)
    else:
        clustered.write.mode(mode).partitionBy("bucket").parquet(path)


def _local_path(path: str) -> Optional[str]:
    """*path* on the driver's own filesystem — a plain path (relative ones
    against the working directory) or a ``file:`` URI — or None for any
    other scheme."""
    import os

    if "://" in path or path.startswith("file:"):
        if not path.startswith("file:"):
            return None
        path = _require_local(path)
    return os.path.abspath(path)


def _hadoop(spark, path: str):
    """(Hadoop FileSystem, Path) that Spark reads and writes *path* with."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _listdir(spark, d: str) -> list[tuple[str, str, bool]]:
    """(name, path, is_dir) of each entry of directory *d*; [] when *d*
    does not exist.  A local directory is listed by the OS; any other
    scheme (hdfs://, s3a://, ...) through the Hadoop FileSystem Spark
    writes it with, so every path Spark writes can be listed."""
    import os

    local = _local_path(d)
    if local is not None:
        if not os.path.isdir(local):
            return []
        return [(e.name, e.path, e.is_dir()) for e in os.scandir(local)]
    fs, p = _hadoop(spark, d)
    if not fs.exists(p):
        return []
    return [(s.getPath().getName(), s.getPath().toString(), s.isDirectory())
            for s in fs.listStatus(p)]


def _num_rows(spark, f: str) -> int:
    """Row count in the footer of the parquet file *f* (a ``_listdir``
    path): ``pyarrow`` reads a local footer, parquet-hadoop any other."""
    local = _local_path(f)
    if local is not None:
        import pyarrow.parquet as pq

        return pq.read_metadata(local).num_rows
    jvm = spark._jvm
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(f),
            spark._jsc.hadoopConfiguration()))
    try:
        return reader.getRecordCount()
    finally:
        reader.close()


def _is_data_file(name: str) -> bool:
    """A parquet file Spark's file index reads: names starting with ``_``
    or ``.`` (committer temp files, checksums) are skipped."""
    return name.endswith(".parquet") and name[:1] not in "._"


def publish_file(spark, directory: str, name: str, data: bytes) -> None:
    """Write *data* as the file *name* in *directory* (created if missing):
    first under the hidden name ``.name.tmp``, which Spark's file index
    skips, then renamed, so no reader ever sees a partial file.  Local
    paths go through the OS, any other scheme through Spark's Hadoop
    FileSystem."""
    import os

    local = _local_path(directory)
    if local is not None:
        os.makedirs(local, exist_ok=True)
        tmp = os.path.join(local, f".{name}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, os.path.join(local, name))
        return
    fs, d = _hadoop(spark, directory)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    tmp, final = Path(d, f".{name}.tmp"), Path(d, name)
    out = fs.create(tmp, True)  # creates missing parents
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(tmp, final):
        raise OSError(f"could not rename {tmp} to {final}")


def bucket_files(spark, path: str) -> dict[int, list[str]]:
    """The parquet files of each ``bucket=N/`` directory of the partitioned
    table at *path*, as Spark's file index sees them (``_is_data_file``);
    {} when *path* does not exist.  Raises ValueError when *path* holds
    data files outside those directories (the clustered layout), which
    per-bucket footer counts cannot attribute."""
    import re

    out: dict[int, list[str]] = {}
    for name, sub, is_dir in _listdir(spark, path):
        m = re.fullmatch(r"bucket=(\d+)", name)
        if m and is_dir:
            out[int(m[1])] = [f for n, f, d in _listdir(spark, sub)
                              if not d and _is_data_file(n)]
        elif not is_dir and _is_data_file(name):
            raise ValueError(
                f"{path} holds data file {name} outside its bucket=N/ "
                f"directories; per-bucket counts need the partitioned layout")
    return out


def bucket_row_counts(spark, path: str,
                      skip: frozenset = frozenset()) -> dict[int, int]:
    """{bucket: rows} of the partitioned table at *path*, summed from the
    ``num_rows`` of its files' parquet footers (files in *skip*, as
    ``bucket_files`` names them, left out).  Exact, and no Spark job: an
    Iceberg manifest takes its row counts from writer-side file stats the
    same way, without a scan (https://iceberg.apache.org/spec/#manifests)."""
    return {
        b: sum(_num_rows(spark, f) for f in files if f not in skip)
        for b, files in bucket_files(spark, path).items()
    }


# ---------------------------------------------------------------------------
# snapshot-committed sink (Iceberg-style atomic table commits)
# ---------------------------------------------------------------------------

_LATEST = "_latest"


def _require_local(path: str) -> str:
    """The snapshot commit protocol drives the pointer flip with local-FS
    ``os.rename``/``os.replace`` while the data write goes through Spark —
    on a non-local filesystem (hdfs://, s3a://) the two would silently
    diverge (staging dir on the driver's disk, data in the object store).
    Reject any non-file URI scheme loudly; accept and normalize ``file:``
    URIs.  On a real cluster the same protocol goes through the Iceberg
    catalog's transactional metadata swap instead of this stand-in."""
    if "://" in path or path.startswith("file:"):
        scheme = path.split(":", 1)[0]
        if scheme != "file":
            raise ValueError(
                f"snapshot-committed sinks support local filesystem paths "
                f"only (got scheme {scheme!r}: {path}); on a cluster use an "
                f"Iceberg/Hive catalog table, whose metadata commit replaces "
                f"this local rename protocol"
            )
        path = path[len("file://"):] if path.startswith("file://") \
            else path[len("file:"):]
    return path


def snapshot_staging_path(path: str, run_key: str) -> str:
    """Staging directory for a lineage-coupled snapshot run: per-bucket
    resumable writes land here (dynamic partition overwrite), and the
    directory flips to ``snap-N`` only when every input bucket is COMPLETE
    (kgpipe.lineage.run_with_lineage(snapshot=True)).  Named by run key so
    a crashed run's resume finds its own staged buckets."""
    import os
    import re

    safe = re.sub(r"[^A-Za-z0-9_.-]", "_", run_key)
    return os.path.join(_require_local(path), f".staging-{safe}")


def committed_snapshot(path: str) -> Optional[str]:
    """Name of the last COMMITTED snapshot directory under ``path`` (the
    ``_latest`` pointer's content), or None if no commit has happened."""
    import os

    ptr = os.path.join(_require_local(path), _LATEST)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip()


def write_triples_snapshot(
    triples: DataFrame, path: str, n_buckets: int = 64,
) -> dict:
    """Crash-consistent triple-table write with an Iceberg-style snapshot
    commit (the sink-level analogue of the reference's catalog commit,
    ``RunCatalogAE.java:64-113``: data first, then one atomic pointer
    flip).  Protocol:

    1. data lands in ``path/snap-N.inprogress`` (N = 1 + last committed);
    2. a ``_manifest.json`` (total + per-bucket row counts, file list) is
       written INSIDE the staging dir.  The data is in ``bucket=N/``
       directories (the layout the lineage-coupled sink stages), so the
       counts come from the parquet footers (``finalize_snapshot``) and the
       commit starts no Spark job.  At ``n_buckets=64`` on a 4-core host
       this write and commit took 0.82-1.05x the time of the clustered
       write plus its re-read count (perfbench corpora, 8 seeds);
    3. the staging dir is renamed to ``path/snap-N`` and the ``_latest``
       pointer file is replaced atomically (write-temp + ``os.replace``).

    A crash at ANY point leaves ``_latest`` on the previous complete
    snapshot: readers (``read_triples_snapshot``) never see partial data,
    and a rerun simply overwrites the orphaned ``.inprogress`` dir — no
    duplicate buckets, bit-identical final table.  On a real cluster the
    same shape goes through the Iceberg catalog (its metadata-file swap IS
    this pointer flip, done transactionally by the catalog); the
    rename-based commit here is the local-FS stand-in.  Returns the
    manifest dict (snapshot name, n_triples, per-bucket counts).
    """
    import os
    import shutil

    path = _require_local(path)
    os.makedirs(path, exist_ok=True)
    prev = committed_snapshot(path)
    n = int(prev.rsplit("-", 1)[1]) + 1 if prev else 1
    staging = os.path.join(path, f"snap-{n}.inprogress")
    if os.path.exists(staging):  # orphan from a previous crashed attempt
        shutil.rmtree(staging)

    write_triples(triples, staging, n_buckets=n_buckets, mode="overwrite")
    return finalize_snapshot(triples.sparkSession, path, staging)


def finalize_snapshot(spark, path: str, staging: str) -> dict:
    """Atomic commit of a fully-staged snapshot directory of ``bucket=N/``
    files: write the ``_manifest.json`` (total + per-bucket row counts,
    file list) INSIDE the staging dir, rename it to ``path/snap-N``
    (N = 1 + last committed, decided at commit time), and flip the
    ``_latest`` pointer (write-temp + ``os.replace``).  A crash at ANY
    point leaves ``_latest`` on the previous complete snapshot.  One
    listing (``bucket_files``) gives the manifest's file list and the
    files whose parquet footers the per-bucket counts are summed from, so
    the commit reads no rows and starts no Spark job; a staging directory
    with data files outside ``bucket=N/`` raises ValueError.  Shared by
    the one-shot ``write_triples_snapshot`` sink and the lineage-coupled
    resumable sink (kgpipe.lineage.run_with_lineage(snapshot=True))."""
    import json
    import os
    import shutil

    path = _require_local(path)
    prev = committed_snapshot(path)
    n = int(prev.rsplit("-", 1)[1]) + 1 if prev else 1
    snap = f"snap-{n}"
    final = os.path.join(path, snap)
    if os.path.exists(final):  # orphan: committed name never reused
        shutil.rmtree(final)

    files = bucket_files(spark, staging)
    per_bucket = {str(b): rows for b, fs in files.items()
                  if (rows := sum(_num_rows(spark, f) for f in fs))}
    manifest = {
        "snapshot": snap,
        "n_triples": sum(per_bucket.values()),
        "n_buckets": len(per_bucket),
        "bucket_counts": per_bucket,
        "files": sorted(os.path.relpath(f, os.path.abspath(staging))
                        for fs in files.values() for f in fs),
        "parent": prev,
    }
    with open(os.path.join(staging, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)

    os.rename(staging, final)  # data + manifest become visible together
    tmp_ptr = os.path.join(path, _LATEST + ".tmp")
    with open(tmp_ptr, "w") as fh:
        fh.write(snap)
    os.replace(tmp_ptr, os.path.join(path, _LATEST))  # THE commit point
    return manifest


def read_triples_snapshot(spark, path: str) -> DataFrame:
    """Read the last COMMITTED snapshot of a ``write_triples_snapshot``
    table — in-progress/orphaned data is invisible by construction."""
    import os

    path = _require_local(path)
    snap = committed_snapshot(path)
    if snap is None:
        raise FileNotFoundError(f"no committed snapshot under {path}")
    return spark.read.parquet(os.path.join(path, snap))


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Triple-level diff between two KG builds:
    ``(subj, pred, obj, status)`` with status ``'added'`` (in new only)
    or ``'removed'`` (in old only); triples present in both are omitted.
    Diff semantics are SET semantics on (subj, pred, obj) — duplicate
    provenance rows collapse.

    One shuffle: both sides are tagged ±1 and aggregated on the triple
    key (map-side partial aggregation collapses duplicates before the
    exchange) — no join, no EXCEPT double-scan, so diffing two
    10^12-triple snapshots costs one hash pass over each.
    """
    o = old.select("subj", "pred", "obj").distinct() \
        .withColumn("_side", F.lit(-1))
    n = new.select("subj", "pred", "obj").distinct() \
        .withColumn("_side", F.lit(1))
    return (
        o.unionByName(n)
        .groupBy("subj", "pred", "obj")
        .agg(F.sum("_side").alias("_d"))
        .filter(F.col("_d") != 0)
        .select(
            "subj", "pred", "obj",
            F.when(F.col("_d") > 0, F.lit("added"))
            .otherwise(F.lit("removed")).alias("status"),
        )
    )


def merge_triples_snapshot(
    spark, path: str, new_triples: DataFrame, n_buckets: int = 64,
) -> dict:
    """Incremental UPSERT into a snapshot-committed triple table: union
    the committed snapshot with ``new_triples``, dedupe on the full row,
    and commit the result as the next snapshot (previous snapshots stay
    readable — time travel by reading ``snap-N`` directly; ``parent`` in
    each manifest links the chain).  If no snapshot exists yet this is
    the initial commit.

    The dedup is one exchange on the full row key.  At warehouse scale
    the same semantics come from an Iceberg MERGE INTO with a
    metadata-commit retry loop; this local protocol keeps the atomic
    reader-visibility property (readers see the old snapshot until the
    pointer flips).  Returns the new manifest.
    """
    try:
        cur = read_triples_snapshot(spark, path).drop("bucket")
        merged = cur.unionByName(new_triples).distinct()
    except FileNotFoundError:
        merged = new_triples.distinct()
    return write_triples_snapshot(merged, path, n_buckets=n_buckets)


def verb_relations(
    transcripts: DataFrame,
    mentions: DataFrame,
    verbs,
    concept_col: str = "concept_id",
) -> DataFrame:
    """Verb-mediated relation extraction: typed predicate triples
    ``(subj_concept, verb, obj_concept, conv_id, turn_idx)`` for every
    ordered pair of same-turn mentions with one of the trigger ``verbs``
    strictly between their spans ("spark JOINS window" →
    (spark, joins, window)) — the pattern-based step from co-occurrence
    edges to TYPED relations that KG construction pipelines layer on top
    of entity detection.

    Offsets reuse the detector's space-tokenization: token begin = sum of
    (len+1) over the turn's earlier tokens (one window exchange keyed on
    the turn).  The mention-pair and verb joins are turn-local equi-joins
    with range filters — candidate counts are bounded per turn, never
    corpus-quadratic, and everything hash-partitions on (conv_id,
    turn_idx).  Deterministic; duplicates collapse via DISTINCT.
    """
    vlist = [v.lower() for v in verbs]
    toks = transcripts.select(
        "conv_id", "turn_idx",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    w = (
        Window.partitionBy("conv_id", "turn_idx")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vtoks = (
        toks.withColumn(
            "vbegin",
            F.coalesce(F.sum(F.length("tok") + 1).over(w),
                       F.lit(0)).cast("int"),
        )
        .filter(F.lower(F.col("tok")).isin(vlist))
        .select("conv_id", "turn_idx", F.lower("tok").alias("verb"),
                "vbegin")
    )
    a = mentions.select(
        "conv_id", "turn_idx",
        F.col(concept_col).alias("subj_concept"),
        F.col("end").alias("a_end"),
    )
    b = mentions.select(
        "conv_id", "turn_idx",
        F.col(concept_col).alias("obj_concept"),
        F.col("begin").alias("b_begin"),
    )
    pairs = a.join(b, ["conv_id", "turn_idx"]).filter(
        F.col("a_end") < F.col("b_begin")
    )
    rel = pairs.join(vtoks, ["conv_id", "turn_idx"]).filter(
        (F.col("vbegin") > F.col("a_end"))
        & (F.col("vbegin") < F.col("b_begin"))
    )
    return rel.select(
        "subj_concept", "verb", "obj_concept", "conv_id", "turn_idx"
    ).distinct()


def snapshot_diff_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-predicate rollup of ``snapshot_diff`` — the release-note /
    drift-alarm view of a KG rebuild: ``(pred, status, n_triples,
    n_subjects)`` for each (predicate, added|removed) bucket.  A
    predicate suddenly dominating 'removed' is the cheapest possible
    regression alarm before the snapshot pointer flips.

    One extra key-width aggregation over the diff (which is itself one
    hash pass per side); output is vocabulary-sized.
    """
    return (
        snapshot_diff(old, new)
        .groupBy("pred", "status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.countDistinct("subj").cast("long").alias("n_subjects"),
        )
    )


DEFAULT_PRONOUNS = ("it", "this", "that", "they", "these", "those")
PRED_REFERS_TO = KGP + "refersTo"


def anaphora_links(
    mentions: DataFrame,
    transcripts: DataFrame,
    lookback: int = 3,
    pronouns: tuple = DEFAULT_PRONOUNS,
) -> DataFrame:
    """Anaphora-lite pronoun resolution for transcript KGs: every turn
    whose text contains a standalone pronoun token links to the MOST
    RECENT detected mention in the preceding ``lookback`` turns of the
    same conversation — ``(conv_id, turn_idx, antecedent_turn,
    concept_id)``.  The classic recency heuristic (the deterministic
    core of rule-based resolvers like Hobbs 1978 / CogNIAC) — no parse,
    no learned model, so both engines agree exactly.  Tie-break within
    the antecedent turn: latest ``begin`` (nearest mention), then
    lowest ``concept_id``.  Feed through ``_as_triples`` with
    ``PRED_REFERS_TO`` to materialize turn->concept edges.

    Same banded-join shape as ``cooccurrence_pairs``: the mention side
    replicates to 2 adjacent (conv_id, turn-bucket) keys, so a hot
    conversation costs O(pronoun_turns * lookback-window density), not
    O(turns^2); one window (keyed on the pronoun turn) picks the top-1.
    """
    import re

    bw = int(lookback) + 1
    # pronouns are literal tokens: escape them so '.' or '|' in a user
    # pronoun cannot widen the match (re.escape output is valid Java regex)
    pat = "(^| )(" + "|".join(map(re.escape, pronouns)) + ")( |$)"
    p = transcripts.filter(F.lower(F.col("text")).rlike(pat)).select(
        "conv_id",
        F.col("turn_idx").alias("t"),
        F.floor(F.col("turn_idx") / bw).alias("bkt"),
    )
    m = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("mt"),
        "concept_id",
        "begin",
        F.explode(
            F.array(F.floor(F.col("turn_idx") / bw),
                    F.floor(F.col("turn_idx") / bw) + 1)
        ).alias("bkt"),
    )
    w = Window.partitionBy("conv_id", "t").orderBy(
        F.desc("mt"), F.desc("begin"), F.asc("concept_id"))
    return (
        p.join(m, ["conv_id", "bkt"])
        .filter((F.col("t") - F.col("mt") >= 1)
                & (F.col("t") - F.col("mt") <= int(lookback)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "conv_id",
            F.col("t").alias("turn_idx"),
            F.col("mt").alias("antecedent_turn"),
            "concept_id",
        )
    )


def entity_profile(
    triples: DataFrame, columns: dict, subj_col: str = "subj"
) -> DataFrame:
    """RDF property-table materialization: pivot selected predicates
    into one wide row per subject — ``columns`` maps output column name
    -> predicate URI, and each cell is the MINIMUM object for that
    (subject, predicate) so multi-valued predicates resolve
    deterministically (missing ones are NULL).  The classic layout
    downstream feature joins want (Wilkinson 2006, Jena property
    tables) instead of one more self-join per attribute.

    ONE subject-keyed partial aggregation with conditional-min
    expressions — no per-predicate join, no Spark pivot (whose value
    discovery adds a driver round-trip); the predicate filter pushes
    to the scan.
    """
    if not columns:
        raise ValueError("columns must map >= 1 output column to a pred")
    preds = list(columns.values())
    aggs = [
        F.min(F.when(F.col("pred") == p, F.col("obj"))).alias(name)
        for name, p in columns.items()
    ]
    return (
        triples.filter(F.col("pred").isin(preds))
        .groupBy(F.col(subj_col).alias("entity"))
        .agg(*aggs)
    )


def cooccurrence_pairs_delta(
    mentions: DataFrame,
    new_after: int,
    window: int = 3,
    concept_col: str = "concept_id",
) -> DataFrame:
    """Incremental-maintenance complement of ``cooccurrence_pairs``:
    the co-occurrence events INVOLVING at least one new turn
    (``max(ta, tb) > new_after``), counted per (conv_id, ca, cb) with
    ``ca < cb``.  The exactness invariant this enables — and the
    oracle row pins — is ``old_build ⊎ delta = full_rebuild`` (sum the
    ``n`` counts per pair): a pair event with both turns old is
    already in the old build, one with any new turn is here, and the
    two sets partition the full event space.  Mention detection itself
    is stateless per turn, so this window-spanning operator is the
    ONLY piece of the triple family needing a delta variant; together
    with ``merge_triples_snapshot`` it gives exact incremental KG
    builds without reprocessing the old corpus.

    Same banded (conv, turn-bucket) equi-join as
    ``cooccurrence_pairs`` — the new-side predicate is one extra
    filter riding the same join, so hot conversations keep the
    O(n · window-density) bound.
    """
    bw = window + 1
    a = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("ta"),
        F.col(concept_col).alias("ca"),
        F.floor(F.col("turn_idx") / bw).alias("bkt"),
    )
    b = mentions.select(
        "conv_id",
        F.col("turn_idx").alias("tb"),
        F.col(concept_col).alias("cb"),
        F.explode(
            F.array(*[
                F.floor(F.col("turn_idx") / bw) + d for d in (-1, 0, 1)
            ])
        ).alias("bkt"),
    )
    return (
        a.join(b, ["conv_id", "bkt"])
        .filter(
            (F.abs(F.col("ta") - F.col("tb")) <= window)
            & (F.col("ca") < F.col("cb"))
            & (F.greatest("ta", "tb") > int(new_after))
        )
        .groupBy("conv_id", "ca", "cb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
