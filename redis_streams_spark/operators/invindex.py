"""Persisted inverted index for keyword (BM25) retrieval — the lexical
twin of the persisted IVF cell store (operators/similarity.py::
build_ivf_index): build once, query many, with scan cost following the
QUERY's term list instead of the corpus.

Layout under ``path`` (one index GENERATION; see the manifest section
for the managed multi-generation layout):

- ``postings/`` — (tok, doc_id, tf, dl, positions) partitioned by
  ``(segment, bucket)`` with ``bucket = h32(tok) % N_TERM_BUCKETS``.
  The per-document length is DENORMALIZED into each posting row at
  build time, so query-time scoring never joins the corpus-sized
  doc-length table — the only corpus-sized work left at query time is
  reading the probed buckets.  ``positions`` is the sorted 1-based
  token-position list (tf = its size), making the index POSITIONAL:
  phrase adjacency is an in-row array intersect at query time.
- ``terms/`` — per-term PARTIALS, same (segment, bucket) partitioning:
  document frequency ``df`` plus ``max_tf``, the segment's largest
  term frequency — the build-time ingredient of the MaxScore upper
  bound (see ``bm25_topk_maxscore``).
- ``stats/`` — corpus-stat partials: (n docs, sum of doc lengths),
  one row per segment.
- ``tombstones/`` — document DELETION partials (r10 verdict ask #1),
  partitioned by ``tseg`` (the delete batch's own segment name); rows
  are ``(doc_id, segment)`` — the EXACT postings segment a dead
  document lived in.  Deletion never rewrites postings: the query
  path drops dead rows with a broadcast anti-join on
  (doc_id, segment), and the delete batch writes NEGATIVE df/stats
  partials under its own segment so the existing read-time partial
  sums net out the dead documents with zero query-path changes.

Segments follow the Lucene discipline: ``update_inverted_index`` adds
a batch of documents as its own segment partition — no other segment
is read or rewritten, so updates are safe while readers run and never
touch corpus-sized data.  With a caller-supplied deterministic segment
name the write is a DYNAMIC partition overwrite, so a re-delivered
micro-batch (foreachBatch is at-least-once) replaces its own segment
instead of double-counting it.  The query path merges partials at
read time (df = sum per term over the probed buckets, avgdl = Σsum_dl /
Σn — both bounded frames), which keeps queries value-identical to a
from-scratch rebuild over the union corpus (tested).

Document lifecycle (r11): a live doc_id belongs to exactly one
segment.  ``delete_from_inverted_index`` tombstones documents;
``update_inverted_index(..., replace=True)`` re-ingests changed
documents (tombstone the old copy, add the new one as this batch's
segment) — the dedup-refresh pipeline's upsert.  Both are replay-safe
under the same deterministic-segment dynamic-overwrite discipline,
assuming the sequential single-writer that foreachBatch provides
(maintenance ops from one writer; queries are the concurrent
readers — Lucene's IndexWriter contract).  ``compact_inverted_index``
physically drops tombstoned rows and dead vocabulary.

Manifest (r10 verdict ask #5, extended to a COMMIT POINT in r11): an
index ROOT may be MANAGED — built with
``build_inverted_index(..., managed=True)``, it holds generation
subdirectories (``g00000001``, …) plus a ``MANIFEST`` file — JSON
``{"generation": …, "dead": […], "pending": […]}`` — always written
LAST via an atomic rename.  Every reader resolves the generation
through it AND excludes the ``dead``/``pending`` segments with a
partition-pruned NOT-IN, which buys three O(metadata) maintenance
ops on top of pointer-flip compaction:

- ``drop_segment`` — retention: an ingest batch disappears (postings,
  df partials, corpus stats all at once) for the price of one
  manifest flip — the index-side analog of the stream log's maxlen;
- ``merge_segments`` — tiered merge: small segments collapse into one
  (cost follows the merged batches, not the corpus), staged on
  ``pending`` so readers see either the inputs or the merged output,
  never both;
- ``gc_index`` — reclaims swapped-out generations and dead segment
  partitions after the reader-drain window.

On local/HDFS filesystems the manifest rename is atomic; object
stores need their conditional-put equivalent at the same seam.

Query path: the query terms' buckets are computed driver-side with
``h32_py`` (the Python twin of the same md5 hash the build used), and
the bucket IN-filter lands in the scan's PartitionFilters — dynamic
file pruning skips every unprobed bucket's files, so a 3-term query
against a 64-bucket index reads ≤3/64ths of the postings regardless of
corpus size (plan-asserted in tests/test_invindex.py).

Reference basis: none (SURVEY §2.2 extension surface — the reference
has no query layer)."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from redis_streams_spark.functions.hashing import h32, h32_py
from redis_streams_spark.functions.rounding import rnd

__all__ = [
    "N_TERM_BUCKETS",
    "build_inverted_index",
    "update_inverted_index",
    "delete_from_inverted_index",
    "drop_segment",
    "merge_segments",
    "gc_index",
    "index_status",
    "index_maintenance_advice",
    "compact_inverted_index",
    "bm25_topk_indexed",
    "bm25_topk_maxscore",
    "bm25_topk_auto",
    "phrase_match_indexed",
    "resolve_index_path",
]

N_TERM_BUCKETS = 64

_K1 = 1.2
_B = 0.75

# Manifest/generation machinery shared with the dedup-signature index
# (operators/dupindex.py) — factored into operators/segstore.py in r11;
# the private aliases keep this module's internal call sites and the
# existing tests stable.
from redis_streams_spark.operators.segstore import (  # noqa: E402
    MANIFEST as _MANIFEST,
    _local_path,
    drop_dead as _drop_dead,
    next_generation as _next_generation,
    open_index as _open_index,
    read_layout as _read_layout,
    read_manifest as _read_manifest,
    resolve_index_path,
    write_layout as _write_layout,
    write_manifest as _write_manifest,
)


# ------------------------------------------------------------------ build

# Scale-derived bucket count (r14, guide §6): one parquet file lands per
# (segment, bucket) partition per write, so the bucket count IS the
# write's file count.  The historical constant 64 produced hundreds of
# KB-sized files at sf-scale (112 files for 184 KB measured at sf0.001)
# while being far too FEW pruning partitions for a 100 TB corpus.  The
# first segment write of a generation derives the count from the input
# size estimate (parquet plan statistics — metadata, no job) and pins it
# in the generation's LAYOUT file; later ingests and compactions reuse
# it, readers resolve probe buckets against it.  Pre-layout trees fall
# back to N_TERM_BUCKETS.
_TARGET_BUCKET_INPUT_BYTES = 64 << 20  # ~64 MB of input text per bucket
_MIN_BUCKETS = 8
_MAX_BUCKETS = 4096


def _derive_n_buckets(docs: DataFrame) -> int:
    """Bucket count for ``docs`` from its plan's size estimate.  Inputs
    Spark cannot size (RDD-backed frames, streaming micro-batches)
    report ``spark.sql.defaultSizeInBytes`` (Long.MaxValue by default);
    such an estimate is unknown, not huge, so they get N_TERM_BUCKETS."""
    try:
        size = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        unknown = int(
            docs.sparkSession._jsparkSession.sessionState()
            .conf()
            .defaultSizeInBytes()
        )
    except Exception:
        return N_TERM_BUCKETS
    if size >= unknown:
        return N_TERM_BUCKETS
    n = _MIN_BUCKETS
    while n < _MAX_BUCKETS and n * _TARGET_BUCKET_INPUT_BYTES < size:
        n *= 2
    return n


def _layout_buckets(gpath: str) -> int:
    layout = _read_layout(gpath)
    if layout is None:
        return N_TERM_BUCKETS
    return int(layout.get("n_term_buckets", N_TERM_BUCKETS))


def _segment_buckets(
    gpath: str, docs: DataFrame, n_buckets: int | None, rebuild: bool
) -> tuple[int, bool]:
    """Bucket count for a segment write and whether the write must pin
    it in LAYOUT.  A ``rebuild`` (the static-overwrite build, which
    clears the tree) takes the explicit override or the size-derived
    count and re-pins it, whatever layout the tree had.  A write that
    keeps existing segments uses the generation's pinned layout if one
    exists (appends MUST match the live partitioning); N_TERM_BUCKETS
    for a pre-layout generation that already holds postings (its
    segments were written at that count); else the override or the
    size-derived count.  The caller pins after its postings write
    succeeds, so a failed first write leaves no layout behind; an
    unmanaged build that dies between the two is as incomplete as one
    that dies before its terms and stats, and must be re-run."""
    if not rebuild:
        layout = _read_layout(gpath)
        if layout is not None and "n_term_buckets" in layout:
            return int(layout["n_term_buckets"]), False
        postings = os.path.join(_local_path(gpath), "postings")
        if os.path.isdir(postings) and any(
            d.startswith("segment=") for d in os.listdir(postings)
        ):
            return N_TERM_BUCKETS, True
    n = n_buckets if n_buckets is not None else _derive_n_buckets(docs)
    return n, True


def _write_segment(
    docs: DataFrame,
    path: str,
    mode: str,
    segment: str,
    dynamic: bool = False,
    n_buckets: int | None = None,
) -> None:
    from redis_streams_spark.functions.textfns import words

    spark = docs.sparkSession
    n_buckets, pin = _segment_buckets(
        path, docs, n_buckets, rebuild=mode == "overwrite" and not dynamic
    )
    base = docs.select("doc_id", words("text").alias("w"))
    dl = base.where(F.size("w") > 0).select(
        "doc_id", F.size("w").cast("long").alias("dl")
    )
    toks = base.select(
        "doc_id", F.posexplode("w").alias("pos0", "tok")
    ).select("doc_id", "tok", (F.col("pos0") + 1).cast("long").alias("pos"))
    postings = (
        toks.groupBy("tok", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .join(dl, "doc_id")
        .withColumn("bucket", h32("tok") % n_buckets)
        .withColumn("segment", F.lit(segment))
    )
    # dynamic partition overwrite: an "overwrite" write replaces ONLY
    # the partitions it produces (this segment's), never other segments
    # — the idempotent-replay mechanism for streaming ingestion.  The
    # initial build keeps STATIC mode so it clears the whole tree
    # (dynamic would leave stale segments from a previous index alive).
    owm = ("partitionOverwriteMode", "dynamic" if dynamic else "static")
    # one shuffle keyed on the partition column so each bucket writes
    # from one task set instead of |tasks| x |buckets| small files
    postings.repartition("bucket").write.mode(mode).option(*owm).partitionBy(
        "segment", "bucket"
    ).parquet(f"{path}/postings")
    if pin:
        _write_layout(path, {"n_term_buckets": n_buckets})
    # The terms and stats passes derive from the postings JUST WRITTEN
    # instead of a persist of the postings lineage (r14, guide §5/§8:
    # the written output doubles as the materialized intermediate).
    # The old ``postings.persist()`` spilled the corpus-sized exploded
    # frame — positions column included — through the block manager and
    # registered the subtree in the session CacheManager; the read-back
    # is a compressed, COLUMN-PRUNED parquet scan (neither pass touches
    # ``positions``, the bulk of a positional index) of exactly this
    # segment's partitions.  Measured at sf0.001: build 7.6 -> ~5 s and
    # -2 scheduled jobs (OPTIMIZATION_r14.md).  Explicit schema: an
    # EMPTY batch writes no data files and inference would fail.
    written = (
        spark.read.schema(_PART_SCHEMAS["postings"])
        .parquet(f"{path}/postings")
        .where(F.col("segment") == segment)
    )
    # df partial + the segment's max term frequency: max_tf feeds the
    # MaxScore upper bound (an UPPER bound stays sound if loose, so
    # compaction takes max() and delete partials contribute 0)
    def _write_terms() -> None:
        (
            written.groupBy("tok", "segment", "bucket")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.max("tf").alias("max_tf"),
            )
            .repartition("bucket")
            .write.mode(mode)
            .option(*owm)
            .partitionBy("segment", "bucket")
            .parquet(f"{path}/terms")
        )

    def _write_stats() -> None:
        (
            written.groupBy("doc_id")
            .agg(F.min("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("dl").cast("long").alias("sum_dl"),
            )
            .withColumn("segment", F.lit(segment))
            .write.mode(mode)
            .option(*owm)
            .partitionBy("segment")
            .parquet(f"{path}/stats")
        )

    # the two derived writes read the same written postings and target
    # DISJOINT subtrees — run them as concurrent jobs so the second
    # write's tasks back-fill the first's tail (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for fut in [pool.submit(_write_terms), pool.submit(_write_stats)]:
            fut.result()


def build_inverted_index(
    docs: DataFrame,
    path: str,
    managed: bool = False,
    n_buckets: int | None = None,
) -> str:
    """Write the bucket-partitioned postings/terms/stats layout for the
    ``documents``-shaped frame (doc_id, text) as segment ``base``.

    With ``managed=True`` the index is built under a generation
    subdirectory and a ``MANIFEST`` pointer is written last, enabling
    atomic pointer-flip compaction (``compact_inverted_index`` with no
    dst).  ``n_buckets`` overrides the size-derived term bucket count
    (see ``_segment_buckets``); either way the count is pinned in the
    generation's LAYOUT file so appends and readers agree.  Returns
    the generation path actually written."""
    if managed:
        gen = "g00000001"
        os.makedirs(path, exist_ok=True)
        _write_segment(
            docs,
            os.path.join(path, gen),
            "overwrite",
            "base",
            n_buckets=n_buckets,
        )
        _write_manifest(path, gen)
        return os.path.join(path, gen)
    _write_segment(docs, path, "overwrite", "base", n_buckets=n_buckets)
    return path


def update_inverted_index(
    docs_new: DataFrame,
    path: str,
    segment: str | None = None,
    replace: bool = False,
) -> None:
    """Add a new document batch as a segment: postings rows, term-df
    partials, one corpus-stats partial — no existing segment is read or
    rewritten.  Queries merge partials at read time, so the updated
    index answers exactly like a full rebuild over the union corpus.

    ``segment`` names the batch's partition.  Pass a DETERMINISTIC name
    (e.g. the foreachBatch ``batchId``) for replay-safe streaming
    ingestion: the write uses dynamic partition overwrite, so a
    re-delivered micro-batch REPLACES its own segment instead of
    double-counting it (Spark's foreachBatch is at-least-once — r10
    review finding).  With ``segment=None`` a plain append is performed
    under an opaque unique name, which is only safe for exactly-once
    callers.

    ``replace=True`` is the UPSERT: any live copy of this batch's
    doc_ids is tombstoned first (under segment ``<segment>.del``), then
    the batch lands as its own segment — the dedup-refresh pipeline's
    re-ingest of changed documents, which the plain caller contract
    (one segment per doc_id) forbids.  Replay-safe for deterministic
    segments: the delete pass ignores this batch's own prior
    tombstones and its own postings segment, so a re-run recomputes
    the same corrections and dynamic-overwrite replaces them."""
    from redis_streams_spark.operators.segstore import (
        check_segment_name,
        clear_segment_partitions,
    )

    spark = docs_new.sparkSession
    gpath, dead = _open_index(path)
    seg = segment if segment is not None else uuid.uuid4().hex[:12]
    check_segment_name(seg, "update_inverted_index")
    if seg in dead or f"{seg}.del" in dead:
        raise ValueError(
            f"update_inverted_index: segment {seg!r} is dead in the "
            "MANIFEST (dropped or merged away) — its partitions are "
            "invisible to readers; pick a fresh segment name"
        )
    if replace:
        _apply_delete(
            spark,
            gpath,
            docs_new.select("doc_id").distinct(),
            tseg=f"{seg}.del",
            exclude_segment=seg,
            dead=dead,
        )
    if segment is not None:
        # a named segment may be a replay OR a re-ingest of CHANGED
        # content; clear its old partitions first so stale (segment,
        # bucket) pairs the new batch does not rewrite cannot linger
        # (r11 advice — see segstore.clear_segment_partitions)
        clear_segment_partitions(gpath, ("postings", "terms", "stats"), seg)
        _write_segment(docs_new, gpath, "overwrite", seg, dynamic=True)
    else:
        _write_segment(docs_new, gpath, "append", seg)


# ----------------------------------------------------------------- delete


from redis_streams_spark.operators.segstore import (  # noqa: E402
    read_optional as _read_optional,
)


# canonical component schemas — the empty-index fallback (a fully
# deleted / fully dropped corpus must answer EMPTY, not crash on an
# unreadable parquet dir)
_PART_SCHEMAS = {
    "postings": (
        "tok STRING, doc_id BIGINT, tf BIGINT, dl BIGINT, "
        "positions ARRAY<BIGINT>, bucket INT, segment STRING"
    ),
    "terms": "tok STRING, df BIGINT, max_tf BIGINT, bucket INT, segment STRING",
    "stats": "n BIGINT, sum_dl BIGINT, segment STRING",
}


def _read_part(spark: SparkSession, gpath: str, sub: str) -> DataFrame:
    df = _read_optional(spark, f"{gpath}/{sub}")
    if df is None:
        return spark.createDataFrame([], _PART_SCHEMAS[sub])
    return df


def _tombstones(spark: SparkSession, gpath: str) -> DataFrame | None:
    t = _read_optional(spark, f"{gpath}/tombstones")
    return None if t is None else t.select("doc_id", "segment")


def _live_postings(postings: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Drop tombstoned rows.  The tombstone frame is deletion-churn
    sized (and compaction periodically empties it), so the anti-join
    broadcasts; postings never move."""
    if tomb is None:
        return postings
    return postings.join(
        F.broadcast(tomb), ["doc_id", "segment"], "left_anti"
    )


def _apply_delete(
    spark: SparkSession,
    gpath: str,
    ids: DataFrame,
    tseg: str,
    exclude_segment: str | None = None,
    dead: list[str] = (),
) -> None:
    """Tombstone the LIVE postings of ``ids`` as delete batch ``tseg``:

    - ``tombstones/tseg=…`` rows (doc_id, segment) naming the exact
      postings rows now dead — the query path's anti-join key;
    - NEGATIVE df partials into ``terms/`` and a negative (n, sum_dl)
      partial into ``stats/`` under the same ``tseg``, so the existing
      read-time partial sums net out the dead docs unchanged.

    Liveness is computed against the CURRENT index state minus this
    batch's own prior output (``tseg`` tombstones, ``exclude_segment``
    postings), which is what makes a replay recompute — and dynamic-
    overwrite replace — identical corrections instead of compounding
    them.  Cost: one postings scan per delete batch (Lucene pays the
    same to apply deletes); query cost is unchanged."""
    postings = _read_optional(spark, f"{gpath}/postings")
    if postings is None:
        return  # empty index (first replace-mode batch): nothing to kill
    postings = _drop_dead(postings, list(dead))
    if exclude_segment is not None:
        postings = postings.where(F.col("segment") != exclude_segment)
    prev = _read_optional(spark, f"{gpath}/tombstones")
    if prev is not None:
        prev = prev.where(F.col("tseg") != tseg).select("doc_id", "segment")
    live = _live_postings(
        postings.join(ids.hint("broadcast"), "doc_id", "semi"), prev
    ).persist()
    owm = ("partitionOverwriteMode", "dynamic")
    try:
        (
            live.select("doc_id", "segment")
            .distinct()
            .withColumn("tseg", F.lit(tseg))
            .coalesce(1)
            .write.mode("overwrite")
            .option(*owm)
            .partitionBy("tseg")
            .parquet(f"{gpath}/tombstones")
        )
        (
            live.groupBy("tok", "bucket")
            .agg(
                (-F.count(F.lit(1))).alias("df"),
                # a dead doc may have held the segment max: 0 keeps the
                # merged max_tf an upper bound (loose but sound)
                F.lit(0).cast("long").alias("max_tf"),
            )
            .withColumn("segment", F.lit(tseg))
            .repartition("bucket")
            .write.mode("overwrite")
            .option(*owm)
            .partitionBy("segment", "bucket")
            .parquet(f"{gpath}/terms")
        )
        (
            live.groupBy("doc_id")
            .agg(F.min("dl").alias("dl"))
            .agg(
                (-F.count(F.lit(1))).cast("long").alias("n"),
                (-F.coalesce(F.sum("dl"), F.lit(0)))
                .cast("long")
                .alias("sum_dl"),
            )
            .where(F.col("n") < 0)  # no live rows -> write nothing
            .withColumn("segment", F.lit(tseg))
            .write.mode("overwrite")
            .option(*owm)
            .partitionBy("segment")
            .parquet(f"{gpath}/stats")
        )
    finally:
        live.unpersist()


def delete_from_inverted_index(
    spark: SparkSession,
    path: str,
    delete_ids,
    segment: str | None = None,
) -> None:
    """Tombstone documents without rewriting any postings segment.

    ``delete_ids`` is a list of doc_ids or a DataFrame with a
    ``doc_id`` column.  ``segment`` names the delete batch — pass a
    deterministic name for replay-safe streaming deletes (same
    dynamic-overwrite idempotency as ``update_inverted_index``).
    Queries over the index immediately exclude the dead documents AND
    their df/avgdl contributions (negative partials), value-identical
    to a from-scratch rebuild over the surviving corpus (tested);
    ``compact_inverted_index`` later drops the dead rows physically."""
    gpath, dead = _open_index(path)
    if isinstance(delete_ids, DataFrame):
        ids = delete_ids.select("doc_id").distinct()
    else:
        ids = spark.createDataFrame(
            [(int(i),) for i in delete_ids], "doc_id BIGINT"
        )
    tseg = segment if segment is not None else "del-" + uuid.uuid4().hex[:12]
    _apply_delete(spark, gpath, ids, tseg=tseg, dead=dead)


# ---------------------------------------------------------------- compact


def compact_inverted_index(
    spark: SparkSession, src: str, dst: str | None = None
) -> str:
    """Rewrite an accumulated multi-segment index as one segment:
    postings re-bucketed into one file set per bucket with tombstoned
    rows PHYSICALLY dropped, term partials collapsed to one NET row per
    (term, bucket) (delete batches wrote negative df, so the sum nets;
    fully-deleted vocabulary rows vanish), stats partials to one row,
    and no tombstones carried over.  Query results are value-identical
    before and after (tested).

    Two modes:

    - ``dst`` given: compact the index at ``src`` (root or generation)
      into the explicit ``dst`` tree — the caller owns the swap.
    - ``dst=None`` (managed root): compact the CURRENT generation into
      the next ``gNNNNNNNN`` sibling and flip ``MANIFEST`` last — the
      atomic swap.  Readers that captured a DataFrame before the flip
      keep reading the old generation's intact files; new calls
      resolve the new one (compact-while-querying is tested).  Old
      generations are left for the caller to garbage-collect once
      their readers drain.

    Returns the directory the compacted index was written to."""
    gsrc, dead = _open_index(src)
    if dst is None:
        if not os.path.isfile(os.path.join(src, _MANIFEST)):
            raise ValueError(
                f"compact_inverted_index: {src!r} is not a managed index "
                "root (no MANIFEST) — pass an explicit dst instead"
            )
        gen = _next_generation(src)
        gdst = os.path.join(src, gen)
    else:
        gdst = dst
    tomb = _tombstones(spark, gsrc)
    # compaction carries bucket VALUES through unchanged, so the new
    # generation must pin the same bucket count for readers and for any
    # later ingest into it
    src_layout = _read_layout(gsrc)
    if src_layout is not None:
        _write_layout(gdst, src_layout)
    postings = _live_postings(
        _drop_dead(_read_part(spark, gsrc, "postings"), dead), tomb
    ).withColumn("segment", F.lit("base"))
    postings.repartition("bucket").write.mode("overwrite").partitionBy(
        "segment", "bucket"
    ).parquet(f"{gdst}/postings")
    (
        _drop_dead(_read_part(spark, gsrc, "terms"), dead)
        .groupBy("tok", "bucket")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf"))
        .where(F.col("df") > 0)
        .withColumn("segment", F.lit("base"))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("segment", "bucket")
        .parquet(f"{gdst}/terms")
    )
    (
        _stats_totals(spark, gsrc, dead)
        .select("n", F.col("sdl").cast("long").alias("sum_dl"))
        .withColumn("segment", F.lit("base"))
        .write.mode("overwrite")
        .partitionBy("segment")
        .parquet(f"{gdst}/stats")
    )
    if dst is None:
        _write_manifest(src, gen)
    return gdst


def _require_managed(path: str, op: str) -> dict:
    from redis_streams_spark.operators.segstore import require_managed

    return require_managed(path, op)


def _check_untangled(
    spark: SparkSession, gpath: str, segments: list[str], op: str
) -> None:
    """Refuse segment-level ops on segments entangled with tombstones:
    a segment TARGETED by tombstones has negative df/stats corrections
    living in OTHER partitions (dropping it would double-subtract),
    and a delete batch's own partitions carry corrections for postings
    that live elsewhere (dropping it would resurrect them).  Either
    case needs ``compact_inverted_index`` (which nets everything out)
    instead of the O(1) manifest flip."""
    tomb = _read_optional(spark, f"{gpath}/tombstones")
    if tomb is None:
        return
    hit = tomb.where(
        F.col("tseg").isin(segments) | F.col("segment").isin(segments)
    ).limit(1).count()
    if hit:
        raise ValueError(
            f"{op}: segment(s) {segments} are entangled with tombstones "
            "(targeted by, or themselves, a delete batch) — run "
            "compact_inverted_index instead"
        )


def drop_segment(spark: SparkSession, path: str, segment: str) -> None:
    """O(1) segment retention (the index-side analog of the stream
    log's bounded retention, SURVEY S2/S19): mark an ingest segment
    dead in the MANIFEST — one atomic pointer flip, no data read or
    written.  Readers exclude dead segments with a partition-pruned
    NOT-IN on the segment partition column, and the read-time partial
    sums (df, n, sum_dl) lose the segment's contributions with them,
    so queries answer exactly like a rebuild over the remaining
    batches (tested).  A time-partitioned corpus drops its oldest
    batch this way for the price of a metadata write.

    Refused for tombstone-entangled segments (see _check_untangled);
    physical reclamation happens at ``gc_index`` or the next full
    compaction."""
    man = _require_managed(path, "drop_segment")
    gpath = os.path.join(path, man["generation"])
    if segment in man["dead"]:
        return  # idempotent
    _check_untangled(spark, gpath, [segment], "drop_segment")
    _write_manifest(
        path, man["generation"], man["dead"] + [segment], man["pending"]
    )


def merge_segments(
    spark: SparkSession,
    path: str,
    segments: list[str],
    merged: str | None = None,
) -> str:
    """Tiered merge (Lucene's merge policy for this layout): collapse a
    set of SMALL segments into one without touching the rest of the
    index — compaction cost follows the merged batches, not the
    corpus.  Two manifest flips bracket the data write:

    1. stage: the merged name goes on the manifest's ``pending`` list
       (readers exclude it), then the merged partitions are written
       with the usual dynamic overwrite;
    2. commit: one atomic flip moves the inputs to ``dead`` and clears
       ``pending`` — readers see either the inputs or the merged
       segment, never both, and a crash anywhere leaves the index
       answering exactly as before.

    Inputs must be live and tombstone-untangled (else use the full
    ``compact_inverted_index``).  Returns the merged segment name."""
    man = _require_managed(path, "merge_segments")
    gpath = os.path.join(path, man["generation"])
    segments = sorted(set(segments))
    if len(segments) < 2:
        raise ValueError("merge_segments: need at least two segments")
    if merged is None:
        import hashlib

        digest = hashlib.md5("|".join(segments).encode()).hexdigest()[:12]
        merged = f"m-{digest}"
    gone = set(segments) & set(man["dead"] + man["pending"])
    if gone == set(segments) and merged not in man["dead"] + man["pending"]:
        return merged  # already committed: idempotent replay
    if gone:
        raise ValueError(f"merge_segments: {sorted(gone)} not live")
    _check_untangled(spark, gpath, segments, "merge_segments")
    from redis_streams_spark.operators.segstore import (
        acquire_merge_lock,
        release_merge_lock,
    )

    # the lock brackets the stage→commit window so a concurrent/cron
    # gc cannot bulldoze the staged pending segment (r11 advice); a
    # crash inside the window leaves the lock for gc(force=True)
    acquire_merge_lock(path, "merge_segments")
    _write_manifest(
        path, man["generation"], man["dead"], man["pending"] + [merged]
    )
    owm = ("partitionOverwriteMode", "dynamic")
    postings = (
        spark.read.parquet(f"{gpath}/postings")
        .where(F.col("segment").isin(segments))
        .withColumn("segment", F.lit(merged))
    )
    postings.repartition("bucket").write.mode("overwrite").option(
        *owm
    ).partitionBy("segment", "bucket").parquet(f"{gpath}/postings")
    (
        spark.read.parquet(f"{gpath}/terms")
        .where(F.col("segment").isin(segments))
        .groupBy("tok", "bucket")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("max_tf"))
        .withColumn("segment", F.lit(merged))
        .repartition("bucket")
        .write.mode("overwrite")
        .option(*owm)
        .partitionBy("segment", "bucket")
        .parquet(f"{gpath}/terms")
    )
    (
        spark.read.parquet(f"{gpath}/stats")
        .where(F.col("segment").isin(segments))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
        .withColumn("segment", F.lit(merged))
        .write.mode("overwrite")
        .option(*owm)
        .partitionBy("segment")
        .parquet(f"{gpath}/stats")
    )
    _write_manifest(path, man["generation"], man["dead"] + segments, [])
    release_merge_lock(path)
    return merged


def gc_index(path: str, force: bool = False) -> list[str]:
    """Reclaim a managed index's unreferenced storage (generic
    segstore gc over postings/terms/stats): generation directories
    other than the current one, and the current generation's
    dead/pending segment partitions.  DESTRUCTIVE for readers still
    draining those files — run after the reader-drain window; refuses
    while a merge holds the in-flight marker unless ``force=True``
    (see segstore.gc_generations).  Returns the removed paths and
    commits a clean manifest."""
    from redis_streams_spark.operators.segstore import gc_generations

    return gc_generations(path, ("postings", "terms", "stats"), force=force)


def index_status(spark: SparkSession, path: str) -> DataFrame:
    """Per-segment introspection report — the index-side echo of the
    streaming monitor's sweep (SURVEY S12/S15: same
    observe-then-recommend shape, here over index segments instead of
    consumers): one row per segment with

      segment, state ('live' | 'dead' | 'pending'), kind ('ingest' |
      'delete'), n_docs (net; negative partials for delete batches),
      sum_dl, dead_docs (this segment's documents tombstoned by later
      delete batches)

    built from the stats partials, the tombstone partitions, and the
    manifest — all metadata-sized reads, never the postings."""
    gpath, _ = _open_index(path)
    man = _read_manifest(path)
    dead = set(man["dead"]) if man else set()
    pending = set(man["pending"]) if man else set()
    stats = _read_part(spark, gpath, "stats").groupBy("segment").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )
    tomb = _read_optional(spark, f"{gpath}/tombstones")
    if tomb is not None:
        per_target = tomb.groupBy(F.col("segment").alias("t_seg")).agg(
            F.count(F.lit(1)).cast("long").alias("dead_docs")
        )
        stats = stats.join(
            per_target, stats["segment"] == F.col("t_seg"), "left"
        ).drop("t_seg")
    else:
        stats = stats.withColumn("dead_docs", F.lit(None).cast("long"))
    state = (
        F.when(F.col("segment").isin(sorted(dead)), "dead")
        .when(F.col("segment").isin(sorted(pending)), "pending")
        .otherwise("live")
        if (dead or pending)
        else F.lit("live")
    )
    return stats.select(
        "segment",
        state.alias("state"),
        F.when(F.col("n_docs") < 0, "delete")
        .otherwise("ingest")
        .alias("kind"),
        "n_docs",
        "sum_dl",
        F.coalesce("dead_docs", F.lit(0)).alias("dead_docs"),
    )


def index_maintenance_advice(
    spark: SparkSession,
    path: str,
    small_frac: float = 0.05,
    dead_frac: float = 0.1,
) -> list[str]:
    """Rule ladder over ``index_status`` (the scaler's
    measure-then-decide shape, SURVEY S16–S18, applied to index
    health): recommends merge_segments for accumulations of small live
    ingest segments, compact_inverted_index when the tombstoned
    fraction passes ``dead_frac`` or delete batches pile up, and
    gc_index when dead/pending segments linger.  Returns
    human-readable recommendations (empty = healthy)."""
    rows = index_status(spark, path).collect()
    live = [r for r in rows if r.state == "live" and r.kind == "ingest"]
    total = sum(r.n_docs for r in live) or 1
    out: list[str] = []
    small = [r.segment for r in live if r.n_docs < small_frac * total]
    if len(small) >= 2:
        out.append(
            f"merge_segments: {len(small)} live segments each hold "
            f"<{small_frac:.0%} of the corpus ({sorted(small)})"
        )
    tombstoned = sum(r.dead_docs for r in live)
    if tombstoned > dead_frac * total:
        out.append(
            f"compact_inverted_index: {tombstoned}/{total} documents "
            f"tombstoned (>{dead_frac:.0%})"
        )
    n_del = sum(1 for r in rows if r.kind == "delete" and r.state == "live")
    if n_del >= 5:
        out.append(
            f"compact_inverted_index: {n_del} delete batches accumulated"
        )
    n_gone = sum(1 for r in rows if r.state != "live")
    if n_gone:
        out.append(f"gc_index: {n_gone} dead/pending segments reclaimable")
    return out


# ----------------------------------------------------------------- query


def _query_frames(
    spark: SparkSession, gpath: str, terms: set[str], dead: list[str]
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Bucket-pruned, tombstone-filtered, dead-segment-excluded
    (postings, term-partials, stats) for a query's term set — the
    shared read path."""
    buckets = sorted({h32_py(t) % _layout_buckets(gpath) for t in terms})
    tomb = _tombstones(spark, gpath)
    postings = _live_postings(
        _drop_dead(
            _read_part(spark, gpath, "postings"), dead
        ).where(F.col("bucket").isin(buckets)),
        tomb,
    )
    tpart = _drop_dead(_read_part(spark, gpath, "terms"), dead).where(
        F.col("bucket").isin(buckets)
    )
    stats = _stats_totals(spark, gpath, dead).select(
        "n", (F.col("sdl") * 1.0 / F.col("n")).alias("avgdl")
    )
    return postings, tpart, stats


def _stats_totals(
    spark: SparkSession, gpath: str, dead: list[str]
) -> DataFrame:
    """One-row (n, sdl) corpus totals over the live stats partials."""
    return (
        _drop_dead(_read_part(spark, gpath, "stats"), dead)
        .agg(F.sum("n").cast("long").alias("n"), F.sum("sum_dl").alias("sdl"))
    )


def _term_meta(
    spark: SparkSession,
    gpath: str,
    dead: list[str],
    tpart: DataFrame,
    all_terms: set[str],
) -> tuple[dict[str, tuple[int, int]], int, float]:
    """Everything the MaxScore/router driver math needs in ONE driver
    round-trip: per-term (df, max_tf) over the query's terms AND the
    corpus (n, avgdl) totals, fetched as one collect by cross-joining
    the one-row stats aggregate onto the |query-terms|-row terms
    aggregate (previously two separately scheduled jobs —
    OPTIMIZATION_r13.md §bm25 router).  Returns (meta, n_docs, avgdl,
    sdl) — sdl (the raw live sum of document lengths) rides along so a
    scorer handed this metadata can re-emit the exact one-row stats
    frame as a LocalRelation instead of re-aggregating the store
    (r14; the avgdl division then happens in the SAME Spark expression
    as the frame path, bit-identical).  When no query term exists in
    the index the joined frame is empty and ``({}, 0, 1.0, 0)`` comes
    back; with an empty meta both callers route every query to the
    exact path, where the matched frame is empty and the placeholder
    totals cannot leak into results."""
    rows = (
        tpart.where(F.col("tok").isin(sorted(all_terms)))
        .groupBy("tok")
        .agg(F.sum("df").alias("df"), F.max("max_tf").alias("mtf"))
        .crossJoin(_stats_totals(spark, gpath, dead))
        .collect()
    )
    if not rows:
        return {}, 0, 1.0, 0
    n_docs = rows[0]["n"] or 0
    sdl = rows[0]["sdl"] or 0
    avgdl = sdl * 1.0 / n_docs if n_docs else 1.0
    meta = {r["tok"]: (r["df"], r["mtf"]) for r in rows if r["df"] > 0}
    return meta, n_docs, avgdl, sdl


def _meta_frames(
    spark: SparkSession,
    meta: dict[str, tuple[int, int]],
    n_docs: int,
    sdl: int,
) -> tuple[DataFrame, DataFrame]:
    """Re-emit already-collected router metadata as the (dfreq, stats)
    LocalRelations ``_score_topk`` consumes (r14, the §12
    LocalRelation discipline): the routed scorers used to re-aggregate
    the store's terms/stats partials in-plan even though the router
    had collected the identical values one call earlier — two extra
    bucket scans + aggregations per routed call.  ``dfreq`` carries
    exactly the df>0 terms (a net-df<=0 term is fully tombstoned, so
    the live matched frame has no rows for it and the inner join drops
    nothing either way); ``stats`` applies the same ``sdl*1.0/n``
    Spark expression as ``_stats_totals`` consumers, so the avgdl
    double is bit-identical to the frame path."""
    dfreq = spark.createDataFrame(
        [(t, int(d)) for t, (d, _m) in sorted(meta.items())],
        "df_tok STRING, df BIGINT",
    )
    # n_docs == 0 (no query term in the index): avgdl is the same 1.0
    # placeholder _term_meta returns — sdl/0 raises under ANSI mode
    avgdl = F.col("sdl") * 1.0 / F.col("n") if n_docs else F.lit(1.0)
    stats = spark.createDataFrame(
        [(int(n_docs), int(sdl))], "n BIGINT, sdl BIGINT"
    ).select("n", avgdl.alias("avgdl"))
    return dfreq, stats


def _score_topk(
    matched: DataFrame, dfreq: DataFrame, stats: DataFrame, k: int
) -> DataFrame:
    """Exact BM25 scoring + per-query top-k over matched postings —
    shared verbatim by the exact and MaxScore paths so the pruned
    variant is arithmetically identical where it scores."""
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * ((1.0 - _B) + _B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        matched.join(F.broadcast(dfreq), matched["tok"] == F.col("df_tok"))
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(rnd(F.sum(term_score), 6).alias("bm25"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "bm25")
    )


def bm25_topk_indexed(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    _meta: tuple[dict[str, tuple[int, int]], int, float, int] | None = None,
) -> DataFrame:
    """Okapi BM25 top-k per query against a persisted index — identical
    arithmetic (and oracle) to the from-scratch ``text_bm25_topk``.

    ``queries`` maps query_id → term tuple; only the terms' buckets are
    read (driver-side ``h32_py``, matching the build's ``h32``).  With
    ``_meta`` (the router's collected ``_term_meta``) the df/stats
    side frames are re-emitted as LocalRelations instead of
    re-aggregated from the store (see ``_meta_frames``)."""
    gpath, dead = _open_index(path)
    pairs = [(qid, t) for qid, terms in queries.items() for t in terms]
    qterms = F.broadcast(
        spark.createDataFrame(pairs, "query_id INT, term STRING")
    )
    postings, tpart, stats = _query_frames(
        spark, gpath, {t for _, t in pairs}, dead
    )
    matched = postings.join(qterms, postings["tok"] == qterms["term"])
    if _meta is not None:
        meta, n_docs, _avgdl, sdl = _meta
        dfreq, stats = _meta_frames(spark, meta, n_docs, sdl)
        return _score_topk(matched, dfreq, stats, k)
    # merge the append-only segment partials at read time: per-term df
    # over the probed buckets (delete batches contribute negative
    # rows), (n, avgdl) over the stats partials — both bounded frames
    # regardless of segment count
    dfreq = (
        tpart.join(
            qterms.select("term").distinct(), tpart["tok"] == F.col("term")
        )
        .groupBy("tok")
        .agg(F.sum("df").alias("df"))
        .select(F.col("tok").alias("df_tok"), "df")
    )
    return _score_topk(matched, dfreq, stats, k)


def bm25_topk_maxscore(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    margin: float = 2e-6,
    return_plan: bool = False,
    _meta: tuple[dict[str, tuple[int, int]], int, float, int] | None = None,
):
    """BM25 top-k with static MaxScore pruning (Turtle & Flood 1995) —
    value-identical to ``bm25_topk_indexed`` (same oracle) while
    scoring only a fraction of the matched postings when the query
    mixes rare and common terms.

    Build-time ingredient: ``terms/`` stores each segment's per-term
    ``max_tf``.  Query-time, per term, an avgdl-free UPPER BOUND on
    any document's contribution is

        ub(t) = idf(t) · (k1+1) · mtf / (mtf + k1·(1−b))

    (the true contribution idf·(k1+1)·tf/(tf + k1·(1−b + b·dl/avgdl))
    is increasing in tf and bounded by the dl→0 limit, so mtf gives a
    sound bound whatever avgdl becomes as segments accrue).

    Plan (driver-side over |query-terms| metadata rows — the bounded
    collect adjudication of similarity.py's probes):

    1. Seed a threshold θ per query: the k-th best SINGLE-TERM score of
       the highest-ub term — a lower bound on the true k-th final
       score, since each of those k docs' full scores only grow.
    2. Non-essential terms: the maximal ascending-ub prefix whose ub
       sum stays below θ − margin.  A doc containing ONLY non-essential
       terms scores below θ − margin, so (with margin ≫ the 6-dp
       rounding step and float ulps) it can neither reach the k-th
       score nor tie it — top-k docs all touch an essential term.
    3. Candidates = docs in the essential terms' postings; exact
       scoring (shared ``_score_topk``) runs over ALL query terms but
       only for candidate docs (semi-join), so the common terms'
       postings shrink to the candidates' rows instead of scoring
       their full lists.

    With ``return_plan=True`` returns ``(df, plan)`` where plan maps
    query_id → {theta, essential, skipped} for tests and SCALE
    accounting."""
    gpath, dead = _open_index(path)
    all_terms = {t for terms in queries.values() for t in terms}
    postings, tpart, _ = _query_frames(spark, gpath, all_terms, dead)
    # the MaxScore plan makes THREE passes over the bucket-pruned
    # postings (seed top-k, candidate harvest, final scoring); each
    # pass re-scans, but the explicit skinny projection keeps every
    # scan bucket-pruned AND column-pruned — BM25 never touches
    # ``positions``, the bulk of a positional index.  (A persist of
    # the working set was measured SLOWER at 100×: the cache write
    # costs more than two extra 4-column parquet scans — SCALE.md r11.)
    postings = postings.select("tok", "doc_id", "tf", "dl")
    # one metadata round-trip (terms agg × stats agg); the router
    # (``bm25_topk_auto``) collected the identical frame already and
    # hands it down via ``_meta`` so the routed call pays zero
    if _meta is not None:
        meta, n_docs, avgdl, sdl = _meta
    else:
        meta, n_docs, avgdl, sdl = _term_meta(
            spark, gpath, dead, tpart, all_terms
        )
    import math

    def _idf(df_t: int) -> float:
        return math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)

    ub = {
        t: _idf(d) * (_K1 + 1.0) * m / (m + _K1 * (1.0 - _B))
        for t, (d, m) in meta.items()
    }
    # 1. seed thresholds: one job scoring each query's top-ub term alone
    seed_terms = {
        qid: max((t for t in terms if t in ub), key=ub.get, default=None)
        for qid, terms in queries.items()
    }
    seed_pairs = [(q, t) for q, t in seed_terms.items() if t is not None]
    theta: dict[int, float] = {}
    if seed_pairs and n_docs:
        # idf rides on the seed frame itself (driver-computed, same
        # ``_idf`` doubles the old 2-row idf_lit join carried) — one
        # broadcast join instead of two (r14)
        sframe = F.broadcast(
            spark.createDataFrame(
                [(q, t, _idf(meta[t][0])) for q, t in seed_pairs],
                "query_id INT, term STRING, idf DOUBLE",
            )
        )
        single = (
            postings.join(sframe, postings["tok"] == F.col("term"))
            .withColumn(
                "s1",
                F.col("idf")
                * (F.col("tf") * (_K1 + 1.0))
                / (
                    F.col("tf")
                    + _K1 * ((1.0 - _B) + _B * F.col("dl") / F.lit(avgdl))
                ),
            )
        )
        wq = W.partitionBy("query_id").orderBy(F.desc("s1"))
        kth = (
            single.withColumn("r", F.row_number().over(wq))
            .where(F.col("r") == k)
            .select("query_id", "s1")
            .collect()
        )
        theta = {r["query_id"]: r["s1"] for r in kth}
    # 2. split essential / skippable per query
    plan: dict[int, dict] = {}
    ess_pairs: list[tuple[int, str]] = []
    for qid, terms in queries.items():
        present = [t for t in terms if t in ub]
        th = theta.get(qid)
        skipped: list[str] = []
        if th is not None:
            acc = 0.0
            for t in sorted(present, key=ub.get):
                if acc + ub[t] < th - margin:
                    acc += ub[t]
                    skipped.append(t)
                else:
                    break
        essential = [t for t in present if t not in skipped]
        plan[qid] = {"theta": th, "essential": essential, "skipped": skipped}
        ess_pairs.extend((qid, t) for t in essential)
    pruned_qids = [q for q, p in plan.items() if p["skipped"]]
    if not pruned_qids:
        out = bm25_topk_indexed(
            spark, path, queries, k=k, _meta=(meta, n_docs, avgdl, sdl)
        )
        return (out, plan) if return_plan else out
    # 3. candidates from essential postings, for the PRUNED queries
    # only — a query whose terms are all essential gains nothing from
    # the candidate restriction, so it scores straight (otherwise its
    # candidate set is every matched doc and the semi-join is pure
    # overhead).  Pruned queries' candidates are bounded by their
    # essential terms' document frequencies — rare by construction
    # (that's what made their bounds dominate) — so the semi-join
    # broadcasts instead of shuffling the common terms' postings.
    eframe = F.broadcast(
        spark.createDataFrame(
            [(q, t) for q, t in ess_pairs if q in pruned_qids],
            "query_id INT, term STRING",
        )
    )
    cand = (
        postings.join(eframe, postings["tok"] == F.col("term"))
        .select("query_id", "doc_id")
        .distinct()
    )
    qpairs = [(qid, t) for qid, terms in queries.items() for t in terms]
    qterms = F.broadcast(
        spark.createDataFrame(qpairs, "query_id INT, term STRING")
    )
    all_matched = postings.join(qterms, postings["tok"] == qterms["term"])
    matched = all_matched.where(
        F.col("query_id").isin(pruned_qids)
    ).join(F.broadcast(cand), ["query_id", "doc_id"], "semi")
    if len(pruned_qids) < len(queries):
        matched = matched.unionByName(
            all_matched.where(~F.col("query_id").isin(pruned_qids))
        )
    # the router/metadata collect above already holds every df and the
    # corpus totals — re-emit them as LocalRelations instead of
    # re-aggregating the store's terms/stats partials (r14)
    dfreq, stats = _meta_frames(spark, meta, n_docs, sdl)
    out = _score_topk(matched, dfreq, stats, k)
    return (out, plan) if return_plan else out


def bm25_topk_auto(
    spark: SparkSession,
    path: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    postings_threshold: int = 100_000_000,
    cut_ratio: float = 0.5,
    return_plan: bool = False,
):
    """Cost-based PER-QUERY routing between exact scoring
    (``bm25_topk_indexed``) and MaxScore pruning
    (``bm25_topk_maxscore``) — both value-identical, so routing is
    purely a physical choice (r11 verdict ask #3).

    SCALE.md locates the crossover: MaxScore pays ~4 extra driver
    round-trips (metadata collects, seed top-k, candidate pass), which
    dominate until the scoring shuffle itself is the bottleneck —
    stopword-class posting lists of ~10⁸ rows.  The router reads the
    bounded ``terms/`` df metadata ONCE (the same |query-terms|-row
    collect MaxScore itself pays) and routes each query by the two
    numbers that crossover is made of:

    - ``matched``   = Σ df(t) over the query's terms — the postings the
      exact path scores;
    - ``essential`` = Σ df(t) over the terms a MaxScore plan could NOT
      skip, estimated statically with the optimistic threshold proxy
      θ ≈ max-ub (θ never exceeds the best term's single-doc bound, so
      the estimated skip set is a superset of the real one — an
      OPTIMISTIC candidate bound, fine for routing because both routes
      return identical values).

    A query routes to MaxScore iff something is skippable AND
    ``matched ≥ postings_threshold`` (default: the measured 10⁸
    crossover) AND ``essential ≤ cut_ratio · matched`` (the pruning
    must actually pay for the round-trips).  With ``return_plan=True``
    returns ``(df, plan)`` where plan maps query_id →
    {route, matched, essential, skippable} for tests/accounting."""
    import math

    gpath, dead = _open_index(path)
    all_terms = {t for terms in queries.values() for t in terms}
    _, tpart, _ = _query_frames(spark, gpath, all_terms, dead)
    meta, n_docs, avgdl, sdl = _term_meta(
        spark, gpath, dead, tpart, all_terms
    )
    ub = {
        t: math.log((n_docs - d + 0.5) / (d + 0.5) + 1.0)
        * (_K1 + 1.0)
        * m
        / (m + _K1 * (1.0 - _B))
        for t, (d, m) in meta.items()
    }
    plan: dict[int, dict] = {}
    route: dict[int, str] = {}
    for qid, terms in queries.items():
        present = [t for t in terms if t in ub]
        matched = sum(meta[t][0] for t in present)
        skipped: list[str] = []
        if present:
            theta_proxy = max(ub[t] for t in present)
            acc = 0.0
            for t in sorted(present, key=ub.get):
                if acc + ub[t] < theta_proxy:
                    acc += ub[t]
                    skipped.append(t)
                else:
                    break
        essential = sum(meta[t][0] for t in present if t not in skipped)
        use_ms = (
            bool(skipped)
            and matched >= postings_threshold
            and essential <= cut_ratio * matched
        )
        route[qid] = "maxscore" if use_ms else "exact"
        plan[qid] = {
            "route": route[qid],
            "matched": matched,
            "essential": essential,
            "skippable": list(skipped),
        }
    ex = {q: t for q, t in queries.items() if route[q] == "exact"}
    ms = {q: t for q, t in queries.items() if route[q] == "maxscore"}
    parts = []
    if ex:
        parts.append(
            bm25_topk_indexed(
                spark, path, ex, k=k, _meta=(meta, n_docs, avgdl, sdl)
            )
        )
    if ms:
        parts.append(
            bm25_topk_maxscore(
                spark, path, ms, k=k, _meta=(meta, n_docs, avgdl, sdl)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (out, plan) if return_plan else out


def phrase_match_indexed(
    spark: SparkSession,
    path: str,
    phrases: dict[int, tuple[str, ...]],
) -> DataFrame:
    """Exact n-word phrase matching against the persisted positional
    index (bigrams through arbitrary-length phrases — r10 verdict ask
    #2 generalized the original two-word shape): read only the phrase
    terms' buckets, collect each matched term's position list per
    document, and fold a chained IN-ROW array intersect

        starts = ∩_i (positions(term_i) − i)

    so a surviving entry is a phrase START position — no positional
    explode, no corpus-sized join, and repeated terms inside a phrase
    (e.g. "batch batch batch") fall out naturally because each phrase
    slot intersects its own shifted copy of the shared posting row.
    Returns (phrase_id, doc_id, n_occurrences), the same frame as the
    from-scratch ``text_phrase_ngram``."""
    gpath, dead = _open_index(path)
    rows = [
        (pid, i, t, len(terms))
        for pid, terms in phrases.items()
        for i, t in enumerate(terms)
    ]
    postings, _, _ = _query_frames(
        spark, gpath, {t for _, _, t, _ in rows}, dead
    )
    pf = F.broadcast(
        spark.createDataFrame(
            rows, "phrase_id INT, idx INT, term STRING, plen INT"
        )
    )
    matched = postings.join(pf, postings["tok"] == pf["term"]).select(
        "phrase_id", "doc_id", "idx", "positions", "plen"
    )
    per_doc = (
        matched.groupBy("phrase_id", "doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("idx", "positions"))
            ).alias("pl"),
            F.first("plen").alias("plen"),
        )
        # every phrase slot must have matched (distinct idx per row)
        .where(F.size("pl") == F.col("plen"))
    )
    first = F.col("pl").getItem(0)
    starts = F.aggregate(
        F.slice(F.col("pl"), 2, F.size("pl") - 1),
        F.transform(
            first.getField("positions"),
            lambda p: p - first.getField("idx").cast("long"),
        ),
        lambda acc, x: F.array_intersect(
            acc,
            F.transform(
                x.getField("positions"),
                lambda p: p - x.getField("idx").cast("long"),
            ),
        ),
    )
    return (
        per_doc.select(
            "phrase_id",
            "doc_id",
            F.size(starts).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") > 0)
    )
