"""MultiModalSearchEngine — the engine facade (SURVEY.md §3.2), a thin
layer over (a) the embedder UDF registry, (b) the items DataFrame,
(c) the kNN query builders.

Mirrors ``src/retrieval/search_engine.py``'s surface:
``search(query, query_type, k, filter_content_type)``,
``ingest_content`` / ``batch_ingest``, ``save`` / ``load``,
``get_stats`` — with two deliberate fixes over the reference:

- the metric is cosine everywhere (the reference's engine constructs an
  L2 index while its build scripts use cosine — ``search_engine.py:41-45``
  vs ``build_all_indices.py:49`` — equivalent ranking on normalized
  vectors but inconsistent reported scores; we standardize);
- space-correctness is *enforced*: an audio (CLAP-space) query is only
  ever scored against CLAP-space rows, CLIP queries against CLIP rows
  (``README.md:36``) — the reference gets this only implicitly via
  post-hoc modality routing.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
from typing import Any, Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from multimodal_vector_db_spark.embedders.fake import fake_embed_numpy
from multimodal_vector_db_spark.functions.blasctl import gemm_section
from multimodal_vector_db_spark.operators.knn import (
    knn_search,
    knn_search_blocked,
    topk_rows_1d,
    topk_rows_2d,
)
from multimodal_vector_db_spark.operators.rerank import (
    MMR_LAMBDA,
    mmr_order,
    rerank,
)
from multimodal_vector_db_spark.sources.corpus import (
    active,
    space_for_modality,
)
from multimodal_vector_db_spark.sources.storage import CorpusStorage

#: modality → embedding space (README.md:36)
SPACE_OF = {"image": "clip", "video": "clip", "text": "clip", "audio": "clap"}

#: the torch-free audio CONTENT space (WHT sequency signatures) —
#: distinct from "clap" (the env-gated learned space): rows ingested by
#: :meth:`MultiModalSearchEngine.ingest_audio_content` and queries from
#: :meth:`MultiModalSearchEngine.search_audio_content` live here, and
#: the space-correctness rule keeps them from ever scoring against
#: CLIP/CLAP rows
AUDIO_SIG_SPACE = "audio_sig"

#: default nprobe fractions the per-index recall calibration measures —
#: ONE definition shared by build_ann_index and attach_ann_index so
#: built and attached indexes always get the same measured contract
_CALIBRATION_FRACTIONS = (0.0625, 0.125, 0.25, 0.5)

#: canonical items schema (batch_ingest and the SQL view agree on this)
_ITEMS_SCHEMA = (
    "id long, modality string, space string, "
    "embedding array<float>, dim int, deleted boolean, "
    "content string, display_name string"
)


#: no rows: the selection of a content type a space has no live row of
_NO_ROWS = np.zeros(0, dtype=np.int64)


def _modality_rows(modalities: list, offset: int = 0) -> dict:
    """Ascending row positions per modality value, shifted by
    ``offset`` — the micro-path cache's ``mod_rows``."""
    rows: dict[Any, list[int]] = {}
    for i, m in enumerate(modalities, start=offset):
        rows.setdefault(m, []).append(i)
    return {m: np.array(r, dtype=np.int64) for m, r in rows.items()}


def _filter_rows(cache: dict, content_type: str | None) -> np.ndarray | None:
    """Row positions of a micro-path cache that a content-type filter
    keeps; None when there is no filter (every row)."""
    if content_type is None:
        return None
    return cache["mod_rows"].get(content_type, _NO_ROWS)


def _slack_buffer(like: np.ndarray, n: int) -> np.ndarray:
    """An uninitialized buffer for ``n`` rows shaped like ``like``'s,
    plus geometric append headroom (half again, plus 8 rows): a block
    grown by appends is then copied O(log n) times, not per append."""
    return np.empty((int(n * 1.5) + 8,) + like.shape[1:], dtype=like.dtype)


def _copy_kept(src: np.ndarray, keep: np.ndarray, dst: np.ndarray) -> None:
    """``dst[:keep.sum()] = src[keep]`` as one pass of slice copies,
    one per run of kept rows (a remove drops a few rows; boolean
    indexing into a fresh buffer would copy the block twice)."""
    drop = np.flatnonzero(~keep)
    at = 0
    for lo, hi in zip(np.r_[0, drop + 1], np.r_[drop, len(keep)]):
        dst[at : at + hi - lo] = src[lo:hi]
        at += hi - lo


def _arrow_matrix(col, width: int) -> np.ndarray:
    """The float64 (rows × width) matrix of an Arrow list<float> column
    whose lists all have one length (``width`` is the empty column's).
    float32 → float64 is exact, so the values equal a Row collect's."""
    import pyarrow.compute as pc

    if len(col) == 0:
        return np.zeros((0, width), dtype=np.float64)
    col = col.combine_chunks()
    lengths = pc.list_value_length(col).to_numpy(zero_copy_only=False)
    if (lengths != lengths[0]).any():
        raise ValueError("embedding lists of unequal length in one space")
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(len(col), int(lengths[0]))


def _serialized_mutation(fn):
    """Serialize corpus MUTATIONS (round 12): two concurrent writers
    racing through ``_next_id`` would mint the same ids, tear the
    epoch counter, and interleave cache-tail appends. Searches never
    take this lock (the read side is replace-not-mutate snapshots plus
    the admission gate), so serving concurrency is unaffected — only
    writers queue. Bulk ingests hold it across their Spark work, so a
    concurrent interactive ingest waits behind a bulk load — correct
    over fast for writers."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._mutation_lock:
            return fn(self, *args, **kwargs)

    return wrapper


class MultiModalSearchEngine:
    #: corpus_rows × dim above which BATCH scoring routes through the
    #: blocked BLAS form. Measured crossover (local[32], this box): at
    #: 0.13M cells the codegen'd window form wins a 64-query batch
    #: (6.2 vs 8.3 ms/query); at 2.05M cells blocked wins 2.2×
    #: (SCALE_PROBE knn_batch_64q 1.19 s vs knn_blocked_64q 0.54 s);
    #: at 22.7M cells it wins 21× (204 vs 9.6 ms/query, BENCH
    #: ref_scale). Single-query dispatch uses 8× this (see
    #: ``_single_threshold``): with only one query the window/HOF plan
    #: has no per-pair blow-up to amortize away, while mapInPandas pays
    #: ~0.25 s fixed Python-worker/Arrow cost — measured HOF still 2.6×
    #: faster at 1.28M cells (0.17 vs 0.43 s) with blocked first
    #: winning at 22.7M cells (536 vs 620 ms facade wall).
    BLOCKED_THRESHOLD_CELLS = 2_000_000

    def __init__(
        self,
        spark: SparkSession,
        items: DataFrame | None = None,
        dim: int = 64,
        embed_fn: Callable[[str, str], list[float]] | None = None,
        blocked_threshold_cells: int | None = None,
        drift_threshold: float = 4.0,
        ann_auto_append: bool = True,
        local_exact_budget_bytes: int = 256 * 1024 * 1024,
        recalibration_fraction: float = 0.25,
        cum_drift_threshold: float | None = None,
        cum_drift_mass_fraction: float = 0.25,
        defer_recalibration: bool = False,
        local_max_concurrency: int = 16,
    ):
        self.spark = spark
        self.dim = dim
        # pluggable text embedder (space-aware); default = hermetic fake
        self._embed = embed_fn or (
            lambda text, space: fake_embed_numpy(text, space, dim).tolist()
        )
        # interactive-ingest buffer (round 12): rows appended by
        # batch_ingest as schema-ordered tuples, flushed into the
        # DataFrame LAZILY — one createDataFrame + union before the
        # next Spark-path read instead of one per call. The ~80 ms
        # py4j createDataFrame floor SCALE.md profiled under the
        # ingest/search alternation was the per-call flush; buffering
        # makes a single-row ingest a pure driver-side append (the
        # reference's add_vectors is an in-process append,
        # vector_index.py:94-103). `self.items` is a property whose
        # getter flushes, so every Spark-path consumer sees a corpus
        # that already contains the buffered rows.
        self._pending: list[tuple] = []
        self._pending_lock = threading.Lock()
        #: serializes corpus mutations (see ``_serialized_mutation``);
        #: RLock so a mutator may call another (ingest_content →
        #: batch_ingest) without deadlocking. Ordering: this lock is
        #: strictly OUTER to ``_pending_lock``.
        self._mutation_lock = threading.RLock()
        self._items_df: DataFrame | None = None
        self.items = items
        self.blocked_threshold_cells = (
            self.BLOCKED_THRESHOLD_CELLS
            if blocked_threshold_cells is None
            else blocked_threshold_cells
        )
        # row count for the scorer dispatch: maintained incrementally by
        # the ingest paths (no count job per search); None = unknown →
        # computed once lazily (parquet metadata count) and cached.
        # Soft deletes don't decrement — an upper bound only ever errs
        # toward the faster scorer.
        self._n_rows: int | None = 0 if items is None else None
        # per-SPACE row counts for the ANN coverage/drift check —
        # ingesting into an unrelated space must not flag another
        # space's index as stale. Same lazy contract as _n_rows.
        self._n_rows_by_space: dict[str, int] | None = (
            {} if items is None else None
        )
        # highest assigned item id, maintained incrementally by the
        # ingest paths so the interactive batch_ingest is JOB-FREE (no
        # max-id agg per call — round 11, the ingest/search-alternation
        # cost contract). None = unknown → one agg, then cached.
        self._max_id: int | None = -1 if items is None else None
        # interactive mutations since the last lineage compaction —
        # every batch_ingest stacks a union and every remove a project
        # on `items`, so a long ingest/remove stream would grow
        # Catalyst's plan depth without bound (planning cost per later
        # Spark action ∝ chain length). Every _COMPACT_EVERY mutations
        # the chain is cut with a LAZY localCheckpoint (no job — the
        # job-free ingest contract holds; the checkpoint materializes
        # with the next Spark action, which was going to execute the
        # chain anyway).
        self._mutations_since_compact = 0
        # per-space IVF coarse index for the auto route (build_ann_index)
        self._ann: dict[str, dict] = {}
        #: appended-batch cohesion ratio above which an IVF index is
        #: flagged drifted and the auto route falls back to exact until
        #: rebuild (see :meth:`append_to_ann_index`)
        self.drift_threshold = drift_threshold
        #: when True (default), the auto route transparently absorbs
        #: post-build ingests into the index via
        #: :meth:`append_to_ann_index` instead of disabling IVF — the
        #: reference serves ingest-then-search from ONE mutable index
        #: (``search_engine.py:81-131`` + ``:174-223``), and a rebuild
        #: per ingest is the one thing a 100 TB deployment cannot do
        self.ann_auto_append = ann_auto_append
        #: serializes index MUTATION (append/attach/build bookkeeping)
        #: across the concurrent callers the facade advertises — the
        #: read path never blocks on it; only maintenance does
        self._ann_lock = threading.Lock()
        #: the last search's routing decision — the planner log surface
        #: (route, reason, and the IVF parameters when taken)
        self.last_route: dict[str, Any] | None = None
        #: estimated resident corpus bytes — float64 vector mass (the
        #: matrix actually held resident: rows × dim × 8 B, round 12)
        #: PLUS measured payload string bytes (round 11; vector mass
        #: alone admitted fat-payload corpora whose collect pulled
        #: gigabytes of content strings to the driver) — below which
        #: single/batch searches are served from a DRIVER-RESIDENT
        #: copy of the space's corpus with the SAME blocked-BLAS
        #: kernel and tie-break as the Spark exact path (round 10 —
        #: closes the one >2×-vs-baseline metric, the ~0.5 s per-job
        #: scheduling floor Spark local mode puts under every single
        #: interactive query; the reference's hnswlib search is a
        #: single in-process call, ``search_images.py:42-59``).
        #: 0 disables the micro-path.
        self.local_exact_budget_bytes = local_exact_budget_bytes
        #: spaces measured over budget, keyed by the epoch of the
        #: verdict — repeated searches at one epoch skip the footprint
        #: agg instead of re-measuring (any mutation bumps the epoch)
        self._local_over_budget: dict[str, int] = {}
        #: per-space driver cache for the micro-path: space →
        #: {epoch, ids, emb, mod_rows, payload, bytes, buf_ids, buf_emb}
        #: (see ``_local_corpus``); extended by ingests, pruned by
        #: removes, rebuilt when the corpus epoch moves past it otherwise
        self._local_cache: dict[str, dict[str, Any]] = {}
        #: corpus mutation epoch — bumped by every path that reassigns
        #: ``self.items`` (ingest, bulk ingest, remove, audio ingest) so
        #: driver caches can invalidate without comparing DataFrames
        self._epoch = 0
        #: appended-rows fraction of the calibrated corpus above which
        #: the route re-runs calibration before trusting the stored
        #: curve (round 10 — a curve measured on the build-time corpus
        #: with ground truth that excludes appended rows goes stale)
        self.recalibration_fraction = recalibration_fraction
        #: when True, a search whose consulted calibration curve has
        #: gone stale serves EXACT (with ``calibration_deferred`` on
        #: ``last_route``) instead of absorbing a full recalibration
        #: sweep on the hot path — the deployment shape where a
        #: scheduled :meth:`maintain` owns all measured upkeep (round
        #: 11). Default False: lazy hot-path refresh, with its wall
        #: cost surfaced as ``last_route["calibration_sec"]``.
        self.defer_recalibration = defer_recalibration
        #: admission gate for the micro-path (round 11): at most this
        #: many micro-path calls execute concurrently; excess callers
        #: BLOCK on the semaphore (releasing the GIL) instead of
        #: joining the runnable-thread convoy. The measured bottleneck
        #: past ~16 callers is not BLAS (clamped to 1 thread/call) but
        #: GIL-held result assembly — 64 runnable threads thrash GIL
        #: ownership and HALVE aggregate qps vs 16; parking the excess
        #: keeps throughput flat at any caller count. 0/None disables.
        #: Entered with ``with`` around every micro-path call.
        self._local_gate = (
            threading.BoundedSemaphore(local_max_concurrency)
            if local_max_concurrency
            else contextlib.nullcontext()
        )
        #: CUMULATIVE drift latch (round 10): per-batch `drift` only
        #: sees the latest batch, so many batches each marginally below
        #: ``drift_threshold`` never latch even when the appended mass
        #: collectively no longer fits the fitted cells. Once appended
        #: rows exceed ``cum_drift_mass_fraction`` of the index, the
        #: appended-mass-weighted mean ratio is ALSO checked against
        #: this tighter threshold (default: halfway between perfect fit
        #: and the per-batch limit — a large mass is held to a stricter
        #: standard than a single small batch).
        self.cum_drift_threshold = (
            1.0 + (drift_threshold - 1.0) / 2.0
            if cum_drift_threshold is None
            else cum_drift_threshold
        )
        self.cum_drift_mass_fraction = cum_drift_mass_fraction

    #: interactive mutations between lazy lineage compactions
    _COMPACT_EVERY = 64

    def _maybe_compact_lineage(self) -> None:
        """Cut the items plan chain after a run of interactive
        mutations (see ``_mutations_since_compact``). Lazy: no Spark
        job here; the truncation is realized by whichever action runs
        next. (On a multi-node cluster prefer a checkpoint dir for
        executor-loss durability; local mode has no such loss mode —
        same note as batch_ingest_df's eager checkpoint.)"""
        self._mutations_since_compact += 1
        if self._mutations_since_compact >= self._COMPACT_EVERY:
            self._transform_items(
                lambda df: (
                    df.localCheckpoint(eager=False)
                    if df is not None
                    else None
                )
            )
            self._mutations_since_compact = 0

    @property
    def items(self) -> DataFrame | None:
        """The corpus DataFrame. Reading it FLUSHES the interactive
        ingest buffer first (one createDataFrame + lazy union for the
        whole buffered run), so every Spark-path consumer — searches
        over an over-budget space, save(), the SQL view, external
        callers — observes a corpus that includes every ingested row.
        The micro-path deliberately bypasses this getter while its
        cache is valid (the buffered rows were absorbed into the cache
        at ingest time), which is what keeps a single-row
        ingest/search alternation free of the ~80 ms py4j
        createDataFrame floor."""
        self._flush_pending()
        return self._items_df

    @items.setter
    def items(self, df: DataFrame | None) -> None:
        # wholesale corpus replace: buffered rows belong to the corpus
        # being replaced and go with it (every INTERNAL reassign reads
        # the getter on its right-hand side first, so its buffer is
        # already empty — this branch only fires on an external
        # replace, where dropping the old corpus's tail is the point)
        with self._pending_lock:
            self._pending = []
            self._items_df = df

    def _flush_pending(self) -> None:
        """Union the buffered interactive ingests into the DataFrame.
        Job-free (createDataFrame + unionByName are both lazy); one
        flush absorbs ANY number of buffered batch_ingest calls, so
        the plan chain grows per flush, not per ingest — the lineage
        compaction counter advances here for the same reason."""
        with self._pending_lock:
            flushed = self._flush_pending_locked()
        if flushed:
            self._maybe_compact_lineage()

    def _flush_pending_locked(self) -> bool:
        """Flush body; caller holds ``_pending_lock``. Returns whether
        anything was flushed."""
        if not self._pending:
            return False
        data, self._pending = self._pending, []
        new = self.spark.createDataFrame(data, _ITEMS_SCHEMA)
        self._items_df = (
            new
            if self._items_df is None
            else self._items_df.unionByName(
                new, allowMissingColumns=True
            )
        )
        return True

    def _transform_items(self, fn) -> None:
        """Atomically replace the corpus DataFrame with ``fn(current)``.
        Every INTERNAL mutation (union-append, tombstone withColumn,
        lineage checkpoint) must go through here rather than
        ``self.items = self.items...``: the getter-then-setter form has
        a lost-update race — a concurrent ``batch_ingest`` buffering
        rows between the getter's flush and the setter (which clears
        the buffer on external replace) would silently drop them from
        the Spark-side corpus. Here the flush, the transform, and the
        assignment all happen under the buffer lock, and the buffer is
        never cleared — rows pended mid-transform stay pended and ride
        the next flush. ``fn`` only builds lazy plans (no Spark job
        runs under the lock)."""
        with self._pending_lock:
            self._flush_pending_locked()
            self._items_df = fn(self._items_df)

    def _corpus_absent(self) -> bool:
        """True when there is no corpus at all — neither a DataFrame
        nor buffered interactive rows. The flush-free twin of
        ``self.items is None`` for the micro-path's hot checks."""
        return self._items_df is None and not self._pending

    # -- ingestion (search_engine.py:81-172) ---------------------------
    def _next_id(self) -> int:
        """Next free item id — from the incrementally maintained
        counter when known (no Spark job), else one max-id agg whose
        result is cached."""
        if self._max_id is None:
            m = (
                self.items.agg(F.max("id").alias("m")).first()["m"]
                if self.items is not None
                else None
            )
            # explicit None check: `m or -1` would misread a legitimate
            # max id of 0 as empty and restart ids at 0
            self._max_id = -1 if m is None else int(m)
        return self._max_id + 1

    @_serialized_mutation
    def batch_ingest(self, rows: list[dict[str, Any]]) -> None:
        """Append (content, modality) records; embeds into the right
        space and stamps id/space/deleted columns. Spark-free on the
        driver (round 12): ids come from the maintained counter, the
        rows land in the interactive buffer (``_pending``) — flushed
        into the DataFrame lazily before the next Spark-path read —
        and valid micro-path caches are EXTENDED in place, so a steady
        ingest/search alternation never pays the per-call
        createDataFrame py4j floor (~80 ms) the round-11 profile
        measured, let alone a corpus re-collect."""
        start_id = self._next_id()
        data = []
        for i, r in enumerate(rows):
            modality = r.get("modality", "text")
            space = SPACE_OF[modality]
            data.append(
                (
                    start_id + i,
                    modality,
                    space,
                    self._embed(r["content"], space),
                    self.dim,
                    False,
                    r["content"],
                    r.get("display_name", f"item_{start_id + i}"),
                )
            )
        with self._pending_lock:
            self._pending.extend(data)
        prev_epoch = self._epoch
        self._epoch += 1
        self._max_id = start_id + len(rows) - 1
        if self._n_rows is not None:
            self._n_rows += len(rows)
        for r in rows:
            self._bump_space(SPACE_OF[r.get("modality", "text")], 1)
        self._local_cache_extend(prev_epoch, data)

    def ingest_content(self, content: str, modality: str = "text", **meta) -> None:
        self.batch_ingest([{"content": content, "modality": modality, **meta}])

    @_serialized_mutation
    def batch_ingest_df(
        self,
        df: DataFrame,
        content_col: str = "content",
        modality_col: str = "modality",
        display_name_col: str | None = None,
        embed_udf: Callable[[Column, str], Column] | None = None,
    ) -> None:
        """Bulk ingestion — the distributed twin of :meth:`batch_ingest`
        (reference ``search_engine.py:81-172``). Embedding runs on the
        EXECUTORS via the Arrow-batched pandas UDF (``embedders/fake.py``
        — the same hash-seeded generator as the driver path, so vectors
        are bit-identical), and ids are assigned contiguously with a
        two-phase prefix sum over partition counts — no driver-side
        Python loop, no global single-partition window. Use this above
        ~10⁴ rows; ``batch_ingest`` is the interactive list-of-dicts
        path.

        ``embed_udf(col, space) -> Column`` overrides the embedder for
        engines constructed with a custom ``embed_fn`` (the default fake
        UDF would not match it); ``embedders/real.py`` provides the
        CLIP/CLAP-backed equivalent.
        """
        from pyspark.sql import Window

        from multimodal_vector_db_spark.embedders.fake import fake_embed

        ef = embed_udf or (
            lambda col, space: fake_embed(col, space=space, dim=self.dim)
        )
        start_id = self._next_id()

        # pin the partition layout: the pid-count job and the id-assign
        # job must observe the SAME partitioning (AQE may otherwise
        # re-plan the scan between actions). __mono captures the
        # within-partition INPUT order off the same pinned blocks, so
        # duplicate (content, modality) rows in one partition still get
        # bit-stable relative ids across runs (the window below orders
        # on it)
        src = df.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mono", F.monotonically_increasing_id()
        ).persist()
        # one job answers both questions: per-pid counts (the id prefix
        # sum) grouped alongside modality, whose SPACE_OF image gives
        # the per-space increments the ANN coverage check tracks
        counts: dict[int, int] = {}
        space_delta: dict[str, int] = {}
        for r in (
            src.groupBy("__pid", modality_col)
            .agg(F.count("*").alias("cnt"))
            .collect()
        ):
            counts[r["__pid"]] = counts.get(r["__pid"], 0) + r["cnt"]
            sp = SPACE_OF.get(r[modality_col], "clip")
            space_delta[sp] = space_delta.get(sp, 0) + r["cnt"]
        running, offsets = 0, []
        for pid in sorted(counts):
            offsets.append((pid, running))
            running += counts[pid]
        off_df = F.broadcast(
            self.spark.createDataFrame(offsets, "__pid int, __off long")
        )
        # within-partition row numbers: the window key is __pid itself,
        # so each shuffle group is exactly one input partition — a
        # balanced exchange, never a global sort into one task. Ordered
        # by the captured input position — total (no duplicate-content
        # ties), so ids are deterministic row-for-row
        w = Window.partitionBy("__pid").orderBy(F.col("__mono"))
        space = F.coalesce(
            F.create_map(
                *[F.lit(x) for kv in SPACE_OF.items() for x in kv]
            )[F.col(modality_col)],
            F.lit("clip"),
        )
        display = (
            F.col(display_name_col)
            if display_name_col is not None
            else F.concat(
                F.lit("item_"), F.col("__new_id").cast("string")
            )
        )
        try:
            new = (
                src.join(off_df, on="__pid")
                .withColumn("__rn", F.row_number().over(w) - 1)
                .withColumn(
                    "__new_id", F.lit(start_id) + F.col("__off") + F.col("__rn")
                )
                .withColumn("__space", space)
                .select(
                    F.col("__new_id").alias("id"),
                    F.col(modality_col).alias("modality"),
                    F.col("__space").alias("space"),
                    F.when(
                        F.col("__space") == "clap",
                        ef(F.col(content_col), "clap"),
                    )
                    .otherwise(ef(F.col(content_col), "clip"))
                    .alias("embedding"),
                    F.lit(self.dim).alias("dim"),
                    F.lit(False).alias("deleted"),
                    F.col(content_col).alias("content"),
                    display.alias("display_name"),
                )
            )
            # Materialize NOW and truncate lineage: ids derived from the
            # pinned partition layout are frozen into the checkpointed
            # blocks, so `src`'s cache can be released immediately —
            # repeated bulk ingests no longer accumulate pinned blocks
            # for the session lifetime. (Eager embedding also matches the
            # reference's ingest-time embedding semantics,
            # search_engine.py:81-172. On a multi-node cluster prefer
            # `spark.sparkContext.setCheckpointDir` + `.checkpoint()` for
            # executor-loss durability; local mode has no such loss mode.)
            new = new.localCheckpoint(eager=True)
        finally:
            src.unpersist()
        self._transform_items(
            lambda cur: (
                new
                if cur is None
                else cur.unionByName(new, allowMissingColumns=True)
            )
        )
        self._epoch += 1
        self._max_id = start_id + running - 1
        if self._n_rows is not None:
            self._n_rows += running  # total of the partition counts
        for sp, n in space_delta.items():
            self._bump_space(sp, n)

    @_serialized_mutation
    def remove(self, ids: list[int]) -> None:
        """Soft delete — and unlike the reference's write-only tombstone
        (vector_index.py:212-222), every search honors it. Valid
        micro-path caches are PRUNED in place (tombstoned rows leave
        the active view), so interleaved remove/search stays
        collect-free like the ingest path."""
        self._transform_items(
            lambda cur: cur.withColumn(
                "deleted",
                F.when(F.col("id").isin(ids), F.lit(True)).otherwise(
                    F.col("deleted")
                ),
            )
        )
        prev_epoch = self._epoch
        self._epoch += 1
        drop = np.array(sorted(set(ids)), dtype=np.int64)
        for space, cached in list(self._local_cache.items()):
            if cached["epoch"] != prev_epoch:
                continue  # already stale — rebuilds lazily
            self._local_cache[space] = self._local_cache_pruned(
                cached, ~np.isin(cached["ids"], drop)
            )
        self._maybe_compact_lineage()

    # -- ANN route (SURVEY §4's deferred planner rule, rounds 8-9) ------
    def build_ann_index(
        self,
        space: str = "clip",
        n_clusters: int | None = None,
        seed: int = 42,
        calibrate: bool = True,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
        calibration_filters: tuple[str, ...] = (),
    ) -> dict:
        """Fit the IVF coarse index the ``route="auto"`` planner can
        choose: MLlib KMeans over the CURRENT live rows of ``space``
        (sqrt(N) cells by default — the scan-fraction scaling the
        ref-scale bench family uses), assignment kept as a slim
        ``(id, cluster_id)`` frame joined back at query time so
        tombstones and predicates keep working unchanged. Returns the
        build stats.

        **Per-index recall calibration** (round 9, on by default): the
        module used to pin a recall_floor→nprobe-fraction map measured
        on THIS repo's bench corpora — an unseen corpus with a
        different cluster balance could get materially less recall
        than the declared floor. Now the build samples
        ``calibration_queries`` corpus rows (deterministic xxhash64
        order), runs them through the exact path AND the IVF path at
        each ``calibration_fractions`` point, and stores the MEASURED
        recall@``calibration_k`` curve (self-hits excluded on both
        sides) plus the measured per-query wall costs in the index
        manifest. The planner then routes from the measured curve: the
        cheapest point whose measured recall meets the caller's floor,
        and exact when no point does — the floor is honored on the
        corpus actually being served, not on a corpus the module
        author benchmarked. The timing pair also powers the
        measured-cost exact-vs-IVF crossover (see :meth:`_route`).
        Calibration cost is ~(1 + |fractions|) bounded batch jobs —
        small next to the KMeans fit (measured in BENCH
        ``ann_calibration`` section).

        Rows ingested AFTER the build are absorbed by
        :meth:`append_to_ann_index` (auto-invoked by the route when
        ``ann_auto_append``); a drifted append disables the IVF route
        until rebuild."""
        import math

        from multimodal_vector_db_spark.operators.ann import (
            ivf_fit_assign,
        )

        if calibration_filters and not calibrate:
            raise ValueError(
                "build_ann_index: calibration_filters requires "
                "calibrate=True — a filter curve is a measurement; "
                "without it filtered searches would silently keep the "
                "exact fallback"
            )
        corpus = active(self.items).where(F.col("space") == space)
        n = corpus.count()
        if n_clusters is None:
            n_clusters = max(2, int(math.isqrt(n)))
        assigned, centroids, cost = ivf_fit_assign(
            corpus.select("id", "embedding"),
            n_clusters=n_clusters,
            seed=seed,
            return_cost=True,
        )
        info: dict[str, Any] = {
            "assign": assigned.select("id", "cluster_id").localCheckpoint(
                eager=True
            ),
            "centroids": centroids,
            "rows_at_build": self._space_rows(space),
            # build-time cohesion baseline for the drift check: mean
            # squared row→centroid distance (KMeans trainingCost / N)
            "mean_sq_dist": cost / max(n, 1),
            "appended_rows": 0,
            "drift": None,
            "cum_appended_sq": 0.0,
            "cum_drift": None,
            "drifted": False,
            "calibration": None,
            "filter_calibrations": {},
        }
        if calibrate and n > 0:
            self._run_calibration(
                corpus,
                info,
                calibration_queries,
                calibration_k,
                calibration_fractions,
            )
            # measured FILTERED-ANN (round 10): the unfiltered curve is
            # honest only unfiltered — a selective content-type filter
            # concentrates the true top-k into cells nprobe may skip,
            # which is why filtered searches routed exact. For each
            # declared filter value the index measures a SEPARATE
            # recall/cost curve on the FILTERED corpus (exact ground
            # truth and IVF candidates both filter-restricted, exactly
            # as serving applies the predicate), and the route honors a
            # floor under that filter from ITS curve. Filters not
            # declared here keep the exact fallback.
            for m in calibration_filters:
                self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=calibration_queries,
                    calibration_k=calibration_k,
                    calibration_fractions=calibration_fractions,
                    _info=info,
                )
        self._ann[space] = info
        return {
            "space": space,
            "n_clusters": n_clusters,
            "rows": n,
            "calibration": info["calibration"],
            "filter_calibrations": sorted(info["filter_calibrations"]),
        }

    def calibrate_filter(
        self,
        space: str,
        modality: str,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
        _info: dict | None = None,
    ) -> dict | None:
        """Measure (or refresh) THIS index's recall/cost curve under a
        ``filter_content_type=modality`` predicate — the curve
        :meth:`search`'s route consults for filtered searches with a
        declared floor (see :meth:`build_ann_index`). Ground truth and
        IVF candidates are both restricted to the filtered rows, the
        exact shape the serving path executes. Returns the measured
        curve (also stored on the index), or None when the filter
        matches no live rows — in which case any previously stored
        curve is PURGED (it referenced rows that no longer exist, and
        the route must fall back to exact, not serve from it).

        Direct calls serialize on the index-maintenance lock like
        every other mutation; internal callers already under it (or
        pre-publication, in :meth:`build_ann_index`) pass ``_info``."""
        if _info is None:
            # the info dict is re-fetched INSIDE the lock: build/attach/
            # maintain publish a fresh info dict (without holding the
            # lock), so an info captured before acquisition could be the
            # replaced, dead one — the measured curve would be written
            # into a dict no route ever reads again
            with self._ann_lock:
                info = self._ann.get(space)
                if info is None:
                    raise ValueError(
                        f"calibrate_filter: no ANN index for space "
                        f"{space!r}; call build_ann_index first"
                    )
                return self.calibrate_filter(
                    space,
                    modality,
                    calibration_queries,
                    calibration_k,
                    calibration_fractions,
                    _info=info,
                )
        info = _info
        corpus = active(self.items).where(
            (F.col("space") == space) & (F.col("modality") == modality)
        )
        if corpus.limit(1).count() == 0:
            info.get("filter_calibrations", {}).pop(modality, None)
            return None
        curve = self._calibrate_ann(
            corpus.select("id", "embedding"),
            info,
            n_queries=calibration_queries,
            k=calibration_k,
            fractions=(
                _CALIBRATION_FRACTIONS
                if calibration_fractions is None
                else calibration_fractions
            ),
        )
        # staleness marker: the SPACE row count at measurement time —
        # a cheap proxy (the true filtered count would cost a count
        # job per route check); the curve refreshes when the space
        # grows past recalibration_fraction, independent of whether a
        # main curve exists
        curve["space_rows_at_calibration"] = self._space_rows(space)
        info.setdefault("filter_calibrations", {})[modality] = curve
        return curve

    @staticmethod
    def _curve_for(info: dict, filter_key: str | None) -> dict | None:
        """The calibration curve a plan/gate should read: the filter's
        own measured curve when one is requested, else the main one —
        ONE definition so the planner and the cost gate can never read
        different curves."""
        if filter_key is not None:
            return info.get("filter_calibrations", {}).get(filter_key)
        return info.get("calibration")

    def _run_calibration(
        self,
        corpus: DataFrame,
        info: dict,
        n_queries: int,
        k: int,
        fractions: tuple[float, ...] | None,
    ) -> None:
        """Shared calibration entry for built AND attached indexes —
        one definition so both get the identical measured contract."""
        info["calibration"] = self._calibrate_ann(
            corpus.select("id", "embedding"),
            info,
            n_queries=n_queries,
            k=k,
            fractions=(
                _CALIBRATION_FRACTIONS if fractions is None else fractions
            ),
        )

    def _main_curve_stale(self, space: str, info: dict) -> bool:
        # a curve with NO rows_at_calibration marker (manifests saved
        # before round 10, reloaded via load()) counts as stale the
        # moment the space has any rows — the same semantics as
        # _stale_filter_keys' missing-marker default; treating it as
        # never-stale would pin a pre-marker curve forever no matter
        # how much the corpus grows
        cal = info.get("calibration")
        return bool(
            cal
            and cal.get("points")
            and self._space_rows(space)
            > (cal.get("rows_at_calibration") or 0)
            * (1.0 + self.recalibration_fraction)
        )

    def _stale_filter_keys(self, space: str, info: dict) -> list[str]:
        """Filter curves whose space-rows staleness marker has been
        outgrown — checked INDEPENDENTLY of the main curve (an index
        built with calibrate=False but a calibrated filter must still
        refresh that filter; curves persisted before the marker
        existed count as stale once the space grows at all)."""
        rows = self._space_rows(space)
        return [
            m
            for m, fcal in info.get("filter_calibrations", {}).items()
            if rows
            > fcal.get("space_rows_at_calibration", 0)
            * (1.0 + self.recalibration_fraction)
        ]

    def _maybe_recalibrate(self, space: str, info: dict) -> float | None:
        """Refresh STALE calibration curves: when the live corpus of
        ``space`` has outgrown a curve's measured row count by more
        than ``recalibration_fraction``, re-run the same measured
        recall/cost calibration on the CURRENT corpus (so appended
        rows are eligible as sampled queries and present in the exact
        ground truth) at the same n_queries/k/fractions as the stored
        curve. The main curve and each FILTER curve are checked
        independently (each carries its own measurement marker).
        Serialized on the index-maintenance lock; the staleness checks
        repeat inside it so concurrent searches refresh once. NOTE the
        refresh runs lazily on the serving path (unless
        ``defer_recalibration`` routes stale-curve searches exact and
        leaves this to :meth:`maintain`) — its cost is surfaced on
        ``last_route["calibration_sec"]`` when it does run inline.
        Returns the total measured calibration wall seconds, or None
        when nothing was stale."""
        if not (
            self._main_curve_stale(space, info)
            or self._stale_filter_keys(space, info)
        ):
            return None
        with self._ann_lock:
            total = 0.0
            did = False
            if self._main_curve_stale(space, info):
                cal = info["calibration"]
                corpus = active(self.items).where(
                    F.col("space") == space
                )
                self._run_calibration(
                    corpus,
                    info,
                    cal.get("n_queries", 64),
                    cal.get("k", 10),
                    tuple(p["fraction"] for p in cal["points"]) or None,
                )
                total += info["calibration"].get("calibration_sec", 0.0)
                did = True
            for m in self._stale_filter_keys(space, info):
                fcal = info["filter_calibrations"][m]
                curve = self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=fcal.get("n_queries", 64),
                    calibration_k=fcal.get("k", 10),
                    calibration_fractions=(
                        tuple(p["fraction"] for p in fcal["points"])
                        or None
                    ),
                    _info=info,
                )
                if curve is not None:
                    total += curve.get("calibration_sec", 0.0)
                did = True
            return total if did else None

    def _calibrate_ann(
        self,
        corpus: DataFrame,
        info: dict,
        n_queries: int,
        k: int,
        fractions: tuple[float, ...],
    ) -> dict:
        """Measure THIS index's recall/cost curve (see
        :meth:`build_ann_index`). Queries are corpus rows picked by a
        deterministic xxhash64 top-N (one bounded TakeOrdered collect —
        no full-id collect, scale-safe); BOTH sides are ranked top-k
        lists after each query's self-hit is dropped (fetched at k+1),
        so neither a guaranteed self-cell hit nor an extra surviving
        candidate can inflate the measured recall.

        Costs are measured at TWO depths: the batch walls (all
        ``n_queries`` through one job — what ``search_batch`` pays
        per query) and single-query walls (one query per job — what a
        lone ``search`` pays; the batch numbers misprice it in both
        directions: the exact batch amortizes the corpus scan over
        every query while the IVF batch probes the UNION of all
        queries' cells)."""
        import math
        import time

        from multimodal_vector_db_spark.operators.ann import (
            ivf_search_blocked,
        )
        from multimodal_vector_db_spark.operators.knn import (
            knn_join_blocked,
        )

        t_start = time.time()
        qrows = (
            corpus.select("id", "embedding")
            .orderBy(F.xxhash64(F.col("id")), F.col("id"))
            .limit(n_queries)
            .collect()
        )
        queries = [
            (i, [float(x) for x in r["embedding"]])
            for i, r in enumerate(qrows)
        ]
        self_id = {i: r["id"] for i, r in enumerate(qrows)}
        def _topk_after_self(rows) -> dict[int, list[int]]:
            out: dict[int, list[int]] = {i: [] for i, _ in queries}
            for r in sorted(
                rows, key=lambda r: (r["query_id"], -r["sim"], r["id"])
            ):
                qi = r["query_id"]
                if r["id"] != self_id[qi] and len(out[qi]) < k:
                    out[qi].append(r["id"])
            return out

        def _median_wall_ms(fn, samples: int = 3) -> float:
            # single-query walls are one small job each — dominated by
            # scheduling jitter on small corpora, so the dispatch they
            # feed (the exact-vs-IVF cost gate) takes the median of 3
            # instead of trusting one sample (batch walls already
            # amortize over n_queries and stay single-sample)
            walls = []
            for _ in range(samples):
                t0 = time.time()
                fn()
                walls.append((time.time() - t0) * 1000.0)
            walls.sort()
            return walls[len(walls) // 2]

        slim = corpus.select("id", "embedding").persist()
        assigned = slim.join(info["assign"], "id").persist()
        q_one = queries[:1]
        try:
            n_rows = slim.count()
            t0 = time.time()
            exact_rows = knn_join_blocked(slim, queries, k=k + 1).collect()
            exact_ms = (time.time() - t0) * 1000.0 / max(len(queries), 1)
            truth = _topk_after_self(exact_rows)
            exact_ms_single = _median_wall_ms(
                lambda: knn_join_blocked(slim, q_one, k=k + 1).collect()
            )
            n_cells = len(info["centroids"])
            points = []
            for frac in sorted(fractions):
                nprobe = max(1, math.ceil(frac * n_cells))
                t0 = time.time()
                got_rows = ivf_search_blocked(
                    assigned,
                    queries,
                    info["centroids"],
                    k=k + 1,
                    nprobe=nprobe,
                    probe_metric="l2",
                ).collect()
                ivf_ms = (time.time() - t0) * 1000.0 / max(len(queries), 1)
                ivf_ms_single = _median_wall_ms(
                    lambda: ivf_search_blocked(
                        assigned,
                        q_one,
                        info["centroids"],
                        k=k + 1,
                        nprobe=nprobe,
                        probe_metric="l2",
                    ).collect()
                )
                got = _topk_after_self(got_rows)
                recs = [
                    len(set(got[qi]) & set(t)) / len(t)
                    for qi, t in truth.items()
                    if t
                ]
                points.append(
                    {
                        "fraction": frac,
                        "nprobe": nprobe,
                        "recall": (
                            sum(recs) / len(recs) if recs else 1.0
                        ),
                        "ms_per_q": ivf_ms,
                        "ms_single": ivf_ms_single,
                    }
                )
        finally:
            slim.unpersist()
            assigned.unpersist()
        return {
            "points": points,  # ascending fraction
            "exact_ms_per_q": exact_ms,
            "exact_ms_single": exact_ms_single,
            "k": k,
            "n_queries": len(queries),
            # which corpus rows served as calibration queries — the
            # staleness test's evidence that a RE-calibration's ground
            # truth covers appended ids (they enter the xxhash64 sample)
            "query_ids": sorted(self_id.values()),
            # corpus size the curve was measured on; the route
            # re-calibrates when the live corpus outgrows this by
            # ``recalibration_fraction`` (round 10)
            "rows_at_calibration": n_rows,
            "calibration_sec": round(time.time() - t_start, 3),
        }

    def attach_ann_index(
        self,
        space: str,
        path: str,
        calibrate: bool = True,
        calibration_queries: int = 64,
        calibration_k: int = 10,
        calibration_fractions: tuple[float, ...] | None = None,
    ) -> dict:
        """Serve from an IVF index that lives ON DISK — the artifact
        :func:`~multimodal_vector_db_spark.operators.ann.build_ivf_index`
        writes and ``streaming.vector_refresh_stream`` maintains
        incrementally. This closes the remaining loop between the
        batch/streaming index machinery and the serving front door: a
        pipeline can build + refresh the index out-of-band (cluster
        jobs, a streaming query) and any engine attaches it in O(1)
        build work.

        The attached ``(id, cluster_id)`` assignment is a SNAPSHOT of
        the files present at attach time (re-attach to pick up later
        stream appends); ids must be item ids of ``space``'s rows.
        Rows of the space NOT covered by the artifact are absorbed by
        the normal auto-append path. The drift baseline is computed
        from the artifact itself (one bounded agg: mean squared
        distance of assigned rows to their centroids); calibration
        runs exactly as in :meth:`build_ann_index` so the recall-floor
        contract is measured on THIS corpus, not assumed from the
        builder's."""
        from multimodal_vector_db_spark.operators.ann import (
            open_ivf_index,
        )

        assigned, centroids = open_ivf_index(self.spark, path)
        assign = assigned.select("id", "cluster_id")
        corpus = active(self.items).where(F.col("space") == space)
        # drift baseline from the artifact: |x - c|^2 per covered row,
        # centroids joined as a BROADCAST frame (a literal centroid
        # matrix would plan O(n_clusters x dim) expression nodes — the
        # same blow-up nearest_centroid hits past ~16 cells)
        covered = corpus.select("id", "embedding").join(assign, "id")
        cdf = F.broadcast(
            self.spark.createDataFrame(
                [(i, [float(v) for v in c]) for i, c in enumerate(centroids)],
                "cluster_id int, __centroid array<double>",
            )
        )
        sq = F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.col("__centroid"),
                lambda x, c: (x - c) * (x - c),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        stats = covered.join(cdf, "cluster_id").select(sq.alias("sq")).agg(
            F.count("*").alias("n"), F.sum("sq").alias("s")
        ).first()
        n_cov = stats["n"]
        if n_cov == 0:
            # fail fast on an id-domain mismatch: silently attaching a
            # zero-coverage artifact would yield a 0.0 drift baseline,
            # and the first auto-append would then latch the index
            # drifted with a nonsensical ratio
            raise ValueError(
                f"attach_ann_index: artifact at {path!r} covers no "
                f"active rows of space {space!r} — its ids do not "
                "match the corpus item ids"
            )
        info: dict[str, Any] = {
            "assign": assign.localCheckpoint(eager=True),
            "centroids": centroids,
            # covered rows only: uncovered ones go through auto-append,
            # which compares its batch against this baseline
            "rows_at_build": n_cov,
            "mean_sq_dist": (stats["s"] or 0.0) / max(n_cov, 1),
            "appended_rows": 0,
            "drift": None,
            "cum_appended_sq": 0.0,
            "cum_drift": None,
            "drifted": False,
            "calibration": None,
            "filter_calibrations": {},
        }
        self._ann[space] = info
        if self._space_rows(space) != n_cov:
            # absorb rows the artifact predates (and measure their drift)
            self.append_to_ann_index(space)
        if calibrate:
            self._run_calibration(
                corpus,
                info,
                calibration_queries,
                calibration_k,
                calibration_fractions,
            )
        return {
            "space": space,
            "n_clusters": len(centroids),
            "rows": n_cov,
            "appended": info["appended_rows"],
            "calibration": info["calibration"],
        }

    def append_to_ann_index(self, space: str = "clip") -> dict:
        """Incremental IVF maintenance at the facade (round 9 — the
        reference serves ingest-then-search from ONE mutable index,
        ``search_engine.py:81-131`` + ``:174-223``; our batch layer
        already had ``ann.py:ivf_append`` and the streaming refresh,
        this wires the same move into the serving front door): rows of
        ``space`` added since the build/last append are assigned to
        the EXISTING centroids — the same L2 rule MLlib KMeans used,
        so boundary rows land where a rebuild would put them — and
        merged into the assignment frame; the covered-row count
        updates so the auto route keeps choosing IVF.

        **Drift contract**: each appended batch's mean squared
        centroid distance is compared to the build-time baseline
        (KMeans trainingCost / N), and (round 10) the
        appended-mass-weighted CUMULATIVE ratio is checked against the
        tighter ``cum_drift_threshold`` once appended rows exceed
        ``cum_drift_mass_fraction`` of the index — a stream of batches
        each marginally under the per-batch limit can collectively
        stop fitting the cells, and the per-batch statistic alone
        never sees that. A ratio above ``drift_threshold``
        means the new rows don't live in the fitted cell structure —
        nprobe'd recall on them is unknowable — so the index is
        flagged ``drifted`` and the auto route falls back to exact
        until :meth:`build_ann_index` re-fits. Appends stay cheap:
        one blocked assignment pass over only the NEW rows plus a
        slim-id anti-join to find them (the only age-dependent term —
        asymptotically linear in the id column like the replay
        guard's legacy tier, measured FLAT on this box: SCALE_PROBE
        ``ann_append_vs_index_age``); the rebuild trigger is the
        measured drift, not every ingest."""
        from multimodal_vector_db_spark.operators.ann import (
            ivf_assign_blocked,
        )

        info = self._ann.get(space)
        if info is None:
            raise ValueError(
                f"append_to_ann_index: no ANN index for space {space!r}; "
                "call build_ann_index first"
            )
        # mutation is serialized: without the lock two concurrent
        # searches that both observe stale coverage would anti-join
        # against the SAME old assignment and union the new rows twice
        # (duplicate candidates in every later IVF top-k)
        with self._ann_lock:
            info = self._ann[space]
            if info["drifted"]:
                # a drifted index is frozen until rebuild/attach:
                # merging more rows (however cohesive) cannot restore
                # the fitted-cell contract, and overwriting `drift`
                # would make the logged reason contradict the latch
                return {
                    "space": space,
                    "appended": 0,
                    "drift": info["drift"],
                    "drifted": True,
                }
            # SNAPSHOT the coverage target BEFORE capturing the corpus:
            # a concurrent batch_ingest landing between the corpus
            # capture and the bookkeeping below bumps _space_rows, and
            # reading the counter at the END would mark those rows
            # covered without ever assigning them — silently missing
            # from every later IVF top-k. With the snapshot, rows
            # ingested mid-append still read as uncovered on the next
            # route pass and get their own append.
            target = self._space_rows(space)
            if target == info["rows_at_build"]:
                # another caller already absorbed this ingest
                return {
                    "space": space,
                    "appended": 0,
                    "drift": info["drift"],
                    "drifted": False,
                }
            corpus = active(self.items).where(F.col("space") == space)
            new_rows = corpus.select("id", "embedding").join(
                info["assign"].select("id"), "id", "left_anti"
            )
            assigned_new = ivf_assign_blocked(
                new_rows, info["centroids"], metric="l2", dist_col="__sq"
            ).localCheckpoint(eager=True)
            stats = assigned_new.agg(
                F.count("*").alias("n"), F.sum("__sq").alias("sq")
            ).first()
            n_new = stats["n"]
            if n_new:
                batch_mean = stats["sq"] / n_new
                base = max(info["mean_sq_dist"], 1e-12)
                info["drift"] = batch_mean / base
                info["assign"] = (
                    info["assign"]
                    .unionByName(assigned_new.select("id", "cluster_id"))
                    .localCheckpoint(eager=True)
                )
                info["appended_rows"] += n_new
                # cumulative (appended-mass-weighted) drift alongside
                # the per-batch one: a stream of batches each marginally
                # under the threshold still latches once the appended
                # mass is a material share of the index AND its weighted
                # mean ratio exceeds the tighter cumulative threshold
                info["cum_appended_sq"] = (
                    info.get("cum_appended_sq", 0.0) + stats["sq"]
                )
                info["cum_drift"] = (
                    info["cum_appended_sq"] / info["appended_rows"]
                ) / base
                if info["drift"] > self.drift_threshold:
                    info["drifted"] = True
                elif (
                    info["appended_rows"]
                    >= self.cum_drift_mass_fraction * max(target, 1)
                    and info["cum_drift"] > self.cum_drift_threshold
                ):
                    info["drifted"] = True
            info["rows_at_build"] = target
            return {
                "space": space,
                "appended": n_new,
                "drift": info["drift"],
                "cum_drift": info.get("cum_drift"),
                "drifted": info["drifted"],
            }

    def maintain(
        self, space: str = "clip", rebuild_on_drift: bool = False
    ) -> dict:
        """One housekeeping entry point for an index's background
        upkeep — what a scheduled job (or a streaming trigger's
        foreachBatch tail) calls so the SERVING path never pays
        maintenance latency: absorb uncovered rows
        (:meth:`append_to_ann_index`), refresh a stale calibration
        curve (:meth:`_maybe_recalibrate`'s contract), and — when
        ``rebuild_on_drift`` — re-fit a drift-latched index with
        :meth:`build_ann_index` instead of leaving it frozen on the
        exact fallback. The auto route performs the first two lazily
        on the hot path anyway; calling this off-path moves that work
        to the maintainer, which is the 100 TB deployment shape
        (reference: the mutable index is maintained by its ingest
        path, ``search_engine.py:81-131``; ours separates serve from
        maintain). Returns what happened:
        ``{appended, drift, drifted, recalibrated, rebuilt}``."""
        info = self._ann.get(space)
        if info is None:
            raise ValueError(
                f"maintain: no ANN index for space {space!r}; call "
                "build_ann_index first"
            )
        st = self.append_to_ann_index(space)
        rebuilt = False
        if info["drifted"] and rebuild_on_drift:
            cal = info.get("calibration")
            old_filters = dict(info.get("filter_calibrations", {}))
            # n_clusters re-derives from the CURRENT corpus (sqrt(N) —
            # the build default): a rebuild exists because the corpus
            # outgrew the fitted structure, so pinning the old cell
            # count would freeze the scan fraction at the old scale
            self.build_ann_index(
                space,
                calibrate=cal is not None,
                calibration_queries=(
                    cal.get("n_queries", 64) if cal else 64
                ),
                calibration_k=cal.get("k", 10) if cal else 10,
                calibration_fractions=(
                    tuple(p["fraction"] for p in cal["points"]) or None
                    if cal and cal.get("points")
                    else None
                ),
            )
            info = self._ann[space]
            # re-measure every previously calibrated filter against the
            # re-fit cells — a rebuild must not silently demote filtered
            # searches back to the exact fallback
            for m, fcal in old_filters.items():
                self.calibrate_filter(
                    space,
                    m,
                    calibration_queries=fcal.get("n_queries", 64),
                    calibration_k=fcal.get("k", 10),
                    calibration_fractions=(
                        tuple(p["fraction"] for p in fcal["points"])
                        or None
                    ),
                )
            rebuilt = True
        recal_sec = self._maybe_recalibrate(space, info)
        # clear the deferred-serve telemetry: maintain() just performed
        # the upkeep the deferrals were waiting on (round 12 — the
        # counter exists so operators can alert on a deployment that
        # never calls this; see _route's deferred branch)
        deferred_cleared = info.pop("n_deferred_serves", 0)
        info.pop("deferred_since", None)
        return {
            "space": space,
            "appended": st["appended"],
            "drift": info["drift"],
            "drifted": info["drifted"],
            "recalibrated": recal_sec is not None,
            "calibration_sec": recal_sec,
            "rebuilt": rebuilt,
            "deferred_serves_cleared": deferred_cleared,
        }

    #: UNCALIBRATED fallback (``build_ann_index(calibrate=False)``):
    #: recall_floor → fraction of cells probed, from the repo's own
    #: measured curves (bench_detail ivf_nprobe_curve_*, 44k/16×/64×):
    #: 1/8 of cells gave R@10 ≥ 0.95 on clustered (planted) data but
    #: only ~0.8 on the hard mixture, so floors above 0.8 may NOT map
    #: to the 1/8 point (round-8's map let a 0.9 floor ride it); 1/4
    #: gave ≥ 0.95 on the mixture; tighter floors get 1/2. These are
    #: this box's corpora — a calibrated index routes from ITS OWN
    #: measured curve instead (the honest per-corpus contract).
    _NPROBE_FRACTION = ((0.8, 0.125), (0.95, 0.25), (1.0, 0.5))

    def _ivf_plan(
        self,
        space: str,
        recall_floor: float,
        batch: bool = False,
        filter_key: str | None = None,
    ) -> tuple[int | None, float | None, str]:
        """Pick nprobe for a declared floor: from the index's own
        measured calibration curve when present (cheapest point whose
        measured recall meets the floor; ``None`` if no point does —
        the caller must go exact), else from the module-level
        ``_NPROBE_FRACTION`` fallback. With ``filter_key`` the plan
        reads the FILTERED curve measured by :meth:`calibrate_filter`
        (the caller guarantees one exists). The returned cost estimate
        is depth-matched: batch callers get the batch-amortized wall,
        single callers the single-query wall (falling back to the
        batch number for calibrations persisted before round 9).
        Returns ``(nprobe | None, measured_ivf_ms | None, why)``."""
        import math

        info = self._ann[space]
        cal = self._curve_for(info, filter_key)
        if cal and cal.get("points"):  # empty points → fraction map

            def _est(p: dict) -> float:
                return (
                    p["ms_per_q"]
                    if batch
                    else p.get("ms_single", p["ms_per_q"])
                )

            tag = (
                f"calibrated[filter={filter_key}]"
                if filter_key is not None
                else "calibrated"
            )
            ok = [p for p in cal["points"] if p["recall"] >= recall_floor]
            if ok:
                # CHEAPEST measured point meeting the floor — by the
                # depth-matched wall, not the first ascending fraction:
                # measured ms need not be monotone in fraction (job
                # overhead dominates small nprobe deltas), so
                # first-qualifying could pick a slower probe. Fraction
                # tie-breaks equal walls toward fewer cells.
                p = min(ok, key=lambda p: (_est(p), p["fraction"]))
                return (
                    p["nprobe"],
                    _est(p),
                    (
                        f"{tag}: frac={p['fraction']} measured "
                        f"R@{cal['k']}={p['recall']:.3f} >= floor"
                    ),
                )
            best = max(p["recall"] for p in cal["points"])
            return (
                None,
                None,
                (
                    f"{tag} curve max R@{cal['k']}={best:.3f} < "
                    f"floor {recall_floor}"
                ),
            )
        if filter_key is not None:
            # no measured curve under this filter — the fraction-map
            # fallback was never measured filtered, so it cannot
            # honor the floor here
            return (
                None,
                None,
                f"no measured curve for filter={filter_key!r}",
            )
        n_cells = len(info["centroids"])
        for bound, frac in self._NPROBE_FRACTION:
            if recall_floor <= bound:
                return (
                    max(1, math.ceil(frac * n_cells)),
                    None,
                    f"uncalibrated fraction map ({frac})",
                )
        return n_cells, None, "uncalibrated (probe all cells)"

    def _route(
        self,
        space: str,
        recall_floor: float,
        route: str,
        approximate: bool,
        threshold_cells: int | None = None,
        scorer: str = "auto",
        filter_key: str | None = None,
        has_predicate: bool = False,
        batch: bool = False,
    ) -> tuple[bool, str, int | None, dict[str, Any]]:
        """The auto planner: IVF iff the caller declared slack
        (recall_floor < 1), an index covering the current corpus
        exists (post-build ingests are absorbed by auto-append), the
        index can MEET the floor on its measured curve, and IVF is the
        measured-cheaper path (calibrated timings; size threshold as
        the uncalibrated fallback — ``threshold_cells`` defaults to
        the single-query size×dim threshold; ``search_batch`` passes
        the batch one). An explicit exact ``scorer`` wins over the
        approximate route — ``scorer="blocked"``/``"hof"`` is the
        documented exact-parity surface and must never silently return
        approximate results. Returns (use_ivf, reason, nprobe, extras)
        — the reason is logged on ``last_route`` either way, with any
        per-decision annotations (calibration cost/deferral) in the
        returned ``extras`` dict. Extras are a RETURN value, not
        instance state: the facade serves concurrent searches, and a
        shared mutable attribute would let two calls cross-contaminate
        each other's ``last_route`` annotations."""
        extras: dict[str, Any] = {}
        if route == "ivf":
            if scorer != "auto":
                # an explicit scorer is the documented EXACT-parity
                # surface ("must never silently return approximate
                # results") — combining it with a forced approximate
                # route is a contradiction we refuse rather than
                # silently resolving either way
                raise ValueError(
                    f'route="ivf" conflicts with explicit scorer='
                    f"{scorer!r}: an explicit scorer forces the exact "
                    "path; drop one of the two arguments"
                )
            if self._ann.get(space) is None:
                raise ValueError(
                    f'route="ivf" requires build_ann_index(space='
                    f"{space!r}) — no ANN index exists for this space"
                )
            # plan from the filtered curve when one was measured — a
            # forced route must still probe at the depth the FILTERED
            # measurement says the floor needs
            fk = (
                filter_key
                if self._curve_for(self._ann[space], filter_key)
                is not None
                else None
            )
            nprobe, _ms, _why = self._ivf_plan(
                space, recall_floor, filter_key=fk
            )
            if nprobe is None:
                # forced route is honored; probe every cell (exhaustive
                # IVF) rather than silently under-delivering the floor
                nprobe = len(self._ann[space]["centroids"])
            return True, "forced", nprobe, extras
        if route != "auto":
            return False, "forced-exact", None, extras
        if scorer != "auto":
            return (
                False,
                f"explicit scorer={scorer!r} forces the exact path "
                "(exact-parity surface wins over route)",
                None,
                extras,
            )
        if approximate:
            return False, "binary-shortlist requested", None, extras
        if has_predicate:
            # arbitrary-Column-predicate honesty: recall under a
            # predicate the engine cannot enumerate is unmeasurable, so
            # the declared floor is only honorable exactly. The
            # reference over-fetches k*10 for the same reason
            # (vector_index.py:129); our exact path pushes the
            # predicate below the scan instead. (A content-type filter
            # CAN route IVF — from its own measured curve; see below.)
            return False, (
                "explicit Column predicate present — recall under an "
                "arbitrary predicate is unmeasured, so the exact path "
                "honors the floor"
            ), None, extras
        if recall_floor >= 1.0:
            return False, "recall_floor=1.0 requires exact", None, extras
        info = self._ann.get(space)
        if info is None:
            return False, f"no ANN index for space {space!r}", None, extras

        def _drift_reason() -> str:
            return (
                f"embedding drift {info['drift']:.2f}x exceeds "
                f"threshold {self.drift_threshold}; rebuild to re-enable"
            )

        if info["drifted"]:
            return False, _drift_reason(), None, extras
        # Coverage maintenance and calibration staleness run BEFORE the
        # floor/cost gates (round-10 review fix): a STALE curve can fail
        # the floor or cost gate in exactly the situations a refresh
        # would reverse — e.g. a curve measured at N rows whose recall
        # just missed the floor pins the route to a full scan of the
        # now-10×-grown corpus forever, and a stale (small-corpus)
        # exact_ms under-prices the exact scan precisely when the corpus
        # has grown most. The gates must therefore see a curve measured
        # on the corpus being served.
        if self._space_rows(space) != info["rows_at_build"]:
            if self.ann_auto_append:
                self.append_to_ann_index(space)
                if info["drifted"]:  # this append latched it
                    return False, _drift_reason(), None, extras
            else:
                return False, (
                    "corpus changed since ANN build "
                    f"({info['rows_at_build']} -> "
                    f"{self._space_rows(space)} rows in {space!r}); "
                    "append_to_ann_index or rebuild to re-enable"
                ), None, extras
        # once the live corpus has outgrown the calibrated one by
        # recalibration_fraction, refresh the measured curve on the
        # CURRENT corpus (appended ids enter the xxhash64 query sample
        # and the exact ground truth). With defer_recalibration the
        # hot path never absorbs that sweep: if the curve THIS query
        # consults is stale, serve exact + flag and leave the refresh
        # to maintain(); other curves' staleness is the maintainer's
        # business either way.
        if self.defer_recalibration:
            stale_here = (
                filter_key in self._stale_filter_keys(space, info)
                if filter_key is not None
                else self._main_curve_stale(space, info)
            )
            if stale_here:
                import time

                # operational visibility (round 12): with deferral on,
                # NOTHING refreshes until maintain() runs — a
                # deployment that forgets to schedule it serves exact
                # forever (correct, silently slower). Count every
                # deferred serve and stamp when deferral began so an
                # operator can alert on last_route/maintain() output.
                info["n_deferred_serves"] = (
                    info.get("n_deferred_serves", 0) + 1
                )
                info.setdefault("deferred_since", time.time())
                extras["calibration_deferred"] = True
                extras["n_deferred_serves"] = info["n_deferred_serves"]
                extras["deferred_since"] = info["deferred_since"]
                return False, (
                    "calibration curve stale (corpus outgrew it by > "
                    f"{self.recalibration_fraction:.0%}); recalibration "
                    "deferred to maintain() — exact serves and honors "
                    "the floor"
                ), None, extras
            prefix = ""
        else:
            recal_sec = self._maybe_recalibrate(space, info)
            prefix = "recalibrated; " if recal_sec is not None else ""
            if recal_sec is not None:
                extras["calibration_sec"] = round(recal_sec, 3)
        if filter_key is not None and filter_key not in info.get(
            "filter_calibrations", {}
        ):
            # filtered-ANN honesty: the unfiltered curve holds only
            # unfiltered (a selective filter concentrates the true
            # top-k into cells nprobe may skip). A filter with its OWN
            # measured curve (build_ann_index(calibration_filters=…) /
            # calibrate_filter) routes from it below; others stay exact.
            return False, (
                f"content-type filter {filter_key!r} has no measured "
                "calibration curve — calibrate_filter() to enable "
                "filtered IVF; exact honors the floor"
            ), None, extras
        nprobe, ivf_ms, plan_why = self._ivf_plan(
            space, recall_floor, batch=batch, filter_key=filter_key
        )
        if nprobe is None:
            return False, (
                f"{prefix}{plan_why} — exact honors the floor"
            ), None, extras
        cal = self._curve_for(info, filter_key)
        why_cost = ""
        if cal is not None and ivf_ms is not None:
            # measured-cost crossover: both sides timed on THIS corpus
            # at the MATCHING depth (batch-amortized vs single-query
            # walls) — the dispatch moves with dim, cluster count and
            # corpus size instead of a module constant
            exact_ms = (
                cal["exact_ms_per_q"]
                if batch
                else cal.get("exact_ms_single", cal["exact_ms_per_q"])
            )
            depth = "batch" if batch else "single-query"
            if ivf_ms >= exact_ms:
                return False, (
                    f"{prefix}measured cost ({depth}): ivf {ivf_ms:.2f}"
                    f" >= exact {exact_ms:.2f} ms — exact is the "
                    "cheaper way to honor the floor"
                ), None, extras
            why_cost = (
                f"; measured {depth} ivf {ivf_ms:.2f} < exact "
                f"{exact_ms:.2f} ms"
            )
        else:
            if threshold_cells is None:
                threshold_cells = self._single_threshold()
            if self._space_rows(space) * self.dim < threshold_cells:
                return (
                    False,
                    "below size threshold — exact scan is cheap",
                    None,
                    extras,
                )
        return True, f"auto ({prefix}{plan_why}{why_cost})", nprobe, extras

    # -- search (search_engine.py:174-223) -----------------------------
    def search(
        self,
        query: str | list[float],
        query_type: str = "text",
        k: int = 10,
        filter_content_type: str | None = None,
        query_space: str | None = None,
        strategy: str = "distance",
        predicate: Column | None = None,
        approximate: bool = False,
        shortlist: int = 200,
        scorer: str = "auto",
        route: str = "auto",
        recall_floor: float = 1.0,
    ) -> list[dict[str, Any]]:
        """Top-k search. Text queries embed into ``query_space``
        (default: the space implied by ``filter_content_type``, else
        clip). Only same-space rows are scored — cross-space similarity
        is refused by construction.

        **Driver-resident micro-path** (round 10, checked FIRST): when
        the space's vector mass fits ``local_exact_budget_bytes`` and
        the call is expressible driver-side (``scorer="auto"``, route
        not forced to IVF, no Column ``predicate``, not the binary
        tier), the search is served exactly from an epoch-invalidated
        in-process corpus copy — same kernel + tie-break as the
        blocked scorer, no Spark job (``last_route.route ==
        "exact-local"``). Everything below describes the over-budget
        Spark paths.

        **Exact-vs-IVF planner** (rounds 8-9 — SURVEY §4's deferred
        rule): ``recall_floor`` declares the quality contract. At the
        default 1.0 the search is always exact. A floor < 1.0 lets
        ``route="auto"`` pick the IVF index built by
        :meth:`build_ann_index`: nprobe comes from the index's OWN
        build-time calibration curve (cheapest measured point whose
        recall meets the floor; exact when none does), IVF is taken
        only when it also MEASURED cheaper than the exact scan
        (uncalibrated indexes fall back to ``_NPROBE_FRACTION`` + the
        size×dim threshold), and post-build ingests are absorbed by
        :meth:`append_to_ann_index` (auto-invoked; measured embedding
        drift above ``drift_threshold`` → exact until rebuild).
        ``route="ivf"``/``"exact"`` force a path; an explicit
        ``scorer=`` forces exact (the parity surface wins over the
        approximate route). Every call records its decision on
        ``self.last_route``.

        **Scorer dispatch** (``scorer="auto"``, the default): when
        ``corpus_rows × dim`` exceeds 8× ``blocked_threshold_cells``
        (the single-query crossover sits ~8× above the batch one —
        measurements at ``BLOCKED_THRESHOLD_CELLS``),
        scoring routes through the blocked BLAS scorer
        (:func:`~multimodal_vector_db_spark.operators.knn.knn_search_blocked`
        — per-partition matmul + local top-k, ``TakeOrdered`` over
        ``partitions × k`` candidates), with payload columns re-fetched
        by a pushed ``id IN (...)`` point-lookup over a column-pruned
        corpus scan. Below the threshold the codegen'd HOF-dot plan of
        :func:`~multimodal_vector_db_spark.operators.knn.knn_search`
        wins (no Arrow round-trip). The reference's search is *always*
        its fast path (``vector_index.py:131`` hnswlib); ours is too —
        at its 44k × 512-d scale the HOF form measures 214 ms/query vs
        ~5 ms blocked (BENCH ref_scale). ``scorer="hof"`` /
        ``"blocked"`` force a path (parity tests; both return identical
        winner sets — scores differ only in fp accumulation order).

        ``approximate=True`` routes through the binary sign-bit tier
        (the engine's analogue of the reference's always-approximate
        hnswlib search): a 16-byte/vector Hamming scan shortlists
        ``shortlist`` candidates, the exact dot reranks only those.
        Quality is a measured recall contract, not a hope — see
        ``knn_binary_rerank_recall10`` in the bench output."""
        space = query_space or SPACE_OF.get(filter_content_type or "text", "clip")
        qvec = (
            self._embed(query, space) if isinstance(query, str) else query
        )
        diversity = strategy not in (None, "distance")
        fetch_n = max(k * 4, 20) if diversity else k
        # driver-resident exact micro-path: when the space fits the
        # local budget, a single interactive query is served in-process
        # (exact — honors any floor — so it preempts the IVF planner
        # too: sub-ms beats any Spark job here). An explicit scorer=,
        # a forced route="ivf", a Column predicate (not evaluable
        # driver-side) or the binary tier keep the Spark paths.
        if (
            scorer == "auto"
            and route != "ivf"
            and not approximate
            and predicate is None
        ):
            local = self._search_local(
                space,
                qvec,
                k,
                fetch_n,
                filter_content_type,
                strategy,
                recall_floor,
            )
            if local is not None:
                return local
        corpus = active(self.items).where(F.col("space") == space)
        if filter_content_type is not None:
            corpus = corpus.where(F.col("modality") == filter_content_type)
        if predicate is not None:
            corpus = corpus.filter(predicate)
        if approximate:
            corpus = self._binary_shortlist(corpus, qvec, shortlist)
        use_ivf, why, nprobe, extras = self._route(
            space,
            recall_floor,
            route,
            approximate,
            scorer=scorer,
            filter_key=filter_content_type,
            has_predicate=predicate is not None,
        )
        if use_ivf:
            from multimodal_vector_db_spark.operators.ann import (
                ivf_search_blocked,
            )

            info = self._ann[space]
            self.last_route = {
                "route": "ivf",
                "reason": why,
                "nprobe": nprobe,
                "n_clusters": len(info["centroids"]),
                "recall_floor": recall_floor,
                **extras,
            }
            # join the slim (id, cluster_id) assignment back so
            # tombstones/predicates applied to `corpus` above hold;
            # MLlib-fitted centroids → probe by the SAME l2 rule
            assigned = corpus.select("id", "embedding").join(
                info["assign"], "id"
            )
            winner_rows = ivf_search_blocked(
                assigned,
                [(0, [float(x) for x in qvec])],
                info["centroids"],
                k=fetch_n,
                nprobe=nprobe,
                probe_metric="l2",
            ).collect()
            winner_rows.sort(key=lambda r: (-r["sim"], r["id"]))
            ids = [r["id"] for r in winner_rows]
            sims = {r["id"]: r["sim"] for r in winner_rows}
            pay = [
                c
                for c in corpus.columns
                if c not in ("embedding", "dim", "id")
            ]
            if diversity:
                pay.append("embedding")
            fetched = self._fetch_payload(corpus, ids, pay)
            rows = [
                {**fetched[i], "id": i, "sim": sims[i]}
                for i in ids
                if i in fetched
            ]
            return rerank(rows, strategy=strategy, top_k=k)
        # diversity reranking needs the candidates' vectors: carry the
        # embedding column THROUGH the top-k as a payload column (the
        # same single-plan shape as q_mmr_rerank) instead of a second
        # isin() re-fetch job — one Spark action per search, not two
        payload = [c for c in corpus.columns if c not in ("embedding", "dim")]
        if diversity:
            payload.append("embedding")
        use_blocked = scorer == "blocked" or (
            scorer == "auto"
            and not approximate  # shortlist already capped the corpus
            and self._corpus_rows() * self.dim >= self._single_threshold()
        )
        self.last_route = {
            "route": "exact-blocked" if use_blocked else "exact-hof",
            "reason": why,
            "recall_floor": recall_floor,
            **extras,
        }
        if use_blocked:
            # Two small actions, each the cheapest possible shape:
            # 1. the scoring pass over a TWO-column scan —
            #    ``TakeOrderedAndProject`` over ``partitions × k`` local
            #    winners, collected (≤ fetch_n rows, already ranked);
            # 2. a payload point-lookup with a LITERAL ``id IN (...)``
            #    predicate — statically pushed to the parquet scan
            #    (row-group min-max pruning), vector column pruned out
            #    unless diversity needs it.
            # (A single-plan broadcast-join variant measured WORSE here:
            # the final orderBy added range-partitioning sample jobs —
            # 4 full corpus scans per search instead of these 2 passes.)
            winner_rows = knn_search_blocked(corpus, qvec, k=fetch_n).collect()
            ids = [r["id"] for r in winner_rows]
            sims = {r["id"]: r["sim"] for r in winner_rows}
            pay = [c for c in payload if c != "id"]
            fetched = self._fetch_payload(corpus, ids, pay)
            rows = [
                {**fetched[i], "sim": sims[i]} for i in ids if i in fetched
            ]
        else:
            top = knn_search(corpus, qvec, k=fetch_n, payload_cols=payload)
            rows = [r.asDict() for r in top.collect()]
        return rerank(rows, strategy=strategy, top_k=k)

    def search_batch(
        self,
        queries: list[str | list[float]],
        k: int = 10,
        query_type: str = "text",
        filter_content_type: str | None = None,
        query_space: str | None = None,
        scorer: str = "auto",
        route: str = "auto",
        recall_floor: float = 1.0,
    ) -> dict[int, list[dict[str, Any]]]:
        """Batch top-k search — the facade twin of the reference's
        ``VectorIndex.batch_search`` (``vector_index.py:162-210``), and
        the shape Spark actually serves well: one job amortizes
        scheduling/scan cost over every query (the reference's
        sequential per-query loop cannot amortize at all; see the
        ``facade_batch_ms_per_query`` ref-scale bench row).

        Same scorer dispatch as :meth:`search`: above the size×dim
        threshold, ``knn_join_blocked`` (per-partition BLAS, shuffle
        bounded by ``partitions × k × |queries|``); below it, the
        codegen'd broadcast-join form. Payload is point-fetched for the
        union of winner ids with one pushed ``IN`` predicate. Returns
        ``{query_index: [row dicts ranked by sim]}``."""
        from multimodal_vector_db_spark.operators.knn import (
            knn_join,
            knn_join_blocked,
        )

        space = query_space or SPACE_OF.get(filter_content_type or "text", "clip")
        qvecs = [
            self._embed(q, space) if isinstance(q, str) else q
            for q in queries
        ]
        # driver-resident exact micro-path (same contract as search():
        # explicit scorer / forced IVF keep the Spark paths)
        if scorer == "auto" and route != "ivf":
            local = self._search_batch_local(
                space, qvecs, k, filter_content_type, recall_floor
            )
            if local is not None:
                return local
        corpus = active(self.items).where(F.col("space") == space)
        if filter_content_type is not None:
            corpus = corpus.where(F.col("modality") == filter_content_type)
        # exact-vs-IVF planner, batch form — the path where IVF pays
        # most (one pruned job amortizes over every query). Same
        # contract as search(): recall_floor declares the slack, the
        # decision is logged, drift falls back to exact. The batch
        # size threshold is the BATCH one (not the 8× single-query
        # one): with many queries the blocked/IVF crossover arrives
        # earlier, matching the scorer dispatch below.
        use_ivf, why, nprobe, extras = self._route(
            space,
            recall_floor,
            route,
            False,
            threshold_cells=self.blocked_threshold_cells,
            scorer=scorer,
            filter_key=filter_content_type,
            batch=True,
        )
        if use_ivf:
            from multimodal_vector_db_spark.operators.ann import (
                ivf_search_blocked,
            )

            info = self._ann[space]
            self.last_route = {
                "route": "ivf",
                "reason": why,
                "nprobe": nprobe,
                "n_clusters": len(info["centroids"]),
                "recall_floor": recall_floor,
                **extras,
            }
            assigned = corpus.select("id", "embedding").join(
                info["assign"], "id"
            )
            scored = ivf_search_blocked(
                assigned,
                [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
                info["centroids"],
                k=k,
                nprobe=nprobe,
                probe_metric="l2",
            )
            pairs = sorted(
                scored.collect(),
                key=lambda r: (r["query_id"], -r["sim"], r["id"]),
            )
            ids = sorted({r["id"] for r in pairs})
            pay = [
                c
                for c in corpus.columns
                if c not in ("embedding", "dim", "id")
            ]
            fetched = self._fetch_payload(corpus, ids, pay)
            out: dict[int, list[dict[str, Any]]] = {
                i: [] for i in range(len(queries))
            }
            for r in pairs:
                if r["id"] in fetched:
                    out[r["query_id"]].append(
                        {**fetched[r["id"]], "id": r["id"], "sim": r["sim"]}
                    )
            return out
        use_blocked = scorer == "blocked" or (
            scorer == "auto"
            and self._corpus_rows() * self.dim >= self.blocked_threshold_cells
        )
        self.last_route = {
            "route": "exact-blocked" if use_blocked else "exact-hof",
            "reason": why,
            "recall_floor": recall_floor,
            **extras,
        }
        if use_blocked:
            # vectors ride the task closure — no query-DF collect job
            scored = knn_join_blocked(
                corpus,
                [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
                k=k,
            )
        else:
            qdf = self.spark.createDataFrame(
                [(i, [float(x) for x in v]) for i, v in enumerate(qvecs)],
                "query_id long, q_emb array<double>",
            )
            scored = knn_join(corpus, qdf, k=k)
        pairs = scored.select("query_id", "id", "sim", "rank").collect()
        ids = sorted({r["id"] for r in pairs})
        pay = [
            c for c in corpus.columns if c not in ("embedding", "dim", "id")
        ]
        fetched = self._fetch_payload(corpus, ids, pay)
        out: dict[int, list[dict[str, Any]]] = {i: [] for i in range(len(queries))}
        for r in sorted(pairs, key=lambda r: (r["query_id"], r["rank"])):
            if r["id"] in fetched:
                out[r["query_id"]].append(
                    {**fetched[r["id"]], "sim": r["sim"]}
                )
        return out

    # -- content-based audio search (search_audio.py UX, torch-free) ----
    @_serialized_mutation
    def ingest_audio_content(
        self,
        media: DataFrame,
        id_col: str = "doc_id",
        content_col: str = "content",
        n_samples: int = 64,
        n_bands: int = 16,
        display_name_col: str | None = None,
    ) -> None:
        """Corpus-side embed for content-based audio retrieval: each
        ``(id, WAV-or-FLAC bytes)`` row is decoded through the REAL
        codecs on the executors, Walsh-Hadamard sequency-band
        fingerprinted (integer-exact), converted to a relative-energy
        L2-normalized signature, and appended to the items table in the
        dedicated ``audio_sig`` space. This is the reference's
        ``build_audio_index.py`` flow with the CLAP forward replaced by
        the deterministic real-DSP front-end — the same arithmetic
        :meth:`search_audio_content` runs on the query clip, so query
        and corpus live in one space. One ``mapInPandas`` decode pass,
        no driver loop; ids are the caller's (they must not collide
        with existing item ids)."""
        from multimodal_vector_db_spark.functions.vector import (
            l2_normalize,
        )
        from multimodal_vector_db_spark.multimodal.pipeline import (
            audio_sequency_features,
        )

        feats = audio_sequency_features(
            media,
            n_samples=n_samples,
            n_bands=n_bands,
            id_col=id_col,
            content_col=content_col,
        )
        rel = F.transform(
            F.col("bands"),
            lambda b: F.coalesce(
                F.try_divide(
                    b.cast("double"), F.col("total").cast("double")
                ),
                F.lit(0.0),
            ),
        )
        display = (
            media.select(
                F.col(id_col).alias("__did"),
                F.col(display_name_col).alias("__dname"),
            )
            if display_name_col is not None
            else None
        )
        new = feats.select(
            F.col(id_col).cast("long").alias("id"),
            F.lit("audio").alias("modality"),
            F.lit(AUDIO_SIG_SPACE).alias("space"),
            l2_normalize(rel).cast("array<float>").alias("embedding"),
            F.lit(n_bands).alias("dim"),
            F.lit(False).alias("deleted"),
            F.lit(None).cast("string").alias("content"),
            F.concat(F.lit("audio_"), F.col(id_col).cast("string")).alias(
                "display_name"
            ),
        )
        if display is not None:
            new = (
                new.join(display, new["id"] == display["__did"], "left")
                .withColumn(
                    "display_name",
                    F.coalesce(F.col("__dname"), F.col("display_name")),
                )
                .drop("__did", "__dname")
            )
        n_new = None
        if self._n_rows is not None or self._n_rows_by_space is not None:
            new = new.localCheckpoint(eager=True)
            n_new = new.count()
        self._transform_items(
            lambda cur: (
                new
                if cur is None
                else cur.unionByName(new, allowMissingColumns=True)
            )
        )
        self._epoch += 1
        # ids here are the CALLER's (doc ids) — the maintained max-id
        # counter no longer covers them; recompute lazily on next use
        self._max_id = None
        if n_new is not None:
            if self._n_rows is not None:
                self._n_rows += n_new
            self._bump_space(AUDIO_SIG_SPACE, n_new)

    def search_audio_content(
        self,
        content: bytes,
        k: int = 10,
        predicate: Column | None = None,
        scorer: str = "auto",
        n_samples: int = 64,
        n_bands: int = 16,
    ) -> list[dict[str, Any]]:
        """Query-by-audio through the facade — the reference's
        ``search_audio.py`` UX, torch-free: embed the raw WAV/FLAC
        query clip driver-side with
        :func:`~multimodal_vector_db_spark.multimodal.pipeline.
        audio_signature_vector` (the single-clip twin of the corpus
        operator — identical integer WHT arithmetic) and run the
        standard space-correct top-k against the ``audio_sig`` rows
        ingested by :meth:`ingest_audio_content`. All :meth:`search`
        machinery applies (scorer dispatch, predicates, payload
        fetch)."""
        from multimodal_vector_db_spark.multimodal.pipeline import (
            audio_signature_vector,
        )

        qvec = audio_signature_vector(
            bytes(content), n_samples=n_samples, n_bands=n_bands
        )
        return self.search(
            qvec,
            k=k,
            query_space=AUDIO_SIG_SPACE,
            predicate=predicate,
            scorer=scorer,
        )

    # -- driver-resident exact micro-path (round 10) --------------------
    #: estimated fixed driver-side bytes per cached row beyond the
    #: measured string payload (id/flags + Python dict/object overhead)
    _LOCAL_ROW_OVERHEAD_BYTES = 64

    def _row_payload_bytes(self, payload: dict[str, Any]) -> int:
        """Estimated resident bytes of one cached payload dict — the
        incremental twin of the build-time footprint agg (string
        octet lengths + the per-row overhead constant)."""
        return self._LOCAL_ROW_OVERHEAD_BYTES + sum(
            len(v.encode("utf-8"))
            for v in payload.values()
            if isinstance(v, str)
        )

    def _local_cache_extend(
        self, prev_epoch: int, data: list[tuple]
    ) -> None:
        """Absorb freshly ingested rows into still-valid per-space
        driver caches IN PLACE (round 11 — the epoch-rebuild cost
        contract): under a steady trickle of interactive ingests
        interleaved with searches, the pre-round-11 engine re-collected
        the whole space on every search. The appended block is built
        from the SAME values a rebuild would collect (embeddings pass
        through the float32 cast parquet/DataFrame storage applies, so
        arrays stay bit-identical — parity-tested), the per-modality
        row positions grow by the new rows, the footprint estimate
        grows by the same arithmetic as the build-time agg, and a
        cache outgrowing the budget is dropped with an over-budget
        verdict. Caches whose epoch is already stale are left alone
        (they rebuild lazily). Replace-not-mutate, so concurrent
        readers keep a consistent block.

        ``data`` rows are ``_ITEMS_SCHEMA``-ordered tuples
        (id, modality, space, embedding, dim, deleted, content,
        display_name) — exactly what :meth:`batch_ingest` builds."""
        if self.local_exact_budget_bytes <= 0 or not data:
            return
        pay_cols = (
            "id", "modality", "space", "deleted", "content",
            "display_name",
        )
        by_space: dict[str, list[tuple]] = {}
        for t in data:
            by_space.setdefault(t[2], []).append(t)
        for space, ts in by_space.items():
            cached = self._local_cache.get(space)
            if cached is None or cached["epoch"] != prev_epoch:
                continue
            payload = [
                {
                    "id": t[0],
                    "modality": t[1],
                    "space": t[2],
                    "deleted": t[5],
                    "content": t[6],
                    "display_name": t[7],
                }
                for t in ts
            ]
            if cached["payload"] and set(cached["payload"][0]) != set(
                pay_cols
            ):
                # payload schema drifted from the canonical columns
                # (e.g. a corpus loaded with extra columns) — leave the
                # cache stale and let the rebuild path re-collect
                continue
            added = sum(
                self._row_payload_bytes(p) for p in payload
            ) + len(ts) * self.dim * 8
            total = cached["bytes"] + added
            if total > self.local_exact_budget_bytes:
                self._local_cache.pop(space, None)
                self._local_over_budget[space] = self._epoch
                continue
            # float32 round-trip: DataFrame storage truncates the
            # driver-side float64 embeddings to float32; a rebuild
            # collects those truncated values, so the in-place block
            # must hold the identical ones
            new_emb = np.asarray(
                [t[3] for t in ts], dtype=np.float32
            ).astype(np.float64)
            n_old = len(cached["ids"])
            n = n_old + len(ts)
            # amortized append: rows land in the PREALLOCATED tail of
            # the backing buffers (readers' views cover [:n_old], a
            # region these writes never touch), with geometric growth
            # on overflow — a profiled single-row ingest previously
            # re-concatenated the whole 182 MB ref-scale matrix
            # (~450 ms/row); now a copy happens only on capacity
            # growth, amortized O(rows appended)
            be, bi = cached["buf_emb"], cached["buf_ids"]
            if n > len(bi):
                be, bi = _slack_buffer(be, n), _slack_buffer(bi, n)
                be[:n_old] = cached["emb"]
                bi[:n_old] = cached["ids"]
            be[n_old:n] = new_emb
            bi[n_old:n] = [t[0] for t in ts]
            mod_rows = dict(cached["mod_rows"])
            for m, rows in _modality_rows([t[1] for t in ts], n_old).items():
                mod_rows[m] = (
                    np.concatenate([mod_rows[m], rows])
                    if m in mod_rows
                    else rows
                )
            self._local_cache[space] = {
                "epoch": self._epoch,
                "ids": bi[:n],
                "emb": be[:n],
                "mod_rows": mod_rows,
                "payload": cached["payload"] + payload,
                "bytes": total,
                "buf_ids": bi,
                "buf_emb": be,
            }
        # spaces this ingest did NOT touch keep their rows — restamp
        # their valid caches so the unchanged corpus isn't re-collected
        for space, cached in list(self._local_cache.items()):
            if space not in by_space and cached["epoch"] == prev_epoch:
                self._local_cache[space] = {
                    **cached, "epoch": self._epoch
                }

    def _local_cache_pruned(
        self, cached: dict[str, Any], keep: np.ndarray
    ) -> dict[str, Any]:
        """``cached`` without the rows ``keep`` (a boolean row mask)
        drops, stamped with the current epoch. A NEW block
        (replace-not-mutate: readers holding the old one keep a
        consistent pre-remove view), copied once into buffers with the
        append headroom :meth:`_local_cache_extend` grows to, so the
        next ingest appends in place instead of copying the matrix a
        second time."""
        n = int(keep.sum())
        be = _slack_buffer(cached["emb"], n)
        bi = _slack_buffer(cached["ids"], n)
        _copy_kept(cached["emb"], keep, be)
        _copy_kept(cached["ids"], keep, bi)
        new_row = np.cumsum(keep) - 1  # old row position → new one
        mod_rows = {}
        for m, rows in cached["mod_rows"].items():
            kept = rows[keep[rows]]
            if len(kept):
                mod_rows[m] = new_row[kept]
        payload = cached["payload"]
        freed = sum(
            self._row_payload_bytes(payload[i])
            for i in np.flatnonzero(~keep)
        ) + (len(keep) - n) * self.dim * 8
        return {
            "epoch": self._epoch,
            "ids": bi[:n],
            "emb": be[:n],
            "mod_rows": mod_rows,
            "payload": list(itertools.compress(payload, keep.tolist())),
            "bytes": cached["bytes"] - freed,
            "buf_ids": bi,
            "buf_emb": be,
        }

    def _local_corpus(self, space: str) -> dict[str, Any] | None:
        """The micro-path's corpus block for ``space``'s LIVE rows,
        resident on the driver:

        - ``ids`` (int64) and ``emb`` (float64, rows × width), views of
          the append buffers ``buf_ids`` / ``buf_emb``;
        - ``mod_rows``: modality → ascending int64 row positions, the
          content-type filter and the compare path's per-modality
          groups (a modality with no live row has no entry);
        - ``payload``: one dict per row of every column but
          ``embedding`` and ``dim``, with the values and Python types a
          ``Row`` collect gives;
        - ``bytes``: the footprint estimate it was admitted at.

        Returns None when disabled
        (``local_exact_budget_bytes=0``) or when the space's estimated
        TOTAL resident footprint — vector mass (rows × dim × 8 B, the
        float64 matrix actually held) PLUS the measured payload string bytes
        (one column-pruned ``sum(octet_length(...))`` agg, run before
        anything is collected) — exceeds the budget; above it the Spark
        paths serve (the cache is the small-corpus latency fix, not a
        general execution mode — at 100 TB every space is far past the
        budget and nothing changes). Gating on vector mass alone would
        let a fat-payload corpus (say 100k × 50 KB documents: ~205 MB
        of vectors, ~5 GB of content strings) collect gigabytes to the
        driver — the reference holds full metadata in process
        (``vector_index.py:24``), a flaw this tier must not inherit.
        An over-budget verdict is remembered per epoch so repeated
        searches don't re-run the footprint agg.

        Keyed on the corpus mutation epoch: interactive ingests and
        removes maintain a valid block in place, and any other mutation
        makes the next micro-path call rebuild from the then-current
        corpus (one Arrow collect of the space's rows — the same cost
        as a single Spark-path search, amortized over every call until
        the next such mutation). The epoch is snapshotted BEFORE the
        collect: a concurrent ingest mid-build leaves the cache stamped
        stale, never new-epoch-with-old-rows."""
        if self.local_exact_budget_bytes <= 0 or self._corpus_absent():
            return None
        n = self._space_rows(space)
        vec_bytes = n * self.dim * 8
        if vec_bytes > self.local_exact_budget_bytes:
            return None
        cached = self._local_cache.get(space)
        if cached is not None and cached["epoch"] == self._epoch:
            return cached
        if self._local_over_budget.get(space) == self._epoch:
            return None
        epoch = self._epoch
        corpus = active(self.items).where(F.col("space") == space)
        pay_cols = [
            c for c in corpus.columns if c not in ("embedding", "dim")
        ]
        # payload footprint BEFORE the collect (see docstring): string
        # columns measured exactly, everything else a per-row constant
        str_cols = [
            c for c, t in corpus.dtypes if c in pay_cols and t == "string"
        ]
        size_expr = F.lit(0).cast("long")
        for c in str_cols:
            size_expr = size_expr + F.coalesce(
                F.octet_length(F.col(c)).cast("long"), F.lit(0)
            )
        stats = corpus.agg(
            F.count("*").alias("n"), F.sum(size_expr).alias("s")
        ).first()
        # the vector term re-derives from the agg's LIVE row count:
        # _space_rows is a tombstone-inclusive upper bound (fine for
        # the cheap pre-filter above), but the admitted footprint must
        # match what the collect actually holds — and stay equal to the
        # incrementally maintained estimate (parity-tested). 8 B/elem:
        # the RESIDENT matrix is float64 (round 12 — the 4 B float32
        # on-disk estimate under-counted the admitted block 2×; now the
        # vector term equals the cached block's actual emb.nbytes)
        total_bytes = (
            stats["n"] * self.dim * 8
            + (stats["s"] or 0)
            + stats["n"] * self._LOCAL_ROW_OVERHEAD_BYTES
        )
        if total_bytes > self.local_exact_budget_bytes:
            self._local_over_budget[space] = epoch
            return None
        # one Arrow collect: the vectors arrive as a flat float32
        # buffer, not as a Python float object per element (a Row
        # collect of the ref-shaped corpus spent most of the cold call
        # boxing floats). Payload columns go through Spark's own
        # Arrow-to-Row value conversion, so they equal a Row collect's
        from pyspark.sql.conversion import ArrowTableToRowsConversion
        from pyspark.sql.types import StructType

        table = corpus.toArrow()
        ids = np.array(table.column("id").to_numpy(), dtype=np.int64)
        emb = _arrow_matrix(table.column("embedding"), self.dim)
        payload = [
            dict(zip(pay_cols, t))
            for t in ArrowTableToRowsConversion.convert(
                table.select(pay_cols),
                StructType([corpus.schema[c] for c in pay_cols]),
                return_as_tuples=True,
            )
        ]
        cached = {
            "epoch": epoch,
            "ids": ids,
            "emb": emb,
            "mod_rows": _modality_rows([p["modality"] for p in payload]),
            "payload": payload,
            "bytes": total_bytes,
            "buf_ids": ids,
            "buf_emb": emb,
        }
        self._local_cache[space] = cached
        return cached

    def _local_route_log(
        self, cache: dict, space: str, recall_floor: float
    ) -> None:
        n = len(cache["ids"])
        mb = cache["bytes"] / (1024 * 1024)
        self.last_route = {
            "route": "exact-local",
            "reason": (
                f"{space!r} corpus {n} rows × dim {self.dim}: "
                f"~{mb:.1f} MB estimated resident footprint (vectors "
                "+ payload strings) within local_exact_budget — driver-"
                "resident exact scan (same BLAS kernel + tie-break as "
                "the blocked scorer, no per-job scheduling floor; "
                "exact, so any recall floor is honored)"
            ),
            "recall_floor": recall_floor,
        }

    def _search_local(
        self,
        space: str,
        qvec: list[float],
        k: int,
        fetch_n: int,
        filter_content_type: str | None,
        strategy: str,
        recall_floor: float,
    ) -> list[dict[str, Any]] | None:
        """Serve one exact top-k from the driver-resident corpus block
        — the reference's most common user path is ONE interactive
        query (``search_images.py:42-59``), where Spark local mode's
        per-job scheduling floor (~0.5 s) is 40× the actual scoring
        work at 44k × 512-d. Same float64 BLAS scoring and
        ``(sim desc, id asc)`` tie-break as
        :func:`~multimodal_vector_db_spark.operators.knn.knn_search_blocked`
        (``topk_rows_1d`` is literally the blocked scorer's selection
        kernel), so results are identical to the Spark exact path —
        parity-tested. Returns None when the space is over budget (the
        caller falls through to the Spark planner).

        Concurrency: admission-gated (``local_max_concurrency``) — see
        ``_local_gate``; the blocked wait releases the GIL, which is
        the whole point."""
        cache = self._local_corpus(space)
        if cache is None:
            return None
        with self._local_gate:
            return self._search_local_admitted(
                cache, space, qvec, k, fetch_n, filter_content_type,
                strategy, recall_floor,
            )

    def _search_local_admitted(
        self, cache, space, qvec, k, fetch_n, filter_content_type,
        strategy, recall_floor,
    ) -> list[dict[str, Any]]:
        """One matvec over the whole block, then O(candidates) work:
        a content-type filter indexes the SCORE vector with the
        modality's row positions (gathering its sub-matrix instead
        copied most of the block per call), and diversity reranks on
        the candidates' rows of the float64 block, with no list
        round-trip. Only the returned rows become payload dicts."""
        ids, emb = cache["ids"], cache["emb"]
        sel = _filter_rows(cache, filter_content_type)
        n = len(ids) if sel is None else len(sel)
        rows: list[dict[str, Any]] = []
        if n:
            with gemm_section():
                s = emb @ np.asarray(qvec, dtype=np.float64)
            if sel is not None:
                s, ids = s[sel], ids[sel]
            top = topk_rows_1d(s, ids, min(fetch_n, n))
            src = top if sel is None else sel[top]
            lam = MMR_LAMBDA.get(strategy)
            order = (
                range(min(k, len(top)))
                if lam is None
                else mmr_order(s[top], emb[src], k, lam)
            )
            diversity = strategy not in (None, "distance")
            for i in order:
                d = dict(cache["payload"][src[i]])
                d["sim"] = float(s[top[i]])
                if diversity:
                    d["embedding"] = emb[src[i]].tolist()
                rows.append(d)
        self._local_route_log(cache, space, recall_floor)
        return rows

    def _search_batch_local(
        self,
        space: str,
        qvecs: list[list[float]],
        k: int,
        filter_content_type: str | None,
        recall_floor: float,
    ) -> dict[int, list[dict[str, Any]]] | None:
        """Batch twin of :meth:`_search_local` — one driver-side
        (n × nq) BLAS matmul + the blocked scorer's exact per-column
        selection (``topk_rows_2d``), identical ranking to
        ``knn_join_blocked`` + its window. Admission-gated like
        :meth:`_search_local`."""
        cache = self._local_corpus(space)
        if cache is None:
            return None
        with self._local_gate:
            return self._search_batch_local_admitted(
                cache, space, qvecs, k, filter_content_type, recall_floor,
            )

    def _search_batch_local_admitted(
        self, cache, space, qvecs, k, filter_content_type, recall_floor,
    ) -> dict[int, list[dict[str, Any]]]:
        ids = cache["ids"]
        sel = _filter_rows(cache, filter_content_type)
        n = len(ids) if sel is None else len(sel)
        out: dict[int, list[dict[str, Any]]] = {
            i: [] for i in range(len(qvecs))
        }
        if n:
            Q = np.array(qvecs, dtype=np.float64)  # (nq, d)
            with gemm_section():
                S = cache["emb"] @ Q.T  # (n, nq)
            if sel is not None:
                S, ids = S[sel], ids[sel]
            top = topk_rows_2d(S, ids, min(k, n))  # (kk, nq)
            src = top if sel is None else sel[top]
            for j in range(len(qvecs)):
                for t, r in zip(top[:, j], src[:, j]):
                    d = dict(cache["payload"][r])
                    d["sim"] = float(S[t, j])
                    out[j].append(d)
        self._local_route_log(cache, space, recall_floor)
        return out

    def _compare_local_rows(
        self,
        q_by_space_list: list[dict[str, list[float]]],
        k_per_modality: int,
        default_space: str = "clip",
    ) -> list[tuple] | None:
        """Driver-resident dual-space scoring for
        :meth:`compare_modalities` / :meth:`compare_modalities_batch` —
        the §3.3 signature query is a SINGLE interactive call in the
        reference (``search_cross_modal.py:107-173``), so it gets the
        same micro-path as :meth:`search`. Every space's live rows must
        collectively fit the byte budget (all spaces are scored); each
        row scores against ITS space's query vector (absent spaces fall
        back to ``default_space`` — the HOF form's ``otherwise``
        branch), then exact top-k per (query, modality) with the
        blocked kernel's tie-break. Returns
        ``[(query_idx, modality, space, id, display_name, sim, rank)]``
        sorted by (query, modality, rank), or None when over budget /
        disabled."""
        if self.local_exact_budget_bytes <= 0 or self._corpus_absent():
            return None
        self._space_rows(default_space)  # materialize the per-space map
        spaces = sorted(
            s for s, n in self._n_rows_by_space.items() if n > 0
        )
        total_cells = sum(
            self._n_rows_by_space[s] for s in spaces
        ) * self.dim
        if total_cells * 8 > self.local_exact_budget_bytes:
            return None
        caches = {}
        for s in spaces:
            c = self._local_corpus(s)
            if c is None:
                return None
            if len(c["ids"]) and c["emb"].shape[1] != self.dim:
                # a space at a different width (e.g. audio_sig WHT
                # signatures) cannot score against the engine-dim query
                # vectors — defer to the Spark paths' handling
                return None
            caches[s] = c
        if (
            sum(c["bytes"] for c in caches.values())
            > self.local_exact_budget_bytes
        ):
            # every space fits individually but not together — the
            # compare path holds ALL of them resident at once
            return None
        with self._local_gate:
            return self._compare_local_rows_admitted(
                {s: caches[s] for s in spaces if len(caches[s]["ids"])},
                q_by_space_list, k_per_modality, default_space,
            )

    def _compare_local_rows_admitted(
        self,
        caches: dict[str, dict],
        q_by_space_list: list[dict[str, list[float]]],
        k_per_modality: int,
        default_space: str,
    ) -> list[tuple]:
        """Score every non-empty space once (one GEMM scores every
        query), then take each (query, modality) top-k. A modality's
        candidates are its row positions in each space's cache
        (``mod_rows``), which ingests extend and removes prune together
        with the block they index — nothing is derived across spaces
        per epoch, so a write costs the next compare nothing."""
        spaces = list(caches)
        with gemm_section():
            scores = [
                caches[s]["emb"]
                @ np.array(
                    [q.get(s, q[default_space]) for q in q_by_space_list],
                    dtype=np.float64,
                ).T
                for s in spaces
            ]  # per space: (n_s, nq)
        # None-safe ordering: a null modality is its own group (the
        # Spark window form partitions it too); it sorts last
        groups = sorted(
            {g for c in caches.values() for g in c["mod_rows"]},
            key=lambda g: (g is None, g),
        )
        per_q: list[list[tuple]] = [[] for _ in q_by_space_list]
        for g in groups:
            parts = [
                (p, caches[s]["mod_rows"][g])
                for p, s in enumerate(spaces)
                if g in caches[s]["mod_rows"]
            ]
            Sg = np.concatenate([scores[p][rows] for p, rows in parts])
            ids_g = np.concatenate(
                [caches[spaces[p]]["ids"][rows] for p, rows in parts]
            )
            part = np.concatenate(
                [np.full(len(rows), p) for p, rows in parts]
            )
            row = np.concatenate([rows for _, rows in parts])
            kk = min(k_per_modality, len(ids_g))
            for qi, hits in enumerate(per_q):
                top = topk_rows_1d(Sg[:, qi], ids_g, kk)
                for rank, t in enumerate(top, start=1):
                    pay = caches[spaces[part[t]]]["payload"][row[t]]
                    hits.append(
                        (
                            qi,
                            g,
                            pay["space"],
                            int(ids_g[t]),
                            pay["display_name"],
                            float(Sg[t, qi]),
                            rank,
                        )
                    )
        return [r for hits in per_q for r in hits]

    def _fetch_payload(
        self, corpus: DataFrame, ids: list[int], pay: list[str]
    ) -> dict[int, dict[str, Any]]:
        """Point-lookup of payload columns for a winner-id set, as a
        {id: row dict}. ≤128 ids: a LITERAL ``id IN (...)`` predicate —
        statically pushed to the parquet scan (row-group min-max
        pruning). Above that, a literal IN list makes Catalyst plan
        O(|ids|) expression nodes (measured erratic multi-second
        planning at 2,560 literals), so the fetch switches to a
        broadcast hash join against the tiny id frame — O(1) plan size,
        one map-side scan."""
        if len(ids) > 128:
            ids_df = self.spark.createDataFrame(
                [(i,) for i in ids], "id long"
            )
            fetch_df = corpus.select("id", *pay).join(
                F.broadcast(ids_df), "id"
            )
        else:
            fetch_df = corpus.select("id", *pay).where(
                F.col("id").isin(ids)
            )
        return {r["id"]: r.asDict() for r in fetch_df.collect()}

    def _corpus_rows(self) -> int:
        """Cached row count for the scorer dispatch; counts once
        (parquet metadata-backed for loaded corpora) when unknown."""
        if self._n_rows is None:
            self._n_rows = self.items.count() if self.items is not None else 0
        return self._n_rows

    def _space_rows(self, space: str) -> int:
        """Cached PER-SPACE row count — the ANN coverage/drift check
        compares this, not the global total, so ingesting into an
        unrelated space (e.g. ``ingest_audio_content`` → 'audio_sig')
        never flags another space's index as stale. Maintained
        incrementally by every ingest path; computed once (one
        groupBy-count job) for corpora loaded from disk.

        The same job also rides ``max(id)`` (round 12): every search
        routes through here, so by the time the first interactive
        ingest needs ``_next_id`` the max-id counter is usually
        already primed — without this the first ingest after loading a
        corpus paid a dedicated ~1.2 s agg job
        (``facade_ingest_first_cycle_ms``)."""
        if self._n_rows_by_space is None:
            rows = (
                self.items.groupBy("space")
                .agg(
                    F.count("*").alias("n"), F.max("id").alias("m")
                )
                .collect()
                if self.items is not None
                else []
            )
            self._n_rows_by_space = {r["space"]: r["n"] for r in rows}
            if self._max_id is None:
                ms = [r["m"] for r in rows if r["m"] is not None]
                self._max_id = max(ms) if ms else -1
        return self._n_rows_by_space.get(space, 0)

    def _bump_space(self, space: str, n: int) -> None:
        if self._n_rows_by_space is not None:
            self._n_rows_by_space[space] = (
                self._n_rows_by_space.get(space, 0) + n
            )

    def _single_threshold(self) -> int:
        """Single-query dispatch threshold: 8× the batch one (see
        ``BLOCKED_THRESHOLD_CELLS`` for the measurements behind both).
        Derived, so a caller-supplied ``blocked_threshold_cells``
        scales both dispatches consistently."""
        return self.blocked_threshold_cells * 8

    def _binary_shortlist(
        self, corpus: DataFrame, qvec: list[float], shortlist: int
    ) -> DataFrame:
        """Hamming-distance candidate filter over packed sign bits —
        integer ops over 2 BIGINTs per row, the cheapest possible first
        pass; survivors keep their full rows for the exact rerank."""
        from multimodal_vector_db_spark.functions.vector import (
            sign_bits_word,
        )

        half = self.dim // 2
        q = F.array(*[F.lit(float(x)) for x in qvec])
        q1 = sign_bits_word(q, 1, half)
        q2 = sign_bits_word(q, half + 1, self.dim - half)
        hamming = F.bit_count(
            sign_bits_word("embedding", 1, half).bitwiseXOR(q1)
        ) + F.bit_count(
            sign_bits_word("embedding", half + 1, self.dim - half).bitwiseXOR(
                q2
            )
        )
        return (
            corpus.withColumn("__hamming", hamming)
            .orderBy(F.col("__hamming").asc(), F.col("id").asc())
            .limit(shortlist)
            .drop("__hamming")
        )

    #: result schema of compare_modalities (both scorer paths)
    _COMPARE_SCHEMA = (
        "modality string, space string, id long, "
        "display_name string, sim double, rank int"
    )

    def compare_modalities(
        self, query: str, k_per_modality: int = 3, scorer: str = "auto"
    ) -> DataFrame:
        """§3.3 signature query (reference
        ``search_cross_modal.py:107-173``): dual-space scoring routed by
        modality + per-modality top-k (no 10k over-fetch).

        **Scorer dispatch** — the same contract as :meth:`search`: above
        the single-query size×dim threshold the whole-corpus scoring
        runs as one blocked BLAS pass
        (:func:`~multimodal_vector_db_spark.operators.knn.dual_space_topk_blocked`
        — per-partition matmul per space, local top-k per modality,
        ranking window over only ``partitions × modalities × k``
        candidates) with payload re-fetched by a pushed ``id IN``
        point-lookup; below it, the codegen'd single-plan HOF form wins
        (no Arrow round-trip). ``scorer="hof"``/``"blocked"`` force a
        path — both return the same winner sets (scores differ only in
        fp accumulation order; parity-tested)."""
        q_clip = self._embed(query, "clip")
        q_clap = self._embed(query, "clap")
        # driver-resident micro-path (round 10): the §3.3 query is a
        # single interactive call — same budget/eligibility contract as
        # search(); an explicit scorer keeps the Spark parity paths
        if scorer == "auto":
            local = self._compare_local_rows(
                [{"clip": q_clip, "clap": q_clap}], k_per_modality
            )
            if local is not None:
                self.last_route = {
                    "route": "exact-local",
                    "reason": (
                        "all spaces within local_exact_budget — driver-"
                        "resident dual-space scoring"
                    ),
                }
                return self.spark.createDataFrame(
                    [(m, s, i, d, sim, r) for (_q, m, s, i, d, sim, r) in local],
                    self._COMPARE_SCHEMA,
                )
        use_blocked = scorer == "blocked" or (
            scorer == "auto"
            and self._corpus_rows() * self.dim >= self._single_threshold()
        )
        if use_blocked:
            from multimodal_vector_db_spark.operators.knn import (
                dual_space_topk_blocked,
            )

            corpus = active(self.items)
            winners = dual_space_topk_blocked(
                corpus,
                [(0, {"clip": q_clip, "clap": q_clap})],
                k=k_per_modality,
            ).collect()
            ids = sorted({r["id"] for r in winners})
            fetched = self._fetch_payload(
                corpus, ids, ["space", "display_name"]
            )
            rows = [
                (
                    r["group"],
                    fetched[r["id"]]["space"],
                    r["id"],
                    fetched[r["id"]]["display_name"],
                    r["sim"],
                    r["rank"],
                )
                for r in winners
                if r["id"] in fetched
            ]
            return self.spark.createDataFrame(rows, self._COMPARE_SCHEMA)
        from pyspark.sql import Window

        lit = lambda v: F.array(*[F.lit(float(x)) for x in v])  # noqa: E731
        from multimodal_vector_db_spark.functions.vector import dot

        scored = active(self.items).withColumn(
            "sim",
            F.when(
                F.col("space") == "clap", dot(F.col("embedding"), lit(q_clap))
            ).otherwise(dot(F.col("embedding"), lit(q_clip))),
        )
        w = Window.partitionBy("modality").orderBy(
            F.col("sim").desc(), F.col("id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_per_modality)
            .select("modality", "space", "id", "display_name", "sim", "rank")
        )

    def compare_modalities_rows(
        self, query: str, k_per_modality: int = 3
    ) -> list[dict[str, Any]]:
        """Single-call interactive form of :meth:`compare_modalities`
        — returns ranked row dicts (the :meth:`search` convention)
        instead of a DataFrame (round 11). The DataFrame contract
        makes every single call pay one ``createDataFrame`` + collect
        materialization (~250 ms in local mode) even when the scoring
        itself runs ~3 ms on the micro-path; the reference's
        cross-modal compare is an interactive CLI call
        (``search_cross_modal.py:107-173``), so it gets the
        rows-returning path like ``search()`` does. Same rows, order
        and sims as the DataFrame form (parity-tested); keep
        :meth:`compare_modalities` for relational composition. Over
        budget this falls back to collecting the Spark plan."""
        local = self._compare_local_rows(
            [
                {
                    "clip": self._embed(query, "clip"),
                    "clap": self._embed(query, "clap"),
                }
            ],
            k_per_modality,
        )
        if local is not None:
            self.last_route = {
                "route": "exact-local",
                "reason": (
                    "all spaces within local_exact_budget — driver-"
                    "resident dual-space scoring (rows form, no "
                    "DataFrame materialization)"
                ),
            }
            return [
                {
                    "modality": m,
                    "space": s,
                    "id": i,
                    "display_name": d,
                    "sim": sim,
                    "rank": r,
                }
                for (_q, m, s, i, d, sim, r) in local
            ]
        out = [
            r.asDict()
            for r in self.compare_modalities(query, k_per_modality)
            .orderBy("modality", "rank")
            .collect()
        ]
        # over-budget fallback must describe ITSELF on last_route (the
        # micro-path branch does) — without this, the diagnostic would
        # still show a previous call's route (round-12 review fix).
        # compare_modalities may have set a Spark-route entry; override
        # with the rows-form identity either way.
        self.last_route = {
            "route": "spark-compare",
            "reason": (
                "spaces exceed local_exact_budget together — rows form "
                "served by collecting the Spark compare plan"
            ),
        }
        return out

    def compare_modalities_batch(
        self, queries: list[str], k_per_modality: int = 3
    ) -> dict[int, list[dict[str, Any]]]:
        """Batch twin of :meth:`compare_modalities` — one blocked BLAS
        job scores EVERY query against the whole corpus with per-space
        routing (the shape that amortizes job-scheduling cost the way
        :meth:`search_batch` does; the reference's
        ``compare_modalities`` loops per query). Always the blocked
        scorer: with B queries the matmul batches to (n × B) per space
        and the HOF form would plan B scoring columns. Returns
        ``{query_index: [row dicts ranked per modality]}``."""
        from multimodal_vector_db_spark.operators.knn import (
            dual_space_topk_blocked,
        )

        qpairs = [
            (
                i,
                {
                    "clip": self._embed(q, "clip"),
                    "clap": self._embed(q, "clap"),
                },
            )
            for i, q in enumerate(queries)
        ]
        # driver-resident micro-path (one GEMM per space scores every
        # query) — same contract as compare_modalities
        local = self._compare_local_rows(
            [v for _, v in qpairs], k_per_modality
        )
        if local is not None:
            self.last_route = {
                "route": "exact-local",
                "reason": (
                    "all spaces within local_exact_budget — driver-"
                    "resident dual-space batch scoring"
                ),
            }
            out_l: dict[int, list[dict[str, Any]]] = {
                i: [] for i in range(len(queries))
            }
            for qi, m, s, i_, d, sim, r in local:
                out_l[qi].append(
                    {
                        "modality": m,
                        "space": s,
                        "id": i_,
                        "display_name": d,
                        "sim": sim,
                        "rank": r,
                    }
                )
            return out_l
        corpus = active(self.items)
        winners = dual_space_topk_blocked(
            corpus, qpairs, k=k_per_modality
        ).collect()
        ids = sorted({r["id"] for r in winners})
        fetched = self._fetch_payload(corpus, ids, ["space", "display_name"])
        out: dict[int, list[dict[str, Any]]] = {
            i: [] for i in range(len(queries))
        }
        for r in sorted(
            winners, key=lambda r: (r["query_id"], r["group"], r["rank"])
        ):
            if r["id"] in fetched:
                out[r["query_id"]].append(
                    {
                        "modality": r["group"],
                        "space": fetched[r["id"]]["space"],
                        "id": r["id"],
                        "display_name": fetched[r["id"]]["display_name"],
                        "sim": r["sim"],
                        "rank": r["rank"],
                    }
                )
        return out

    # -- persistence (search_engine.py:225-258) ------------------------
    def save(self, base_path: str, name: str = "items") -> None:
        """Persist the corpus AND the ANN serving state. The reference
        persists its index structure alongside the data
        (``vector_index.py:224-252`` saves the HNSW graph +
        metadata); round 9 gives the facade the same property — each
        built space's slim ``(id, cluster_id)`` assignment goes to
        parquet and its centroids / drift baseline / CALIBRATION curve
        to the index manifest, so a reloaded engine routes IVF with
        the same measured contract without re-running KMeans or
        calibration."""
        storage = CorpusStorage(base_path)
        storage.save_index(
            self.items,
            name,
            manifest={"dim": self.dim, "metric": "cosine"},
            partition_by=["modality"],
        )
        for space, info in self._ann.items():
            storage.save_index(
                info["assign"],
                f"{name}_ann_{space}",
                manifest={
                    k: info[k]
                    for k in (
                        "centroids",
                        "rows_at_build",
                        "mean_sq_dist",
                        "appended_rows",
                        "drift",
                        "cum_appended_sq",
                        "cum_drift",
                        "drifted",
                        "calibration",
                        "filter_calibrations",
                    )
                },
            )
        storage.save_config(
            {
                "dim": self.dim,
                "metric": "cosine",
                "ann_spaces": sorted(self._ann),
            }
        )

    @classmethod
    def load(
        cls, spark: SparkSession, base_path: str, name: str = "items"
    ) -> "MultiModalSearchEngine":
        storage = CorpusStorage(base_path)
        df, manifest = storage.load_index(spark, name)
        eng = cls(spark, items=df, dim=manifest.get("dim", 64))
        for space in storage.load_config().get("ann_spaces", []):
            assign, ann_manifest = storage.load_index(
                spark, f"{name}_ann_{space}"
            )
            eng._ann[space] = {
                "assign": assign.select("id", "cluster_id"),
                **{
                    k: ann_manifest[k]
                    for k in (
                        "centroids",
                        "rows_at_build",
                        "mean_sq_dist",
                        "appended_rows",
                        "drift",
                        "drifted",
                        "calibration",
                    )
                },
                # round-10 keys, defaulted for manifests saved earlier
                "cum_appended_sq": ann_manifest.get(
                    "cum_appended_sq", 0.0
                ),
                "cum_drift": ann_manifest.get("cum_drift"),
                "filter_calibrations": ann_manifest.get(
                    "filter_calibrations", {}
                )
                or {},
            }
        return eng

    def save_matryoshka(
        self, base_path: str, dims: list[int], name: str = "items"
    ) -> dict[int, str]:
        """Materialize the Matryoshka index family — the engine surface
        of the reference's ``build_matryoshka_indices.py:55-91`` (one
        index per truncation dim): per-dim tables of prefix-truncated,
        re-normalized vectors, written once at save time so a
        reduced-dimension engine scans reduced-dimension data. Records
        ``full_dim`` in each manifest so :meth:`load_matryoshka` can
        truncate QUERY embeddings from the full-width embedder (the
        reference's semantics: queries are truncated model outputs, not
        natively small embeddings)."""
        storage = CorpusStorage(base_path)
        return storage.build_matryoshka_tables(
            active(self.items),
            name,
            dims,
            manifest={"metric": "cosine", "full_dim": self.dim},
            partition_by=["modality"],
        )

    @classmethod
    def load_matryoshka(
        cls,
        spark: SparkSession,
        base_path: str,
        dim: int,
        name: str = "items",
        full_embed_fn: Callable[[str, str], list[float]] | None = None,
    ) -> "MultiModalSearchEngine":
        """Open one member of a :meth:`save_matryoshka` family as a
        fully functional engine at reduced dimension: corpus scans read
        the materialized d-dim table, and text queries embed at
        ``full_dim`` then truncate+renormalize — matching how the
        corpus side was built (``projection.py:196-220`` semantics).
        All search paths (HOF, blocked dispatch, batch) work unchanged;
        only the per-row byte and multiply cost shrink by
        ``dim/full_dim``."""
        storage = CorpusStorage(base_path)
        df, manifest = storage.load_index(spark, f"{name}_d{dim}")
        full_dim = int(manifest["full_dim"])
        full = full_embed_fn or (
            lambda text, space: fake_embed_numpy(
                text, space, full_dim
            ).tolist()
        )

        def embed(text: str, space: str) -> list[float]:
            v = np.asarray(full(text, space), dtype=np.float64)[:dim]
            n = float(np.linalg.norm(v))
            return (v / n).tolist() if n > 0 else v.tolist()

        return cls(spark, items=df, dim=dim, embed_fn=embed)

    # -- stats (A12, vector_index.py:279-291) --------------------------
    def get_stats(self) -> dict[str, Any]:
        counts = {
            r["modality"]: r["n"]
            for r in active(self.items)
            .groupBy("modality")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        return {
            "total_vectors": sum(counts.values()),
            "by_modality": counts,
            "dimension": self.dim,
            "metric": "cosine",
        }

    def sql(self, query: str) -> DataFrame:
        """Drive the engine with plain SQL: the live (non-deleted)
        corpus is exposed as the view ``items`` and the vector SQL
        functions (``vec_dot``, ``vec_normalize``, …) are installed —
        see :mod:`multimodal_vector_db_spark.sql` for the dialect
        notes. Example::

            eng.sql(\"\"\"
                SELECT id, display_name,
                       vec_dot(CAST(embedding AS ARRAY<DOUBLE>),
                               vec_normalize(ARRAY(...))) AS sim
                FROM items WHERE modality = 'image'
                ORDER BY sim DESC LIMIT 10
            \"\"\")
        """
        from multimodal_vector_db_spark.sql import register_functions

        if self.items is None:
            # fresh engine: expose an EMPTY items view with the canonical
            # schema rather than raising AttributeError — SQL exploration
            # (DESCRIBE items, SELECT ... WHERE false) works pre-ingest
            empty = self.spark.createDataFrame([], _ITEMS_SCHEMA)
            empty.createOrReplaceTempView("items")
        else:
            active(self.items).createOrReplaceTempView("items")
        register_functions(self.spark)
        return self.spark.sql(query)
