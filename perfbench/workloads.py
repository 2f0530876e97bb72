"""The two closed-loop workloads.

Each workload builds its inputs from the seed, sets up (several times
where a set-up is cheap enough to repeat), makes one cold call, checks
a warm-up, then runs its client loop until the time is up. Every call
the loop makes is timed on its own and recorded; the correctness gate
(:mod:`perfbench.checks`) judges the recorded results after the timed
phase, so checking costs nothing inside it.

Only the package's public API is used: ``MultiModalSearchEngine``,
``operators.ann.build_ivf_index``, ``queries.REGISTRY`` / ``ORACLES``,
``session.get_spark`` and ``embedders.fake.fake_embed_numpy`` (the
engine's default text embedder, needed to judge text queries).
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

from multimodal_vector_db_spark.embedders.fake import fake_embed_numpy
from perfbench import checks, datagen, hostenv
from perfbench.trace import Tracer

DIM = 512
K = 10
#: the bench.py headline: the registry queries a registry pass runs
HEADLINE = (
    "tpch_q1", "tpch_q3", "knn_batch", "knn_single", "metrics_eval",
    "dedup_minhash_lsh", "dedup_simhash", "near_dup_embedding",
    "percentile_stats", "string_pipeline", "sessionization",
    "events_tumbling_window", "multimodal_features", "pq_encode_decode",
    "cross_modal_routed",
)
#: the single-call read mix. plain:filtered is 1:1 because the
#: reference benchmark times each of its queries both on the unified
#: index and on a per-modality index (BASELINE.md); the diversity and
#: compare shares are assumptions, as the reference times neither
MIX = (("plain", 0.4), ("filtered", 0.4), ("diversity", 0.1), ("compare", 0.1))
MODALITIES = tuple(m for m, _ in datagen.REF_MODALITY_ROWS)
#: mix calls per write cycle in ingest_serve (an assumption: the
#: reference has no write traffic)
READS_PER_WRITE = 4
#: the writer's calls; every other single call is a read
WRITE_KINDS = ("ingest", "remove")


@dataclass(frozen=True)
class Scale:
    rows: int  # corpus rows (the reference has 44,444)
    queries: int  # query pool, and the search_batch size
    #: set-ups per run for the single-call workloads, and cold
    #: search_batch calls (one per fresh engine) for batch_pipeline
    setup_reps: int
    ivf_clusters: int
    ivf_iters: int  # k-means iterations of the index build
    ingest_batch: int  # rows per writer batch_ingest and remove
    remove_every: int  # writer cycles between removes


SCALES = {
    # a quarter of the reference corpus at its full 512 dimensions, so
    # five set-ups (each ending in a driver-cache build) fit one run;
    # the first cold call pays the process's warm-up and the second is
    # still warming, so the median needs five
    "full": Scale(rows=11_111, queries=256, setup_reps=5, ivf_clusters=32, ivf_iters=3,
                  ingest_batch=4, remove_every=8),
    # the smoke test's size: every path, a few seconds of work
    "tiny": Scale(rows=1_111, queries=32, setup_reps=2, ivf_clusters=4, ivf_iters=3,
                  ingest_batch=2, remove_every=4),
}


@dataclass
class Call:
    """One timed client call and what the gate needs to judge it."""

    kind: str
    start: float
    ms: float
    result: object = None
    args: tuple = ()
    error: str | None = None
    route: str | None = None
    #: appended rows present when the call ran
    live: frozenset = frozenset()
    #: appended rows removed before the call ran
    removed: frozenset = frozenset()

    @property
    def is_read(self) -> bool:
        return self.kind not in WRITE_KINDS


@dataclass
class Run:
    """Shared state of one workload run."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    scale: Scale
    work: str
    nproc: int
    calls: list[Call] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    failed: int = 0
    setup_s: list[float] = field(default_factory=list)
    cold_s: list[float] = field(default_factory=list)
    probes_ms: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    #: MB in use, read at the end of the timed phase (see ``end_timed``)
    mem: dict = field(default_factory=dict)
    timed_s: float = 0.0
    #: perf_counter time the timed phase started
    timed_from: float = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(what)

    def probe(self, phase: str) -> None:
        self.probes_ms[phase] = round(hostenv.gemm_probe_ms(), 3)

    def end_timed(self) -> None:
        """Close the timed phase, then read memory while the workload's
        engine is still alive: the driver's peak resident set and the
        JVM's live heap plus non-heap."""
        self.timed_s = time.perf_counter() - self.timed_from
        jvm = hostenv.jvm_live_mb(self.spark._jvm)
        self.mem = {"py": hostenv.peak_rss_mb(), "jvm": jvm["heap"] + jvm["non_heap"],
                    "jvm_parts": jvm}

    def timed(self, kind: str, fn, *args, **kw) -> Call:
        """Run ``fn`` as one client call into the engine, inside a span
        that owns the Spark job group; an exception is recorded, not
        raised."""
        with self.tracer.span(kind, "engine", spark_work=True):
            t0 = time.perf_counter()
            try:
                out, err = fn(*args, **kw), None
            except Exception as e:  # a failed call is a counted outcome
                out, err = None, f"{type(e).__name__}: {e}"
            t1 = time.perf_counter()
        return Call(kind, t0, (t1 - t0) * 1000.0, out, error=err)


def _engine(spark, path: str, **kw):
    from multimodal_vector_db_spark.engine import MultiModalSearchEngine

    return MultiModalSearchEngine(spark, items=spark.read.parquet(path), dim=DIM, **kw)


def _corpus_path(run: Run, rep: int) -> str:
    return os.path.join(run.work, f"corpus-{rep}.parquet")


def _corpus_setup(run: Run, rep: int, **engine_kw):
    """Generate and write the corpus, then construct an engine on it."""
    corpus = datagen.make_corpus(run.seed, run.scale.rows, DIM)
    queries = datagen.make_queries(corpus, run.seed, run.scale.queries)
    path = _corpus_path(run, rep)
    shutil.rmtree(path, ignore_errors=True)
    datagen.write_corpus(corpus, path, files=2 * run.nproc)
    return corpus, queries, _engine(run.spark, path, **engine_kw)


# --------------------------------------------------------------------------
# single calls: the read mix
# --------------------------------------------------------------------------


class Mix:
    """The deterministic call sequence of one client."""

    def __init__(self, seed: int, stream: int, n_queries: int, texts: list[str]):
        rng = np.random.default_rng([seed, 6, stream])
        kinds, weights = zip(*MIX)
        self._kinds = rng.choice(kinds, p=weights, size=4096)
        self._q = rng.integers(0, n_queries, size=4096)
        self._mod = rng.choice(MODALITIES, size=4096)
        self._texts = texts
        self._i = 0

    def next(self) -> tuple:
        i = self._i % 4096
        self._i += 1
        kind = str(self._kinds[i])
        if kind == "compare":
            return kind, self._texts[int(self._q[i]) % len(self._texts)]
        if kind == "filtered":
            return kind, int(self._q[i]), str(self._mod[i])
        return kind, int(self._q[i])


def single_call(run: Run, eng, queries: np.ndarray, item: tuple) -> Call:
    kind = item[0]
    if kind == "compare":
        c = run.timed("compare_rows", eng.compare_modalities_rows, item[1],
                      k_per_modality=3)
    else:
        q = queries[item[1]].tolist()
        kw = {"k": K}
        if kind == "filtered":
            kw["filter_content_type"] = item[2]
        elif kind == "diversity":
            kw["strategy"] = "diversity"
        c = run.timed(kind, eng.search, q, **kw)
    c.args = item
    return c


class Judge:
    """Checks recorded single calls against the exact rankings."""

    def __init__(self, corpus: datagen.Corpus, queries: np.ndarray):
        self.exact = checks.Exact(corpus.ids, corpus.modality, corpus.space, corpus.emb)
        self.queries = queries
        self.n_base = len(corpus.ids)

    def ingested(self, rid: int, content: str, modality: str) -> None:
        """Register a row the engine embeds with its default embedder."""
        space = datagen.SPACE_OF[modality]
        self.exact.add(rid, modality, space, fake_embed_numpy(content, space, DIM))

    def problem(self, c: Call) -> str | None:
        if c.error is not None:
            return c.error
        kind = c.args[0]
        if kind == "compare":
            return self._compare_problem(c)
        got, sims = checks.ranked_ids(c.result)
        gone = [i for i in got if i in c.removed]
        if gone:
            return f"returned removed ids {gone}"
        qi = c.args[1]
        q = self.queries[qi]
        if kind == "diversity":
            # MMR re-ranks the exact top max(4k, 20) candidates
            pool, _ = self.exact.ranking(qi, q, "clip", None, max(4 * K, 20), c.live)
            if len(got) != K or set(got) - set(pool.tolist()):
                return f"diversity result {got} not {K} of the exact top {len(pool)}"
            return None
        mod = c.args[2] if kind == "filtered" else None
        space = datagen.SPACE_OF[mod] if mod else "clip"
        ids, scores = self.exact.ranking(qi, q, space, mod, K, c.live)
        return checks.topk_problem(got, sims, ids, scores, K)

    def recall(self, calls) -> float:
        """Mean recall@10 of the plain searches in ``calls``."""
        hits = n = 0
        for c in calls:
            if c.error is not None or c.args[0] != "plain":
                continue
            qi = c.args[1]
            ids, _ = self.exact.ranking(qi, self.queries[qi], "clip", None, K, c.live)
            hits += len({r["id"] for r in c.result} & set(ids[:K].tolist()))
            n += K
        return hits / n if n else 0.0

    def _compare_problem(self, c: Call) -> str | None:
        text = c.args[1]
        by_mod: dict[str, list] = {}
        for r in sorted(c.result, key=lambda r: (r["modality"], r["rank"])):
            by_mod.setdefault(r["modality"], []).append(r)
        if sorted(by_mod) != sorted(MODALITIES):
            return f"compare returned modalities {sorted(by_mod)}"
        for mod, rows in by_mod.items():
            space = datagen.SPACE_OF[mod]
            q = fake_embed_numpy(text, space, DIM)
            ids, scores = self.exact.ranking(("text", text), q, space, mod, 3, c.live)
            got, sims = checks.ranked_ids(rows)
            p = checks.topk_problem(got, sims, ids, scores, 3)
            if p:
                return f"compare {mod}: {p}"
        return None


def _cold(run: Run, eng, queries, judge: Judge) -> None:
    c = run.timed("cold", eng.search, queries[0].tolist(), k=K)
    c.args = ("plain", 0)
    run.cold_s.append(c.ms / 1000.0)
    p = judge.problem(c)
    if p:
        run.fail(f"cold search: {p}")


def _serve_setup(run: Run, **engine_kw):
    """Repeat the set-up; keep the last engine for the timed phase."""
    run.probe("setup")
    for rep in range(run.scale.setup_reps):
        t0 = time.perf_counter()
        corpus, queries, eng = _corpus_setup(run, rep, **engine_kw)
        run.setup_s.append(time.perf_counter() - t0)
        judge = Judge(corpus, queries)
        _cold(run, eng, queries, judge)
    # one call of each kind builds the caches the cold plain search did
    # not (the clap space, the cross-space compare structures)
    for item in (("filtered", 1, "audio"), ("diversity", 2), ("compare", "warm-up")):
        p = judge.problem(single_call(run, eng, queries, item))
        if p:
            run.fail(f"warm-up {item[0]}: {p}")
    return corpus, queries, eng, judge


def _route_problem(c: Call) -> str | None:
    """Single calls on a corpus inside the local budget must be served
    by the driver micro-path (``last_route`` read right after the call,
    on the calling thread)."""
    if c.route != "exact-local":
        return f"route {c.route!r}, want 'exact-local'"
    return None


# --------------------------------------------------------------------------
# ingest_serve: writes interleaved with the read mix
# --------------------------------------------------------------------------


def ingest_serve(run: Run) -> None:
    """One client on one default engine, cycling: ``batch_ingest`` a
    small batch of text rows, search for one of them (it must come back
    as its own top-1), then make READS_PER_WRITE calls of the read mix.
    Every ``remove_every`` cycles it removes its oldest ingested rows
    and searches for the content of each one: neither that search nor
    any later call may return a removed id.

    The writer and reader share one thread: with a writer thread beside
    a reader thread, the engine's reader (as it stands) drops off the
    micro-path for good (a search that lands between a write's epoch
    bump and its cache update re-collects the space with Spark, and
    each write during that multi-second collect leaves the rebuilt
    cache stale again), so single calls stall for tens of seconds and a
    run cannot finish in its time limit."""
    corpus, queries, eng, judge = _serve_setup(run)
    n_base = len(corpus.ids)
    sc = run.scale
    mix = Mix(run.seed, 1, len(queries), datagen.make_texts(run.seed, 64, "query"))
    rng = np.random.default_rng([run.seed, 7])
    live: list[int] = []
    content: dict[int, str] = {}
    removed: set[int] = set()
    next_id, cycle = n_base, 0
    run.probe("timed")
    t_end = time.perf_counter() + run.seconds
    run.timed_from = time.perf_counter()
    while time.perf_counter() < t_end:
        rows = [{"content": f"ingest {run.seed} {next_id + j} {rng.integers(1 << 30)}",
                 "modality": "text"} for j in range(sc.ingest_batch)]
        c = run.timed("ingest", eng.batch_ingest, rows)
        run.calls.append(c)
        if c.error is not None:
            break
        new_ids = range(next_id, next_id + len(rows))
        for rid, r in zip(new_ids, rows):
            judge.ingested(rid, r["content"], r["modality"])
            content[rid] = r["content"]
        live.extend(new_ids)
        next_id += len(rows)
        j = int(rng.integers(len(rows)))
        s = run.timed("post_write_search", eng.search, rows[j]["content"], k=K)
        s.args = (new_ids[j],)
        s.route = (eng.last_route or {}).get("route")
        run.calls.append(s)
        live_now, removed_now = frozenset(live), frozenset(removed)
        for _ in range(READS_PER_WRITE):
            r = single_call(run, eng, queries, mix.next())
            r.route = (eng.last_route or {}).get("route")
            r.live, r.removed = live_now, removed_now
            run.calls.append(r)
        cycle += 1
        if cycle % sc.remove_every == 0:
            gone, live[:] = live[: sc.ingest_batch], live[sc.ingest_batch:]
            c = run.timed("remove", eng.remove, gone)
            run.calls.append(c)
            if c.error is not None:
                break
            removed.update(gone)
            removed_now = frozenset(removed)
            for rid in gone:
                s = run.timed("post_remove_search", eng.search, content[rid], k=K)
                s.route = (eng.last_route or {}).get("route")
                s.removed = removed_now
                run.calls.append(s)
    run.end_timed()

    for c in run.calls:
        if not c.is_read:
            p = c.error
        elif c.kind == "post_write_search":
            ids = [r["id"] for r in c.result] if c.error is None else []
            p = c.error or _route_problem(c) or (
                None if ids[:1] == [c.args[0]]
                else f"row {c.args[0]} not its own top-1 (got {ids[:3]})")
        elif c.kind == "post_remove_search":
            gone = [] if c.error else [r["id"] for r in c.result if r["id"] in c.removed]
            p = c.error or _route_problem(c) or (
                f"returned removed ids {gone}" if gone else None)
        else:
            p = judge.problem(c) or _route_problem(c)
        if p:
            run.fail(f"{c.kind}: {p}")
    plain = [c for c in run.calls if c.kind == "plain"]
    run.info.update(clients=1, corpus_rows=n_base, dim=DIM, query_pool=len(queries),
                    ingested_rows=next_id - n_base, removed_rows=len(removed),
                    reads_per_write=READS_PER_WRITE, recall_at_10=judge.recall(plain))


# --------------------------------------------------------------------------
# batch_pipeline: Spark-path batch search, IVF, registry passes
# --------------------------------------------------------------------------


def _batch_problem(judge: Judge, result, queries) -> str | None:
    if result is None or len(result) != len(queries):
        return "missing query results"
    for qi in range(len(queries)):
        got, sims = checks.ranked_ids(result[qi])
        ids, scores = judge.exact.ranking(qi, queries[qi], "clip", None, K)
        p = checks.topk_problem(got, sims, ids, scores, K)
        if p:
            return f"query {qi}: {p}"
    return None


def _ivf_recall(judge: Judge, result, queries) -> tuple[float, str | None]:
    """Mean recall@10 against exact; a problem when ids are not corpus
    ids of the space or scores are not descending."""
    if result is None or len(result) != len(queries):
        return 0.0, "missing query results"
    hits = 0
    for qi in range(len(queries)):
        got, sims = checks.ranked_ids(result[qi])
        bad = [i for i in got if not (0 <= i < judge.n_base)
               or judge.exact.space[i] != "clip"]
        if bad or any(a < b - checks.EPS for a, b in zip(sims, sims[1:])):
            return 0.0, f"query {qi}: invalid ids {bad} or unsorted scores"
        ids, _ = judge.exact.ranking(qi, queries[qi], "clip", None, K)
        hits += len(set(got) & set(ids[:K].tolist()))
    return hits / (K * len(queries)), None


def registry_query(run: Run, name: str, sf_dir: str) -> Call:
    """Build one registry query and force it with a noop write; the
    build, the (traced-only) plan and the action are separate spans."""
    from multimodal_vector_db_spark import queries as Q

    tr = run.tracer
    with tr.span(f"registry.{name}", "bench"):
        t0 = time.perf_counter()
        try:
            with tr.span(f"queries.{name}", "queries", spark_work=True):
                df = Q.REGISTRY[name](run.spark, sf_dir)
            if tr.enabled:
                with tr.span(f"catalyst.{name}", "catalyst", spark_work=True) as s:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    s.spark["phases"] = {
                        ph: phases.get(ph).get().durationMs()
                        for ph in ("analysis", "optimization", "planning")
                        if phases.get(ph).isDefined()
                    }
            with tr.span(f"action.{name}", "action", spark_work=True):
                df.write.format("noop").mode("overwrite").save()
            err = None
        except Exception as e:  # a failed query is a counted outcome
            err = f"{type(e).__name__}: {e}"
        t1 = time.perf_counter()
    return Call(f"registry.{name}", t0, (t1 - t0) * 1000.0, error=err)


def _oracle_pass(run: Run, sf_dir: str) -> None:
    """Each headline query's rows against its DuckDB twin — once per
    run, before the timed phase (it also warms every query's path). The
    Spark side runs three queries at a time: nothing in this pass is
    timed, and it is the longest step of the run."""
    import duckdb

    from multimodal_vector_db_spark import queries as Q

    def spark_rows(name):
        df = Q.REGISTRY[name](run.spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    con = duckdb.connect()
    try:
        for t in datagen.REGISTRY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        with ThreadPoolExecutor(max_workers=3) as pool:
            pending = {name: pool.submit(spark_rows, name) for name in HEADLINE}
            for name, fut in pending.items():
                try:
                    p = checks.oracle_problem(*fut.result(), con, Q.ORACLES[name])
                except Exception as e:  # reported as a failed check
                    p = f"{type(e).__name__}: {e}"
                if p:
                    run.fail(f"oracle {name}: {p}")
    finally:
        con.close()


def batch_pipeline(run: Run) -> None:
    """One client; each call is one batch job: an exact ``search_batch``
    on the over-budget Spark path, the same batch forced onto IVF, or
    one query of a registry pass."""
    from multimodal_vector_db_spark.operators.ann import build_ivf_index

    sc = run.scale
    run.probe("setup")
    t0 = time.perf_counter()
    sf_dir = os.path.join(run.work, "registry")
    datagen.write_registry_tables(run.seed, sf_dir)
    t1 = time.perf_counter()
    _oracle_pass(run, sf_dir)
    t2 = time.perf_counter()
    corpus, queries, eng = _corpus_setup(run, 0, local_exact_budget_bytes=0)
    t3 = time.perf_counter()
    ivf_path = os.path.join(run.work, "ivf.parquet")
    shutil.rmtree(ivf_path, ignore_errors=True)
    build_ivf_index(
        eng.items.where("space = 'clip'").select("id", "embedding"),
        ivf_path, n_clusters=sc.ivf_clusters, max_iter=sc.ivf_iters,
    )
    t4 = time.perf_counter()
    eng.attach_ann_index("clip", ivf_path, calibrate=False)
    t5 = time.perf_counter()
    # the oracle pass is the registry's warm-up, not set-up
    run.setup_s.append((t1 - t0) + (t5 - t2))
    run.info["setup_phases_s"] = {
        "registry_tables": t1 - t0, "corpus": t3 - t2, "ivf_build": t4 - t3,
        "ivf_attach": t5 - t4}
    run.info["oracle_pass_s"] = t2 - t1

    judge = Judge(corpus, queries)
    qlist = [q.tolist() for q in queries]
    # the cold call on fresh engines over the same corpus; the engine
    # that attached the index makes the last one and serves the loop
    fresh = [_engine(run.spark, _corpus_path(run, 0), local_exact_budget_bytes=0)
             for _ in range(sc.setup_reps - 1)]
    for e in fresh + [eng]:
        c = run.timed("cold", e.search_batch, qlist, k=K)
        run.cold_s.append(c.ms / 1000.0)
        p = c.error or _batch_problem(judge, c.result, queries)
        if p:
            run.fail(f"cold search_batch: {p}")

    def ivf():
        return run.timed("ivf", eng.search_batch, qlist, k=K, route="ivf",
                         recall_floor=0.95)

    ops = [lambda: run.timed("batch", eng.search_batch, qlist, k=K), ivf]
    ops += [lambda n=n: registry_query(run, n, sf_dir) for n in HEADLINE]
    # warm the IVF path once (its first call pays the index read)
    ivf()
    run.probe("timed")
    t_end = time.perf_counter() + run.seconds
    run.timed_from = time.perf_counter()
    i = 0
    # at least one whole cycle, so every kind of job is measured; after
    # that, jobs until the time is up
    while i < len(ops) or time.perf_counter() < t_end:
        c = ops[i % len(ops)]()
        if c.kind == "ivf":
            c.route = (eng.last_route or {}).get("route")
            run.info["ivf_nprobe"] = (eng.last_route or {}).get("nprobe")
        run.calls.append(c)
        i += 1
    run.end_timed()
    recalls = []
    for c in run.calls:
        if c.error is not None:
            p = c.error
        elif c.kind == "batch":
            p = _batch_problem(judge, c.result, queries)
        elif c.kind == "ivf":
            r, p = _ivf_recall(judge, c.result, queries)
            recalls.append(r)
            if p is None and c.route != "ivf":
                p = f"route {c.route!r}, want 'ivf'"
        else:
            p = None
        if p:
            run.fail(f"{c.kind}: {p}")
        c.result = None
    ivf_recall = float(np.mean(recalls)) if recalls else 0.0
    run.info.update(clients=1, corpus_rows=len(corpus.ids), dim=DIM,
                    batch_queries=len(queries), ivf_clusters=sc.ivf_clusters,
                    registry_rows=datagen.REGISTRY_ROWS, ivf_recall_at_10=ivf_recall,
                    # exact batches pass the gate only at recall 1, so the
                    # workload's lowest route recall is the IVF one
                    recall_at_10=ivf_recall)


WORKLOADS = {
    "ingest_serve": ingest_serve,
    "batch_pipeline": batch_pipeline,
}
