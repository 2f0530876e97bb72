"""Turn one workload run into the benchmark's metrics.

``end_to_end`` metrics come from the untraced run, ``per_layer`` ones
from the traced run (``--trace 1``). Both lists are fixed: every
workload reports every metric of its list, with 0 for a layer the
workload never reaches (a Spark counter on the driver-only micro-path,
say). ``report`` holds the per-workload figures the metrics are
summarised from, by the names the documentation uses.
"""

from __future__ import annotations

import statistics

from perfbench.trace import STAGE_COUNTERS
from perfbench.workloads import HEADLINE

#: (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cold_call_s", "s", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("read_p99_ms", "ms", "lower"),
    ("calls_per_s", "1/s", "higher"),
    ("peak_mem_mb", "MB", "lower"),
    ("recall_at_10", "ratio", "higher"),
)

SINGLE_KINDS = ("plain", "filtered", "diversity", "compare_rows", "post_write_search",
                "post_remove_search")
#: registry queries kept one by one; the other headline queries are
#: summed into ``others``
KEPT_QUERIES = (
    "dedup_minhash_lsh", "metrics_eval", "pq_encode_decode", "knn_batch",
    "near_dup_embedding", "cross_modal_routed",
)
PHASES = ("analysis", "optimization", "planning")
SPARK_OPS = ("single", "cold", "batch", "ivf", "registry")
SPARK_COUNTERS = (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                  ("job_wall_ms", "ms"), ("executor_run_ms", "ms"),
                  ("executor_cpu_ms", "ms"), ("gc_ms", "ms"),
                  ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                  ("cpu_util", "ratio"))
SELF_LAYERS = ("bench", "engine", "queries", "catalyst", "action", "spark")


def _per_layer() -> tuple:
    m = [(f"engine.search.{k}_ms", "ms", "lower")
         for k in ("plain", "filtered", "diversity", "compare_rows")]
    m += [("engine.route.local_share", "ratio", "higher"),
          ("engine.jobs_per_call", "count", "lower"),
          ("engine.ingest_ms", "ms", "lower"),
          ("engine.remove_ms", "ms", "lower"),
          ("engine.post_write_search_ms", "ms", "lower")]
    for op in ("cold", "batch", "ivf"):
        m += [(f"engine.{op}.spark_ms", "ms", "lower"),
              (f"engine.{op}.driver_ms", "ms", "lower")]
    for q in KEPT_QUERIES + ("others",):
        m.append((f"queries.{q}.build_ms", "ms", "lower"))
        m += [(f"catalyst.{q}.{ph}_ms", "ms", "lower") for ph in PHASES]
    for op in SPARK_OPS:
        m += [(f"spark.{op}.{c}", u, "higher" if c == "cpu_util" else "lower")
              for c, u in SPARK_COUNTERS]
    for q in KEPT_QUERIES:
        m += [(f"spark.{q}.job_wall_ms", "ms", "lower"),
              (f"spark.{q}.cpu_util", "ratio", "higher")]
    m += [("proc.rss_py_mb", "MB", "lower"), ("proc.jvm_live_mb", "MB", "lower")]
    m += [(f"self.{layer}_ms", "ms", "lower") for layer in SELF_LAYERS]
    m += [("trace.read_p50_ms", "ms", "lower"),
          ("trace.calls_per_s", "1/s", "higher"),
          ("trace.spans", "count", "lower"),
          ("host.gemm_probe_ms", "ms", "lower")]
    return tuple(m)


PER_LAYER = _per_layer()


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    if not s:
        return 0.0
    return float(s[min(len(s) - 1, max(0, -(-len(s) * p // 100) - 1))])


def tail(xs) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75 that has at least ten samples
    beyond it, else the median: (percentile, value)."""
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100 >= 10:
            return p, percentile(xs, p)
    return 50, median(xs)


def end_to_end(run, session_s: float, mem: dict) -> tuple[dict, dict]:
    """(end-to-end metrics, report) of a run. The metrics are the result
    of an untraced run; a traced run reports them too, as the base its
    tracing overhead is read against. Writes count in ``calls_per_s``
    but not in the read latencies; their tail is the ``ingest_pNN_ms``
    figure of the report."""
    ms = [c.ms for c in run.calls]
    reads = [c.ms for c in run.calls if c.is_read]
    metrics = {
        "setup_s": session_s + median(run.setup_s),
        "cold_call_s": median(run.cold_s),
        "read_p50_ms": median(reads),
        "read_p99_ms": percentile(reads, 99),
        "calls_per_s": len(ms) / run.timed_s if run.timed_s else 0.0,
        "peak_mem_mb": mem["py"] + mem["jvm"],
        "recall_at_10": run.info.get("recall_at_10", 0.0),
    }
    report = {
        "samples": {"calls": len(ms), "reads": len(reads), "setup_reps": len(run.setup_s),
                    "cold_calls": len(run.cold_s)},
        "session_start_s": session_s,
        "setup_rep_s": run.setup_s,
        "cold_call_rep_s": run.cold_s,
        "per_kind_ms": {k: {"p50": median(v), "max": max(v), "n": len(v)}
                        for k, v in _by_kind(run).items()},
    }
    report.update(_named_figures(run))
    return metrics, report


def _by_kind(run) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for c in run.calls:
        out.setdefault(c.kind, []).append(c.ms)
    return out


def _named_figures(run) -> dict:
    """The per-workload figures by their documented names, each with
    its unit and sample count; only those the workload produces."""
    kinds = _by_kind(run)
    figs: dict = {}

    def timing(name: str, xs: list[float]) -> None:
        p, v = tail(xs)
        figs[f"{name}_p50_ms"] = {"value": median(xs), "unit": "ms", "n": len(xs)}
        figs[f"{name}_p{p}_ms"] = {"value": v, "unit": "ms", "n": len(xs)}

    reads = [x for k in ("plain", "filtered", "diversity", "compare_rows")
             for x in kinds.get(k, [])]
    if reads:
        timing("search", reads)
        figs["search_qps"] = {"value": len(reads) / run.timed_s, "unit": "1/s",
                              "n": len(reads)}
    writes = kinds.get("ingest", []) + kinds.get("remove", [])
    if writes:
        timing("ingest", writes)
    for kind, name in (("batch", "batch_search_qps"), ("ivf", "ivf_search_qps")):
        if kinds.get(kind):
            figs[name] = {"value": run.info["batch_queries"] * 1000.0 / median(kinds[kind]),
                          "unit": "1/s", "n": len(kinds[kind])}
    if "ivf_recall_at_10" in run.info:
        figs["ivf_recall_at_10"] = {"value": run.info["ivf_recall_at_10"],
                                    "unit": "ratio", "n": len(kinds.get("ivf", []))}
    passes = _registry_passes(run)
    if passes:
        figs["registry_pass_s"] = {"value": median(passes) / 1000.0, "unit": "s",
                                   "n": len(passes)}
    attempted = len(run.calls) + len(run.cold_s)
    figs["op_error_rate"] = {"value": run.failed / max(attempted, 1),
                             "unit": "ratio", "n": attempted}
    return figs


def _registry_passes(run) -> list[float]:
    """Wall (ms) of each complete registry pass, in call order; a pass
    ends with the last headline query."""
    passes, cur = [], 0.0
    for c in run.calls:
        if c.kind.startswith("registry."):
            cur += c.ms
            if c.kind == "registry.cross_modal_routed":
                passes.append(cur)
                cur = 0.0
    return passes


def per_layer(run, tracer, mem: dict, nproc: int, timed_from: float) -> dict:
    """Per-layer metrics of a traced run."""
    kinds = _by_kind(run)
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    for k in ("plain", "filtered", "diversity", "compare_rows"):
        out[f"engine.search.{k}_ms"] = median(kinds.get(k, []))
    for k in ("ingest", "remove", "post_write_search"):
        out[f"engine.{k}_ms"] = median(kinds.get(k, []))

    spans = [s for s in tracer.spans if s.start >= timed_from or s.name == "cold"]
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    singles = [s for k in SINGLE_KINDS for s in by_name.get(k, [])]
    if singles:
        out["engine.route.local_share"] = sum(
            1 for s in singles if not s.spark.get("jobs")) / len(singles)
        out["engine.jobs_per_call"] = sum(s.spark.get("jobs", 0) for s in singles) / len(singles)
    for op in ("cold", "batch", "ivf"):
        ss = by_name.get(op, [])
        if ss:
            out[f"engine.{op}.spark_ms"] = median([s.spark["job_wall_ms"] for s in ss])
            out[f"engine.{op}.driver_ms"] = median([s.ms - s.spark["job_wall_ms"] for s in ss])

    for q in HEADLINE:
        key = q if q in KEPT_QUERIES else "others"
        out[f"queries.{key}.build_ms"] += median([s.ms for s in by_name.get(f"queries.{q}", [])])
        cat = by_name.get(f"catalyst.{q}", [])
        for ph in PHASES:
            out[f"catalyst.{key}.{ph}_ms"] += median(
                [s.spark.get("phases", {}).get(ph, 0) for s in cat])

    groups = {"single": singles, "cold": by_name.get("cold", []),
              "batch": by_name.get("batch", []), "ivf": by_name.get("ivf", [])}
    registry_spans = [s for s in spans if s.layer in ("queries", "catalyst", "action")]
    for op, ss in groups.items():
        _spark_totals(out, f"spark.{op}", ss, max(len(ss), 1), nproc)
    n_passes = len(by_name.get("action.cross_modal_routed", []))
    _spark_totals(out, "spark.registry", registry_spans, max(n_passes, 1), nproc)
    for q in KEPT_QUERIES:
        per_pass = {}
        for s in spans:
            if s.name.endswith(f".{q}") and s.layer in ("queries", "catalyst", "action"):
                per_pass.setdefault(s.call_id, []).append(s)
        walls = [sum(s.spark.get("job_wall_ms", 0.0) for s in ss) for ss in per_pass.values()]
        cpus = [sum(s.spark.get("executor_cpu_ms", 0.0) for s in ss) for ss in per_pass.values()]
        out[f"spark.{q}.job_wall_ms"] = median(walls)
        if sum(walls):
            out[f"spark.{q}.cpu_util"] = sum(cpus) / (sum(walls) * nproc)

    out["proc.rss_py_mb"] = mem["py"]
    out["proc.jvm_live_mb"] = mem["jvm"]
    n_calls = max(len(run.calls), 1)
    for layer, ms in tracer.self_ms(since=timed_from).items():
        out[f"self.{layer}_ms"] = ms / n_calls
    out["trace.read_p50_ms"] = median([c.ms for c in run.calls if c.is_read])
    out["trace.calls_per_s"] = len(run.calls) / run.timed_s if run.timed_s else 0.0
    out["trace.spans"] = len(tracer.spans)
    out["host.gemm_probe_ms"] = run.probes_ms.get("timed", 0.0)
    return out


def _spark_totals(out: dict, prefix: str, spans, n: int, nproc: int) -> None:
    tot = {c: 0.0 for c, _ in SPARK_COUNTERS}
    for s in spans:
        for c in ("jobs", "stages", "job_wall_ms") + STAGE_COUNTERS:
            tot[c] += s.spark.get(c, 0)
    for c, _ in SPARK_COUNTERS:
        if c != "cpu_util":
            out[f"{prefix}.{c}"] = tot[c] / n
    if tot["job_wall_ms"]:
        out[f"{prefix}.cpu_util"] = tot["executor_cpu_ms"] / (tot["job_wall_ms"] * nproc)
