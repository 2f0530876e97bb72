"""Multimodal binary columns, streaming twins, TPC-H classics.

Split from the original queries.py (1942-2621); body text unchanged.
Registration order inside this module is preserved; the package
__init__ manifest preserves inter-module order. The driver checks
the FIRST 50 registered queries — see tests/test_registry_window.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from multimodal_vector_db_spark.functions.vector import dot
from multimodal_vector_db_spark.operators.knn import (
    knn_join,
    knn_search,
    top_k_per_group,
)

from ._core import ORACLES, REGISTRY, _csv_doubles, _csv_longs, _t, query

# Multimodal binary-column plumbing (SURVEY §2.1 S5-S7, §2.8 M3-M5)
# ---------------------------------------------------------------------------


@query(
    "multimodal_features",
    """
    SELECT doc_id AS id,
           'text' AS modality,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS fingerprint,
           array_to_string(list_transform(
             list_transform(generate_series(0, 3), i ->
               ((instr('0123456789abcdef', substr(md5(text), i*2+1, 1)) - 1) * 16
                + instr('0123456789abcdef', substr(md5(text), i*2+2, 1)) - 1
               )::DOUBLE / 255.0),
             v -> (round(v, 9)::DECIMAL(28,9))::VARCHAR), ',') AS features
    FROM documents
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/M3 plumbing: documents → BINARY content column → Arrow-batched
    mapInPandas feature extraction (deterministic digest standing in for
    PIL+CLIP decode/embed). The oracle checks the full Python round-trip
    — binary encode, Arrow transfer, per-batch pandas compute —
    hash-exactly against DuckDB."""
    from multimodal_vector_db_spark.multimodal import (
        extract_features,
        media_items_from_documents,
    )
    from multimodal_vector_db_spark.operators.util import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    feats = extract_features(media_items_from_documents(docs), n_features=4)
    return feats.select(
        "id",
        "modality",
        "n_bytes",
        "fingerprint",
        _csv_doubles(F.col("features")).alias("features"),
    )


@query(
    "frame_sampling",
    """
    WITH f AS (
      SELECT event_id, user_id,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) - 1 AS frame_no,
             greatest(1, floor(((user_id % 30) + 1)::DOUBLE / 2.0)::INT)
               AS frame_interval
      FROM events WHERE user_id < 100
    ),
    kept AS (
      SELECT event_id, user_id, frame_no,
             row_number() OVER (
               PARTITION BY user_id ORDER BY frame_no) - 1 AS sample_no
      FROM f WHERE frame_no % frame_interval = 0
    )
    SELECT user_id, event_id,
           frame_no::BIGINT AS frame_no, sample_no::BIGINT AS sample_no
    FROM kept WHERE sample_no < 16
    """,
)
def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (video_embedder.py:82-114): frame sampling as a relational
    plan — events stand in for frames (video = user, fps derived from
    user_id), interval = max(1, int(fps / sample_fps)), keep every
    interval-th frame up to max_frames."""
    from multimodal_vector_db_spark.multimodal import sample_frame_plan

    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 100)
    frames = ev.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("user_id") % 30) + 1).alias("fps"),
    )
    out = sample_frame_plan(
        frames,
        video_col="user_id",
        order_cols=["ts", "event_id"],
        fps_col="fps",
        sample_fps=2.0,
        max_frames=16,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("sample_no").cast("long").alias("sample_no"),
    )


# ---------------------------------------------------------------------------
# Streaming twins (SURVEY §2.11 / §7 phase 7) — batch forms of the
# streaming.ingest operators, oracle-checked; the streaming execution of
# the SAME plans is covered by tests/test_streaming.py
# ---------------------------------------------------------------------------


@query(
    "events_tumbling_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*)::BIGINT AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (streaming.windowed_counts run in
    batch mode — identical plan, watermark is a no-op on bounded input)."""
    from multimodal_vector_db_spark.streaming import windowed_counts

    ev = _t(spark, sf_dir, "events")
    out = windowed_counts(ev, window_duration="1 hour", watermark="2 hours")
    return out.select(
        "window_start",
        "event_type",
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    )


@query(
    "sessionization",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, us,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ),
    sess AS (
      SELECT user_id, us,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           count(*)::BIGINT AS n_events,
           (max(us) - min(us))::BIGINT AS duration_us
    FROM sess GROUP BY user_id, session_no
    """,
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-gap sessionization (30 min inactivity) — the batch twin of
    Spark's stateful session_window, exact integer-µs arithmetic."""
    from multimodal_vector_db_spark.streaming import ingest as S

    return S.sessionize_batch(_t(spark, sf_dir, "events"), gap_us=1_800_000_000)


# ---------------------------------------------------------------------------
# TPC-H classic shapes (headline relational benchmarks)
# ---------------------------------------------------------------------------


@query(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity)::DOUBLE AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1997-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy multi-aggregate groupBy — partial
    (map-side) aggregation makes the shuffle a few rows per partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1997-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("double").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


@query(
    "tpch_q3",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice::DECIMAL(15,2)
                     * (1 - l.l_discount::DECIMAL(15,2))), 2)::DOUBLE AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → join → agg → top-k.
    customer is broadcast (small side); lineitem never shuffles twice.
    Revenue is summed over DECIMAL(15,2) prices and discounts (TPC-H's
    own column type), so the cent rounding is exact: rounding a double
    sum lands either side of a half-cent depending on the fold order."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(15,2)")
                    * (1 - F.col("l_discount").cast("decimal(15,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "scalar_functions",
    r"""
    WITH t AS (
      SELECT doc_id, text, lang,
             source || '/doc_' || doc_id || '.txt' AS path
      FROM documents
    )
    SELECT doc_id,
           string_split(path, '/')[-1] AS fname,
           regexp_replace(string_split(path, '/')[-1], '\.txt$', '') AS stem,
           (path LIKE '%.txt') AS is_txt,
           lang || '. ' || substr(text, 1, 500) AS embed_text,
           CASE WHEN length(text) > 200
                THEN substr(text, 1, 200) || '...'
                ELSE text END AS preview
    FROM t
    """,
)
def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F3 scalar derivations in one plan: embed-text concat
    (build_text_index.py:113-116), preview truncation
    (build_text_index.py:54), and basename/stem/extension ops
    (build_matryoshka_indices.py:75-79) — all codegen'd expressions."""
    docs = _t(spark, sf_dir, "documents")
    path = F.concat(
        F.col("source"), F.lit("/doc_"), F.col("doc_id").cast("string"), F.lit(".txt")
    )
    staged = docs.select("doc_id", "text", "lang", path.alias("path"))
    fname = F.element_at(F.split(F.col("path"), "/"), -1)
    return staged.select(
        "doc_id",
        fname.alias("fname"),
        F.regexp_replace(fname, r"\.txt$", "").alias("stem"),
        F.col("path").endswith(".txt").alias("is_txt"),
        F.concat(F.col("lang"), F.lit(". "), F.substring("text", 1, 500)).alias(
            "embed_text"
        ),
        F.when(
            F.length("text") > 200,
            F.concat(F.substring("text", 1, 200), F.lit("...")),
        )
        .otherwise(F.col("text"))
        .alias("preview"),
    )


@query(
    "linear_projection",
    """
    WITH p AS (
      SELECT vec_id,
             list_transform(generate_series(1, 16), j ->
               list_reduce(list_prepend(0.0::DOUBLE,
                 list_transform(generate_series(1, 64), i ->
                   embedding[i]::DOUBLE
                   * ((((7*(i-1) + 13*(j-1)) % 19) - 9) / 19.0))),
                 (a, b) -> a + b)) AS y
      FROM embeddings WHERE vec_id < 100
    ),
    n AS (SELECT vec_id, y, sqrt(list_dot_product(y, y)) AS nrm FROM p)
    SELECT vec_id,
           array_to_string(list_transform(y, x ->
             (round(x / CASE WHEN nrm = 0 THEN 1 ELSE nrm END, 6)
              ::DECIMAL(28,6))::VARCHAR), ',') AS projected
    FROM n
    """,
)
def q_linear_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 (projection.py:31-60): learned linear projection + renormalize
    as an Arrow-batched pandas UDF — NumPy does one batch matmul per
    Arrow batch, weights broadcast in the closure. Deterministic test
    weights make it oracle-checkable (rounded: BLAS accumulation order
    differs from a sequential SQL fold in the last ulps)."""
    from multimodal_vector_db_spark.functions.projection import (
        deterministic_weights,
        linear_project_udf,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 100)
    project = linear_project_udf(deterministic_weights(64, 16))
    return emb.select(
        "vec_id",
        _csv_doubles(project(F.col("embedding")), scale=6).alias("projected"),
    )


@query(
    "asof_join",
    """
    WITH l AS (
      SELECT event_id, user_id, epoch_us(ts) AS us
      FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, epoch_us(ts) AS sig_us, value AS signup_value
      FROM events WHERE event_type = 'signup'
    )
    SELECT l.event_id, l.user_id, l.us,
           r.sig_us AS signup_us, r.signup_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.us >= r.sig_us
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (an operator Spark lacks natively): every click event
    aligned with the user's most recent signup at-or-before it. The
    union+window implementation shuffles ONCE on the key; the oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from multimodal_vector_db_spark.operators.joins import asof_join
    from multimodal_vector_db_spark.streaming.ingest import ts_micros

    ev = _t(spark, sf_dir, "events")
    us = ts_micros(ev)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("us")
    )
    signups = ev.where(F.col("event_type") == "signup").select(
        "user_id",
        us.alias("sig_us"),
        F.col("value").alias("signup_value"),
    )
    out = asof_join(
        clicks,
        signups,
        on="user_id",
        left_ts="us",
        right_ts="sig_us",
        right_payload=["sig_us", "signup_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "us",
        F.col("sig_us").alias("signup_us"),
        "signup_value",
    )


@query(
    "stat_aggregates",
    """
    SELECT event_type,
           round(stddev_samp(value), 6) AS sd,
           round(var_samp(value), 6) AS var,
           round(covar_samp(value, user_id), 6) AS cov_uid,
           round(corr(value, user_id), 6) AS corr_uid,
           round(min(value), 6) AS min_v,
           round(max(value), 6) AS max_v
    FROM events GROUP BY event_type
    """,
)
def q_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: stddev/variance/covariance/
    correlation per group — the summary-statistics surface of a data
    pipeline (metrics.py:237-252 generalized)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd"),
        F.round(F.var_samp("value"), 6).alias("var"),
        F.round(F.covar_samp("value", F.col("user_id").cast("double")), 6).alias(
            "cov_uid"
        ),
        F.round(F.corr("value", F.col("user_id").cast("double")), 6).alias(
            "corr_uid"
        ),
        F.round(F.min("value"), 6).alias("min_v"),
        F.round(F.max("value"), 6).alias("max_v"),
    )


@query(
    "pivot_lang_source",
    """
    SELECT source,
           sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)::BIGINT AS de,
           sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS en,
           sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)::BIGINT AS es,
           sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END)::BIGINT AS fr,
           sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END)::BIGINT AS zh
    FROM documents GROUP BY source
    """,
)
def q_pivot_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot/crosstab: documents per (source, lang) with languages as
    columns — one shuffle, fixed pivot domain (explicit value list so
    Spark skips the extra distinct-discovery job)."""
    docs = _t(spark, sf_dir, "documents")
    out = (
        docs.groupBy("source")
        .pivot("lang", ["de", "en", "es", "fr", "zh"])
        .count()
    )
    # pivot yields nullable counts — normalize to zero-filled BIGINT
    return out.select(
        "source",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ["de", "en", "es", "fr", "zh"]
        ],
    )


@query(
    "tpch_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*)::BIGINT AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-bound filter + global agg — every
    predicate pushes to parquet, ReadSchema is 4 columns, result is one
    row per partition before the final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").cast("long").alias("n"),
    )


@query(
    "tpch_q4",
    """
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted to this schema's columns: 'late' =
    shipped > 60 days after order date): EXISTS-style correlated filter
    executed as a LEFT SEMI hash join — the lineitem side reduces to
    the matching keys map-side, never materializing the pairs."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    late = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (
            li["l_shipdate"]
            > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("order_count")
    )


@query(
    "tpch_q16",
    """
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 4, 7)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp stood in by the lineitem link): NOT-IN
    exclusion as a broadcast anti join against the (tiny) blocklisted
    supplier set, dimension filter broadcast onto the fact scan, then a
    count-distinct aggregate (two-phase: distinct partial before the
    final count — no row-level shuffle of duplicates)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    sup = _t(spark, sf_dir, "supplier")
    bad = sup.where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = part.where(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7)
    ).select("p_partkey", "p_brand", "p_size")
    joined = (
        li.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(bad),
            li["l_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    )
    return joined.groupBy("p_brand", "p_size").agg(
        F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt")
    )


@query(
    "tpch_q10",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer — fact scan
    with pushed predicates, customer/nation dimensions broadcast, one
    aggregation shuffle, global top-20 via TakeOrdered."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    joined = (
        li.where(F.col("l_returnflag") == "R")
        .join(
            o.where(
                (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
            ),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "tpch_q19",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*)::BIGINT AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 5 AND 25
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 20 AND 40
           AND l.l_quantity BETWEEN 20 AND 45)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-branch predicate across the
    join — the classic test that OR'd filters still prune (Catalyst
    extracts the common join key and pushes the per-branch part
    filters; the OR stays as a post-join filter over broadcast part)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(20, 40)
            & F.col("l_quantity").between(20, 45)
        )
    )
    return joined.where(cond).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").cast("long").alias("n"),
    )


@query(
    "rollup_stats",
    """
    SELECT lang, source,
           count(*)::BIGINT AS n_docs,
           sum(n_chars)::BIGINT AS total_chars
    FROM documents
    GROUP BY ROLLUP (lang, source)
    """,
)
def q_rollup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregates via ROLLUP: per (lang, source), per lang,
    and grand total in ONE pass (Spark expands grouping sets into a
    single shuffle — no re-scan per level)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
