"""Event/graph/time-series/corpus analytics operators (round-7 batch).

Staples a production analytics engine is expected to host on top of the
reference's DAQ surface (the reference, /root/reference, is a MODBUS daemon
with no analytics — these extend the engine the way BASELINE.json's north
star asks):

* ``op_events_ohlc`` — OHLC/volume resampling bars, THE canonical
  downsampling shape for sample streams (open/close picked by deterministic
  (ts, event_id) order, volume via the fixed-point sum convention); its
  streaming twin ``op_stream_ohlc`` lives in plans/streaming_ops.py and
  shares the oracle verbatim;
* ``op_events_topk_paths`` — top-k user journey prefixes (sequential
  pattern mining, the product-analytics sibling of the funnel);
* ``op_events_attribution`` — last-touch conversion attribution inside a
  7-day lookback (single-pass framed window, no self-join);
* ``op_events_concurrency`` — sweep-line concurrent-session curve with
  hot-key-safe two-level prefix sums;
* ``op_graph_pagerank`` — 3 fixed PageRank iterations over the bipartite
  part↔supplier co-occurrence graph in EXACT integer arithmetic, so the
  result is bit-identical regardless of join/aggregation order — the
  portable way to oracle an iterative float algorithm;
* ``op_sim_knn_graph`` — each vector's top-k cosine neighbors within its
  coarse cell (the similarity JOIN feeding graph-based curation);
* ``op_corpus_domain_mix`` / ``op_sample_weighted`` — deterministic
  portable-hash sampling: uniform-language rebalancing and length-weighted
  Bernoulli selection (the domain-mixing stages of a training pipeline);
* ``op_join_bloom_prefilter`` — the runtime-filter technique, declarative
  and hash-proven (bloom prefilter + exact refine == plain semi join);
* ``op_timeseries_ema`` / ``op_timeseries_rate`` /
  ``op_timeseries_outlier_mad`` — smoothing, differentiation, and robust
  outlier gating per channel, all in bit-portable arithmetic;
* ``op_text_tfidf_topterms`` — keyword extraction with the rational idf
  surrogate (bit-portable where ln() is not).

Scale notes (100 TB):

* OHLC and paths shuffle once on their natural keys ((event_type, bucket) /
  user_id); window partitions are one bucket / one user — bounded however
  large the table;
* attribution is ONE framed window pass per user partition — never the
  purchases×touches self-join, which at 100 TB would be quadratic in the
  per-user event count;
* PageRank's per-iteration cost is one shuffle join on src + one aggregate
  on dst (the textbook distributed formulation); ranks are scaled integers
  with total mass ~1e12 split over n nodes, so products stay < 2^63 at ANY
  node count, and the edge+degree frame is lazily cached once (cache.shared)
  and reused by all iterations;
* domain mix broadcasts the per-language count table (languages are a
  dozens-sized dimension at any corpus size); the corpus side is a pure
  hash-threshold filter — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from daq_3i_spark.cache import shared
from daq_3i_spark.functions.numeric import fx_sum, fx_sum_sql, fx_unscaled_sql
from daq_3i_spark.plans.registry import register
from daq_3i_spark.sources.tables import load_events, load_table

# the shared deterministic-sampling LCG (functions/numeric.py) — the same
# convention op_corpus_budget_sample uses, imported so it cannot fork
from daq_3i_spark.functions.numeric import (  # noqa: E402
    lcg_coin as _lcg_coin,
    lcg_coin_sql as _lcg_coin_sql,
)


# the OHLC oracle, shared verbatim by the streaming twin
# (op_stream_ohlc, plans/streaming_ops.py): the stream's merged snapshot
# must hash-match the same from-scratch bar computation
OHLC_SQL = f"""WITH b AS (
      SELECT event_type,
             time_bucket(INTERVAL '15 minutes', ts, TIMESTAMP '2024-01-01') AS w,
             ts, event_id, value
      FROM events
    ), r AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, w
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type, w) AS cnt
      FROM b
    )
    SELECT event_type, epoch_us(w) AS bucket_us,
           max(CASE WHEN rn = 1 THEN value END) AS open,
           max(CASE WHEN rn = cnt THEN value END) AS close,
           max(value) AS high, min(value) AS low,
           CAST(count(*) AS BIGINT) AS n_events,
           {fx_sum_sql('value')} AS volume
    FROM r GROUP BY event_type, w"""


@register(
    "op_events_ohlc",
    OHLC_SQL,
    doc="OHLC/volume resampling bars — the canonical downsampling of a "
    "sample stream to fixed bars (candlesticks, dashboard rollups): per "
    "(event_type, 15-minute bucket) the first/last value by deterministic "
    "(ts, event_id) order, min/max, count, and a fixed-point exact volume "
    "sum.  The 15-minute grid is epoch-aligned in both engines (Spark "
    "F.window anchors at the epoch; the oracle's time_bucket origin "
    "2024-01-01 sits on the same grid).  Plan: ONE shuffle on "
    "(event_type, bucket); open/close come from a single row_number + "
    "count window over that same partitioning (the sort serves both ends), "
    "then the bar aggregate reuses the partitioning — window partitions "
    "are one bucket of one type, bounded at any table size",
)
def op_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    b = ev.select(
        "event_type",
        F.window("ts", "15 minutes").getField("start").alias("w"),
        "ts",
        "event_id",
        "value",
    )
    part = Window.partitionBy("event_type", "w")
    r = b.withColumn(
        "rn", F.row_number().over(part.orderBy("ts", "event_id"))
    ).withColumn(
        "cnt",
        F.count("*").over(
            part.orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    return (
        r.groupBy("event_type", "w")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rn") == F.col("cnt"), F.col("value"))).alias(
                "close"
            ),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.count("*").cast("bigint").alias("n_events"),
            fx_sum(F.col("value")).alias("volume"),
        )
        .select(
            "event_type",
            F.unix_micros("w").alias("bucket_us"),
            "open",
            "close",
            "high",
            "low",
            "n_events",
            "volume",
        )
    )


@register(
    "op_events_topk_paths",
    """WITH r AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS users
    FROM p GROUP BY path ORDER BY users DESC, path LIMIT 10""",
    doc="top-10 user journey prefixes: each user's first three events by "
    "deterministic (ts, event_id) order joined into a '>'-separated path, "
    "counted across users — sequential pattern mining, the exploratory "
    "sibling of the fixed-shape funnel.  Plan: one row_number window on "
    "user_id keeps only 3 rows per user BEFORE any aggregation (the "
    "collect_list is bounded at 3 elements by construction, never a "
    "whole-history collect), then a hash aggregate on the path string and "
    "a global top-10 with a total (users DESC, path) tie-break.  At 100 TB "
    "the per-user state is 3 rows and the path-count aggregate is "
    "map-side combined; the final top-10 is a TakeOrdered, not a sort",
)
def op_events_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = (
        ev.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )
    p = r.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        p.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("users"))
        .orderBy(F.col("users").desc(), "path")
        .limit(10)
    )


@register(
    "op_events_attribution",
    f"""WITH x AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN struct_pack(t := ts, et := event_type)
                        END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch
      FROM events
    )
    SELECT CASE WHEN touch IS NOT NULL AND touch.t >= ts - INTERVAL 7 DAY
                THEN touch.et ELSE '(none)' END AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           {fx_sum_sql('value')} AS attributed_value
    FROM x WHERE event_type = 'purchase' GROUP BY 1""",
    doc="last-touch conversion attribution: every purchase credits the "
    "user's most recent preceding non-purchase event within a 7-day "
    "lookback ('(none)' when there is none), aggregating conversion count "
    "and fixed-point exact value per touch type.  The touch is found by a "
    "framed IGNORE-NULLS window over (ts, event_id) order — the LOCF "
    "machinery (op_timeseries_locf) applied to attribution, ONE pass per "
    "user partition.  At 100 TB this replaces the purchases×touches "
    "self-join (quadratic in per-user events) with a single sort-window "
    "shuffle on user_id; the final aggregate is map-side combined on a "
    "5-value key",
)
def op_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("ts").alias("t"), F.col("event_type").alias("et")),
        ),
        ignorenulls=True,
    ).over(w)
    x = ev.withColumn("touch", touch)
    return (
        x.filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("touch").isNotNull()
                & (F.col("touch.t") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
                F.col("touch.et"),
            )
            .otherwise(F.lit("(none)"))
            .alias("touch_type"),
            "value",
        )
        .groupBy("touch_type")
        .agg(
            F.count("*").cast("bigint").alias("n_conversions"),
            fx_sum(F.col("value")).alias("attributed_value"),
        )
    )


#: PageRank's total rank mass, as a scaled integer (1.0 == _PR_SCALE).
#: Per-node products stay < 2^63 at ANY node count because a single node's
#: rank is bounded by the TOTAL mass (~1e12): rank * 85 <= 8.5e13.
_PR_SCALE = 1_000_000_000_000
_PR_ITERS = 3


@register(
    "op_graph_pagerank",
    f"""WITH e0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    edges AS (
      SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM e0
      UNION ALL SELECT 's' || l_suppkey, 'p' || l_partkey FROM e0
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
            FROM edges GROUP BY src),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    r0 AS (SELECT src AS node,
                  CAST({_PR_SCALE} AS BIGINT) // (SELECT n FROM nn) AS rank
           FROM deg),
    i1 AS (
      SELECT e.dst AS node,
             (SELECT CAST({15 * _PR_SCALE} AS BIGINT) // (100 * n) FROM nn)
             + CAST(SUM((r.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS rank
      FROM edges e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    i2 AS (
      SELECT e.dst AS node,
             (SELECT CAST({15 * _PR_SCALE} AS BIGINT) // (100 * n) FROM nn)
             + CAST(SUM((r.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS rank
      FROM edges e JOIN i1 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    i3 AS (
      SELECT e.dst AS node,
             (SELECT CAST({15 * _PR_SCALE} AS BIGINT) // (100 * n) FROM nn)
             + CAST(SUM((r.rank * 85) // (100 * d.outdeg)) AS BIGINT) AS rank
      FROM edges e JOIN i2 r ON e.src = r.node JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    )
    SELECT node, rank FROM i3 ORDER BY rank DESC, node LIMIT 100""",
    doc="PageRank (damping 0.85, 3 iterations) over the bipartite "
    "part↔supplier co-occurrence graph from lineitem, in EXACT integer "
    "arithmetic: ranks are scaled integers (total mass 1e12 split over n "
    "nodes), each contribution is (rank*85) DIV (100*outdeg) — floored "
    "integer division — so the iteration is associative-exact and "
    "bit-identical across engines, summation orders, and cluster sizes "
    "(the portable way to hash-oracle an iterative float algorithm; a "
    "float PageRank's sums are order-nondeterministic).  Every node of "
    "the symmetric graph has outdeg >= 1, so there is no dangling-mass "
    "term.  Plan: edges+degree built once and lazily cached (every "
    "iteration reuses the materialized frame instead of re-deriving the "
    "distinct), then per iteration ONE shuffle join on src + ONE "
    "aggregate on dst — the textbook distributed PageRank step; the "
    "node-count scalar is a parameter-sized driver value.  Node ids are "
    "BIGINT inside the iterations (partkey*2 / suppkey*2+1 — disjoint by "
    "parity): every shuffle hashes and compares 8-byte longs instead of "
    "the oracle's 'p123'/'s45' strings (measured 1.5x on the whole op at "
    "sf0.1; at cluster scale the string keys also inflate every shuffle "
    "byte).  The string form is re-rendered ONLY on the final 100-row "
    "frame, BEFORE the (rank DESC, node) TakeOrdered, so rank-tie "
    "ordering matches the oracle's string collation exactly",
)
def op_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # both edge directions from ONE explode over the pair-distinct: before
    # r17 the two union branches (src->dst, dst->src) each re-ran the
    # distinct, and the join's isnotnull pushdown specialized each branch's
    # filter so ReuseExchange never fired — the ed cache BUILD scanned
    # lineitem 4x and shuffled the distinct 4x
    # (plans/r17/op_graph_pagerank_before.txt, exchanges 6/11/17/22).  With
    # the explode the subtree executes once per cache build (deg, ed) = 2x.
    # NOT cached itself: a third, NESTED cache measured slower and bimodal
    # at sf1 (A/B 6.0 vs 5.5 s min — the distinct's AQE-coalesced output
    # under-parallelizes every consumer; recompute is cheaper than the
    # single-partition cache scan).  guide §2.4 / §1.2.
    e0 = li.select("l_partkey", "l_suppkey").distinct()
    part = F.col("l_partkey").cast("bigint") * 2
    supp = F.col("l_suppkey").cast("bigint") * 2 + 1
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(part.alias("src"), supp.alias("dst")),
                F.struct(supp.alias("src"), part.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # degree is node-sized — cached so the node count and the rank init read
    # it instead of re-running distinct() over the edge-sized ed cache (the
    # pre-r17 init paid two extra edge-wide Exchange+HashAggregate passes).
    deg = shared(edges.groupBy("src").agg(F.count("*").alias("outdeg")))
    # materialize edges⋈degree once — all iterations reuse it.  persist(),
    # not localCheckpoint: a checkpoint (even eager=False) runs every
    # upstream shuffle stage at BUILD time under AQE (toRdd materializes
    # the query stages), i.e. a full pass over the edge set before the
    # returned plan is ever executed.  A lazy cache marks the frame for
    # reuse with zero jobs now; the first action computes it once and all
    # iterations hit the cached InMemoryRelation.
    # Without the AQE-around-caches conf (set by the registry wrapper,
    # plans/registry.py, beside the UTC pin) a vanilla session
    # plans every join against the cached frame at the static
    # shuffle-partition count (AQE refuses to re-partition plans that feed a
    # cache) — measured 67.8 s vs 7.3 s at sf0.1/local[32] under the
    # 200-partition default.
    # repartition("src") at BUILD time (r18): AQE sizes the cache's
    # partitioning from the materialized edge bytes (advisory-size chunks —
    # data-adaptive, not a core-count constant), so the three iteration
    # consumers read right-sized partitions instead of whatever layout the
    # build join happened to leave.  Re-using the cache partitioning to
    # DELETE the iteration exchanges was measured and is not available:
    # with canChangeCachedPlanOutputPartitioning=true (mandatory, see above)
    # the cache's output partitioning is indeterminate at consumer-planning
    # time, so EnsureRequirements shuffles regardless — the win here is
    # fewer/larger cache partitions feeding those exchanges (guide §2.2).
    ed = shared(edges.join(deg, "src").repartition("src"))
    # node count and teleport term as one-row broadcast aggregates, carried
    # through the iterations as a constant column (max() in each aggregate
    # is map-side combined) — no driver-side scalar anywhere.  Integral SQL
    # literals above 2^31 parse as BIGINT, so the DIV arithmetic never
    # touches 32-bit under ANSI.
    nn = deg.select("src").agg(F.count("*").cast("bigint").alias("n"))
    ranks = (
        deg.select("src")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("src").alias("node"),
            F.expr(f"CAST({_PR_SCALE} AS BIGINT) DIV n").alias("rank"),
            F.expr(f"CAST({15 * _PR_SCALE} AS BIGINT) DIV (100 * n)").alias(
                "tele"
            ),
        )
    )
    for _ in range(_PR_ITERS):
        # SHUFFLE_HASH on the rank side (r18): a sort-merge iteration join
        # SORTS the edge-sized ed once per iteration (3 edge-wide sorts per
        # query); shuffled-hash builds the per-partition hash of the
        # NODE-sized rank slice instead (one unique row per node — no hot
        # build key, nothing driver-collected) and streams ed unsorted.
        # Never broadcast: ranks grows with the node dimension.  Alternating
        # A/B vs the r17 shape (repartitioned cache + this hint): medians
        # ×0.82–0.87 at sf1 in two windows, a wash at sf0.1, top-100 rows
        # byte-identical.
        r = ranks.hint("shuffle_hash")
        ranks = (
            ed.join(r, ed.src == r.node)
            .select(
                F.col("dst"),
                F.expr("(rank * 85) DIV (100 * outdeg)").alias("c"),
                "tele",
            )
            .groupBy("dst")
            .agg(
                (F.max("tele") + F.sum("c")).cast("bigint").alias("rank"),
                F.max("tele").alias("tele"),
            )
            .select(F.col("dst").alias("node"), "rank", "tele")
        )
    # integer DIV, not double division: (node/2).cast('long') is exact only
    # below 2^53 — DIV is unconditionally exact at any key magnitude (the
    # same policy op_join_interval_overlap uses for its bucket ids)
    node_str = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("p"), F.expr("node DIV 2").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), F.expr("(node - 1) DIV 2").cast("string"))
    )
    return (
        ranks.select(node_str.alias("node"), "rank")
        .orderBy(F.col("rank").desc(), "node")
        .limit(100)
    )


@register(
    "op_corpus_domain_mix",
    f"""WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ), m AS (SELECT min(n) AS mn FROM c)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN c ON d.lang = c.lang, m
    WHERE ({_lcg_coin_sql('d.doc_id')}) % 1000000
          < (m.mn * 1000000) // c.n""",
    doc="uniform-language corpus rebalancing — the domain-mixing stage of "
    "a training-data pipeline: each language is downsampled toward the "
    "smallest language's document count by keeping a doc iff its portable "
    "LCG hash (the op_corpus_budget_sample convention) falls under the "
    "language's mn/n threshold — so the selection manifest is "
    "deterministic across runs, engines, and cluster sizes, and changing "
    "a target weight re-selects a superset/subset rather than an "
    "unrelated sample (hash thresholding is monotone).  Plan: the "
    "per-language count table (a dozens-sized dimension at any corpus "
    "size) gets the global min attached via a one-row broadcast and is "
    "broadcast-hash-joined back into the corpus scan; the corpus side is "
    "a pure codegen hash-threshold filter — NO shuffle of the documents "
    "at all",
)
def op_corpus_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    c = docs.groupBy("lang").agg(F.count("*").alias("n"))
    mn = c.agg(F.min("n").alias("mn"))
    thresholds = c.crossJoin(F.broadcast(mn))  # 5x1 one-row broadcast
    h = _lcg_coin(F.col("doc_id"))
    return (
        docs.join(F.broadcast(thresholds), "lang")
        .filter(
            (h % 1_000_000)
            < F.expr("(mn * 1000000) DIV n")
        )
        .select("doc_id", "lang")
    )


# --- exponentially-weighted moving average, exact rational weights -----------

#: EMA smoothing alpha = 1/8 over a K=8 truncated window: the weight of the
#: sample aged i is alpha*(1-alpha)^i = 7^i / 8^(i+1) — every weight is a
#: dyadic-septimal rational, so with 6-decimal fixed-point values the whole
#: weighted sum is EXACT int64 arithmetic (numerator = sum v_fx*7^i*8^(7-i),
#: denominator = 8^(8-s)*(8^s-7^s) for a partial window of s samples), and
#: the single final int->double division is correctly rounded in both
#: engines — the same portability construction as op_graph_pagerank.
_EMA_K = 8
_P7 = [7**i for i in range(_EMA_K + 1)]
_P8 = [8**i for i in range(_EMA_K + 1)]


def _ema_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    p7 = "[" + ",".join(str(v) for v in _P7) + "]"
    p8 = "[" + ",".join(str(v) for v in _P8) + "]"
    return f"""WITH {dims_cte_sql()},
    r AS (
      SELECT channel_id, id, ts,
             list(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) OVER
               (PARTITION BY channel_id ORDER BY ts, id
                ROWS BETWEEN {_EMA_K - 1} PRECEDING AND CURRENT ROW) AS arr
      FROM channel_data
    )
    SELECT channel_id, id, epoch_us(ts) AS ts_us,
           CAST(CAST(list_sum(list_transform(arr, (x, j) ->
                  x * {p7}[len(arr) - j + 1]
                    * {p8}[{_EMA_K} - len(arr) + j])) AS BIGINT) AS DOUBLE)
           / CAST(CAST({p8}[{_EMA_K} - len(arr) + 1] AS BIGINT)
                  * ({p8}[len(arr) + 1] - {p7}[len(arr) + 1])
                  * 1000000 AS DOUBLE) AS ema
    FROM r"""


@register(
    "op_timeseries_ema",
    _ema_oracle(),
    doc="exponentially-weighted moving average per channel (alpha=1/8, "
    "8-sample truncated window) in EXACT rational arithmetic: weights "
    "7^i/8^(i+1) share the denominator 8^K, so the weighted sum is pure "
    "int64 on 6-decimal fixed-point values and ONE final correctly-rounded "
    "int->double division makes the smoothed series bit-identical across "
    "engines — a float-recursive EMA (e_t = a*v + (1-a)*e_{t-1}) is "
    "sequentially order-dependent and could never hash-oracle.  Partial "
    "head windows renormalize by 8^(8-s)*(8^s-7^s), so the series starts "
    "at the first sample with no warmup bias.  Plan: ONE shuffle on "
    "channel_id, a single 8-row framed window collect, then pure codegen "
    "higher-order-function arithmetic — no self-join (the naive "
    "formulation joins each sample to its 7 predecessors, an 8x row "
    "blowup); the frame is 8 rows whatever the table size",
)
def op_timeseries_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    p7 = F.array(*[F.lit(v).cast("long") for v in _P7])
    p8 = F.array(*[F.lit(v).cast("long") for v in _P8])
    w = (
        Window.partitionBy("channel_id")
        .orderBy("ts", "id")
        .rowsBetween(-(_EMA_K - 1), 0)
    )
    r = cd.select(
        "channel_id",
        "id",
        "ts",
        F.collect_list(fx_unscaled(F.col("value"))).over(w).alias("arr"),
    )
    s = F.size("arr")
    terms = F.zip_with(
        F.col("arr"),
        F.sequence(F.lit(1), s),
        lambda x, j: x
        * F.element_at(p7, s - j + 1)
        * F.element_at(p8, F.lit(_EMA_K) - s + j),
    )
    num = F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
    norm = F.element_at(p8, F.lit(_EMA_K) - s + 1) * (
        F.element_at(p8, s + 1) - F.element_at(p7, s + 1)
    )
    return r.select(
        "channel_id",
        "id",
        F.unix_micros("ts").alias("ts_us"),
        (
            num.cast("double")
            / (norm * F.lit(1_000_000).cast("long")).cast("double")
        ).alias("ema"),
    )


# --- kNN graph construction over the embedding corpus ------------------------

_KNN_C = 16  # coarse cells (the op_sim_ivf*/op_dedup_semantic assignment)
_KNN_K = 3  # neighbors per vector


def _knn_oracle() -> str:
    from daq_3i_spark.functions.vectors import (
        duckdb_dot_fold,
        duckdb_l2_fold,
        duckdb_norm2_fold,
    )

    # validity-bounded like every oracle baking the 16-cell floor: the plan
    # grows the quantizer with the corpus (_ivf_cells), so past the bound
    # the oracle errors loudly instead of comparing different semantics
    from daq_3i_spark.plans.extension_ops2 import _ivf_oracle_bound

    return _ivf_oracle_bound(f"""WITH en AS (
      SELECT vec_id, embedding, {duckdb_norm2_fold('embedding')} AS n2
      FROM embeddings
    ), cd AS (
      SELECT e.vec_id, c.vec_id AS cid,
             {duckdb_l2_fold('e.embedding', 'c.embedding')} AS dfull
      FROM embeddings e JOIN embeddings c ON c.vec_id < {_KNN_C}
    ), cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dfull, cid) AS rn
        FROM cd) WHERE rn = 1
    ), p AS (
      SELECT ca.vec_id AS vec_id, cb.vec_id AS nbr_id,
             ({duckdb_dot_fold('a.embedding', 'b.embedding')})
               / sqrt(a.n2 * b.n2) AS cos_sim
      FROM cells ca JOIN cells cb
        ON ca.cell = cb.cell AND ca.vec_id <> cb.vec_id
      JOIN en a ON a.vec_id = ca.vec_id
      JOIN en b ON b.vec_id = cb.vec_id
    ), r AS (
      SELECT vec_id, nbr_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, nbr_id) AS rn
      FROM p
    )
    SELECT vec_id, nbr_id, CAST(rn AS BIGINT) AS rank, cos_sim
    FROM r WHERE rn <= {_KNN_K}""")


@register(
    "op_sim_knn_graph",
    _knn_oracle(),
    doc=f"kNN-graph construction: every vector's top-{_KNN_K} cosine "
    f"neighbors WITHIN its coarse cell ({_KNN_C} L2 cells, the "
    "op_dedup_semantic assignment) — the similarity join that feeds "
    "graph-based curation (connected-component dedup over semantic edges, "
    "label propagation, cluster pruning), as opposed to the per-query "
    "top-k of op_sim_*topk which answers point lookups.  Plan: cell "
    "blocking bounds pair work to sum over cells of |cell|^2 (never "
    "all-pairs over the corpus); within a cell the row-tiled numpy kernel "
    "(functions/vectors.py cos_block_pairs) emits each a<b pair once, "
    "then a union mirrors direction and a per-vector rank window keeps "
    f"{_KNN_K}.  Cosines use the dim-sequential fold, bit-identical to "
    "the oracle's; ties break on nbr_id so the graph is deterministic.  "
    "A cell beyond CELL_CAP rows sub-splits on the deterministic salt grid "
    "(functions/vectors.py _salted_blocks, r13 — identical pair set, "
    "bit-identical cosines); at 100 TB cells come from a trained coarse "
    "quantizer and edges never leave the salt group's shuffle partition "
    "until the final bounded top-k",
)
def op_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.vectors import cos_block_pairs, l2_fold
    from daq_3i_spark.sources.tables import load_spread

    from daq_3i_spark.plans.extension_ops2 import _ivf_cells

    emb = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # cell count scales with the corpus (footer statistics; floor _KNN_C so
    # the static oracle stays bit-valid at every oracled scale)
    cent = emb.filter(F.col("vec_id") < _ivf_cells(sf_dir)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cd = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", l2_fold(F.col("embedding"), F.col("ce")).alias("dfull")
    )
    w_cell = Window.partitionBy("vec_id").orderBy("dfull", "cid")
    cells = (
        cd.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("label"))
    )
    # NOT shared: persisting an embedding-array frame regresses sf1 2-3x
    # (measured r13; see op_dedup_semantic) — recomputing the codegen
    # assignment for the sizing pass is cheaper than caching array rows
    blocked = emb.join(cells, "vec_id").select("vec_id", "embedding", "label")
    # threshold below -1 keeps every pair (cosine is bounded by [-1, 1])
    pairs = cos_block_pairs(blocked, threshold=-2.0)
    directed = pairs.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("nbr_id"),
        "cos_sim",
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("nbr_id"),
            "cos_sim",
        )
    )
    w_rank = Window.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), "nbr_id"
    )
    return (
        directed.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .filter(F.col("rank") <= _KNN_K)
        .select("vec_id", "nbr_id", "rank", "cos_sim")
    )


# --- bloom-prefiltered join (the runtime-filter pattern, hash-proven) --------

_BLOOM_M = 16384  # bits per hash row
_BLOOM_K = 3  # hash rows
_BLOOM_PRICE = 480_000.0  # build side: top ~4% of orders by total price


@register(
    "op_join_bloom_prefilter",
    f"""SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           {fx_sum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l
    WHERE l.l_orderkey IN (SELECT o_orderkey FROM orders
                           WHERE o_totalprice > {_BLOOM_PRICE})
    GROUP BY l.l_returnflag""",
    doc="bloom-prefiltered fact⋈dim semi join — the runtime-filter "
    "technique engines bolt onto big joins, built declaratively and "
    "hash-proven: the qualifying order keys (top ~4% by price) fold into "
    f"a {_BLOOM_K}x{_BLOOM_M}-bit bloom bitmap ({_BLOOM_K * _BLOOM_M // 8} "
    "bytes however many keys the build side holds — the bitmap geometry, "
    "not the data, bounds the broadcast), the fact scan drops every row "
    "failing ANY of the 3 bit tests map-side BEFORE the join, and the "
    "exact semi join then removes bloom false positives.  The oracle is "
    "the plain semi join, so the hash match proves the bloom path loses "
    "nothing (no false negatives) and the refine drops every false "
    "positive.  Plan: bitmap built by a pure-HOF aggregate (no driver "
    "collect anywhere), one-row broadcast crossJoin onto the fact scan, "
    "bit tests in whole-stage codegen; the exact refine join carries NO "
    "forced hint (the key set is fact-derived — AQE broadcasts it only "
    "while it fits, else a shuffled semi join over the already-prefiltered "
    "rows); at 100 TB the prefilter cuts the probe-side shuffle to ~the "
    "true match rate, which is the entire point of runtime filters",
)
def op_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    nlongs = _BLOOM_K * _BLOOM_M // 64
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.filter(F.col("o_totalprice") > _BLOOM_PRICE).select("o_orderkey")

    # single-bit masks as a literal array (pyspark's shiftleft takes only a
    # Python-int shift, so bit ops go through element_at + bitwiseAND/OR;
    # bit 63 is the long MIN_VALUE)
    pow2 = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )

    def pos(j: int, key) -> F.Column:
        # flatten hash row j into one position space [j*M, (j+1)*M)
        return F.pmod(F.xxhash64(F.lit(j), key), F.lit(_BLOOM_M)) + F.lit(
            j * _BLOOM_M
        )

    posd = keys.select(
        F.explode(
            F.array(*[pos(j, F.col("o_orderkey")) for j in range(_BLOOM_K)])
        ).alias("p")
    )
    # fold the bit positions into the bitmap DISTRIBUTED-first (r17): a
    # map-side-combined bit_or per 64-bit word (bit-OR is idempotent, so no
    # distinct pass is needed), then assemble the <= nlongs word rows into
    # the array via one map lookup.  The pre-r17 shape collect_list'ed EVERY
    # position into one row and rebuilt the whole accumulator array per
    # element — O(positions x nlongs) single-task work, and a one-task
    # positions-sized array at 100 TB; this shape's single-row step sees
    # only word-cardinality (<= nlongs) rows whatever the build side holds.
    words = posd.select(
        (F.col("p") / 64).cast("int").alias("w"),
        F.element_at(pow2, (F.col("p") % 64).cast("int") + 1).alias("m"),
    ).groupBy("w").agg(F.bit_or("m").alias("bits"))
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(nlongs - 1)),
            lambda i: F.coalesce(
                F.element_at("wm", i), F.lit(0).cast("long")
            ),
        ).alias("bm")
    )

    probed = li.select("l_orderkey", "l_returnflag", "l_extendedprice").crossJoin(
        F.broadcast(bitmap)
    )
    survives = None
    for j in range(_BLOOM_K):
        p = pos(j, F.col("l_orderkey"))
        mask = F.element_at(pow2, (p % 64).cast("int") + 1)
        bit = (
            F.element_at("bm", (p / 64).cast("int") + 1).bitwiseAND(mask) != 0
        )
        survives = bit if survives is None else (survives & bit)
    prefiltered = probed.filter(survives).drop("bm")
    # the refine side is FACT-derived (every qualifying order key) — no
    # forced broadcast on a frame that grows with the table; AQE promotes
    # the semi join to broadcast from runtime stats when the key set fits
    # and degrades to a shuffled semi join when it doesn't (the bitmap
    # crossJoin above is the bounded broadcast — 6 KB by geometry)
    exact = prefiltered.join(keys.distinct(),
                             prefiltered.l_orderkey == F.col("o_orderkey"),
                             "semi")
    return exact.groupBy("l_returnflag").agg(
        F.count("*").cast("bigint").alias("n_items"),
        fx_sum(F.col("l_extendedprice")).alias("revenue"),
    )


# --- deterministic length-weighted Bernoulli sampling -------------------------


@register(
    "op_sample_weighted",
    f"""WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), m AS (SELECT max(n_tokens) AS mx FROM t)
    SELECT t.doc_id, t.n_tokens
    FROM t, m
    WHERE ({_lcg_coin_sql('t.doc_id')}) % 1000000
          < (t.n_tokens * 1000000) // m.mx""",
    doc="deterministic length-weighted Bernoulli sampling: each document "
    "is kept with probability n_tokens/max(n_tokens) — token-mass-biased "
    "selection (long documents carry more training signal per row), the "
    "weighted complement to op_sample_stratified (uniform hash threshold) "
    "and op_corpus_budget_sample (greedy budget fill).  The coin is the "
    "portable LCG of doc_id against a PER-DOCUMENT threshold, so the "
    "manifest is reproducible across runs/engines/cluster sizes and "
    "monotone in the weight (raising a doc's weight can only add it, "
    "never reshuffle others — hash thresholding, not reservoir state).  "
    "Plan: one-row max aggregate broadcast back over the scan; the corpus "
    "side is a pure codegen filter, no shuffle",
)
def op_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens"),
    )
    mx = docs.agg(F.max("n_tokens").alias("mx"))
    h = _lcg_coin(F.col("doc_id"))
    return (
        docs.crossJoin(F.broadcast(mx))
        .filter((h % 1_000_000) < F.expr("(n_tokens * 1000000) DIV mx"))
        .select("doc_id", "n_tokens")
    )


# --- per-channel derivative + robust outlier detection (DAQ staples) ---------


def _rate_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    r AS (
      SELECT channel_id, id, ts, value,
             lag(value) OVER (PARTITION BY channel_id ORDER BY ts, id) AS pv,
             lag(ts) OVER (PARTITION BY channel_id ORDER BY ts, id) AS pt
      FROM channel_data
    )
    SELECT channel_id, id, epoch_us(ts) AS ts_us,
           (value - pv) * 1e6 / CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE)
             AS rate_per_s
    FROM r WHERE pv IS NOT NULL AND epoch_us(ts) > epoch_us(pt)"""


@register(
    "op_timeseries_rate",
    _rate_oracle(),
    doc="per-channel rate of change (the Prometheus rate()/TimescaleDB "
    "delta staple a DAQ front-end charts): for each sample, "
    "(value - prev)/(seconds since prev) over the deterministic (ts, id) "
    "order, first sample and zero-dt pairs excluded.  The quotient is "
    "built as (v - pv) * 1e6 / CAST(dt_us AS DOUBLE) — identical IEEE "
    "expression tree in both engines, so the derivative series is "
    "bit-identical with no rounding.  Plan: ONE lag window pass per "
    "channel partition (one shuffle), pure codegen arithmetic — the "
    "(channel, day)-bucketed carry machinery of the gap-fill family "
    "applies verbatim if a channel's history outgrows one task",
)
def op_timeseries_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("ts", "id")
    r = cd.select(
        "channel_id",
        "id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
        F.lag("value").over(w).alias("pv"),
        F.lag(F.unix_micros("ts")).over(w).alias("pt_us"),
    )
    return r.filter(F.col("pv").isNotNull() & (F.col("ts_us") > F.col("pt_us"))).select(
        "channel_id",
        "id",
        "ts_us",
        (
            (F.col("value") - F.col("pv"))
            * F.lit(1e6)
            / (F.col("ts_us") - F.col("pt_us")).cast("double")
        ).alias("rate_per_s"),
    )


#: milli fixed-point quantizer shared by the sufficient-statistics trio
#: (trend / autocorr / seasonal outlier) — ONE definition per dialect so the
#: scale and rounding cannot fork between ops (the fx_unscaled convention
#: at 1e3: milli precision buys the integer headroom squared sums need)
def _fx3(col):
    from daq_3i_spark.functions.numeric import fx_unscaled

    return fx_unscaled(col, scale=1e3)


def _fx3_sql(expr: str) -> str:
    from daq_3i_spark.functions.numeric import fx_unscaled_sql

    return fx_unscaled_sql(expr, scale="1e3")


def _trend_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    p AS (
      SELECT channel_id, CAST(ts AS DATE) AS trend_date,
             CAST(hour(ts) AS BIGINT) AS x,
             {_fx3_sql('value')} AS y
      FROM channel_data
    ),
    s AS (
      SELECT channel_id, trend_date,
             CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM p GROUP BY 1, 2
    )
    SELECT channel_id, trend_date, n AS n_samples,
           CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE)
             / 1e3 AS slope_per_hour,
           (CAST(CAST(sy AS BIGINT) AS DOUBLE)
             - (CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
                / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE))
               * CAST(CAST(sx AS BIGINT) AS DOUBLE))
             / CAST(n AS DOUBLE) / 1e3 AS intercept
    FROM s WHERE n * sxx - sx * sx > 0"""


@register(
    "op_timeseries_trend",
    _trend_oracle(),
    doc="per-(channel, day) least-squares linear trend — the sensor-drift "
    "detector (is this channel creeping up?): ordinary least squares of "
    "value against hour-of-day, computed from the FIVE classical integer "
    "sufficient statistics (n, Σx, Σy, Σxy, Σx²) so slope = "
    "(nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is two exact BIGINT sums divided once "
    "as doubles — bit-identical across engines, no order-dependent float "
    "accumulation anywhere.  Exactness is provable by construction: "
    "x ∈ [0,23], y is milli-fixed-point (≤ ~5.6e5 here), and a channel-day "
    "group at the 1 Hz design cadence holds ≤ 86 400 rows, so n·Σxy tops "
    "out ~1e17 with 90x headroom under 2^63 (ANSI mode would raise, not "
    "wrap, if a deployment ever exceeded it).  Degenerate groups (all "
    "samples in one hour → zero variance denominator) are filtered, not "
    "NaN'd.  Plan: ONE map-side-combined aggregate on (channel_id, date) — "
    "one shuffle of five longs per group, the cheapest possible regression "
    "at any scale; daily grouping also bounds every group by wall-clock, "
    "so no hot channel can concentrate a corpus-sized partition",
)
def op_timeseries_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    p = cd.select(
        "channel_id",
        F.to_date("ts").alias("trend_date"),
        F.hour("ts").cast("bigint").alias("x"),
        _fx3(F.col("value")).alias("y"),
    )
    s = p.groupBy("channel_id", "trend_date").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope_fx = num.cast("double") / den.cast("double")
    return s.filter(den > 0).select(
        "channel_id",
        "trend_date",
        F.col("n").alias("n_samples"),
        (slope_fx / F.lit(1e3)).alias("slope_per_hour"),
        (
            (F.col("sy").cast("double") - slope_fx * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1e3)
        ).alias("intercept"),
    )


#: MAD outlier gate: |v - median| > _MAD_SIGMA * 1.4826 * MAD (the normal-
#: consistency constant), the robust z-score every monitoring stack ships
_MAD_SIGMA = 3.0


def _mad_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    med AS (
      SELECT channel_id, quantile_cont(value, 0.5) AS med
      FROM channel_data GROUP BY channel_id
    ),
    dev AS (
      SELECT d.channel_id, m.med, abs(d.value - m.med) AS adev
      FROM channel_data d JOIN med m ON d.channel_id = m.channel_id
    ),
    mad AS (
      SELECT channel_id, quantile_cont(adev, 0.5) AS mad
      FROM dev GROUP BY channel_id
    )
    SELECT dev.channel_id, dev.med AS median, mad.mad,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(CASE WHEN dev.adev > {_MAD_SIGMA} * 1.4826 * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev JOIN mad ON dev.channel_id = mad.channel_id
    GROUP BY dev.channel_id, dev.med, mad.mad"""


@register(
    "op_timeseries_outlier_mad",
    _mad_oracle(),
    doc="median-absolute-deviation outlier detection per channel — the "
    "robust alternative to z-scores (mean/stddev float sums are order-"
    "nondeterministic AND a single spike inflates them; the median/MAD "
    "pair is exact-interpolation portable, proven by op_sql_quantiles, "
    "and breakdown-point 0.5): flag samples with |v - median| > "
    f"{_MAD_SIGMA} * 1.4826 * MAD, emit per-channel median/MAD/counts.  "
    "Plan: two percentile aggregates on channel_id (median, then median "
    "absolute deviation) with the per-channel scalars broadcast back "
    "between them, one conditional-count aggregate at the end — three "
    "passes over the channel partition, zero self-joins; the sketch "
    "path at 100 TB swaps percentile for the mergeable histogram "
    "(op_sql_histogram_quantile) exactly like op_anomaly_rank documents",
)
def op_timeseries_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    med = cd.groupBy("channel_id").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    # dev feeds two aggregates (MAD and the final gate census) — materialize
    # the scan + broadcast-med join once (shared(): the lazy two-consumer
    # convention, zero jobs until the first action)
    dev = shared(
        cd.join(F.broadcast(med), "channel_id").select(
            "channel_id", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
        )
    )
    mad = dev.groupBy("channel_id").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    gate = F.col("adev") > F.lit(_MAD_SIGMA) * F.lit(1.4826) * F.col("mad")
    return (
        dev.join(F.broadcast(mad), "channel_id")
        .groupBy("channel_id", "med", "mad")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.sum(F.when(gate, 1).otherwise(0)).cast("bigint").alias("n_outliers"),
        )
        .select(
            "channel_id",
            F.col("med").alias("median"),
            "mad",
            "n_samples",
            "n_outliers",
        )
    )


# --- sweep-line session concurrency curve ------------------------------------

_CONC_GAP_S = 600  # the op_session_window_batch 10-minute gap, shared


@register(
    "op_events_concurrency",
    f"""WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > {_CONC_GAP_S} * 1000000
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM o
    ), sess AS (
      SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
      FROM s GROUP BY user_id, session_id
    ), d AS (
      SELECT epoch_us(st) AS t, 1 AS a, 0 AS b FROM sess
      UNION ALL SELECT epoch_us(en), 0, 1 FROM sess
    ), g AS (
      SELECT t, CAST(SUM(a) AS BIGINT) AS a, CAST(SUM(b) AS BIGINT) AS b
      FROM d GROUP BY t
    )
    SELECT t AS ts_us,
           CAST(SUM(a - b) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) + b
                AS BIGINT) AS concurrent
    FROM g""",
    doc="concurrent-session curve by sweep line: sessions (the 10-min-gap "
    "sessionization of op_session_window_batch) become +1/-1 boundary "
    "deltas, and the concurrency at each boundary instant t is the "
    "running delta sum with closed-interval semantics (a session ending "
    "AT t still counts at t: conc = cumsum(starts-ends) + ends_at_t, so "
    "back-to-back sessions touching at one instant both count).  The "
    "capacity-planning staple (peak load, license seats, connection "
    "pools).  Plan: the oracle states ONE global running sum; the Spark "
    "plan is the hot-key-safe two-level form — per-day net rollup + "
    "cumulative carry over the tiny day frame, then per-day partitioned "
    "running sums with the carry broadcast-stitched in (the gap-fill "
    "bucketing pattern applied to prefix sums) — so no task ever sees "
    "more than one day of boundaries, and the hash match proves "
    "two-level == global",
)
def op_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = wo.rowsBetween(Window.unboundedPreceding, 0)
    prev = F.lag("ts").over(wo)
    new_s = F.when(
        prev.isNull()
        | (F.unix_micros("ts") - F.unix_micros(prev) > _CONC_GAP_S * 1_000_000),
        1,
    ).otherwise(0)
    sess = (
        ev.withColumn("new_s", new_s)
        .withColumn("session_id", F.sum("new_s").over(ws))
        .groupBy("user_id", "session_id")
        .agg(F.unix_micros(F.min("ts")).alias("st"),
             F.unix_micros(F.max("ts")).alias("en"))
    )
    deltas = sess.select(F.col("st").alias("t"), F.lit(1).alias("a"),
                         F.lit(0).alias("b")).unionByName(
        sess.select(F.col("en").alias("t"), F.lit(0).alias("a"),
                    F.lit(1).alias("b"))
    )
    # g sits above the full per-user sessionization window and feeds both
    # the day-carry branch and the stitched output — materialize it once so
    # the window sort does not execute twice
    g = shared(
        deltas.groupBy("t")
        .agg(
            F.sum("a").cast("bigint").alias("a"),
            F.sum("b").cast("bigint").alias("b"),
        )
        .withColumn("day", F.to_date(F.timestamp_micros(F.col("t"))))
    )
    # two-level prefix sum: per-day nets -> cumulative carry over the tiny
    # day frame -> within-day running sums join the carry back
    droll = g.groupBy("day").agg(F.sum(F.col("a") - F.col("b")).alias("dnet"))
    w_day = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carry = droll.select(
        "day", F.coalesce(F.sum("dnet").over(w_day), F.lit(0)).alias("base")
    )
    w_in = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        g.join(F.broadcast(carry), "day")
        .select(
            F.col("t").alias("ts_us"),
            (
                F.col("base")
                + F.sum(F.col("a") - F.col("b")).over(w_in)
                + F.col("b")
            )
            .cast("bigint")
            .alias("concurrent"),
        )
    )


# --- TF-IDF keyword extraction with rational idf ------------------------------

_TFIDF_K = 3  # top terms per document


@register(
    "op_text_tfidf_topterms",
    f"""WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents
    ), tfd AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), dfa AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfd GROUP BY token
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    sc AS (
      SELECT t.doc_id, t.token, t.tf, d.df,
             t.tf * ((n.n * 1000000) // d.df) AS score
      FROM tfd t JOIN dfa d ON t.token = d.token, n
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rn
      FROM sc
    )
    SELECT doc_id, token, tf, df, CAST(score AS BIGINT) AS score,
           CAST(rn AS BIGINT) AS rk
    FROM r WHERE rn <= {_TFIDF_K}""",
    doc=f"TF-IDF keyword extraction: each document's top-{_TFIDF_K} terms "
    "by tf x rational idf — score = tf * ((N * 1e6) DIV df), the integer "
    "idf surrogate (monotone in N/df) that makes the ranking bit-portable "
    "where ln(N/df) is not (libm ln differs across builds; the same "
    "convention as op_text_bm25's rational idf, and the weighting "
    "op_text_vocab's docstring explicitly defers to the caller).  Plan: "
    "explode -> (doc, token) tf aggregate; df falls out of a SECOND "
    "aggregate over the (doc, token) pairs (no distinct over the raw "
    "token stream); corpus size N is a one-row broadcast; final "
    "per-document top-k is a rank window over the doc partition.  Two "
    "shuffles ((doc_id, token), then token) + the window — at 100 TB the "
    "df table joins back as an ordinary equi join (vocab outgrows "
    "broadcast) and everything stays map-side-combinable",
)
def op_text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.tables import load_spread

    docs = load_spread(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    tfd = tok.groupBy("doc_id", "token").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfa = tfd.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    n = docs.agg(F.count("*").cast("bigint").alias("n"))
    sc = (
        tfd.join(dfa, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.expr("tf * ((n * 1000000) DIV df)").cast("bigint").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "token")
    return (
        sc.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _TFIDF_K)
        .select("doc_id", "token", "tf", "df", "score", "rk")
    )


# --- perceptual-hash image near-dup (multimodal -> dedup bridge) -------------

_PH_W = 8  # aHash grid: 8x8 grayscale
_PH_N = _PH_W * _PH_W
_PH_HEADER = f"P5\n{_PH_W} {_PH_W}\n255\n".encode()
_PH_HAM = 3  # 4x16-bit bands guarantee recall at hamming <= 3 (pigeonhole)

#: DuckDB byte kernel (the op_multimodal_* convention): payload bytes as a
#: 1-based int list via hex-digit positional arithmetic
_PH_BYTES = (
    "list_transform(range(1, octet_length(payload) + 1), i ->"
    " (strpos('0123456789ABCDEF', substr(hex(payload), 2*i-1, 1)) - 1) * 16"
    " + (strpos('0123456789ABCDEF', substr(hex(payload), 2*i, 1)) - 1))"
)


def _phash_oracle() -> str:
    from daq_3i_spark.functions.text import DUCK

    p_hi = "[" + ",".join(str(1 << (32 - i)) for i in range(1, 33)) + "]"
    half = (
        "CAST(list_sum(list_transform(range(1, 33), i ->"
        " CASE WHEN px[i + {off}] * {n} > total THEN {pows}[i]"
        " ELSE 0 END)) AS BIGINT)"
    )
    hi = half.format(off=0, n=_PH_N, pows=p_hi)
    lo = half.format(off=32, n=_PH_N, pows=p_hi)
    ham = (
        f"{DUCK.bitcount(DUCK.bxor('a.hi', 'b.hi'))}"
        f" + {DUCK.bitcount(DUCK.bxor('a.lo', 'b.lo'))}"
    )
    return f"""WITH p AS (
      SELECT doc_id, encode(text) AS payload FROM documents
    ), b AS (
      SELECT doc_id, octet_length(payload) AS n, {_PH_BYTES} AS bl FROM p
    ), body AS (
      SELECT doc_id,
             list_transform(range(1, {_PH_N} + 1),
               i -> CASE WHEN i <= n THEN bl[i] ELSE 0 END) AS px
      FROM b
    ), t AS (
      SELECT doc_id, px, CAST(list_sum(px) AS BIGINT) AS total FROM body
    ), h AS (
      SELECT doc_id, {hi} AS hi, {lo} AS lo FROM t
    ), blocks AS (
      SELECT doc_id, hi, lo, j,
             CASE j WHEN 0 THEN (hi >> 16) & 65535 WHEN 1 THEN hi & 65535
                    WHEN 2 THEN (lo >> 16) & 65535 ELSE lo & 65535 END AS band
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS j) u
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b
        ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
      WHERE {ham} <= {_PH_HAM}
    ), dup AS (
      SELECT doc_b, min(doc_a) AS dup_of FROM pairs GROUP BY doc_b
    )
    SELECT h.doc_id, h.hi AS ahash_hi, h.lo AS ahash_lo, dup.dup_of,
           dup.dup_of IS NULL AS is_kept
    FROM h LEFT JOIN dup ON h.doc_id = dup.doc_b"""


@register(
    "op_multimodal_phash",
    _phash_oracle(),
    doc="perceptual-hash image near-dup — the multimodal->dedup bridge: "
    f"each document's bytes frame as an {_PH_W}x{_PH_W} binary PGM (P5), "
    "the REAL netpbm decoder (functions/multimodal.py:decode_media) "
    "parses it to pixels, and the aHash bit i is px[i]*64 > sum(px) "
    "(strict integer compare — no float mean), packed as two NON-NEGATIVE "
    "32-bit halves so shifts/XOR/bit_count behave identically in both "
    "engines with no sign-bit hazard.  Near-dups (hamming <= "
    f"{_PH_HAM}) are found via 4x16-bit band blocking — pigeonhole "
    "guarantees recall, the op_dedup_simhash machinery applied to "
    "DECODED PIXELS — and each duplicate maps to its min-id keeper.  The "
    "oracle never runs the decoder: it recomputes the hash from the raw "
    "bytes by positional hex arithmetic, so the decode+hash pipeline is "
    "verified against an independent derivation.  Plan: mapInPandas "
    "Arrow batches for decode+hash (no shuffle), band-bucketed self-join "
    "bounds pair work exactly like simhash; at 100 TB hot bands cap via "
    "the df-window mitigation the capped dedup ops establish",
)
def op_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from daq_3i_spark.functions.multimodal import decode_media
    from daq_3i_spark.functions.text import SPARK
    from daq_3i_spark.sources.tables import load_spread

    docs = load_spread(spark, sf_dir, "documents")
    body = F.substring(
        F.concat(F.expr("encode(text, 'utf-8')"), F.lit(bytearray(_PH_N))),
        1,
        _PH_N,
    )
    packed = docs.select(
        "doc_id", F.concat(F.lit(bytearray(_PH_HEADER)), body).alias("payload")
    )

    def hash_batches(it):
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = (
                    decode_media(bytes(payload), "image/x-portable-graymap")
                    .reshape(-1)
                    .astype(np.int64)
                )
                total = int(px.sum())
                bits = (px * _PH_N) > total
                hi = lo = 0
                for i in range(32):
                    if bits[i]:
                        hi |= 1 << (31 - i)
                    if bits[32 + i]:
                        lo |= 1 << (31 - i)
                out.append((int(doc_id), hi, lo))
            yield pd.DataFrame(out, columns=["doc_id", "hi", "lo"])

    # two consumers (band blocking + the final mapping join) — materialize
    # the decode+hash pass once instead of running the Arrow kernel twice
    h = shared(packed.mapInPandas(hash_batches, "doc_id long, hi long, lo long"))
    blocks = h.select(
        "doc_id", "hi", "lo", F.explode(F.expr("sequence(0, 3)")).alias("j")
    ).withColumn(
        "band",
        F.expr(
            "CASE j WHEN 0 THEN shiftright(hi, 16) & 65535"
            " WHEN 1 THEN hi & 65535"
            " WHEN 2 THEN shiftright(lo, 16) & 65535"
            " ELSE lo & 65535 END"
        ),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.expr(
        f"{SPARK.bitcount(SPARK.bxor('a.hi', 'b.hi'))}"
        f" + {SPARK.bitcount(SPARK.bxor('a.lo', 'b.lo'))}"
    )
    pairs = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(ham <= _PH_HAM)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    dup = pairs.groupBy("doc_b").agg(F.min("doc_a").alias("dup_of"))
    return h.join(dup, h.doc_id == dup.doc_b, "left").select(
        "doc_id",
        F.col("hi").alias("ahash_hi"),
        F.col("lo").alias("ahash_lo"),
        "dup_of",
        F.col("dup_of").isNull().alias("is_kept"),
    )


# --- deterministic A/B experiment analysis -----------------------------------

#: the ONE portable A/B assignment: md5-bucket of user_id, even -> 'A'.
#: Shared verbatim by ab_lift / srm / ab_ci (srm gates ab_lift's split and
#: ab_ci gates its effect — the three MUST agree on the assignment, so the
#: expression lives in exactly one place per dialect).
_AB_V_SQL = """SELECT DISTINCT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                            AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant
      FROM events"""

#: variant universe + converters + per-variant counts (the 2-row core of
#: ab_lift and ab_ci) — embed as ``WITH {_AB_AGG_SQL}, more AS (...)``
_AB_AGG_SQL = f"""v AS (
      {_AB_V_SQL}
    ), c AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), agg AS (
      SELECT v.variant,
             CAST(count(*) AS BIGINT) AS users,
             CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS converters
      FROM v LEFT JOIN c ON v.user_id = c.user_id
      GROUP BY v.variant
    )"""


def _ab_variants(ev: DataFrame) -> DataFrame:
    """(user_id, variant) universe — the Spark twin of _AB_V_SQL."""
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(2),
    )
    return ev.select(
        "user_id", F.when(bucket == 0, "A").otherwise("B").alias("variant")
    ).distinct()


def _ab_counts(ev: DataFrame) -> DataFrame:
    """2-row (variant, users, converters) frame — the Spark twin of
    _AB_AGG_SQL's ``agg``, lazily cached: both consumers (the A and B
    filters crossJoined to one row) otherwise re-run the events scan and
    both distinct pipelines for a 2-row result."""
    from daq_3i_spark.cache import shared as _shared

    c = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("conv", F.lit(1))
    )
    return _shared(
        _ab_variants(ev)
        .join(c, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").cast("bigint").alias("users"),
            F.sum(F.coalesce(F.col("conv"), F.lit(0)))
            .cast("bigint")
            .alias("converters"),
        )
    )


@register(
    "op_events_ab_lift",
    f"""WITH {_AB_AGG_SQL}, r AS (
      SELECT variant, users, converters,
             (converters * 1000000) // users AS rate_ppm
      FROM agg
    )
    SELECT a.users AS users_a, a.converters AS conv_a, a.rate_ppm AS rate_a_ppm,
           b.users AS users_b, b.converters AS conv_b, b.rate_ppm AS rate_b_ppm,
           CASE WHEN a.rate_ppm > 0
                THEN ((b.rate_ppm - a.rate_ppm) * 1000000) // a.rate_ppm
                ELSE NULL END AS lift_ppm
    FROM (SELECT * FROM r WHERE variant = 'A') a,
         (SELECT * FROM r WHERE variant = 'B') b""",
    doc="A/B experiment analysis with a DETERMINISTIC assignment: users "
    "split into variants by the portable md5 bucket (the op_corpus_split "
    "convention on user_id — same user, same variant on every engine/"
    "cluster/rerun, where rand() assignment is unreproducible and "
    "mod-on-id inherits id patterns), conversion = any purchase event; "
    "output is one row of per-variant users/converters/rate and the "
    "relative lift, all as exact integer ppm (no float division "
    "anywhere).  Plan: one distinct projection per side joined on "
    "user_id, aggregate to a 2-row frame, self-joined to a single row — "
    "the event scan is touched twice (variant universe + converters), "
    "both passes map-side combinable; at 100 TB the converter side "
    "prunes to the purchase partition at the scan",
)
def op_events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    agg = _ab_counts(ev).withColumn(
        "rate_ppm", F.expr("(converters * 1000000) DIV users")
    )
    a = agg.filter(F.col("variant") == "A").alias("a")
    b = agg.filter(F.col("variant") == "B").alias("b")
    return a.crossJoin(b).select(
        F.col("a.users").alias("users_a"),
        F.col("a.converters").alias("conv_a"),
        F.col("a.rate_ppm").alias("rate_a_ppm"),
        F.col("b.users").alias("users_b"),
        F.col("b.converters").alias("conv_b"),
        F.col("b.rate_ppm").alias("rate_b_ppm"),
        F.expr(
            "CASE WHEN a.rate_ppm > 0"
            " THEN ((b.rate_ppm - a.rate_ppm) * 1000000) DIV a.rate_ppm"
            " ELSE NULL END"
        ).alias("lift_ppm"),
    )


# --- seasonal (time-of-day) baseline profile ---------------------------------


def _seasonal_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    b AS (
      SELECT channel_id,
             CAST(extract(hour FROM ts) * 60 + extract(minute FROM ts)
                  AS BIGINT) AS minute_of_day,
             value
      FROM channel_data
    )
    SELECT channel_id, minute_of_day,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
                AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE) AS avg_value,
           min(value) AS min_value, max(value) AS max_value
    FROM b GROUP BY channel_id, minute_of_day"""


@register(
    "op_timeseries_seasonal",
    _seasonal_oracle(),
    doc="seasonal baseline profile — the time-of-day folding every "
    "monitoring stack builds (what does this channel NORMALLY read at "
    "14:35?): samples grouped by (channel, minute-of-day) across all "
    "history, emitting count, exact fixed-point mean (one int64 sum + one "
    "correctly-rounded division — order-insensitive where a naive avg() "
    "of doubles is not), and the min/max envelope.  The profile is the "
    "denominator of seasonal-anomaly scoring (op_timeseries_outlier_mad "
    "gates against a global center; this gate is time-conditioned).  "
    "Plan: ONE map-side-combined hash aggregate on the (channel, "
    "minute-of-day) key — 1440 buckets per channel whatever the history "
    "length, so the aggregate output is dimension-sized and the shuffle "
    "carries partials, not samples",
)
def op_timeseries_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    mod = (F.hour("ts") * 60 + F.minute("ts")).cast("bigint")
    return (
        cd.select("channel_id", mod.alias("minute_of_day"), "value")
        .groupBy("channel_id", "minute_of_day")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.sum(fx_unscaled(F.col("value"))).alias("sum_fx"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "channel_id",
            "minute_of_day",
            "n_samples",
            (
                F.col("sum_fx").cast("double")
                / (F.col("n_samples") * F.lit(1_000_000)).cast("double")
            ).alias("avg_value"),
            "min_value",
            "max_value",
        )
    )


def _autocorr_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    b AS (
      SELECT channel_id,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
             {_fx3_sql('value')} AS y, ts, id
      FROM channel_data
    ),
    pairs AS (
      SELECT channel_id, hour_bucket, y,
             lag(y) OVER (PARTITION BY channel_id, hour_bucket
                          ORDER BY ts, id) AS x
      FROM b
    ),
    s AS (
      SELECT channel_id, hour_bucket, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM pairs WHERE x IS NOT NULL GROUP BY 1, 2
    )
    SELECT channel_id, epoch_us(hour_bucket) AS hour_us, n AS n_pairs,
           CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
             / sqrt(CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE)
                    * CAST(CAST(n * syy - sy * sy AS BIGINT) AS DOUBLE)) AS r1
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0"""


@register(
    "op_timeseries_autocorr",
    _autocorr_oracle(),
    doc="lag-1 autocorrelation per (channel, hour) — the serial-correlation "
    "diagnostic that completes the drift trio (op_timeseries_trend: "
    "deterministic drift; op_timeseries_seasonal_outlier: time-of-day "
    "deviation; this: is the residual white noise or sticky?).  Pearson "
    "r between consecutive samples from the SEVEN integer sufficient "
    "statistics over (y_prev, y) pairs — exact BIGINT sums, then only "
    "cast/multiply/sqrt/divide, all correctly rounded, so r1 is "
    "bit-identical cross-engine (sqrt is in the registry's blessed "
    "primitive set; libm pow is not).  Hour-bucketed pairs bound the "
    "integer range: n <= 3600 at the 1 Hz design cadence puts n*Σxy "
    "under 2^63 with 2x headroom (ANSI raises, not wraps, beyond); "
    "pairs never span bucket boundaries — documented, and exactly how "
    "a mergeable deployment would shard the statistic.  Zero-variance "
    "sides are filtered (no 0/0 NaN path).  Plan: ONE shuffle on "
    "(channel, hour): the lag window and the aggregate share the same "
    "partitioning key, so the sums reuse the window's exchange",
)
def op_timeseries_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    b = cd.select(
        "channel_id",
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        _fx3(F.col("value")).alias("y"),
        "ts",
        "id",
    )
    w = Window.partitionBy("channel_id", "hour_bucket").orderBy("ts", "id")
    pairs = b.withColumn("x", F.lag("y").over(w)).filter(F.col("x").isNotNull())
    s = pairs.groupBy("channel_id", "hour_bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        s.filter((vx > 0) & (vy > 0))
        .select(
            "channel_id",
            F.unix_micros("hour_bucket").alias("hour_us"),
            F.col("n").alias("n_pairs"),
            (
                num.cast("double")
                / F.sqrt(vx.cast("double") * vy.cast("double"))
            ).alias("r1"),
        )
    )


#: seasonal z-gate width (in standard deviations of the minute-of-day group)
_SEASONAL_K = 3


def _seasonal_outlier_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    b AS (
      SELECT channel_id,
             CAST(extract(hour FROM ts) * 60 + extract(minute FROM ts)
                  AS BIGINT) AS mod,
             {_fx3_sql('value')} AS y
      FROM channel_data
    ),
    base AS (
      SELECT channel_id, mod, CAST(count(*) AS BIGINT) AS n,
             sum(y) AS s1, sum(y * y) AS s2
      FROM b GROUP BY 1, 2
    ),
    gated AS (
      SELECT b.channel_id,
             CASE WHEN base.n > 1 AND
               CAST(CAST(base.n * b.y - base.s1 AS BIGINT) AS DOUBLE)
                 * CAST(CAST(base.n * b.y - base.s1 AS BIGINT) AS DOUBLE)
               > {_SEASONAL_K * _SEASONAL_K}.0
                 * CAST(CAST(base.n * base.s2 - base.s1 * base.s1 AS BIGINT) AS DOUBLE)
             THEN 1 ELSE 0 END AS is_out
      FROM b JOIN base ON b.channel_id = base.channel_id AND b.mod = base.mod
    )
    SELECT channel_id, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(is_out) AS BIGINT) AS n_outliers
    FROM gated GROUP BY channel_id"""


@register(
    "op_timeseries_seasonal_outlier",
    _seasonal_outlier_oracle(),
    doc="time-of-day-conditioned outlier census: a sample is anomalous when "
    f"it sits more than {_SEASONAL_K} standard deviations from ITS OWN "
    "minute-of-day population (op_timeseries_outlier_mad gates against a "
    "global center and misses anomalies that are normal at 14:00 but wild "
    "at 03:00 — this is the seasonal complement, the pair every "
    "monitoring stack ships).  The gate is division- and sqrt-free "
    "integer cross-multiplication: (n·y − Σy)² > k²·(n·Σy² − (Σy)²) in "
    "milli-fixed-point, so both sides are exact BIGINTs cast once to "
    "double (both oracles pin the DuckDB HUGEINT arithmetic back to "
    "BIGINT before the int64->double conversion, the fx_sum_sql "
    "convention, so the rounding is the identical conversion in both "
    "engines) — no float accumulation, no NaN path (a zero-variance "
    "minute gates nothing, n=1 groups are excluded as varianceless).  "
    "Overflow envelope, stated honestly: at 1 Hz a (channel, "
    "minute-of-day) bucket pools 60 samples/DAY, so with y ≤ ~5.6e5 fx3 "
    "the variance core n·Σy² crosses 2^63 near n ≈ 5 400 — about 90 days "
    "of history per channel (ANSI raises, never wraps).  Longer horizons "
    "rebase y against the bucket minimum, drop to centi fixed point, or "
    "window the baseline to a trailing quarter (the usual seasonal-"
    "baseline practice anyway).  Plan: ONE map-side-combined aggregate to "
    "the 1440-bucket baseline, joined back on (channel, minute) — the "
    "baseline side is dimension-sized, so at 100 TB it broadcasts and "
    "the census is a second map-side-combined aggregate",
)
def op_timeseries_seasonal_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    mod = (F.hour("ts") * 60 + F.minute("ts")).cast("bigint")
    b = cd.select(
        "channel_id",
        mod.alias("mod"),
        _fx3(F.col("value")).alias("y"),
    )
    base = b.groupBy("channel_id", "mod").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").alias("s1"),
        F.sum(F.col("y") * F.col("y")).alias("s2"),
    )
    dev = F.col("n") * F.col("y") - F.col("s1")
    var_core = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    # square the deviation in DOUBLE: dev fits int64 comfortably inside the
    # documented envelope, and the int64->double cast + multiply are both
    # correctly rounded, so BOTH engines compute the identical (possibly
    # rounded) product — the parity invariant is identical IEEE rounding,
    # not exactness (dev² can exceed 2^53)
    is_out = F.when(
        (F.col("n") > 1)
        & (
            dev.cast("double") * dev.cast("double")
            > F.lit(float(_SEASONAL_K * _SEASONAL_K)) * var_core.cast("double")
        ),
        1,
    ).otherwise(0)
    return (
        b.join(F.broadcast(base), ["channel_id", "mod"])
        .select("channel_id", is_out.alias("is_out"))
        .groupBy("channel_id")
        .agg(
            F.count("*").cast("bigint").alias("n_samples"),
            F.sum("is_out").cast("bigint").alias("n_outliers"),
        )
    )


# --- burst detection on event rates (integer cross-multiplied gate) ----------


@register(
    "op_events_burst",
    """WITH m AS (
      SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), w AS (
      SELECT event_type, hour, n,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY hour
                               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS base,
             CAST(count(*) OVER (PARTITION BY event_type ORDER BY hour
                               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
                  AS BIGINT) AS nb
      FROM m
    )
    SELECT event_type, epoch_us(hour) AS hour_us, n,
           base AS trailing_total, nb AS trailing_hours
    FROM w WHERE nb >= 12 AND n * nb > 2 * base""",
    doc="rate-burst detection per event type: an hour fires when its count "
    "exceeds 2x the trailing average over the previous (up to) 24 "
    "OBSERVED hours, with at least 12 hours of baseline — the spike "
    "alarm every ops dashboard carries.  The gate is the integer "
    "cross-multiplication n * nb > 2 * base (never a float average, so "
    "the comparison has no rounding boundary to drift across engines).  "
    "Plan: one map-side-combined (type, hour) count aggregate — "
    "dimension-sized however big the table — then a 24-row framed window "
    "per event_type partition; at 100 TB the window input is one row per "
    "(type, hour), bounded by the calendar, not the data",
)
def op_events_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    m = ev.groupBy(
        "event_type", F.window("ts", "1 hour").getField("start").alias("hour")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-24, -1)
    )
    r = m.withColumn("base", F.sum("n").over(w).cast("bigint")).withColumn(
        "nb", F.count("n").over(w).cast("bigint")
    )
    return r.filter(
        (F.col("nb") >= 12) & (F.col("n") * F.col("nb") > 2 * F.col("base"))
    ).select(
        "event_type",
        F.unix_micros("hour").alias("hour_us"),
        "n",
        F.col("base").alias("trailing_total"),
        F.col("nb").alias("trailing_hours"),
    )


# --- classifier evaluation: langid confusion matrix ---------------------------


def _langid_confusion_oracle() -> str:
    from daq_3i_spark.plans.extension_ops import _langid_pred
    from daq_3i_spark.functions.text import DUCK

    return f"""WITH t AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
      FROM documents
    ), p AS (
      SELECT lang AS actual, {_langid_pred(DUCK, 'toks')} AS predicted FROM t
    )
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN actual = predicted THEN count(*) ELSE 0 END)
                OVER () AS BIGINT) AS total_correct,
           CAST(SUM(count(*)) OVER () AS BIGINT) AS total_docs
    FROM p GROUP BY actual, predicted"""


@register(
    "op_text_langid_confusion",
    _langid_confusion_oracle(),
    doc="classifier evaluation in-engine: the confusion matrix of the "
    "op_text_langid heuristic against the corpus's labeled lang column — "
    "(actual, predicted, count) cells plus global correct/total so "
    "accuracy is an exact integer ratio the reader computes without float "
    "division.  The eval loop every data pipeline needs for its own "
    "quality filters (is the langid gate wrongly dropping one language? "
    "read its row).  Plan: the langid projection is shuffle-free codegen; "
    "the matrix aggregate is map-side combined on a |langs|^2-bounded "
    "key; the global sums ride an unpartitioned window over the TINY "
    "matrix frame, not the corpus",
)
def op_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.plans.extension_ops import _langid_pred
    from daq_3i_spark.functions.text import SPARK
    from daq_3i_spark.sources.tables import load_spread

    docs = load_spread(spark, sf_dir, "documents")
    p = docs.select(
        F.col("lang").alias("actual"),
        F.expr(
            _langid_pred(SPARK, "split(lower(text), ' ')")
        ).alias("predicted"),
    )
    m = p.groupBy("actual", "predicted").agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = Window.partitionBy()
    return m.select(
        "actual",
        "predicted",
        "n",
        F.sum(F.when(F.col("actual") == F.col("predicted"), F.col("n")).otherwise(0))
        .over(w)
        .cast("bigint")
        .alias("total_correct"),
        F.sum("n").over(w).cast("bigint").alias("total_docs"),
    )


# --- RFM customer segmentation -------------------------------------------------


@register(
    "op_events_rfm",
    """WITH p AS (
      SELECT user_id, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS mon_fx
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), s AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY last_ts DESC, user_id) AS r_score,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
             ntile(5) OVER (ORDER BY mon_fx DESC, user_id) AS m_score
      FROM p
    )
    SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS users
    FROM s GROUP BY r_score, f_score, m_score""",
    doc="RFM customer segmentation — THE classic marketing-analytics "
    "cube: per purchasing user the recency (last purchase), frequency "
    "(purchase count), and monetary total (exact fixed-point), each "
    "quintiled by ntile(5) with a total (metric, user_id) order so the "
    "segment assignment is deterministic, then the 125-cell segment "
    "census.  Plan: one map-side-combined per-user aggregate over the "
    "purchase-pruned scan, then three EXACT distributed ntiles "
    "(operators/ranks.py: range-repartition + per-partition rank + "
    "broadcast offsets — never a single-partition window, which at "
    "100 TB would sort 1e9 purchasers on one core), then the 125-key "
    "census aggregate",
)
def op_events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.operators.ranks import global_ntile

    ev = load_events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count("*").cast("bigint").alias("freq"),
            F.sum(fx_unscaled(F.col("value"))).cast("bigint").alias("mon_fx"),
        )
    )
    # one ntile per metric over a NARROW (user_id, metric) projection of the
    # cached purchaser aggregate, then score frames equi-join on user_id —
    # chaining the ntiles instead stacks each layer's range exchange on the
    # full previous output (measured 2x the plan depth for the same result)
    p = shared(p)
    scores = [
        global_ntile(
            p.select("user_id", metric),
            5,
            [F.col(metric).desc(), F.col("user_id").asc()],
            alias,
        ).select("user_id", alias)
        for metric, alias in (
            ("last_ts", "r_score"),
            ("freq", "f_score"),
            ("mon_fx", "m_score"),
        )
    ]
    s = scores[0].join(scores[1], "user_id").join(scores[2], "user_id")
    return s.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("bigint").alias("users")
    )


# --- LSH quality measured in-engine: MinHash recall vs exact Jaccard ----------

_MHEVAL_TAU = 0.4  # "true near-dup" threshold for the recall denominator


def _band_exact_frames(
    spark: SparkSession, sf_dir: str, restrict_to_candidates: bool = False
):
    """(cand, inter, za, zb): same-language MinHash band candidates plus the
    exact shingle-intersection frames they are verified against — the ONE
    derivation shared by op_corpus_minhash_eval (recall eval) and
    op_dedup_threshold_sweep (threshold curve), mirroring how both oracles
    compose the same _duck_sig_cte.

    All multi-consumer frames are cache.shared(): the token-hash prelude
    ``th`` feeds BOTH pair generators (minhash signatures for the band
    index, shingle postings for the exact Jaccard), ``bands`` feeds both
    self-join sides, ``shp`` feeds both posting sides + the size census,
    and ``cand`` feeds each caller's 1-3 consumers.  ``inter`` holds the
    per-pair shingle intersection count ``i``; ``za``/``zb`` are the
    per-doc shingle-set sizes keyed for the doc_a/doc_b joins, so a caller
    computes exact Jaccard as i / (na + nb - i).  Both pair generators are
    bucket-blocked on keys that INCLUDE lang ((band_idx, band_val, lang)
    buckets / (lang, shingle) postings — never all-pairs, and never a
    corpus-sized doc->lang broadcast joined back on afterwards).

    ``restrict_to_candidates`` (r17, guide §3.2 "reduce the big side
    before shuffling it"): when the caller only ever consumes ``inter``
    INNER-joined with ``cand`` (the threshold sweep), the exact-Jaccard
    posting table is semi-join-prefiltered to docs that appear in a band
    candidate pair before the posting self-join.  Safe by construction: a
    cand pair has both endpoints in the candidate-doc set, and the filter
    drops whole DOCS (never individual shingles), so ``i``/``na``/``nb``
    are unchanged for every surviving pair.  The recall eval must NOT set
    it — its ground-truth frame counts near-dup pairs the bands missed,
    which is exactly the set the prefilter would drop."""
    from daq_3i_spark.functions.text import SPARK
    from daq_3i_spark.plans.extension_ops import _spark_th_of
    from daq_3i_spark.sources.tables import load_spread

    docs = load_spread(spark, sf_dir, "documents")
    th = shared(_spark_th_of(docs))
    # lang rides WITH the signature chain instead of being joined back on
    # afterwards: band candidates are same-lang by construction once lang is
    # part of the band self-join key, which deletes the two doc-dimension
    # broadcast joins the pre-r12 shape forced (a doc_id->lang map grows
    # linearly with the corpus — at the 100 TB design point that hint was a
    # guaranteed executor/driver OOM).  Same candidate set: lang is
    # functionally dependent on doc_id, so "bucket-mates, then same-lang
    # filter" == "same-(bucket, lang) mates".
    sigs = th.select(
        "doc_id", "lang", F.expr(SPARK.shingle_hashes("th")).alias("sh")
    ).select("doc_id", "lang", F.expr(SPARK.minhash_sig("sh")).alias("sig"))
    bands = shared(
        sigs.select(
            "doc_id",
            "lang",
            F.posexplode(F.expr(SPARK.band_hashes("sig"))).alias(
                "band_idx", "band_val"
            ),
        )
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = shared(
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    shp = th.select(
        "doc_id",
        "lang",
        F.explode(F.expr(SPARK.shingle_hashes("th"))).alias("h"),
    ).distinct()
    if restrict_to_candidates:
        cd = cand.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        # no broadcast hint — cd grows with the corpus; AQE promotes the
        # semi-join from runtime stats when it fits
        shp = shp.join(cd, "doc_id", "left_semi")
    shp = shared(shp)
    sizes = shp.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa, sb = shp.alias("sa"), shp.alias("sb")
    inter = (
        sa.join(
            sb,
            (F.col("sa.h") == F.col("sb.h"))
            & (F.col("sa.lang") == F.col("sb.lang"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .groupBy(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("i"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return cand, inter, za, zb


def _minhash_eval_oracle() -> str:
    from daq_3i_spark.functions.text import DUCK
    from daq_3i_spark.plans.extension_ops import _duck_sig_cte

    return f"""WITH {_duck_sig_cte()},
    cand0 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    l AS (SELECT doc_id, lang FROM documents),
    cand AS (
      SELECT c.doc_a, c.doc_b FROM cand0 c
      JOIN l la ON c.doc_a = la.doc_id
      JOIN l lb ON c.doc_b = lb.doc_id AND la.lang = lb.lang
    ),
    shp0 AS (
      SELECT doc_id, lang, unnest({DUCK.shingle_hashes('th')}) AS h
      FROM (SELECT t.doc_id, d.lang, t.th
            FROM th t JOIN documents d ON t.doc_id = d.doc_id)
    ), shp AS (SELECT DISTINCT doc_id, lang, h FROM shp0),
    sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shp a JOIN shp b ON a.h = b.h AND a.lang = b.lang
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
            >= {_MHEVAL_TAU}
    )
    SELECT nc.n AS n_candidates, nt.n AS n_true, nh.n AS n_hits,
           nt.n - nh.n AS n_missed
    FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM cand) nc,
         (SELECT CAST(count(*) AS BIGINT) AS n FROM truth) nt,
         (SELECT CAST(count(*) AS BIGINT) AS n
          FROM truth t JOIN cand c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) nh"""


@register(
    "op_corpus_minhash_eval",
    _minhash_eval_oracle(),
    doc="LSH quality measured IN-ENGINE: the MinHash band-candidate set "
    "evaluated against exact shingle-Jaccard ground truth (same-language "
    f"pairs, true threshold {_MHEVAL_TAU}) — one row of candidates / "
    "true near-dups / hits / misses, so banding recall is an exact "
    "integer ratio and a banding-geometry regression (fewer bands, "
    "broken hashing) shows up as n_missed > 0 instead of silently "
    "degraded dedup.  The eval composes two existing kernels — the "
    "banded signature index (op_dedup_minhash) and the inverted "
    "shingle-join exact Jaccard (op_dedup_ngram_jaccard) — and joins "
    "their pair sets.  Plan: both pair generators are bucket-blocked "
    "(band buckets / shingle postings, never all-pairs); the final "
    "counts are three scalar aggregates cross-joined one-row",
)
def op_corpus_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand, inter, za, zb = _band_exact_frames(spark, sf_dir)
    # za/zb are doc-dimension frames (one row per doc) — no forced broadcast
    # hint on anything that grows with the corpus; AQE promotes these
    # equi-joins from runtime stats when the size table fits
    truth = shared(
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            >= _MHEVAL_TAU
        )
        .select("doc_a", "doc_b")
    )

    nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    nt = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    nh = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("bigint").alias("n_hits")
    )
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_candidates",
            "n_true",
            "n_hits",
            (F.col("n_true") - F.col("n_hits")).alias("n_missed"),
        )
    )


# --- dedup threshold sensitivity: the near-dup curve --------------------------

#: the Jaccard thresholds the sweep evaluates — bracketing the 0.5 cut the
#: production dedup ops use, so a corpus shift (or a banding change) shows up
#: as a CURVE change rather than a single count moving for unknown reasons.
_SWEEP_TAUS = (0.4, 0.5, 0.6, 0.7)


def _threshold_sweep_oracle() -> str:
    from daq_3i_spark.functions.text import DUCK
    from daq_3i_spark.plans.extension_ops import _duck_sig_cte

    tau_list = ", ".join(f"CAST({t} AS DOUBLE)" for t in _SWEEP_TAUS)
    return f"""WITH {_duck_sig_cte()},
    cand0 AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    l AS (SELECT doc_id, lang FROM documents),
    cand AS (
      SELECT c.doc_a, c.doc_b FROM cand0 c
      JOIN l la ON c.doc_a = la.doc_id
      JOIN l lb ON c.doc_b = lb.doc_id AND la.lang = lb.lang
    ),
    shp0 AS (
      SELECT doc_id, lang, unnest({DUCK.shingle_hashes('th')}) AS h
      FROM (SELECT t.doc_id, d.lang, t.th
            FROM th t JOIN documents d ON t.doc_id = d.doc_id)
    ), shp AS (SELECT DISTINCT doc_id, lang, h FROM shp0),
    sizes AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM shp a JOIN shp b ON a.h = b.h AND a.lang = b.lang
       AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT c.doc_a, c.doc_b,
             CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
      FROM cand c JOIN inter USING (doc_a, doc_b)
      JOIN sizes sa ON c.doc_a = sa.doc_id
      JOIN sizes sb ON c.doc_b = sb.doc_id
    ),
    sw AS (
      SELECT doc_a, doc_b, t.tau
      FROM ver CROSS JOIN (SELECT unnest([{tau_list}]) AS tau) t
      WHERE jaccard >= t.tau
    ),
    p AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs FROM sw GROUP BY tau),
    d AS (
      SELECT tau, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
      FROM (SELECT tau, doc_a AS doc FROM sw
            UNION ALL SELECT tau, doc_b FROM sw)
      GROUP BY tau
    )
    SELECT p.tau, p.n_pairs, d.n_docs FROM p JOIN d USING (tau)"""


@register(
    "op_dedup_threshold_sweep",
    _threshold_sweep_oracle(),
    doc="dedup-threshold sensitivity: exact-Jaccard-verified MinHash band "
    f"candidates counted at every tau in {_SWEEP_TAUS} in ONE pass — the "
    "curve (n_pairs, n_docs affected per threshold) the corpus team reads "
    "before moving the production 0.5 cut, and the drift monitor that turns "
    "a corpus shift into a curve-shape change instead of a silent dedup-rate "
    "move.  Composes the two existing verified kernels (the banded signature "
    "index of op_dedup_minhash + the inverted shingle-join exact Jaccard of "
    "op_dedup_ngram_jaccard) exactly like op_corpus_minhash_eval, then sweeps "
    "thresholds via an array-filter explode over the ONE verified-pair frame "
    "— never one scan per threshold.  Plan: pair generation is band-bucket / "
    "posting blocked (no all-pairs); the sweep itself touches only the "
    "pair-count-sized frame; counts are exact integers (no float aggregates)",
)
def op_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    # restrict_to_candidates: this op consumes `inter` only inner-joined
    # with `cand`, so the posting self-join runs over candidate docs only
    # (guide §3.2; A/B ×0.94 sf0.1, see OPTIMIZATION_r17.md) — the recall
    # eval keeps the full frame because its truth set is prefilter-blind
    cand, inter, za, zb = _band_exact_frames(
        spark, sf_dir, restrict_to_candidates=True
    )
    # inner join drops candidates sharing NO shingle (jaccard 0 < min tau) —
    # same set the oracle's `cand JOIN inter` keeps
    # za/zb are doc-dimension frames — never force-broadcast (AQE decides)
    ver = (
        cand.join(inter, ["doc_a", "doc_b"])
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("i").cast("double")
                / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
            ).alias("jaccard"),
        )
    )
    # ONE pass over the verified pairs: each pair emits one row per threshold
    # it clears (array-filter explode, pure codegen); a tau with zero
    # qualifying pairs is absent in both engines alike
    taus = F.array(*[F.lit(float(t)) for t in _SWEEP_TAUS])
    sw = shared(
        ver.select(
            "doc_a",
            "doc_b",
            F.explode(
                F.filter(taus, lambda t: F.col("jaccard") >= t)
            ).alias("tau"),
        )
    )
    n_pairs = sw.groupBy("tau").agg(F.count("*").cast("bigint").alias("n_pairs"))
    n_docs = (
        sw.select("tau", F.explode(F.array("doc_a", "doc_b")).alias("doc"))
        .distinct()
        .groupBy("tau")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    return n_pairs.join(n_docs, "tau").select("tau", "n_pairs", "n_docs")


# --- gaps and islands: consecutive-day activity runs --------------------------


@register(
    "op_events_streaks",
    """WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), g AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS grp
      FROM d
    ), runs AS (
      SELECT user_id, min(day) AS run_start, max(day) AS run_end,
             CAST(count(*) AS BIGINT) AS run_days
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id, CAST(run_start AS TIMESTAMP) AS run_start,
           CAST(run_end AS TIMESTAMP) AS run_end, run_days
    FROM runs WHERE run_days >= 3""",
    doc="gaps-and-islands: maximal runs of CONSECUTIVE CALENDAR DAYS a "
    "user was active (streaks >= 3 days) — the engagement-streak / "
    "uptime-run pattern, distinct from sessionization (calendar "
    "adjacency, not inactivity gaps).  Uses the classic "
    "day - row_number() grouping key: consecutive days share a constant "
    "difference, so one window + one aggregate finds every maximal run "
    "with NO self-join or iteration.  Plan: distinct (user, day) "
    "projection (map-side combined), one row_number window and one "
    "aggregate on the SAME user_id partitioning — Catalyst reuses the "
    "exchange; per-user state is their distinct active days, "
    "calendar-bounded at any event volume",
)
def op_events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.withColumn("grp", F.date_sub(F.col("day"), F.row_number().over(w)))
    return (
        g.groupBy("user_id", "grp")
        .agg(
            F.min("day").cast("timestamp").alias("run_start"),
            F.max("day").cast("timestamp").alias("run_end"),
            F.count("*").cast("bigint").alias("run_days"),
        )
        .filter(F.col("run_days") >= 3)
        .select("user_id", "run_start", "run_end", "run_days")
    )


# --- per-label embedding centroids (cluster-quality eval for vectors) ---------


@register(
    "op_embed_centroids",
    """WITH e AS (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
                     AS BIGINT) AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE) AS mean_v
    FROM e GROUP BY label, dim""",
    doc="per-label embedding centroids in exact arithmetic: every (label, "
    "dimension) cell carries the class count and the fixed-point exact "
    "elementwise mean — a float vector average is summation-order-"
    "nondeterministic, this one is bit-identical on any cluster.  The "
    "centroid table is the training step of nearest-centroid "
    "classification AND the per-class quality probe for the vector "
    "surface (a collapsed class shows as centroid drift); "
    "op_sim_kmeans_assign consumes the same shape.  Plan: posexplode to "
    "(label, dim, v) and ONE map-side-combined aggregate — partials are "
    "(labels x 64)-sized whatever the corpus, and at 100 TB the explode "
    "never materializes (codegen pipelines it into the partial "
    "aggregate)",
)
def op_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _centroid_cells(emb)


def _centroid_cells(emb: DataFrame, *extra_keys: str) -> DataFrame:
    """(label, *extra_keys, dim, n, mean_v) exact fixed-point centroid
    cells — ONE definition shared by op_embed_centroids, op_embed_outliers'
    centroid arrays, and op_sim_centroid_drift (which passes its half
    column as an extra grouping key so BOTH halves aggregate in one corpus
    pass), so a quantizer/mean change cannot fork between them (the
    _forecast_eval convention)."""
    from daq_3i_spark.functions.numeric import fx_unscaled

    keys = ["label", *extra_keys]
    e = emb.select(
        *keys, F.posexplode("embedding").alias("dim0", "v")
    ).select(
        *keys,
        (F.col("dim0") + 1).cast("bigint").alias("dim"),
        F.col("v").cast("double").alias("v"),
    )
    return (
        e.groupBy(*keys, "dim")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(fx_unscaled(F.col("v"))).alias("sum_fx"),
        )
        .select(
            *keys,
            "dim",
            "n",
            (
                F.col("sum_fx").cast("double")
                / (F.col("n") * F.lit(1_000_000)).cast("double")
            ).alias("mean_v"),
        )
    )


def _centroid_arrays(cells: DataFrame) -> DataFrame:
    """(label, n, c[64]) centroid arrays assembled from _centroid_cells —
    dims sorted ascending so element order (and therefore every unrolled
    distance over them) is deterministic.  Shared by op_embed_outliers and
    op_sim_centroid_drift."""
    return (
        cells.groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n"),
            F.array_sort(F.collect_list(F.struct("dim", "mean_v"))).alias("s"),
        )
        .select("label", "n", F.transform("s", lambda r: r["mean_v"]).alias("c"))
    )


# --- DAU / WAU / stickiness ----------------------------------------------------


@register(
    "op_events_dau_wau",
    """WITH ad AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ad GROUP BY day
    ), cov AS (
      SELECT DISTINCT user_id, day + CAST(o AS INTEGER) AS cday
      FROM ad CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS o) t
    ), wau AS (
      SELECT cday AS day, CAST(count(*) AS BIGINT) AS wau FROM cov GROUP BY cday
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, w.wau,
           (d.dau * 1000000) // w.wau AS stickiness_ppm
    FROM dau d JOIN wau w ON d.day = w.day""",
    doc="DAU / trailing-7-day WAU / stickiness (DAU÷WAU as exact integer "
    "ppm) per active day — the engagement headline of every product "
    "dashboard.  Rolling DISTINCT counts cannot ride a window (no "
    "DISTINCT in window frames, and per-day sets don't merge), so each "
    "(user, active-day) pair EXPLODES into the 7 trailing days it covers "
    "and WAU is a plain distinct-count per covered day — linear in "
    "active-pairs x 7, the standard disaggregation that replaces a "
    "quadratic self-join.  Plan: one distinct projection, a 7x generator "
    "explode pipelined into the second distinct, two map-side-combined "
    "counts joined on day; at 100 TB the (user, day) pair table is the "
    "bounded activity dimension, never raw events",
)
def op_events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    ad = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    dau = ad.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    cov = (
        ad.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
            "day",
        )
        .select("user_id", F.date_add(F.col("day"), F.col("o")).alias("cday"))
        .distinct()
    )
    wau = cov.groupBy(F.col("cday").alias("day")).agg(
        F.count("*").cast("bigint").alias("wau")
    )
    return dau.join(wau, "day").select(
        F.col("day").cast("timestamp").alias("day"),
        "dau",
        "wau",
        F.expr("(dau * 1000000) DIV wau").alias("stickiness_ppm"),
    )


# --- market-basket co-occurrence with integer lift -----------------------------


@register(
    "op_orders_market_basket",
    """WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             FROM op),
    pc AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_p
           FROM op GROUP BY l_partkey),
    pr AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_ab,
           (n_ab * n.n_orders * 1000000) // (ca.n_p * cb.n_p) AS lift_ppm
    FROM pr JOIN pc ca ON part_a = ca.l_partkey
            JOIN pc cb ON part_b = cb.l_partkey, n
    WHERE n_ab >= 2
    ORDER BY n_ab DESC, lift_ppm DESC, part_a, part_b LIMIT 50""",
    doc="market-basket analysis: part pairs co-occurring in the same order "
    "with support >= 2, scored by association lift P(ab)/(P(a)P(b)) as "
    "the exact integer (n_ab*N*1e6) DIV (n_a*n_b) — the "
    "frequent-itemset/recommendation staple, top-50 by a total "
    "(support, lift, pair) order.  Plan: the pair generator self-joins "
    "the DISTINCT (order, part) table ON THE ORDER KEY, so pair work is "
    "sum over orders of |basket|^2 — baskets are small by construction "
    "(an order has a handful of lines), never an all-parts cross; the "
    "part-frequency dim joins back tiny and the order count is a "
    "one-row broadcast; top-50 is a TakeOrdered.  At true retail scale "
    "the numerator widens to DECIMAL(38,0); the plan shape is unchanged",
)
def op_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    # one-row order-count aggregate attached via broadcast crossJoin (the
    # op_text_tfidf_topterms pattern) — NOT an eager .count(): building the
    # plan fires zero Spark jobs, so at 100 TB the distinct projection is
    # scanned once at execution, not an extra time at construction
    n = op.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    pc = op.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("n_p"))
    # pair generation by grouped-array expansion, not a basket self-join
    # (r16, alternating in-session A/B: median 1.88→1.51 s at sf0.1,
    # 3.38→3.19 s at sf1, identical top-50): one groupBy(l_orderkey)
    # collects each basket as a sorted array and posexplode+slice expands
    # the i<j pairs in codegen; the self-join's second exchange +
    # SortMergeJoin over data-sized op disappears while Σ basket² pair
    # work is unchanged (collect_set dedups within the basket exactly as
    # the distinct projection did).  Curve-checked against the posting-
    # family rejection (SCALE.md r16): on replicated lineitem the swap
    # HOLDS — ×0.95 at 10×, ×0.85 at 50× (8.72 vs 10.27 s), both slopes
    # flat (0.113 vs 0.146 s/copy at 10→50) — because the self-join
    # baseline here pays an UNCACHED second data-sized exchange, which
    # grows as fast as the aggregate does.  NOT applied to oriented_edges:
    # there the pair stage feeds a pair-keyed .distinct(), and the same
    # swap measured SLOWER at both scales (4.48→7.78 s sf0.1,
    # 13.3→15.1 s sf1)
    baskets = op.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pr = (
        baskets.select(F.posexplode("ps").alias("i", "part_a"), F.col("ps"))
        .select(
            "part_a",
            F.explode(
                F.slice(F.col("ps"), F.col("i") + F.lit(2), F.size("ps"))
            ).alias("part_b"),
        )
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_p").alias("na"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_p").alias("nb"))
    # the part-frequency dims carry NO broadcast hint: at test scale AQE
    # broadcasts them anyway (both sides are part-cardinality), while at
    # real retail cardinality (1e8+ parts) a forced two-sided broadcast
    # is a driver/executor OOM — let AQE pick per deployment (SCALE.md)
    return (
        pr.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.expr("(n_ab * n_orders * 1000000) DIV (na * nb)").alias(
                "lift_ppm"
            ),
        )
        .orderBy(
            F.col("n_ab").desc(), F.col("lift_ppm").desc(), "part_a", "part_b"
        )
        .limit(50)
    )


# --- visualization downsampling (min/max envelope) ----------------------------

#: downsample bucket width, microseconds (15 min — the default chart zoom a
#: DAQ front-end renders a day of 1 Hz data at)
_DS_BUCKET_US = 900_000_000


def _downsample_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    b AS (
      SELECT channel_id, id, ts, value,
             epoch_us(ts) // {_DS_BUCKET_US} AS bucket
      FROM channel_data WHERE value IS NOT NULL
    ), r AS (
      SELECT channel_id, bucket, ts, value,
             row_number() OVER (PARTITION BY channel_id, bucket
                                ORDER BY value ASC, ts ASC, id ASC) AS rn_min,
             row_number() OVER (PARTITION BY channel_id, bucket
                                ORDER BY value DESC, ts ASC, id ASC) AS rn_max,
             COUNT(*) OVER (PARTITION BY channel_id, bucket) AS n_pts
      FROM b
    )
    SELECT channel_id, bucket * 900 AS bucket_start_s, 'min' AS kind,
           ts, value, n_pts
    FROM r WHERE rn_min = 1
    UNION ALL
    SELECT channel_id, bucket * 900 AS bucket_start_s, 'max' AS kind,
           ts, value, n_pts
    FROM r WHERE rn_max = 1"""


@register(
    "op_timeseries_downsample",
    _downsample_oracle(),
    doc="min/max-envelope downsampling for visualization (what TimescaleDB/"
    "InfluxDB/Grafana render wide time ranges with): per (channel, 15-min "
    "bucket) keep the ACTUAL extreme samples — the min-value and max-value "
    "points with their true timestamps (ties broken by ts then id, fully "
    "deterministic) — so rendered spikes are real data points, never "
    "averaged away; n_pts records the compression ratio per bucket.  NULL "
    "samples are excluded in both dialects (NULL ordering differs between "
    "engines).  Plan: ONE shuffle on (channel, bucket); the two orderings "
    "and the count share that exchange as ONE window stack (extreme rows "
    "kept once, kind labels exploded — a filter-union would re-run the "
    "Sort+Window operators per branch) over bucket-bounded partitions — "
    "per-partition work is sort of one bucket's points, no state across "
    "buckets, embarrassingly scalable",
)
def op_timeseries_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir).filter(F.col("value").isNotNull())
    b = cd.select(
        "channel_id", "id", "ts", "value",
        F.expr(f"unix_micros(ts) DIV {_DS_BUCKET_US}").alias("bucket"),
    )
    wmin = Window.partitionBy("channel_id", "bucket").orderBy(
        F.asc("value"), F.asc("ts"), F.asc("id")
    )
    wmax = Window.partitionBy("channel_id", "bucket").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("id")
    )
    wc = Window.partitionBy("channel_id", "bucket")
    r = b.select(
        "channel_id", "bucket", "ts", "value",
        F.row_number().over(wmin).alias("rn_min"),
        F.row_number().over(wmax).alias("rn_max"),
        F.count("*").over(wc).alias("n_pts"),
    )
    # single pass: a union of two filters over `r` would re-run the whole
    # Sort+Window stack per branch (Spark reuses exchanges, not the Window
    # operators above them — the dominant per-partition sort would double).
    # Instead keep extreme rows once and EXPLODE their kind labels; a
    # 1-point bucket's row is both min and max and legitimately emits twice.
    kinds = F.array_compact(
        F.array(
            F.when(F.col("rn_min") == 1, F.lit("min")),
            F.when(F.col("rn_max") == 1, F.lit("max")),
        )
    )
    return (
        r.filter((F.col("rn_min") == 1) | (F.col("rn_max") == 1))
        .select(
            "channel_id",
            (F.col("bucket") * 900).alias("bucket_start_s"),
            F.explode(kinds).alias("kind"),
            "ts",
            "value",
            "n_pts",
        )
    )


# ---------------------------------------------------------------------------
# event-type transition matrix (first-order Markov model of user behavior)
# ---------------------------------------------------------------------------


@register(
    "op_events_markov",
    """WITH p AS (
      SELECT event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS from_type
      FROM events
    ), c AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n_trans,
           CAST(n_trans AS DOUBLE)
             / CAST(CAST(sum(n_trans) OVER (PARTITION BY from_type)
                         AS BIGINT) AS DOUBLE) AS prob
    FROM c""",
    doc="first-order Markov transition matrix over user event streams: "
    "P(next event type | current event type), the behavioral model under "
    "next-action prediction, anomaly scoring of sessions, and the "
    "transition-graph view of a product funnel (op_events_topk_paths "
    "mines full prefix strings; this collapses the same sequences into "
    "the |types|^2 conditional distribution).  Exactness: transition "
    "counts are exact BIGINT; prob is ONE correctly-rounded division of "
    "two exact integers — bit-identical cross-engine.  Plan: one shuffle "
    "on user_id for the lag (per-user history partitions, bounded by "
    "user activity not corpus size), one map-side-combined hash "
    "aggregate down to |event_types|^2 rows, then a window over that "
    "dimension-sized frame — the row-normalization never touches the "
    "fact again.  At 100 TB the only data-sized stage is the lag "
    "shuffle, which any sequence feature over user histories shares",
)
def op_events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(w).alias("from_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    c = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n_trans")
    )
    row_total = F.sum("n_trans").over(Window.partitionBy("from_type"))
    return c.select(
        "from_type",
        "to_type",
        "n_trans",
        (F.col("n_trans").cast("double") / row_total.cast("double")).alias("prob"),
    )


# ---------------------------------------------------------------------------
# ABC / Pareto classification of parts by revenue share
# ---------------------------------------------------------------------------


@register(
    "op_orders_abc_analysis",
    f"""WITH rev AS (
      SELECT l_partkey AS p_partkey,
             CAST(SUM({fx_unscaled_sql('l_extendedprice * (1 - l_discount)', '1e2')})
                  AS BIGINT) AS rev_fx
      FROM lineitem GROUP BY 1
    ), c AS (
      SELECT p_partkey, rev_fx,
             CAST(sum(rev_fx) OVER (ORDER BY rev_fx DESC, p_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_fx,
             CAST(sum(rev_fx) OVER () AS BIGINT) AS total_fx
      FROM rev
    )
    SELECT p_partkey, CAST(rev_fx AS DOUBLE) / 1e2 AS revenue,
           CAST(cum_fx AS DOUBLE) / CAST(total_fx AS DOUBLE) AS cum_share,
           CASE WHEN cum_fx * 5 <= total_fx * 4 THEN 'A'
                WHEN cum_fx * 20 <= total_fx * 19 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c""",
    doc="ABC (Pareto) inventory classification: parts ranked by discounted "
    "revenue, class A while the running share stays within 80% of total "
    "revenue, B to 95%, C after — the cumulative-distribution "
    "classification shape (the 80/20 cut every ops/inventory stack "
    "computes).  Exactness: cent fixed-point BIGINT revenue (1e2 scale "
    "keeps total*20 < 2^63 up to ~5e17 total cents — a ~$5 quadrillion "
    "corpus; ANSI raises past it), class boundaries compared by integer "
    "cross-multiplication (cum*5 <= total*4) so no float threshold can "
    "flake, cum_share ONE correctly-rounded division.  Scale shape: the "
    "fact collapses to the parts DIMENSION first (map-side-combined hash "
    "agg); the running total is operators/ranks.py's global_cumsum — "
    "range-partitioned cumulative sum with a partition-local Arrow pass "
    "and a P-row offset broadcast, NEVER a single-partition window "
    "(ranks.py module docstring); total revenue is a one-row broadcast "
    "read from the same cached range exchange",
)
def op_orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled
    from daq_3i_spark.operators.ranks import global_cumsum_and_total

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(
        F.sum(
            fx_unscaled(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), scale=1e2
            )
        ).alias("rev_fx")
    )
    # the grand total rides the P-row per-partition totals the cumsum pass
    # aggregates anyway — summing the cum frame instead would re-run the
    # Arrow pass + offsets join over the whole parts dimension for 1 number
    cum, total = global_cumsum_and_total(
        rev,
        F.col("rev_fx"),
        [F.desc("rev_fx"), F.asc("p_partkey")],
        "cum_fx",
        total_alias="__total",
    )
    cls = (
        F.when(F.col("cum_fx") * 5 <= F.col("__total") * 4, "A")
        .when(F.col("cum_fx") * 20 <= F.col("__total") * 19, "B")
        .otherwise("C")
    )
    return (
        cum.crossJoin(F.broadcast(total))
        .select(
            "p_partkey",
            (F.col("rev_fx").cast("double") / F.lit(1e2)).alias("revenue"),
            (
                F.col("cum_fx").cast("double") / F.col("__total").cast("double")
            ).alias("cum_share"),
            cls.alias("abc_class"),
        )
    )


# ---------------------------------------------------------------------------
# distribution drift: first half vs second half of each channel's history
# ---------------------------------------------------------------------------

_DRIFT_BUCKETS = 16


def _drift_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    nb = _DRIFT_BUCKETS
    return f"""WITH {dims_cte_sql()},
    stats AS (
      SELECT channel_id,
             min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1,
             min(value) AS v0, max(value) AS v1
      FROM channel_data GROUP BY 1
    ),
    b AS (
      SELECT d.channel_id,
             CASE WHEN epoch_us(d.ts) * 2 < s.t0 + s.t1 THEN 1 ELSE 0 END
               AS is_first,
             CASE WHEN s.v1 = s.v0 THEN 0
                  ELSE least(CAST(FLOOR((d.value - s.v0) * {nb}
                                        / (s.v1 - s.v0)) AS BIGINT),
                             {nb - 1}) END AS bucket
      FROM channel_data d JOIN stats s ON d.channel_id = s.channel_id
    ),
    h AS (
      SELECT channel_id, bucket,
             CAST(SUM(is_first) AS BIGINT) AS n1,
             CAST(SUM(1 - is_first) AS BIGINT) AS n2
      FROM b GROUP BY 1, 2
    ),
    t AS (
      SELECT channel_id, bucket, n1, n2,
             CAST(CAST(sum(n1) OVER (PARTITION BY channel_id) AS BIGINT)
                  AS BIGINT) AS big_n1,
             CAST(CAST(sum(n2) OVER (PARTITION BY channel_id) AS BIGINT)
                  AS BIGINT) AS big_n2
      FROM h
    )
    SELECT channel_id, big_n1 AS n_first, big_n2 AS n_second,
           CAST(CAST(SUM(abs(n1 * big_n2 - n2 * big_n1)) AS BIGINT) AS DOUBLE)
             / (CAST(big_n1 AS DOUBLE) * CAST(big_n2 AS DOUBLE)) AS drift_l1
    FROM t
    WHERE big_n1 > 0 AND big_n2 > 0
    GROUP BY channel_id, big_n1, big_n2"""


@register(
    "op_quality_drift",
    _drift_oracle(),
    doc="distribution-drift monitor: per channel, the L1 distance between "
    "the value histograms of the FIRST and SECOND half of its history "
    "(split at the midpoint timestamp; 16 equi-width buckets over the "
    "channel's own [min, max]) — the 'did this sensor's distribution "
    "move?' gate a data-quality stack runs beside the point-wise outlier "
    "ops (MAD gates single samples; this gates the population).  "
    "Σ|p1 - p2| computed as exact integers: Σ|n1·N2 - n2·N1| / (N1·N2), "
    "one final correctly-rounded division — bit-identical cross-engine, "
    "and drift_l1 ∈ [0, 2] by construction (0 identical, 2 disjoint).  "
    "The halves/buckets derive from the same scan via elementwise double "
    "arithmetic on broadcast per-channel stats (identical expression "
    "trees; no float aggregate anywhere).  Envelope: n·N products need "
    "N1·N2 < 2^63 — ~3e9 samples per half per channel (a century at "
    "1 Hz); ANSI raises, not wraps, past it.  Plan: one dimension-sized "
    "stats aggregate broadcast back onto the scan, ONE map-side-combined "
    "hash aggregate to (channel × 16) rows, then window + final "
    "aggregate over that dimension-sized frame — the fact is scanned "
    "twice (stats, histogram) and shuffled never (aggregate partials "
    "only)",
)
def op_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    nb = _DRIFT_BUCKETS
    cd = channel_data_df(spark, sf_dir)
    stats = cd.groupBy("channel_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
        F.min("value").alias("v0"),
        F.max("value").alias("v1"),
    )
    b = cd.join(F.broadcast(stats), "channel_id").select(
        "channel_id",
        F.when(
            F.unix_micros("ts") * 2 < F.col("t0") + F.col("t1"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_first"),
        F.when(F.col("v1") == F.col("v0"), F.lit(0).cast("bigint"))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("value") - F.col("v0"))
                    * nb
                    / (F.col("v1") - F.col("v0"))
                ),
                F.lit(nb - 1).cast("bigint"),
            )
        )
        .alias("bucket"),
    )
    h = b.groupBy("channel_id", "bucket").agg(
        F.sum("is_first").cast("bigint").alias("n1"),
        F.sum(1 - F.col("is_first")).cast("bigint").alias("n2"),
    )
    wch = Window.partitionBy("channel_id")
    t = h.select(
        "channel_id",
        "n1",
        "n2",
        F.sum("n1").over(wch).cast("bigint").alias("big_n1"),
        F.sum("n2").over(wch).cast("bigint").alias("big_n2"),
    )
    return (
        t.filter((F.col("big_n1") > 0) & (F.col("big_n2") > 0))
        .groupBy("channel_id", "big_n1", "big_n2")
        .agg(
            F.sum(
                F.abs(F.col("n1") * F.col("big_n2") - F.col("n2") * F.col("big_n1"))
            )
            .cast("bigint")
            .alias("__num")
        )
        .select(
            "channel_id",
            F.col("big_n1").alias("n_first"),
            F.col("big_n2").alias("n_second"),
            (
                F.col("__num").cast("double")
                / (F.col("big_n1").cast("double") * F.col("big_n2").cast("double"))
            ).alias("drift_l1"),
        )
    )


# ---------------------------------------------------------------------------
# changepoint: the split maximizing the between-segment mean shift
# ---------------------------------------------------------------------------


def _changepoint_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    b AS (
      SELECT channel_id,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
             ts, id, {_fx3_sql('value')} AS y
      FROM channel_data
    ),
    p AS (
      SELECT channel_id, hour_bucket, ts, id,
             CAST(sum(y) OVER (PARTITION BY channel_id, hour_bucket
                               ORDER BY ts, id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS BIGINT) AS l,
             CAST(row_number() OVER (PARTITION BY channel_id, hour_bucket
                                     ORDER BY ts, id) AS BIGINT) AS t,
             CAST(CAST(sum(y) OVER (PARTITION BY channel_id, hour_bucket)
                       AS BIGINT) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY channel_id, hour_bucket)
                  AS BIGINT) AS n
      FROM b
    ),
    scored AS (
      SELECT channel_id, hour_bucket, ts, id, t, n,
             CAST(s * t - l * n AS DOUBLE)
               / CAST(t * (n - t) AS DOUBLE) AS mean_shift
      FROM p WHERE t < n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY channel_id, hour_bucket
                                   ORDER BY abs(mean_shift) DESC, ts, id)
                AS rk
      FROM scored
    )
    SELECT channel_id, epoch_us(hour_bucket) AS hour_us, n AS n_samples,
           t AS split_after, epoch_us(ts) AS split_ts_us,
           mean_shift / 1e3 AS mean_shift
    FROM best WHERE rk = 1"""


@register(
    "op_timeseries_changepoint",
    _changepoint_oracle(),
    doc="single changepoint detection per (channel, hour): the split point "
    "maximizing the between-segment mean shift — the exact O(n) "
    "prefix-sum form of binary segmentation's first step (the level-"
    "shift alarm a monitoring stack runs beside the drift-rate trio: "
    "trend catches slopes, this catches steps).  For every split t, "
    "right_mean - left_mean = (S·t - L_t·n) / (t·(n-t)) from the "
    "running sum L_t and the hour totals (S, n) — exact BIGINT "
    "numerator/denominator, ONE correctly-rounded division, so the "
    "shift and the argmax ordering are bit-identical cross-engine "
    "(ties broken by earliest (ts, id)).  Hour bucketing bounds the "
    "envelope: n²·|y|max < 2^63 up to ~3e9 milli-units at the 1 Hz "
    "design cadence (ANSI raises past it) — and is how a deployment "
    "would shard the scan anyway.  Plan: ONE shuffle on (channel, "
    "hour); the running sum, the totals, and the argmax row_number "
    "are three window passes over the SAME exchange — no join, no "
    "second scan, partitions one hour of one channel",
)
def op_timeseries_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    b = cd.select(
        "channel_id",
        F.date_trunc("hour", "ts").alias("hour_bucket"),
        "ts",
        "id",
        _fx3(F.col("value")).alias("y"),
    )
    grp = ["channel_id", "hour_bucket"]
    w_ord = Window.partitionBy(*grp).orderBy("ts", "id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(*grp)
    p = b.select(
        *grp,
        "ts",
        "id",
        F.sum("y").over(w_run).cast("bigint").alias("l"),
        F.row_number().over(w_ord).cast("bigint").alias("t"),
        F.sum("y").over(w_all).cast("bigint").alias("s"),
        F.count("*").over(w_all).cast("bigint").alias("n"),
    )
    scored = p.filter(F.col("t") < F.col("n")).withColumn(
        "mean_shift",
        (F.col("s") * F.col("t") - F.col("l") * F.col("n")).cast("double")
        / (F.col("t") * (F.col("n") - F.col("t"))).cast("double"),
    )
    w_best = Window.partitionBy(*grp).orderBy(
        F.abs(F.col("mean_shift")).desc(), F.asc("ts"), F.asc("id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select(
            "channel_id",
            F.unix_micros("hour_bucket").alias("hour_us"),
            F.col("n").alias("n_samples"),
            F.col("t").alias("split_after"),
            F.unix_micros("ts").alias("split_ts_us"),
            (F.col("mean_shift") / F.lit(1e3)).alias("mean_shift"),
        )
    )


# ---------------------------------------------------------------------------
# seasonal-naive forecast baseline + in-engine error evaluation
# ---------------------------------------------------------------------------


@register(
    "op_events_forecast_naive",
    """WITH c AS (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    eval AS (
      SELECT a.event_type, a.y AS actual, b.y AS predicted
      FROM c a JOIN c b
        ON a.event_type = b.event_type
       AND a.h = b.h + INTERVAL 24 HOURS
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
           CAST(CAST(SUM(abs(actual - predicted)) AS BIGINT) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS mae,
           CAST(CAST(SUM(actual - predicted) AS BIGINT) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS bias
    FROM eval GROUP BY event_type""",
    doc="seasonal-naive forecast benchmark evaluated in-engine: predict each "
    "event type's hourly volume as its value the same hour YESTERDAY "
    "(y_hat(t) = y(t-24h), the baseline every real forecaster must beat "
    "— M-competition convention), then score MAE and signed bias per "
    "type over all hours observed at both t and t-24h.  Counts are "
    "exact BIGINT, both error statistics are ONE correctly-rounded "
    "division of exact integer sums — bit-identical cross-engine.  "
    "Plan: the fact collapses to the (type × hour) DIMENSION first "
    "(ONE map-side-combined hash aggregate — the only data-sized "
    "stage); the 24h-shift self-join and the error aggregate run on "
    "that dimension frame (hours × types, bounded by calendar not "
    "data volume; broadcastable at any corpus scale)",
)
def op_events_forecast_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _forecast_eval(_hourly_counts(load_events(spark, sf_dir)))


def _hourly_counts(ev: DataFrame) -> DataFrame:
    """(event_type, h, y) hourly volumes — ONE bucketing definition shared
    by the batch evaluation and op_stream_forecast_monitor's streaming
    aggregate (counts add, so the state kept across batches == the tree
    over the union)."""
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("y"))


def _forecast_eval(c: DataFrame) -> DataFrame:
    """(event_type, h, y) hourly counts -> per-type MAE/bias of the
    seasonal-naive forecast.  ONE definition, shared by the batch op and
    op_stream_forecast_monitor's incrementally-maintained counts, so the
    scoring tree cannot fork between them (their oracle is shared
    verbatim — any drift is a hash mismatch)."""
    a, b = c.alias("a"), c.alias("b")
    ev_rows = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.h") == F.col("b.h") + F.expr("INTERVAL 24 HOURS")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.y").alias("actual"),
        F.col("b.y").alias("predicted"),
    )
    n = F.count("*").cast("bigint")
    return ev_rows.groupBy("event_type").agg(
        n.alias("n_eval"),
        (
            F.sum(F.abs(F.col("actual") - F.col("predicted")))
            .cast("bigint")
            .cast("double")
            / n.cast("double")
        ).alias("mae"),
        (
            F.sum(F.col("actual") - F.col("predicted"))
            .cast("bigint")
            .cast("double")
            / n.cast("double")
        ).alias("bias"),
    )


# ---------------------------------------------------------------------------
# embedding-space outlier gate: far-from-own-centroid vectors
# ---------------------------------------------------------------------------

#: outlier gate width in σ: flagged when dist² − mean > _EMB_OUT_K·σ of
#: the label's dist² population (one-sided — only the FAR tail is an outlier)
_EMB_OUT_K = 2


@register(
    "op_embed_outliers",
    f"""WITH e AS (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6 + 0.5)
                                AS BIGINT)) AS BIGINT) AS DOUBLE)
               / CAST(count(*) * 1000000 AS DOUBLE) AS mean_v
      FROM e GROUP BY label, dim
    ),
    carr AS (
      SELECT label, list(mean_v ORDER BY dim) AS c FROM cent GROUP BY label
    ),
    d AS (
      SELECT emb.vec_id, emb.label,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, len(embedding)),
                 __i -> (CAST(embedding[__i] AS DOUBLE) - c[__i])
                        * (CAST(embedding[__i] AS DOUBLE) - c[__i]))),
               (__acc, __v) -> __acc + __v) AS dist2
      FROM embeddings emb JOIN carr ON emb.label = carr.label
    ),
    y AS (
      SELECT vec_id, label, dist2,
             CAST(FLOOR(dist2 * 1e3 + 0.5) AS BIGINT) AS yq
      FROM d
    ),
    g AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(yq) AS BIGINT) AS BIGINT) AS s1,
             CAST(CAST(SUM(yq * yq) AS BIGINT) AS BIGINT) AS s2
      FROM y GROUP BY label
    )
    SELECT y.vec_id, y.label, y.dist2
    FROM y JOIN g ON y.label = g.label
    WHERE g.n > 1
      AND g.n * y.yq - g.s1 > 0
      AND (g.n * y.yq - g.s1) * (g.n * y.yq - g.s1)
            > {_EMB_OUT_K * _EMB_OUT_K} * (g.n * g.s2 - g.s1 * g.s1)""",
    doc="embedding-space outlier gate: flag vectors whose squared distance "
    "to their OWN label centroid sits more than 2σ above the label's "
    "mean squared distance (one-sided z-gate — in high dimension dist² "
    "concentrates hard, so a σ-scaled gate fires on the true tail where "
    "a mean-ratio gate never would) — the curation filter that catches "
    "mislabeled / corrupt / off-distribution samples before training "
    "(SemDeDup prunes duplicates; this prunes the opposite tail).  "
    "Exactness end to end: centroids are op_embed_centroids' "
    "fixed-point exact means; dist² is the UNROLLED sequential sum "
    "over dimensions ((x−c)² accumulated in element order — correctly-"
    "rounded ops in the same order are bit-identical cross-engine, and "
    "the flat tree stays in whole-stage codegen where the zip_with "
    "fold drops to interpreted eval, functions/vectors.py); the gate "
    "is the division/sqrt-free z-test on milli-quantized dist² "
    "(op_timeseries_seasonal_outlier's construction): "
    "(n·y − s1)² > k²·(n·s2 − s1²), every side exact BIGINT.  "
    "Envelope: the second moment needs n²·y² < 2^63 — ~3e6 vectors "
    "per label at milli scale (ANSI raises past it); the documented "
    "production swap is a coarser quantizer (1e2 buys 10x n) or "
    "per-shard gates against broadcast global (s1, s2, n).  Plan: two "
    "map-side "
    "aggregates to label-dimension tables broadcast back (centroid "
    "arrays assembled once, labels×64 rows); the distance scan is "
    "shuffle-free codegen'd column math; the scored frame is cached "
    "once (tracked lazy shared()) and consumed by the census and the "
    "filter — zero data-sized shuffles anywhere",
)
def op_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.numeric import fx_unscaled

    emb = load_table(spark, sf_dir, "embeddings")
    carr = _centroid_arrays(_centroid_cells(emb)).select("label", "c")
    from daq_3i_spark.functions.vectors import sqdist_unrolled

    d = shared(
        emb.join(F.broadcast(carr), "label").select(
            "vec_id",
            "label",
            sqdist_unrolled(F.col("embedding"), F.col("c")).alias("dist2"),
        )
    )
    y = d.withColumn("yq", fx_unscaled(F.col("dist2"), scale=1e3))
    g = y.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("yq").cast("bigint").alias("s1"),
        F.sum(F.col("yq") * F.col("yq")).cast("bigint").alias("s2"),
    )
    dev = F.col("n") * F.col("yq") - F.col("s1")
    var_n2 = F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")
    return (
        y.join(F.broadcast(g), "label")
        .filter(
            (F.col("n") > 1)
            & (dev > 0)
            & (dev * dev > _EMB_OUT_K * _EMB_OUT_K * var_n2)
        )
        .select("vec_id", "label", "dist2")
    )


# ---------------------------------------------------------------------------
# per-column profiling census (the DESCRIBE/profile staple, exact)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _profile_oracle() -> str:
    stats = ",\n             ".join(
        f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nn_{c},\n             "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}"
        for c in _PROFILE_COLS
    )
    rows = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS column_name, n_rows, nn_{c} AS n_null,"
        f" nd_{c} AS n_distinct FROM s"
        for c in _PROFILE_COLS
    )
    return f"""WITH s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             {stats}
      FROM events
    )
    {rows}"""


@register(
    "op_quality_profile",
    _profile_oracle(),
    doc="per-column profiling census over the event feed — the "
    "DESCRIBE-at-scale staple every warehouse exposes (row count, null "
    "count, EXACT distinct cardinality per column), unpivoted to one "
    "row per column so downstream completeness monitors diff profiles "
    "across loads.  All three statistics are exact integers — "
    "hash-stable by construction.  Plan: ONE aggregate over the scan; "
    "multiple exact DISTINCTs make Catalyst plan an Expand "
    "(|columns|x row multiplication before partial aggregation) — "
    "correct but deliberately the exact path; at 100 TB swap "
    "count_distinct for approx_count_distinct (HLL++, mergeable, "
    "error-bound-gated in op_sql_approx_sketches) and the Expand "
    "disappears; the unpivot is a 1-row -> 6-row projection",
)
def op_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    aggs = [F.count("*").cast("bigint").alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.sum(F.isnull(c).cast("long")).cast("bigint").alias(f"nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).cast("bigint").alias(f"nd_{c}"))
    s = ev.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"nn_{c}").alias("n_null"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return s.select(F.explode(per_col).alias("p")).select(
        "p.column_name", "p.n_rows", "p.n_null", "p.n_distinct"
    )


# ---------------------------------------------------------------------------
# experiment guardrail: sample-ratio mismatch (SRM) check
# ---------------------------------------------------------------------------

#: chi-square critical value at p=0.05, df=1, scaled by 1e4 (3.8415)
_SRM_CHI2_X1E4 = 38415


@register(
    "op_events_srm",
    f"""WITH v AS (
      {_AB_V_SQL}
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM v
    )
    SELECT n_a, n_b,
           CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
             / CAST(n_a + n_b AS DOUBLE) AS chi2,
           (n_a - n_b) * (n_a - n_b) * 10000
             > {_SRM_CHI2_X1E4} * (n_a + n_b) AS srm_detected
    FROM c""",
    doc="sample-ratio-mismatch guardrail for the A/B surface: chi-square "
    "test of the observed variant split against the designed 50/50 — THE "
    "first validity check an experimentation platform runs, because a "
    "skewed split (a bucketing bug, a bot filter hitting one arm) "
    "invalidates op_events_ab_lift's read no matter how significant the "
    "lift looks.  Same portable md5 user bucketing as ab_lift (one "
    "convention, shared).  For an even split, chi² = (nA−nB)²/(nA+nB); "
    "the detector fires by integer cross-multiplication against "
    "3.8415·1e4 (p=0.05, df=1) — exact, no float threshold; chi² "
    "itself is the one correctly-rounded division.  Envelope: "
    "(nA−nB)²·1e4 < 2^63 needs |nA−nB| < ~3.0e7 — and a split THAT "
    "broken fails eyeball inspection first; ANSI raises, not wraps.  "
    "Plan: one distinct projection on user_id (the same exchange every "
    "per-user op shares) + one scalar aggregate — output is ONE row",
)
def op_events_srm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    v = _ab_variants(ev)
    c = v.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    tot = F.col("n_a") + F.col("n_b")
    return c.select(
        "n_a",
        "n_b",
        (diff2.cast("double") / tot.cast("double")).alias("chi2"),
        (diff2 * 10000 > _SRM_CHI2_X1E4 * tot).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# acquisition gap census: where did the feed lose data?
# ---------------------------------------------------------------------------

#: gap threshold in micros: an inter-sample interval above this counts as
#: an acquisition gap (1 hour — far above any sane polling cadence)
_GAP_US = 3_600_000_000


def _gap_census_oracle() -> str:
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    d AS (
      SELECT channel_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY channel_id ORDER BY ts, id) AS delta_us
      FROM channel_data
    )
    SELECT channel_id,
           CAST(count(delta_us) AS BIGINT) AS n_intervals,
           CAST(sum(CASE WHEN delta_us > {_GAP_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps,
           CAST(max(CASE WHEN delta_us > {_GAP_US} THEN delta_us END)
                AS BIGINT) AS max_gap_us,
           CAST(sum(CASE WHEN delta_us > {_GAP_US} THEN delta_us
                    ELSE 0 END) AS BIGINT) AS gap_us_total
    FROM d
    WHERE delta_us IS NOT NULL
    GROUP BY channel_id"""


@register(
    "op_timeseries_gap_census",
    _gap_census_oracle(),
    doc="acquisition-gap census per channel: count/max/total of "
    "inter-sample intervals exceeding 1 hour — 'where did the feed lose "
    "data?', the first question against an acquisition daemon (the "
    "reference's whole job is not losing samples; this op measures it; "
    "op_timeseries_interpolate/locf FILL gaps, this one REPORTS them "
    "for the pipeline's SLA dashboard).  All statistics are exact "
    "BIGINT micros from timestamp differences.  max_gap_us is NULL for "
    "channels with no gap (both engines agree: MAX over an empty CASE "
    "set).  Plan: ONE shuffle on channel_id shared by the lag window "
    "and the census aggregate; output is channel-dimension-sized",
)
def op_timeseries_gap_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.sources.daq_dims import channel_data_df

    cd = channel_data_df(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("ts", "id")
    d = cd.select(
        "channel_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "delta_us"
        ),
    ).filter(F.col("delta_us").isNotNull())
    is_gap = F.col("delta_us") > _GAP_US
    return d.groupBy("channel_id").agg(
        F.count("delta_us").cast("bigint").alias("n_intervals"),
        F.sum(F.when(is_gap, 1).otherwise(0)).cast("bigint").alias("n_gaps"),
        F.max(F.when(is_gap, F.col("delta_us"))).cast("bigint").alias("max_gap_us"),
        F.sum(F.when(is_gap, F.col("delta_us")).otherwise(0))
        .cast("bigint")
        .alias("gap_us_total"),
    )


# ---------------------------------------------------------------------------
# triangle counting on the co-purchase graph
# ---------------------------------------------------------------------------


def oriented_edges(li: DataFrame) -> DataFrame:
    """Degree-oriented co-purchase edge list (src, dst).

    Undirected distinct same-basket part pairs, oriented from the
    low-(degree, id) endpoint to the high one.  (degree, id) is a total
    order, so the result is a DAG in which every triangle {p≺q≺r} appears
    exactly once as p→q, q→r, p→r — the same multiset of triangles any
    acyclic orientation (including the oracle's id order) yields.  The
    payoff is the fan-out bound: out-degree under degree orientation is
    O(√|E|) (graph arboricity), so the wedge join Σ_y in(y)·out(y) stays
    near-linear even when one viral part touches 30% of baskets, where id
    orientation would square the hot key's degree.  Exposed as a helper so
    the skew test can measure the plan's wedge count directly.

    Pair generation stays the basket SELF-JOIN here, deliberately: the
    grouped-array expansion that wins in op_orders_market_basket measured
    SLOWER for this op at both probed scales (r16 alternating in-session
    A/B, medians: 4.48→7.78 s at sf0.1, 13.3→15.1 s at sf1) — here the
    pair stage feeds a pair-keyed .distinct(), so the join's sorted,
    order-partitioned output feeds the dedup exchange more cheaply than
    two stacked generators that also break whole-stage codegen.  Same
    measured-only rule as the market-basket swap, opposite verdict.
    """
    # shared (r17): AQE promotes the pair self-join to broadcast at runtime,
    # and a broadcast build side is planned as its own subtree — uncached,
    # the basket-pair distinct (full lineitem scan + distinct exchange) ran
    # ONCE PER JOIN SIDE.  Caching bp runs it once; both sides read the
    # cache.  Measured ×0.88 sf0.1 / ×0.73 sf1 (alternating A/B; the fused
    # count-emission variant C was measured SLOWER at both scales and kept
    # out — see OPTIMIZATION_r17.md).
    bp = shared(li.select("l_orderkey", "l_partkey").distinct())
    a, b = bp.alias("a"), bp.alias("b")
    und = shared(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    deg = (
        und.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    # u < v by construction, so "forward" iff (du, u) <= (dv, v) is du <= dv
    fwd = F.col("du") <= F.col("dv")
    # NOT shared() since r18: the edge list's only remaining consumer is the
    # successor census (op_graph_triangles regenerates its enumeration edges
    # by exploding the census arrays), so a cache here would be pure
    # materialization overhead.
    return (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )


@register(
    "op_graph_triangles",
    """WITH bp AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM bp a JOIN bp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      FROM e e1
      JOIN e e2 ON e2.src = e1.dst
      JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node""",
    doc="triangle counting on the part co-purchase graph — the clustering "
    "primitive behind community detection and recommendation diversity "
    "(PageRank ranks influence, components find groups; triangles "
    "measure cohesion): per part, in how many closed part-triples does "
    "it co-occur?  Edges are DISTINCT same-basket pairs, DEGREE-oriented "
    "(low-degree endpoint first, id tie-break — the compact-forward "
    "orientation): the (degree, id) order is total, so the oriented "
    "graph is a DAG and each triangle is enumerated exactly ONCE as "
    "(x,y)+(y,z)+(x,z) — counts are exact integers, identical to the "
    "id-oriented oracle's.  Plan: basket pair generation is the "
    "market-basket generator (work Σ basket², never all-parts); "
    "enumeration is ADJACENCY-INTERSECTION, not the wedge join: per "
    "oriented edge (x,y), the triangle apexes are array_intersect("
    "succ(x), succ(y)) — successor arrays are O(√|E|) by the "
    "orientation (arboricity bound), and the wedge multiset never "
    "materializes (the e1⋈e2 form shuffled 49M wedge rows at sf0.1 to "
    "keep 3T of them; this form shuffles |E| rows for the successor "
    "census + 3T for the final count; the enumeration regenerates its "
    "edges by exploding the census arrays — nx arrives attached for "
    "free — so succ is joined ONCE, for ny, as a SHUFFLED-HASH join: "
    "the build side is one partition's slice of the edge-sized succ "
    "(one row per y, Σ|ny| = |E| total, nothing driver-collected), "
    "the wedge-payload stream side is never sorted, and no broadcast "
    "of the successor table is ever forced or promoted — the shape is "
    "identical at every scale, still never wedge-sized).  The "
    "intersect work per edge is "
    "out(x)+out(y), so the whole pass is Σ_y in(y)·out(y) element ops "
    "in codegen instead of shuffled rows; one viral part — max degree "
    "— cannot go quadratic (the viral-hub fixture pins the id "
    "orientation at d²/4 and this plan's wedge multiset ≤ |E|).  The "
    "final explode+count is 3 rows per triangle into a part-dimension "
    "aggregate",
)
def op_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    e = oriented_edges(li)
    # shared (r13): the successor table feeds both enumeration sides —
    # uncached, the collect_list census ran twice per query (the pagerank
    # cached-edges precedent; edge-sized longs + arrays of longs, spill-safe).
    # No sort_array (r18): array_intersect hash-probes one side, so the sort
    # was dead per-group O(d log d) work; every consumer (explode + count) is
    # multiset-invariant, so the collect_list order never reaches the output.
    succ = shared(e.groupBy("src").agg(F.collect_list("dst").alias("nbrs")))
    # SHUFFLE_HASH, never BROADCAST (r18): the stream side of this join
    # carries each edge's nx array (Σ out(x)² elements — 83M longs at sf0.1),
    # so a sort-merge plan pays a wedge-payload-sized SORT and an AQE
    # broadcast promotion builds the whole edge-sized succ relation on the
    # driver (measured: OOMs a default-memory session at sf0.1 mid-scale,
    # where succ squeaks under the 10 MB threshold).  The shuffled-hash join
    # is the shape that is safe at every scale: the build side is one
    # PARTITION'S slice of succ (guide §3.1's "moderately small per
    # partition" case — Σ|ny| = |E| total, one row per y, no hot build key),
    # nothing is collected to the driver, and the wedge-payload side streams
    # unsorted.  Measured faster than both alternatives (alternating A/B
    # medians: sort-merge/AQE-broadcast shape 3.25 s, this 2.97 s at sf0.1;
    # 13.20 vs 11.54 s at sf1) and green in a 1 GiB vanilla session where
    # the broadcast shape dies.
    sy = succ.select(F.col("src").alias("y"), F.col("nbrs").alias("ny")).hint(
        "shuffle_hash"
    )
    # enumeration joins succ ONCE (r18): nbrs is the list of ALL successors
    # of x over the distinct oriented edge set, so explode(nbrs) regenerates
    # the edge list (x, y) EXACTLY — with nx already attached.  The r17 shape
    # joined e back to succ on x just to fetch nx: one whole equi-join (a
    # broadcast build + |E|-row probe at sf0.1, an edge-sized shuffle pair
    # when AQE degrades it) deleted per query.  Alternating A/B vs the r17
    # shape: ×0.85 sf0.1 / ×0.70 sf1 medians, checksum-identical output at
    # both scales.
    tri = (
        succ.select(
            F.col("src").alias("x"),
            F.col("nbrs").alias("nx"),
            F.explode("nbrs").alias("y"),
        )
        .join(sy, "y")
        .select("x", "y", F.explode(F.array_intersect("nx", "ny")).alias("z"))
    )
    return (
        tri.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias(
                "p_partkey"
            )
        )
        .groupBy("p_partkey")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )


# ---------------------------------------------------------------------------
# conversion latency: how long from signup to first purchase?
# ---------------------------------------------------------------------------


@register(
    "op_events_funnel_time",
    """WITH s AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, s.t0, min(e.ts) AS t1
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.t0
      GROUP BY 1, 2
    ),
    l AS (SELECT epoch_us(t1) - epoch_us(t0) AS lat_us FROM c)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_signups,
           CAST(count(*) AS BIGINT) AS n_converted,
           quantile_cont(lat_us, 0.25) AS p25_us,
           quantile_cont(lat_us, 0.50) AS p50_us,
           quantile_cont(lat_us, 0.75) AS p75_us
    FROM l""",
    doc="conversion-latency distribution: exact p25/p50/p75 of the time "
    "from a user's FIRST signup to their first purchase at/after it — "
    "the 'how long does the funnel take' companion to "
    "op_events_funnel's 'how many convert' (a step that converts "
    "everyone after 60 days and one that converts half in an hour need "
    "different product responses; counts alone can't tell them apart).  "
    "Latencies are exact BIGINT micros; both engines use exact "
    "linear-interpolation percentiles over them (the op_sql_quantiles "
    "portability precedent) — bit-identical.  Plan: one signup "
    "aggregate to the user DIMENSION (lazily cached for its two "
    "consumers), one semi-shaped join + min aggregate for first "
    "conversions, then a single-row percentile aggregate; the exact "
    "percentile is the deliberate exact path — the 100 TB swap is the "
    "mergeable t-digest gated in op_sql_approx_sketches",
)
def op_events_funnel_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    s = shared(
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    conv = (
        p.join(s, "user_id")
        .filter(F.col("ts") >= F.col("t0"))
        .groupBy("user_id", "t0")
        .agg(F.min("ts").alias("t1"))
    )
    lat = conv.select(
        (F.unix_micros("t1") - F.unix_micros("t0")).alias("lat_us")
    )
    pct = F.expr("percentile(lat_us, array(0.25, 0.5, 0.75))")
    n_signups = s.agg(F.count("*").cast("bigint").alias("n_signups"))
    return (
        lat.agg(
            F.count("*").cast("bigint").alias("n_converted"), pct.alias("__p")
        )
        .crossJoin(F.broadcast(n_signups))
        .select(
            "n_signups",
            "n_converted",
            F.get("__p", 0).alias("p25_us"),
            F.get("__p", 1).alias("p50_us"),
            F.get("__p", 2).alias("p75_us"),
        )
    )


# ---------------------------------------------------------------------------
# centroid drift: is the vector index's training snapshot stale?
# ---------------------------------------------------------------------------


@register(
    "op_sim_centroid_drift",
    """WITH e AS (
      SELECT label, vec_id % 2 AS half, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label, half, dim, CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(FLOOR(CAST(v AS DOUBLE) * 1e6 + 0.5)
                                AS BIGINT)) AS BIGINT) AS DOUBLE)
               / CAST(count(*) * 1000000 AS DOUBLE) AS mean_v
      FROM e GROUP BY 1, 2, 3
    ),
    carr AS (
      SELECT label, half, max(n) AS n, list(mean_v ORDER BY dim) AS c
      FROM cent GROUP BY 1, 2
    )
    SELECT a.label, CAST(a.n AS BIGINT) AS n_even, CAST(b.n AS BIGINT) AS n_odd,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, len(a.c)),
               __i -> (a.c[__i] - b.c[__i]) * (a.c[__i] - b.c[__i]))),
             (__x, __y) -> __x + __y) AS drift2
    FROM carr a JOIN carr b ON a.label = b.label AND a.half = 0 AND b.half = 1""",
    doc="centroid drift per label between the two deterministic halves of "
    "the corpus (vec_id parity): squared L2 distance between each half's "
    "exact fixed-point centroid — the 'retrain the index?' monitor for "
    "the vector surface (IVF/PQ cells trained on a stale snapshot "
    "degrade recall silently; op_sim_ivf_recall_eval measures the "
    "damage, this op predicts it from distribution movement, the "
    "embedding-space twin of op_quality_drift).  Exactness: per-half "
    "centroids are _centroid_cells' fixed-point means (the shared "
    "definition); drift² is the element-order unrolled sum — "
    "bit-identical cross-engine.  Plan: ONE map-side aggregate to "
    "(label × half × 64) cells, two label-dimension array assemblies, "
    "one 10-row join — zero data-sized shuffles",
)
def op_sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.vectors import sqdist_unrolled

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "half", F.pmod(F.col("vec_id"), F.lit(2))
    )
    # ONE corpus pass: half rides the group key; the dimension-sized cells
    # frame is cached for its two per-half array assemblies
    cells = shared(_centroid_cells(emb, "half"))
    a = _centroid_arrays(cells.filter(F.col("half") == 0).drop("half"))
    b = _centroid_arrays(cells.filter(F.col("half") == 1).drop("half"))
    return (
        a.alias("a")
        .join(b.alias("b"), "label")
        .select(
            "label",
            F.col("a.n").alias("n_even"),
            F.col("b.n").alias("n_odd"),
            sqdist_unrolled(F.col("a.c"), F.col("b.c")).alias("drift2"),
        )
    )


# ---------------------------------------------------------------------------
# A/B lift significance: Wald confidence interval on the rate difference
# ---------------------------------------------------------------------------


@register(
    "op_events_ab_ci",
    f"""WITH {_AB_AGG_SQL}, w AS (
      SELECT a.users AS users_a, a.converters AS conv_a,
             b.users AS users_b, b.converters AS conv_b,
             CAST(a.converters AS DOUBLE) / CAST(a.users AS DOUBLE) AS pa,
             CAST(b.converters AS DOUBLE) / CAST(b.users AS DOUBLE) AS pb
      FROM (SELECT * FROM agg WHERE variant = 'A') a,
           (SELECT * FROM agg WHERE variant = 'B') b
    ), m AS (
      SELECT *, pb - pa AS diff,
             1.96 * sqrt(pa * (1.0 - pa) / CAST(users_a AS DOUBLE)
                         + pb * (1.0 - pb) / CAST(users_b AS DOUBLE))
               AS margin
      FROM w
    )
    SELECT users_a, conv_a, users_b, conv_b, diff,
           diff - margin AS ci_lo, diff + margin AS ci_hi,
           (diff - margin > 0.0) OR (diff + margin < 0.0) AS significant
    FROM m""",
    doc="significance companion to op_events_ab_lift: the 95% Wald "
    "confidence interval on the absolute conversion-rate difference "
    "pB − pA, with a significant flag when the interval excludes zero "
    "— the read an experimentation stack actually ships (a lift number "
    "without its interval invites shipping noise; op_events_srm gates "
    "the split's validity, this gates the effect's).  Portability: "
    "counts are exact integers from the SAME md5 assignment as "
    "ab_lift; pa/pb/diff/margin are a fixed tree of correctly-rounded "
    "doubles (division, multiply, sqrt — the blessed primitive set; "
    "1.96 parses to the identical double in both engines), so the "
    "bounds and the boolean are bit-identical.  Plan: identical "
    "2-row aggregate core as ab_lift; everything after is single-row "
    "arithmetic",
)
def op_events_ab_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    agg = _ab_counts(ev)
    a = agg.filter(F.col("variant") == "A").alias("a")
    b = agg.filter(F.col("variant") == "B").alias("b")
    w = a.crossJoin(b).select(
        F.col("a.users").alias("users_a"),
        F.col("a.converters").alias("conv_a"),
        F.col("b.users").alias("users_b"),
        F.col("b.converters").alias("conv_b"),
        (F.col("a.converters").cast("double") / F.col("a.users").cast("double")).alias("pa"),
        (F.col("b.converters").cast("double") / F.col("b.users").cast("double")).alias("pb"),
    )
    diff = F.col("pb") - F.col("pa")
    margin = F.lit(1.96) * F.sqrt(
        F.col("pa") * (F.lit(1.0) - F.col("pa")) / F.col("users_a").cast("double")
        + F.col("pb") * (F.lit(1.0) - F.col("pb")) / F.col("users_b").cast("double")
    )
    m = w.select(
        "users_a", "conv_a", "users_b", "conv_b",
        diff.alias("diff"), margin.alias("margin"),
    )
    return m.select(
        "users_a",
        "conv_a",
        "users_b",
        "conv_b",
        "diff",
        (F.col("diff") - F.col("margin")).alias("ci_lo"),
        (F.col("diff") + F.col("margin")).alias("ci_hi"),
        (
            (F.col("diff") - F.col("margin") > 0.0)
            | (F.col("diff") + F.col("margin") < 0.0)
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# interval-overlap join: which user sessions hit an acquisition outage?
# ---------------------------------------------------------------------------

#: hour-bucket width for the overlap blocking (micros)
_OVL_H_US = 3_600_000_000


def _overlap_oracle() -> str:
    from daq_3i_spark.plans.extension_ops import _SESSION_GAP_S
    from daq_3i_spark.sources.daq_dims import dims_cte_sql

    return f"""WITH {dims_cte_sql()},
    ses0 AS (
      WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                         > {_SESSION_GAP_S} * 1000000
                    OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), s AS (
        SELECT user_id, ts,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM o
      )
      SELECT user_id, session_id,
             epoch_us(min(ts)) AS s0, epoch_us(max(ts)) AS s1
      FROM s GROUP BY user_id, session_id
    ),
    ses AS (
      SELECT CAST(user_id % 40 + 1 AS INTEGER) AS channel_id,
             user_id, session_id, s0, s1
      FROM ses0
    ),
    gaps AS (
      SELECT channel_id,
             lag(epoch_us(ts)) OVER (PARTITION BY channel_id
                                     ORDER BY ts, id) AS o0,
             epoch_us(ts) AS o1
      FROM channel_data
    ),
    outage AS (
      SELECT channel_id, o0, o1 FROM gaps
      WHERE o0 IS NOT NULL AND o1 - o0 > {_OVL_H_US}
    )
    SELECT s.channel_id, s.user_id, s.session_id,
           s.s0 AS session_start_us, o.o0 AS outage_start_us,
           least(s.s1, o.o1) - greatest(s.s0, o.o0) AS overlap_us
    FROM ses s JOIN outage o
      ON s.channel_id = o.channel_id AND s.s0 < o.o1 AND o.o0 < s.s1"""


@register(
    "op_join_interval_overlap",
    _overlap_oracle(),
    doc="interval-OVERLAP join (the missing sibling of op_range_join's "
    "point-in-interval): user sessions joined to their channel's "
    "acquisition outages wherever the two intervals overlap — 'which "
    "sessions were running while the feed was dark?', the blast-radius "
    "query an incident review runs.  Sessions are the REGISTERED "
    "sessionizer's intervals (op_session_window_batch semantics, "
    "composed not re-derived); outages are inter-sample gaps > 1 h "
    "(op_timeseries_gap_census's definition).  Spark plan: both "
    "interval sets explode to covered HOUR buckets and equi-join on "
    "(channel, bucket) — never the non-equi nested loop — then "
    "DISTINCT (multi-bucket matches dedup) + the exact overlap "
    "predicate refine; the ORACLE brute-forces the non-equi join "
    "directly, so the hash match PROVES the bucket blocking is "
    "lossless at every width (the op_range_join test philosophy).  "
    "Exactness: all bounds and overlap widths are BIGINT micros; "
    "overlap_us = least(ends) − greatest(starts) ≥ 0 (touching "
    "intervals excluded by the strict predicate).  At 100 TB join "
    "work is Σ per-(channel, hour) session×outage occupancy — bounded "
    "by the bucketing, skew-safe for long outages (they split across "
    "their covered hours)",
)
def op_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.plans.extension_ops import op_session_window_batch
    from daq_3i_spark.sources.daq_dims import channel_data_df

    ses = op_session_window_batch(spark, sf_dir).select(
        (F.col("user_id") % 40 + 1).cast("int").alias("channel_id"),
        "user_id",
        "session_id",
        F.unix_micros("session_start").alias("s0"),
        (F.unix_micros("session_start") + F.col("duration_us")).alias("s1"),
    )
    cd = channel_data_df(spark, sf_dir)
    w = Window.partitionBy("channel_id").orderBy("ts", "id")
    gaps = cd.select(
        "channel_id",
        F.lag(F.unix_micros("ts")).over(w).alias("o0"),
        F.unix_micros("ts").alias("o1"),
    )
    outage = gaps.filter(
        F.col("o0").isNotNull() & (F.col("o1") - F.col("o0") > _OVL_H_US)
    )
    # integer `div`, not floor(double division): epoch-micros are non-negative
    # here so truncation == floor, and the assignment stays exact at any
    # bucket width / timestamp magnitude (double floor is < 0.5 ulp away at
    # current magnitudes but fragile if H shrinks or timestamps grow).
    hb = lambda a, b: F.explode(  # noqa: E731
        F.sequence(
            F.expr(f"{a} div {_OVL_H_US}L"),
            F.expr(f"{b} div {_OVL_H_US}L"),
        )
    ).alias("hb")
    ses_b = ses.select("channel_id", "user_id", "session_id", "s0", "s1", hb("s0", "s1"))
    out_b = outage.select("channel_id", "o0", "o1", hb("o0", "o1"))
    return (
        ses_b.join(out_b, ["channel_id", "hb"])
        .drop("hb")
        .distinct()
        .filter((F.col("s0") < F.col("o1")) & (F.col("o0") < F.col("s1")))
        .select(
            "channel_id",
            "user_id",
            "session_id",
            F.col("s0").alias("session_start_us"),
            F.col("o0").alias("outage_start_us"),
            (
                F.least(F.col("s1"), F.col("o1"))
                - F.greatest(F.col("s0"), F.col("o0"))
            ).alias("overlap_us"),
        )
    )
