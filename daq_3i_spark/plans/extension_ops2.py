"""Round-2 extension operators — the remaining first-class pieces of a
training-data pipeline on top of extension_ops.py's families:

* ``op_dedup_components`` — near-dup PAIRS -> duplicate CLUSTERS (connected
  components by iterative min-label propagation; the step that turns pair
  lists into keep/drop decisions);
* ``op_sim_ivf_topk`` — IVF-style ANN: coarse quantize the corpus into
  centroid cells, probe the closest cells per query (the scale path beyond
  sign-LSH: recall is tunable via nprobe, and the cell id is a shuffle-free
  column);
* ``op_text_bm25`` — corpus-relative relevance scoring (BM25 with a rational
  idf — no transcendental functions, so the score is bit-portable);
* ``op_sql_quantiles`` — exact distribution quantiles (both engines use
  exact linear interpolation, verified bit-identical);
* ``op_stream_session_window`` — Spark's native session_window running as a
  real streaming query (the stateful twin of op_session_window_batch).

Same oracle-parity conventions as extension_ops.py.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from daq_3i_spark.functions.text import DUCK
from daq_3i_spark.functions.vectors import (
    dim_seq_norm2,
    dim_seq_scores,
    duckdb_dot_fold,
    duckdb_norm2_fold,
)
from daq_3i_spark.plans.extension_ops import (
    _N_QUERIES,
    _TOP_K,
    _duck_sig_cte,
    op_dedup_minhash,
)
from daq_3i_spark.cache import shared
from daq_3i_spark.functions.numeric import fx_sum
from daq_3i_spark.plans.registry import register
from daq_3i_spark.sources.tables import load_spread, load_table


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over the MinHash pair graph
# ---------------------------------------------------------------------------



#: the MinHash pair graph -> (node, component) labels as a recursive CTE —
#: shared by the components census and the keep/drop manifest oracles
_DUCK_COMP_CTE = f"""{_duck_sig_cte()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sa, b.sig AS sb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM cand
      WHERE {DUCK.sig_match_frac('sa', 'sb')} >= 0.5
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)"""


@register(
    "op_dedup_components",
    f"""WITH RECURSIVE {_DUCK_COMP_CTE},
    sizes AS (SELECT component, count(*) AS n FROM comp GROUP BY component)
    SELECT comp.node AS doc_id, comp.component,
           CAST(sizes.n AS BIGINT) AS comp_size
    FROM comp JOIN sizes USING (component)""",
    doc="duplicate clusters from the MinHash pair graph: connected components "
    "by alternating large-star/small-star contraction "
    "(operators/graph.py, Kiveris et al. SoCC'14) — O(log^2 n) rounds "
    "regardless of component diameter, each round two shuffle-on-node "
    "aggregates over the shrinking edge list; the SCALE.md extreme-scale "
    "path, now the only implementation.  Deterministic (component = min "
    "reachable doc_id).  Oracle: recursive CTE min-reachable-label",
)
def op_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("comp_size"))
    return labels.join(sizes, "component").select("doc_id", "component", "comp_size")


def _component_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) labels over the MinHash pair graph — the shared
    front half of op_dedup_components and op_dedup_cluster_keep."""
    from daq_3i_spark.operators.graph import star_components

    # materialize the pair list ONCE (the contraction loop would otherwise
    # re-run the whole MinHash plan every round); the loop's shuffle width
    # is edge-count-adaptive inside star_components itself (r17)
    pairs = op_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b").persist()
    labels = star_components(spark, pairs)
    pairs.unpersist()
    return labels


@register(
    "op_dedup_cluster_keep",
    f"""WITH RECURSIVE {_DUCK_COMP_CTE},
    q AS (SELECT doc_id, length(text) AS qlen FROM documents),
    ranked AS (
      SELECT comp.node, comp.component, q.qlen,
             row_number() OVER (PARTITION BY comp.component
                                ORDER BY q.qlen DESC, comp.node ASC) AS rn
      FROM comp JOIN q ON q.doc_id = comp.node
    )
    SELECT node AS doc_id, component,
           first_value(node) OVER (PARTITION BY component
                                   ORDER BY rn ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS keep_doc,
           CASE WHEN rn = 1 THEN 'keep' ELSE 'drop' END AS action
    FROM ranked""",
    doc="duplicate clusters -> the KEEP/DROP manifest (the step a dedup "
    "pipeline actually consumes): within each connected component of the "
    "MinHash pair graph (op_dedup_components' labels) the canonical "
    "survivor is the longest document, doc_id as the deterministic "
    "tiebreaker — the standard 'keep the most complete copy' policy "
    "(RefinedWeb/Gopher keep one representative per cluster); every other "
    "member is marked drop with a pointer to its survivor.  Scale shape: "
    "the label frame joins document lengths (one broadcast-free equi "
    "join), then ONE window partitioned by component — cluster-sized "
    "frames, never corpus-sized (the largest plausible cluster is the "
    "viral-dup cap, not |docs|).  Docs outside any cluster never appear: "
    "they are implicitly kept, exactly as in op_dedup_components",
)
def op_dedup_cluster_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    qlen = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("qlen")
    )
    w = Window.partitionBy("component").orderBy(F.desc("qlen"), F.asc("doc_id"))
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        labels.join(qlen, "doc_id")
        .withColumn("keep_doc", F.first("doc_id").over(w_full))
        .select(
            "doc_id",
            "component",
            "keep_doc",
            F.when(F.col("doc_id") == F.col("keep_doc"), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("action"),
        )
    )


@register(
    "op_corpus_split_safe",
    f"""WITH RECURSIVE {_DUCK_COMP_CTE},
    keyed AS (
      SELECT d.doc_id, d.source,
             coalesce(comp.component, d.doc_id) AS split_key
      FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
    )
    SELECT doc_id, source, split_key,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test'
           END AS split
    FROM (
      SELECT doc_id, source, split_key,
             CAST(('0x' || substr(md5(CAST(split_key AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10 AS b
      FROM keyed
    ) t""",
    doc="LEAKAGE-SAFE train/val/test split (80/10/10): the split key is the "
    "document's near-dup CLUSTER (connected component of the MinHash pair "
    "graph; singletons key on their own doc_id), so every member of a "
    "duplicate cluster lands in the SAME split — the guard op_corpus_split "
    "cannot give, because a doc-keyed hash happily puts two near-copies on "
    "opposite sides of the train/test boundary and silently inflates eval "
    "(the train-test leakage failure mode every LLM data pipeline must "
    "close).  Same portable md5 bucket convention as op_corpus_split, "
    "applied to the cluster key.  Scale shape: the contraction loop is "
    "op_dedup_components' (O(log² n) bounded rounds); the split itself is "
    "one LEFT broadcast-or-shuffle join of the label frame (pair-graph-"
    "cardinality, far smaller than the corpus) plus a codegen projection",
)
def op_corpus_split_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = docs.join(labels.withColumnRenamed("component", "__comp"), "doc_id", "left")
    split_key = F.coalesce(F.col("__comp"), F.col("doc_id"))
    b = F.pmod(
        F.conv(F.substring(F.md5(split_key.cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(10),
    )
    split = F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    return keyed.select(
        "doc_id",
        "source",
        split_key.alias("split_key"),
        split.alias("split"),
    )


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor
# ---------------------------------------------------------------------------

_IVF_C = 16  # coarse-centroid FLOOR — the value every oracle SQL bakes in
_IVF_NPROBE = 4
_IVF_TARGET = 1024  # target vectors per coarse cell once the corpus outgrows the floor


def _ivf_cells(sf_dir: str) -> int:
    """Coarse-quantizer cell count scaled to the corpus: ``max(_IVF_C,
    min(n // _IVF_TARGET, isqrt(n)))`` with n read from parquet footer
    statistics (no job).

    At every oracled scale (sf0.001–0.1: n <= 2,000 <= _IVF_C * _IVF_TARGET)
    this is exactly ``_IVF_C``, so the static oracle SQL (``vec_id < 16``)
    stays bit-valid; past 16,384 vectors the quantizer GROWS with the corpus
    so cell populations stay ~_IVF_TARGET-bounded — cells never inflate with
    data size (SCALE.md's trained-quantizer prescription; the structural
    complement to cos_block_pairs' salt-grid cap, which handles the residual
    skew WITHIN however many cells exist).

    The ``isqrt(n)`` cap (r14) bounds the OTHER side of the trade: cell
    ASSIGNMENT costs n*C distance folds (every vector scores every
    centroid), so the pure population rule C = n/_IVF_TARGET makes
    assignment quadratic — the r14 50x curve probe measured exactly that
    growth in op_dedup_semantic / op_sim_knn_graph.  C = sqrt(n) balances
    assignment (n*C) against in-cell pair work (~n^2/C) at the classic
    exact-blocking optimum n^1.5 — and is FAISS's published nlist guidance.
    The cap only binds past n = _IVF_TARGET^2 (~1M vectors; below it the
    population rule gives fewer cells), so every oracled and probed scale
    is byte-identical and IVF_ORACLE_MAX_ROWS is unchanged.  Pinned by
    tests/test_extension2.py::test_ivf_cells_scale_with_corpus."""
    import math

    from daq_3i_spark.sources.tables import table_rows

    n = table_rows(sf_dir, "embeddings")
    return max(_IVF_C, min(n // _IVF_TARGET, math.isqrt(n)))


#: First corpus size where ``_ivf_cells`` exceeds the ``_IVF_C`` floor —
#: the static IVF-family oracles (which bake ``vec_id < 16``) are
#: bit-valid strictly below this row count and WRONG at or above it.
IVF_ORACLE_MAX_ROWS = (_IVF_C + 1) * _IVF_TARGET  # 17,408


_IVF_GUARD_MSG = (
    f"IVF oracle out of validity bound: embeddings has >= "
    f"{IVF_ORACLE_MAX_ROWS} rows, so _ivf_cells exceeds the baked "
    f"{_IVF_C}-cell floor and this SQL no longer matches the plan"
)


def _ivf_oracle_bound(sql: str) -> str:
    """Wrap an IVF-family oracle so it FAILS LOUDLY past its validity bound.

    The registered oracle SQL bakes the ``_IVF_C``-cell floor (``vec_id <
    16``) while the Spark plan grows the coarse quantizer with the corpus
    (``_ivf_cells``).  Below ``IVF_ORACLE_MAX_ROWS`` the two compute the
    same query bit-for-bit; at or above it they would silently compute
    DIFFERENT queries, so the wrapped oracle raises via DuckDB ``error()``
    instead of returning wrong-semantics rows (r13 ADVICE).

    Two independent guards (ADVICE r14: either alone can be planned away):

    * a one-row cross join filtered on its own value — fires whenever the
      wrapped query yields rows;
    * a same-named CTE shadowing the ``embeddings`` view (base qualified
      as ``main.embeddings`` to avoid the circular reference) whose scan
      carries the bound check as a predicate — an out-of-bound corpus has
      >= IVF_ORACLE_MAX_ROWS rows by definition, so every oracle that
      scans embeddings must evaluate it even when its RESULT is empty
      (the hole in the cross-join form: DuckDB prunes the guard branch
      once it proves __q empty).

    Requires ``sql`` to start with a plain ``WITH`` (all six call sites
    do; the shadow CTE is spliced into the existing WITH list).  The
    prefix check is a real raise, not an ``assert`` — ``python -O`` strips
    asserts, which would silently splice a non-WITH oracle into malformed
    SQL (ADVICE r15) — and ``WITH RECURSIVE`` is rejected explicitly: the
    splice would strand the RECURSIVE keyword on the shadow CTE.  Pinned
    by tests/test_extension2.py::test_ivf_oracle_guard_*."""
    import re

    stripped = sql.lstrip()
    m = re.match(r"(?i)WITH(\s+RECURSIVE)?\s", stripped)
    if m is None:
        raise ValueError(
            "_ivf_oracle_bound requires an oracle starting with WITH; got: "
            + stripped[:40]
        )
    if m.group(1):
        raise ValueError(
            "_ivf_oracle_bound cannot splice into WITH RECURSIVE — hoist "
            "the recursion into a non-recursive prefix or extend the guard"
        )
    shadow = (
        f"WITH embeddings AS (SELECT * FROM main.embeddings WHERE "
        f"(SELECT CASE WHEN count(*) >= {IVF_ORACLE_MAX_ROWS} THEN error("
        f"'{_IVF_GUARD_MSG}') ELSE 0 END FROM main.embeddings) = 0), "
    )
    guarded = shadow + stripped[m.end():]
    return (
        f"SELECT __q.* FROM ({guarded}) AS __q CROSS JOIN ("
        f"SELECT CASE WHEN (SELECT count(*) FROM main.embeddings)"
        f" >= {IVF_ORACLE_MAX_ROWS} THEN error("
        f"'{_IVF_GUARD_MSG}') "
        f"ELSE 0 END AS __ivf_guard) AS __g WHERE __g.__ivf_guard = 0"
    )


@register(
    "op_sim_ivf_topk",
    _ivf_oracle_bound(f"""WITH en AS (
      SELECT vec_id, embedding, {duckdb_norm2_fold('embedding')} AS n2
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cidx, embedding AS ce, n2 AS nc FROM en
             WHERE vec_id < {_IVF_C}),
    ac AS (
      SELECT e.vec_id, e.embedding, e.n2, c.cidx,
             ({duckdb_dot_fold('e.embedding', 'c.ce')}) / sqrt(e.n2 * c.nc)
               AS cos
      FROM en e CROSS JOIN cent c
    ),
    cells AS (
      SELECT vec_id, embedding, n2, cidx AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos DESC, cidx ASC) AS rn
        FROM ac) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS nq FROM en
          WHERE vec_id < {_N_QUERIES}),
    qc AS (
      SELECT q.query_id, q.qe, q.nq, c.cidx,
             ({duckdb_dot_fold('q.qe', 'c.ce')}) / sqrt(q.nq * c.nc) AS cos
      FROM q CROSS JOIN cent c
    ),
    probes AS (
      SELECT query_id, qe, nq, cidx AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, cidx ASC) AS rn
        FROM qc) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, e.vec_id,
             ({duckdb_dot_fold('p.qe', 'e.embedding')}) / sqrt(p.nq * e.n2)
               AS cos_sim
      FROM probes p JOIN cells e
        ON e.cell = p.cell AND e.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}"""),
    doc=f"IVF ANN top-k: corpus coarse-quantized to {_IVF_C} centroid cells "
    f"(argmax cosine, deterministic first-{_IVF_C}-by-vec_id 'training' "
    "stand-in for k-means — the plumbing is identical), each query probes "
    f"its {_IVF_NPROBE} nearest cells only.  One Arrow pass assigns cells "
    "and scores probed pairs (numpy dim-sequential arithmetic, "
    "bit-identical to the fold oracle); zero shuffle until the final "
    "per-query top-k.  At 100 TB the cell id becomes the partition key, so "
    "a query touches nprobe/C of the data",
)
def op_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from daq_3i_spark.functions.vectors import SCORES_SCHEMA

    emb = load_spread(spark, sf_dir, "embeddings")
    # centroid probe off the RAW scan (same one-stage rationale as qrows);
    # cell count scales with the corpus (footer statistics, _ivf_cells)
    crows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _ivf_cells(sf_dir))
        .select("vec_id", "embedding")
        .collect()
    )
    C = np.array([r["embedding"] for r in crows], dtype=np.float64)
    cn2 = dim_seq_norm2(C)
    # parameter probe off the RAW scan: the vec_id filter pushes into the
    # parquet scan (one stage, a handful of rows) — collecting through the
    # spread frame would pay its round-robin exchange at plan-build time
    qrows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn2 = dim_seq_norm2(Q)

    # driver-side probe selection (8 x C scores — trivially small)
    qc = dim_seq_scores(Q, C) / np.sqrt(np.multiply.outer(qn2, cn2))
    probe_mask = np.zeros((len(qids), len(crows)), dtype=bool)
    for qi in range(len(qids)):
        order = sorted(range(len(crows)), key=lambda j: (-qc[qi, j], j))
        probe_mask[qi, order[:_IVF_NPROBE]] = True

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            n2 = dim_seq_norm2(B)
            # cell assignment: argmax cosine over centroids (first max ==
            # lowest cidx, matching the oracle's cos DESC, cidx ASC rank)
            cellcos = dim_seq_scores(C, B) / np.sqrt(np.multiply.outer(cn2, n2))
            cells = np.argmax(cellcos, axis=0)
            cos = dim_seq_scores(Q, B) / np.sqrt(np.multiply.outer(qn2, n2))
            mask = probe_mask[:, cells]
            mask &= qids[:, None] != ids[None, :]
            iq, ic = np.where(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[iq],
                    "vec_id": ids[ic],
                    "cos_sim": cos[iq, ic],
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(run, SCORES_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (rational idf — bit-portable, no log)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "join", "window")
_K1 = 1.2
_B = 0.75
_K1P1 = _K1 + 1.0  # folded in Python so both engines see the same double


def _duck_tf(term: str) -> str:
    return (
        f"CAST(len(list_filter(string_split(lower(text), ' '), "
        f"__w -> __w = '{term}')) AS DOUBLE)"
    )


def _duck_bm25_term(tf: str, df: str) -> str:
    """One term's score: idf_r * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))."""
    idf = f"((CAST(n_docs AS DOUBLE) - CAST({df} AS DOUBLE) + CAST(0.5 AS DOUBLE)) / (CAST({df} AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
    denom = f"({tf} + CAST({_K1!r} AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST({_B!r} AS DOUBLE) + CAST({_B!r} AS DOUBLE) * dl / avgdl))"
    return f"({idf} * ({tf} * CAST({_K1P1!r} AS DOUBLE)) / {denom})"


@register(
    "op_text_bm25",
    f"""WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             {_duck_tf(_BM25_TERMS[0])} AS tf0,
             {_duck_tf(_BM25_TERMS[1])} AS tf1,
             {_duck_tf(_BM25_TERMS[2])} AS tf2
      FROM documents
    ),
    g AS (
      SELECT (CAST(CAST(SUM(CAST(FLOOR((dl) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6) / COUNT(*) AS avgdl,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
             CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      FROM t
    )
    SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           CAST(tf0 AS BIGINT) AS tf_spark,
           CAST(tf1 AS BIGINT) AS tf_join,
           CAST(tf2 AS BIGINT) AS tf_window,
           ({_duck_bm25_term('tf0', 'df0')}
            + {_duck_bm25_term('tf1', 'df1')}
            + {_duck_bm25_term('tf2', 'df2')}) AS bm25
    FROM t CROSS JOIN g""",
    doc="BM25 relevance of every document against a fixed term set "
    f"({', '.join(_BM25_TERMS)}): tf from the token list, df/avgdl from one "
    "global aggregate broadcast back over the corpus.  The idf is the "
    "RATIONAL form (N - df + 0.5)/(df + 0.5) — deliberately no log(), so "
    "the score is built only from + - * / doubles and stays bit-identical "
    "across engines (documented divergence from the textbook log idf: "
    "same ordering, different scale)",
)
def op_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")

    def tf_col(term: str):
        # NB: the closure must stay single-parameter — a 2-arg lambda makes
        # F.filter bind the second parameter to the ELEMENT INDEX.
        return F.size(F.filter(toks, lambda w: w == F.lit(term)))

    t = docs.select(
        "doc_id",
        F.size(toks).cast("double").alias("dl"),
        *[
            tf_col(term).cast("double").alias(f"tf{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    g = t.agg(
        (fx_sum(F.col("dl")) / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def term_score(i: int):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = (
            F.col("n_docs").cast("double") - df.cast("double") + F.lit(0.5)
        ) / (df.cast("double") + F.lit(0.5))
        denom = tf + F.lit(_K1) * (
            F.lit(1.0) - F.lit(_B) + F.lit(_B) * F.col("dl") / F.col("avgdl")
        )
        return idf * (tf * F.lit(_K1P1)) / denom

    return t.crossJoin(F.broadcast(g)).select(
        "doc_id",
        F.col("dl").cast("bigint").alias("dl"),
        F.col("tf0").cast("bigint").alias("tf_spark"),
        F.col("tf1").cast("bigint").alias("tf_join"),
        F.col("tf2").cast("bigint").alias("tf_window"),
        (term_score(0) + term_score(1) + term_score(2)).alias("bm25"),
    )


# ---------------------------------------------------------------------------
# exact distribution quantiles
# ---------------------------------------------------------------------------


@register(
    "op_sql_quantiles",
    """SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS qty_p25,
       quantile_cont(l_quantity, 0.5)  AS qty_p50,
       quantile_cont(l_quantity, 0.75) AS qty_p75,
       quantile_cont(l_extendedprice, 0.25) AS price_p25,
       quantile_cont(l_extendedprice, 0.5)  AS price_p50,
       quantile_cont(l_extendedprice, 0.75) AS price_p75
    FROM lineitem GROUP BY l_returnflag""",
    doc="exact linear-interpolation quantiles per group (Spark percentile == "
    "DuckDB quantile_cont, verified bit-identical: both compute "
    "lo + (hi - lo) * frac at position p*(n-1)); one sort-based aggregate "
    "per group — at scale swap in approx_percentile (t-digest) and drop "
    "the oracle to rows-only",
)
def op_sql_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    qq = F.expr("percentile(l_quantity, array(0.25, 0.5, 0.75))")
    qp = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return (
        li.groupBy("l_returnflag")
        .agg(qq.alias("__qq"), qp.alias("__qp"))
        .select(
            "l_returnflag",
            F.get("__qq", 0).alias("qty_p25"),
            F.get("__qq", 1).alias("qty_p50"),
            F.get("__qq", 2).alias("qty_p75"),
            F.get("__qp", 0).alias("price_p25"),
            F.get("__qp", 1).alias("price_p50"),
            F.get("__qp", 2).alias("price_p75"),
        )
    )


# ---------------------------------------------------------------------------
# native streaming session windows
# ---------------------------------------------------------------------------

_GAP_S = 600  # 10 minutes, matching op_session_window_batch


@register(
    "op_stream_session_window",
    f"""WITH o AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                     >= {_GAP_S} * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + {_GAP_S} * 1000000 AS session_end_us,
           count(*) AS n_events,
           (CAST(CAST(SUM(CAST(FLOOR((value) * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e6) AS sum_value
    FROM s GROUP BY user_id, sid""",
    doc="Spark's native session_window (10-min gap) as a real streaming "
    "aggregation with keyed session state, drained with availableNow in "
    "complete mode (the single-file replay is one micro-batch, so the "
    "drained state is the complete session set).  Session semantics: an "
    "event at "
    "EXACTLY gap distance starts a new session (window end is exclusive), "
    "hence the oracle's >= comparison — note op_session_window_batch's "
    "lag-formulation uses strict >, the documented off-by-ulp sibling",
)
def op_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.streaming.drain import drain
    from daq_3i_spark.streaming.pipeline import events_stream

    events = events_stream(spark, sf_dir).select(
        "ts",
        "user_id",
        "value",
    )
    sessions, _ = drain(
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", f"{_GAP_S} seconds"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            fx_sum(F.col("value")).alias("sum_value"),
        ),
        mode="complete",
    )
    return sessions.select(
        "user_id",
        F.unix_micros("session_window.start").alias("session_start_us"),
        F.unix_micros("session_window.end").alias("session_end_us"),
        "n_events",
        "sum_value",
    )


# ---------------------------------------------------------------------------
# multimodal stages: resize + frame sampling (registry exposure of
# functions/multimodal.py; payloads are the documents' utf-8 bytes, which on
# this ASCII corpus makes byte arithmetic == character arithmetic, so both
# stages get FULL oracles — md5 over the result bytes)
# ---------------------------------------------------------------------------

_RESIZE_TARGET = 64
_N_FRAMES = 4
_FRAME_BYTES = 16


@register(
    "op_multimodal_resize",
    f"""WITH p AS (
      SELECT doc_id, 'text/plain' AS mime, text,
             octet_length(encode(text)) AS len FROM documents
    ), s AS (
      SELECT doc_id, mime,
             greatest(1, len // {_RESIZE_TARGET}) AS stride, len, text
      FROM p
    ), r AS (
      SELECT doc_id, mime,
             CASE WHEN len = 0 THEN '' ELSE array_to_string(
               list_transform(
                 generate_series(0, CAST(least({_RESIZE_TARGET},
                     (len + stride - 1) // stride) AS BIGINT) - 1),
                 i -> substr(text, CAST(1 + i * stride AS BIGINT), 1)), '')
             END AS resized
      FROM s
    )
    SELECT doc_id, mime, octet_length(encode(resized)) AS n_bytes,
           md5(resized) AS payload_md5
    FROM r""",
    doc="the resize stage (image-thumbnail stand-in, functions/multimodal.py "
    "resize_media): deterministic byte-stride downsampling to ~64 bytes via "
    "mapInPandas (binary in, binary out, no shuffle — the exact plumbing a "
    "PIL resize uses).  Full oracle: the corpus payloads are ASCII text "
    "bytes, so the oracle reproduces the strided bytes as characters and "
    "md5-compares",
)
def op_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.multimodal import resize_media

    docs = load_spread(spark, sf_dir, "documents")
    packed = docs.select(
        "doc_id",
        F.lit("text/plain").alias("mime"),
        F.expr("encode(text, 'utf-8')").alias("payload"),
    )
    resized = resize_media(packed, target_bytes=_RESIZE_TARGET)
    return resized.select(
        "doc_id",
        "mime",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
    )


@register(
    "op_multimodal_frames",
    f"""WITH p AS (
      SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents
      WHERE octet_length(encode(text)) > 0
    ), s AS (
      SELECT doc_id, text, len,
             greatest(1, (len - {_FRAME_BYTES}) // {_N_FRAMES - 1}) AS step
      FROM p
    ), f AS (
      SELECT doc_id, k AS frame_idx,
             substr(text, CAST(1 + least(k * step,
                 greatest(len - {_FRAME_BYTES}, 0)) AS BIGINT),
                 {_FRAME_BYTES}) AS frame
      FROM s CROSS JOIN (SELECT unnest(generate_series(0, {_N_FRAMES - 1})) AS k) u
    )
    SELECT doc_id, frame_idx, octet_length(encode(frame)) AS frame_bytes,
           md5(frame) AS frame_md5
    FROM f""",
    doc="the frame-sampling stage (video stand-in, functions/multimodal.py "
    "sample_frames): 4 evenly-spaced 16-byte windows per payload, a 1:N "
    "flatMap through mapInPandas.  Full oracle via character windows + md5 "
    "(ASCII corpus)",
)
def op_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.multimodal import sample_frames

    docs = load_spread(spark, sf_dir, "documents")
    packed = docs.select(
        "doc_id",
        F.expr("encode(text, 'utf-8')").alias("payload"),
    )
    frames = sample_frames(packed, n_frames=_N_FRAMES, frame_bytes=_FRAME_BYTES)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


# ---------------------------------------------------------------------------
# character-n-gram language ID (the n-gram sibling of op_text_langid's
# function-word heuristic)
# ---------------------------------------------------------------------------

# marker character bigrams per language (deterministic literal profiles —
# at scale these come from a profiling pass over labeled data; the scoring
# plan is identical)
_BIGRAM_PROFILES = {
    "en": ["th", "he", "in", "er"],
    "de": ["en", "er", "ch", "de"],
    "fr": ["es", "le", "de", "re"],
    "es": ["de", "la", "os", "en"],
    "zh": ["zh", "ng", "sh", "ia"],
}


def _bigram_hits(dialect_len: str, text: str, bg: str) -> str:
    """Occurrences of bigram ``bg`` in ``text`` via length arithmetic —
    identical semantics in both engines (non-overlapping replace count)."""
    return (
        f"(({dialect_len}({text}) - {dialect_len}(replace({text}, '{bg}', ''))) / 2)"
    )


@register(
    "op_text_langid_ngram",
    f"""SELECT doc_id, lang,
       (CASE {' '.join(
           f"WHEN ({' + '.join(_bigram_hits('len', 'lower(text)', bg) for bg in _BIGRAM_PROFILES[lang])}) = "
           f"greatest({', '.join('(' + ' + '.join(_bigram_hits('len', 'lower(text)', bg) for bg in _BIGRAM_PROFILES[lg]) + ')' for lg in sorted(_BIGRAM_PROFILES))}) "
           f"THEN '{lang}'"
           for lang in sorted(_BIGRAM_PROFILES))} END) AS pred_lang
    FROM documents""",
    doc="language-ID via character-bigram profile hits (the n-gram heuristic "
    "sibling of op_text_langid's function-word markers): per-language marker "
    "bigram counts by length arithmetic (len - len(replace))/2 — pure "
    "codegen projection, no join, no shuffle; argmax with lexicographic "
    "tie-break",
)
def op_text_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    scores = {
        lang: " + ".join(
            _bigram_hits("length", "lower(text)", bg)
            for bg in _BIGRAM_PROFILES[lang]
        )
        for lang in _BIGRAM_PROFILES
    }
    langs = sorted(_BIGRAM_PROFILES)
    best = f"greatest({', '.join(f'({scores[lg]})' for lg in langs)})"
    arms = " ".join(
        f"WHEN ({scores[lang]}) = {best} THEN '{lang}'" for lang in langs
    )
    return docs.select(
        "doc_id", "lang", F.expr(f"CASE {arms} END").alias("pred_lang")
    )


# ---------------------------------------------------------------------------
# trained coarse quantizer: k-means (Lloyd) with exact-decimal means
# ---------------------------------------------------------------------------

_KM_K = 16  # k-means K FLOOR (oracle-baked); seeds scale via _ivf_cells
_KM_ITERS = 2  # fixed iteration count => deterministic, oracle-reproducible


def _duck_kmeans_cte() -> str:
    """DuckDB CTE chain reproducing the two Lloyd iterations bit-exactly:
    argmax-cosine assignment (fold dots), elementwise means as exact decimal
    sums divided as doubles — the same arithmetic the Spark path uses."""
    dot = duckdb_dot_fold("e.embedding", "c.ce")
    return f"""en AS (
      SELECT vec_id, embedding, {duckdb_norm2_fold('embedding')} AS n2
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cidx, embedding AS ce, n2 AS nc FROM en
           WHERE vec_id < {_KM_K}),
    a1 AS (
      SELECT vec_id, embedding, n2, cidx AS cluster FROM (
        SELECT e.vec_id, e.embedding, e.n2, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ({dot}) / sqrt(e.n2 * c.nc) DESC, c.cidx ASC) AS rn
        FROM en e CROSS JOIN c0 c) WHERE rn = 1
    ),
    m1 AS (
      SELECT cluster, d,
             CAST(SUM(CAST(CAST(embedding[d] AS DOUBLE) AS DECIMAL(38,25)))
               AS DOUBLE) / COUNT(*) AS mean_d
      FROM a1 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d) t
      GROUP BY cluster, d
    ),
    c1 AS (
      SELECT cluster AS cidx, list(mean_d ORDER BY d) AS ce
      FROM m1 GROUP BY cluster
    ),
    c1n AS (SELECT cidx, ce, {duckdb_norm2_fold('ce')} AS nc FROM c1),
    a2 AS (
      SELECT vec_id, cidx AS cluster FROM (
        SELECT e.vec_id, c.cidx,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ({duckdb_dot_fold('e.embedding', 'c.ce')})
                          / sqrt(e.n2 * c.nc) DESC, c.cidx ASC) AS rn
        FROM en e CROSS JOIN c1n c) WHERE rn = 1
    )"""


@register(
    "op_sim_kmeans_assign",
    _ivf_oracle_bound(f"""WITH {_duck_kmeans_cte()},
    sizes AS (SELECT cluster, count(*) AS cluster_size FROM a2 GROUP BY cluster)
    SELECT a2.vec_id, a2.cluster, CAST(sizes.cluster_size AS BIGINT) AS cluster_size
    FROM a2 JOIN sizes USING (cluster)"""),
    doc=f"k-means coarse-quantizer TRAINING on the engine: {_KM_ITERS} Lloyd "
    "iterations (deterministic first-K init, argmax-cosine assignment, "
    "elementwise means as ORDER-INDEPENDENT exact decimal sums divided as "
    "doubles — so the trained centroids are bit-identical under any "
    "partitioning, and the DuckDB oracle reproduces the whole training "
    "loop).  Per iteration: one Arrow assignment pass + one (cluster, dim) "
    "aggregate of 64-per-vector scalars; centroids are parameter-sized and "
    "ship via the task closure.  This is the training half of "
    "op_sim_ivf_topk's index; at 100 TB swap the fixed iterations for "
    "k-means|| sampling with the same per-iteration plan",
)
def op_sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from daq_3i_spark.functions.vectors import DEC_DOT

    emb = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = shared(emb)  # two assignment passes + a join share one derivation

    # centroid seed off the RAW scan (one pushed-down stage; the shared emb
    # cache stays lazy until the first real action)
    crows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _ivf_cells(sf_dir))
        .select("vec_id", "embedding")
        .collect()
    )
    C = np.array([r["embedding"] for r in crows], dtype=np.float64)
    cids = [int(r["vec_id"]) for r in crows]

    assign_schema = "vec_id long, cluster int"

    def assigner(C_mat: "np.ndarray", ids: list[int]):
        cn2 = dim_seq_norm2(C_mat)

        def run(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                B = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                n2 = dim_seq_norm2(B)
                cos = dim_seq_scores(C_mat, B) / np.sqrt(
                    np.multiply.outer(cn2, n2)
                )
                best = np.argmax(cos, axis=0)  # first max == lowest cidx
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cluster": np.array(ids, dtype=np.int64)[best],
                    }
                )

        return run

    a1 = emb.mapInPandas(assigner(C, cids), assign_schema)

    # elementwise means: exact decimal sums (order-independent) / count
    elem = (F.col("__e").cast("double")).cast(DEC_DOT)
    m1 = (
        a1.join(emb, "vec_id")
        .select("cluster", F.posexplode("embedding").alias("d", "__e"))
        .groupBy("cluster", "d")
        .agg(
            (F.sum(elem).cast("double") / F.count("*")).alias("mean_d")
        )
    )
    mrows = m1.collect()  # parameter-sized: K x 64 scalars
    by_cluster: dict[int, dict[int, float]] = {}
    for r in mrows:
        by_cluster.setdefault(int(r["cluster"]), {})[int(r["d"])] = r["mean_d"]
    cids1 = sorted(by_cluster)
    C1 = np.array(
        [[by_cluster[c][d] for d in range(64)] for c in cids1], dtype=np.float64
    )

    a2 = emb.mapInPandas(assigner(C1, cids1), assign_schema)
    sizes = a2.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return a2.join(sizes, "cluster").select("vec_id", "cluster", "cluster_size")


@register(
    "op_sim_ivf_trained_topk",
    _ivf_oracle_bound(f"""WITH {_duck_kmeans_cte()},
    cells AS (
      SELECT e.vec_id, e.embedding, e.n2, a2.cluster AS cell
      FROM en e JOIN a2 USING (vec_id)
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS nq FROM en
          WHERE vec_id < {_N_QUERIES}),
    qc AS (
      SELECT q.query_id, q.qe, q.nq, c.cidx,
             ({duckdb_dot_fold('q.qe', 'c.ce')}) / sqrt(q.nq * c.nc) AS cos
      FROM q CROSS JOIN c1n c
    ),
    probes AS (
      SELECT query_id, qe, nq, cidx AS cell FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, cidx ASC) AS rn
        FROM qc) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, e.vec_id,
             ({duckdb_dot_fold('p.qe', 'e.embedding')}) / sqrt(p.nq * e.n2)
               AS cos_sim
      FROM probes p JOIN cells e
        ON e.cell = p.cell AND e.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cos_sim, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM scored) WHERE rnk <= {_TOP_K}"""),
    doc="the full ANN pipeline end to end: k-means-TRAINED coarse quantizer "
    f"(op_sim_kmeans_assign's {_KM_ITERS} Lloyd iterations) -> cell-assigned "
    f"corpus -> {_IVF_NPROBE}-cell probes per query -> top-{_TOP_K}.  The "
    "oracle replays training AND search bit-exactly.  Trained cells track "
    "the data distribution, so recall at the same nprobe beats the untrained "
    "first-K index (asserted in tests/test_extension2.py)",
)
def op_sim_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from daq_3i_spark.functions.vectors import SCORES_SCHEMA, DEC_DOT

    emb = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = shared(emb)  # the training aggregate + assignment passes + a join

    # --- train (same arithmetic as op_sim_kmeans_assign) --------------------
    # centroid seed off the RAW scan (one pushed-down stage; the shared emb
    # cache stays lazy until the first real action)
    crows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _ivf_cells(sf_dir))
        .select("vec_id", "embedding")
        .collect()
    )
    C = np.array([r["embedding"] for r in crows], dtype=np.float64)
    cids = [int(r["vec_id"]) for r in crows]

    def assign_run(C_mat, ids):
        cn2 = dim_seq_norm2(C_mat)

        def run(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                B = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                n2 = dim_seq_norm2(B)
                cos = dim_seq_scores(C_mat, B) / np.sqrt(np.multiply.outer(cn2, n2))
                best = np.argmax(cos, axis=0)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cluster": np.array(ids, dtype=np.int64)[best],
                    }
                )

        return run

    a1 = emb.mapInPandas(assign_run(C, cids), "vec_id long, cluster int")
    elem = (F.col("__e").cast("double")).cast(DEC_DOT)
    mrows = (
        a1.join(emb, "vec_id")
        .select("cluster", F.posexplode("embedding").alias("d", "__e"))
        .groupBy("cluster", "d")
        .agg((F.sum(elem).cast("double") / F.count("*")).alias("mean_d"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for r in mrows:
        by_cluster.setdefault(int(r["cluster"]), {})[int(r["d"])] = r["mean_d"]
    cids1 = sorted(by_cluster)
    C1 = np.array(
        [[by_cluster[c][d] for d in range(64)] for c in cids1], dtype=np.float64
    )
    c1n2 = dim_seq_norm2(C1)

    # --- probe + search against the trained index ---------------------------
    # parameter probe off the RAW scan: the vec_id filter pushes into the
    # parquet scan (one stage, a handful of rows) — collecting through the
    # spread frame would pay its round-robin exchange at plan-build time
    qrows = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn2 = dim_seq_norm2(Q)
    qc = dim_seq_scores(Q, C1) / np.sqrt(np.multiply.outer(qn2, c1n2))
    # cell ids are arbitrary cluster labels — map to matrix row for the mask
    row_of = {c: i for i, c in enumerate(cids1)}
    probe_mask = np.zeros((len(qids), len(cids1)), dtype=bool)
    for qi in range(len(qids)):
        order = sorted(range(len(cids1)), key=lambda j: (-qc[qi, j], cids1[j]))
        probe_mask[qi, order[:_IVF_NPROBE]] = True

    def search(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            B = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            n2 = dim_seq_norm2(B)
            cellcos = dim_seq_scores(C1, B) / np.sqrt(np.multiply.outer(c1n2, n2))
            cells = np.argmax(cellcos, axis=0)  # row index == sorted cids1 order
            cos = dim_seq_scores(Q, B) / np.sqrt(np.multiply.outer(qn2, n2))
            mask = probe_mask[:, cells]
            mask &= qids[:, None] != ids[None, :]
            iq, ic = np.where(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[iq],
                    "vec_id": ids[ic],
                    "cos_sim": cos[iq, ic],
                }
            )

    scored = emb.mapInPandas(search, SCORES_SCHEMA)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


# --- product quantization (PQ-ADC) -------------------------------------------

#: PQ geometry: 64 dims = 4 subspaces x 16 dims, 16 codewords per subspace
#: -> a vector compresses to 4 bytes (16x beyond op_embed_quantize's int8),
#: the memory regime real billion-vector ANN indexes (IVF-PQ) live in.
_PQ_M, _PQ_D, _PQ_K = 4, 16, 16


def _pq_l2_sql(a: str, b: str) -> str:
    from daq_3i_spark.functions.vectors import duckdb_l2_fold

    return duckdb_l2_fold(a, b)


#: shared PQ encode CTEs (subspace split -> codebook distances -> argmin
#: codes -> per-query distance tables) — composed by BOTH the flat PQ oracle
#: and the IVF-PQ oracle below
_PQ_CODES_CTE = f"""subs AS (
      SELECT vec_id, s,
             embedding[s*{_PQ_D}+1 : s*{_PQ_D}+{_PQ_D}] AS sub
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) u
    ), cws AS (
      SELECT vec_id AS code, s, sub AS cvec FROM subs WHERE vec_id < {_PQ_K}
    ), dist AS (
      SELECT v.vec_id, v.s, c.code,
             {_pq_l2_sql('v.sub', 'c.cvec')} AS d
      FROM subs v JOIN cws c USING (s)
    ), asg AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS rn
        FROM dist
      ) WHERE rn = 1
    ), codes AS (
      SELECT vec_id,
             max(CASE WHEN s = 0 THEN code END) AS c0,
             max(CASE WHEN s = 1 THEN code END) AS c1,
             max(CASE WHEN s = 2 THEN code END) AS c2,
             max(CASE WHEN s = 3 THEN code END) AS c3
      FROM asg GROUP BY vec_id
    ), qd AS (
      SELECT vec_id AS query_id, s, code, d FROM dist
      WHERE vec_id < {_N_QUERIES}
    )"""


def _pq_frames(spark: SparkSession, sf_dir: str):
    """(emb, codes, qd): the PQ encode dataflow shared by the flat and
    IVF-composed search ops — subspace split, codebook distances (sequential
    L2 folds), argmin codes, per-query distance tables."""
    from daq_3i_spark.functions.vectors import l2_fold

    emb = load_spread(spark, sf_dir, "embeddings")
    subs = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("embedding", s * _PQ_D + 1, _PQ_D) for s in range(_PQ_M)])
        ).alias("s", "sub"),
    )
    subs = shared(subs)  # feeds dist twice (corpus + codebook)
    cws = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("code"), "s", F.col("sub").alias("cvec")
    )
    dist = subs.join(F.broadcast(cws), "s").select(
        "vec_id", "s", "code", l2_fold(F.col("sub"), F.col("cvec")).alias("d")
    )
    dist = shared(dist)  # interpreted HOF: run it once
    w_asg = Window.partitionBy("vec_id", "s").orderBy("d", "code")
    asg = (
        dist.withColumn("rn", F.row_number().over(w_asg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )
    codes = asg.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("s") == s, F.col("code"))).alias(f"c{s}")
            for s in range(_PQ_M)
        ]
    )
    qd = dist.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "s", "code", "d"
    )
    return emb, codes, qd


def _pq_adc(codes: DataFrame, qd: DataFrame) -> DataFrame:
    """ADC scores for every (query, encoded-vector) pair present in codes:
    four broadcast distance-table joins, fixed-order sum."""
    res = codes
    for s in range(_PQ_M):
        qs = qd.filter(F.col("s") == s).select(
            "query_id", F.col("code").alias(f"c{s}"), F.col("d").alias(f"d{s}")
        )
        on = [f"c{s}"] if s == 0 else ["query_id", f"c{s}"]
        res = res.join(F.broadcast(qs), on)
    adc = (
        F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3")
    ).alias("adc_dist")
    return res.select("query_id", "vec_id", adc)


def _pq_topk(scored: DataFrame) -> DataFrame:
    w_k = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "vec_id", "adc_dist", "rnk")
    )


@register(
    "op_sim_pq_topk",
    f"""WITH {_PQ_CODES_CTE}, adc AS (
      SELECT q0.query_id, codes.vec_id,
             q0.d + q1.d + q2.d + q3.d AS adc_dist
      FROM codes
      JOIN qd q0 ON q0.s = 0 AND q0.code = codes.c0
      JOIN qd q1 ON q1.s = 1 AND q1.code = codes.c1
                AND q1.query_id = q0.query_id
      JOIN qd q2 ON q2.s = 2 AND q2.code = codes.c2
                AND q2.query_id = q0.query_id
      JOIN qd q3 ON q3.s = 3 AND q3.code = codes.c3
                AND q3.query_id = q0.query_id
    )
    SELECT query_id, vec_id, adc_dist, rnk FROM (
      SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rnk
      FROM adc
    ) WHERE rnk <= {_TOP_K}""",
    doc="product-quantization ANN (the billion-vector memory regime): 64-dim "
    "vectors compress to 4 subspace codes (4 bytes, vs 256 raw — the "
    "compression IVF-PQ indexes run on), queries score candidates with an "
    "asymmetric-distance table (4 lookups + 3 adds per vector, no "
    "full-dim arithmetic at query time).  Codebooks are the deterministic "
    "seed vectors (a Lloyd refinement would reuse op_sim_kmeans_assign's "
    "exact-mean loop verbatim); assignment argmin and ADC sums are "
    "sequential double folds, bit-identical cross-engine, ties broken by "
    "code then vec_id.  Scale: encode is one broadcast join over the corpus "
    "(codebook is KB-sized), search never touches raw vectors — the "
    "distance TABLE broadcasts, candidates shuffle only for the final "
    "per-query top-k",
)
def op_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _emb, codes, qd = _pq_frames(spark, sf_dir)
    return _pq_topk(_pq_adc(codes, qd))


@register(
    "op_sim_ivfpq_topk",
    _ivf_oracle_bound(f"""WITH {_PQ_CODES_CTE}, cd AS (
      SELECT e.vec_id, c.vec_id AS cid,
             {_pq_l2_sql('e.embedding', 'c.embedding')} AS dfull
      FROM embeddings e JOIN embeddings c ON c.vec_id < {_IVF_C}
    ), cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dfull, cid) AS rn
        FROM cd) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dfull, cid) AS rn
        FROM cd WHERE vec_id < {_N_QUERIES}) WHERE rn <= {_IVF_NPROBE}
    ), cand AS (
      SELECT p.query_id, ce.vec_id
      FROM cells ce JOIN probes p USING (cell)
      WHERE ce.vec_id <> p.query_id
    ), candcodes AS (
      SELECT cand.query_id, cand.vec_id, c0, c1, c2, c3
      FROM cand JOIN codes USING (vec_id)
    ), adc AS (
      SELECT cc.query_id, cc.vec_id, q0.d + q1.d + q2.d + q3.d AS adc_dist
      FROM candcodes cc
      JOIN qd q0 ON q0.query_id = cc.query_id AND q0.s = 0 AND q0.code = cc.c0
      JOIN qd q1 ON q1.query_id = cc.query_id AND q1.s = 1 AND q1.code = cc.c1
      JOIN qd q2 ON q2.query_id = cc.query_id AND q2.s = 2 AND q2.code = cc.c2
      JOIN qd q3 ON q3.query_id = cc.query_id AND q3.s = 3 AND q3.code = cc.c3
    )
    SELECT query_id, vec_id, adc_dist, rnk FROM (
      SELECT query_id, vec_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, vec_id) AS rnk
      FROM adc
    ) WHERE rnk <= {_TOP_K}"""),
    doc="IVF-PQ, the composition real billion-vector indexes deploy (FAISS's "
    f"default): corpus coarse-quantized into {_IVF_C} L2 cells, each query "
    f"probes its {_IVF_NPROBE} nearest cells, and ONLY candidates in probed "
    "cells are scored — by the 4-byte PQ codes via ADC table lookups, never "
    "full-dim arithmetic.  Search cost = (nprobe/C of the corpus) x (4 "
    "lookups + 3 adds); memory = codes + cell ids.  Excludes self like "
    "op_sim_ivf_topk.  All distances are sequential L2 folds (bit-portable); "
    "at 100 TB the cell id is the partition key so probing IS partition "
    "pruning, and the distance tables broadcast",
)
def op_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.vectors import l2_fold

    emb, codes, qd = _pq_frames(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < _ivf_cells(sf_dir)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cd = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", l2_fold(F.col("embedding"), F.col("ce")).alias("dfull")
    )
    cd = shared(cd)  # feeds cells + probes; fold runs once
    w_cell = Window.partitionBy("vec_id").orderBy("dfull", "cid")
    cells = (
        cd.withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("cid").alias("cell"))
    )
    probes = (
        cd.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    candcodes = cand.join(codes, "vec_id")
    res = candcodes
    for s in range(_PQ_M):
        qs = qd.filter(F.col("s") == s).select(
            "query_id", F.col("code").alias(f"c{s}"), F.col("d").alias(f"d{s}")
        )
        res = res.join(F.broadcast(qs), ["query_id", f"c{s}"])
    scored = res.select(
        "query_id",
        "vec_id",
        (F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3")).alias("adc_dist"),
    )
    return _pq_topk(scored)


#: exact-rerank shortlist size.  ADC alone tops out around recall 0.39 on
#: this corpus (the embeddings are near-uniform on the sphere — little
#: cluster structure for 4-bit codebooks to exploit); a 200-deep ADC
#: shortlist contains 0.94 of the true top-10 at the 500-vector corpus and
#: 0.79 at 2000 vectors (measured, see test_pq_rerank_recall_floor).  R is
#: FIXED, so the rerank cost per query stays 200 exact distances while the
#: corpus grows — the shortlist fraction shrinks with N, exactly how FAISS
#: deploys its refine stage.
_PQ_RERANK_R = 200


@register(
    "op_sim_pq_rerank_topk",
    f"""WITH {_PQ_CODES_CTE}, adc AS (
      SELECT q0.query_id, codes.vec_id,
             q0.d + q1.d + q2.d + q3.d AS adc_dist
      FROM codes
      JOIN qd q0 ON q0.s = 0 AND q0.code = codes.c0
      JOIN qd q1 ON q1.s = 1 AND q1.code = codes.c1
                AND q1.query_id = q0.query_id
      JOIN qd q2 ON q2.s = 2 AND q2.code = codes.c2
                AND q2.query_id = q0.query_id
      JOIN qd q3 ON q3.s = 3 AND q3.code = codes.c3
                AND q3.query_id = q0.query_id
    ), short AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rn
        FROM adc
      ) WHERE rn <= {_PQ_RERANK_R}
    ), exact AS (
      SELECT s.query_id, s.vec_id,
             {_pq_l2_sql('q.embedding', 'v.embedding')} AS l2_dist
      FROM short s
      JOIN embeddings q ON q.vec_id = s.query_id
      JOIN embeddings v ON v.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, l2_dist, rnk FROM (
      SELECT query_id, vec_id, l2_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY l2_dist, vec_id) AS rnk
      FROM exact
    ) WHERE rnk <= {_TOP_K}""",
    doc="PQ-ADC shortlist + exact re-rank — the FAISS refine stage that turns "
    f"proof-of-machinery PQ recall (~0.39) into production recall: the ADC "
    f"scan keeps the {_PQ_RERANK_R} best candidates per query (4-byte codes, "
    "no raw vectors touched), then ONLY those pairs pay a full 64-dim exact "
    "L2 (sequential fold, bit-portable; embeddings are unit-norm so L2 order "
    "== cosine order).  Measured recall@10: 0.94 at 500 vectors, 0.79 at "
    "2000 — vs 0.39 for ADC alone.  Scale: the rerank join is R rows per "
    "query against the vector store — a point-lookup-shaped semi-join that "
    "partition-prunes on vec_id; shortlist size is independent of corpus "
    "size, so the exact-arithmetic cost never grows with N",
)
def op_sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.vectors import l2_fold

    emb, codes, qd = _pq_frames(spark, sf_dir)
    adc = _pq_adc(codes, qd)
    w_r = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    short = (
        adc.withColumn("rn", F.row_number().over(w_r))
        .filter(F.col("rn") <= _PQ_RERANK_R)
        .select("query_id", "vec_id")
    )
    qv = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select(
            "query_id",
            "vec_id",
            l2_fold(F.col("qe"), F.col("embedding")).alias("l2_dist"),
        )
    )
    w_k = Window.partitionBy("query_id").orderBy("l2_dist", "vec_id")
    return (
        exact.withColumn("rnk", F.row_number().over(w_k))
        .filter(F.col("rnk") <= _TOP_K)
        .select("query_id", "vec_id", "l2_dist", "rnk")
    )


#: SemDeDup cosine threshold — the family convention (op_dedup_embedding's
#: 0.35) on this near-uniform corpus; real text embeddings use ~0.95+.
_SEMDEDUP_TAU = 0.35


@register(
    "op_dedup_semantic",
    _ivf_oracle_bound(f"""WITH en AS (
      SELECT vec_id, embedding, {duckdb_norm2_fold('embedding')} AS n2
      FROM embeddings
    ), cd AS (
      SELECT e.vec_id, c.vec_id AS cid,
             {_pq_l2_sql('e.embedding', 'c.embedding')} AS dfull
      FROM embeddings e JOIN embeddings c ON c.vec_id < {_IVF_C}
    ), cells AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dfull, cid) AS rn
        FROM cd) WHERE rn = 1
    ), p AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             ({duckdb_dot_fold('a.embedding', 'b.embedding')})
               / sqrt(a.n2 * b.n2) AS cos_sim
      FROM cells ca JOIN cells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
      JOIN en a ON a.vec_id = ca.vec_id
      JOIN en b ON b.vec_id = cb.vec_id
    ), dup AS (
      SELECT vb, min(va) AS dup_of FROM p
      WHERE cos_sim >= {_SEMDEDUP_TAU} GROUP BY vb
    )
    SELECT cells.vec_id, CAST(cell AS INTEGER) AS cell, dup.dup_of,
           dup.dup_of IS NULL AS is_kept
    FROM cells LEFT JOIN dup ON cells.vec_id = dup.vb"""),
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): corpus "
    f"coarse-quantized into {_IVF_C} L2 cells (the op_sim_ivf* assignment), "
    "then near-duplicate detection runs ONLY within each cell — a vector is "
    "dropped iff a smaller-id cell-mate sits within cosine >= "
    f"{_SEMDEDUP_TAU} (keep-min-id, the dedup family convention).  Differs "
    "from op_dedup_embedding in the blocking key: label blocking needs "
    "ground-truth classes, cell blocking derives the blocks from the "
    "vectors themselves — the shape that works on unlabeled web-scale "
    "corpora.  Pair work is sum over cells of |cell|^2 via the row-tiled "
    "numpy kernel; a cell beyond CELL_CAP rows sub-splits on a deterministic "
    "salt grid (functions/vectors.py _salted_blocks, r13) so no single task "
    "ever owns a hot cell, and at 100 TB cells come from a trained coarse "
    "quantizer (cell count scales with the corpus, see _ivf_cells)",
)
def op_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.functions.vectors import cos_block_pairs, l2_fold

    emb = load_spread(spark, sf_dir, "embeddings").select("vec_id", "embedding")
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
        .select("vec_id", F.col("cid").cast("int").alias("cell"))
    )
    # NOT shared: persisting this frame regresses sf1 2-3x (measured r13 —
    # caching rows that carry the embedding ARRAY materializes them as
    # deserialized Java objects, costlier than recomputing the codegen
    # assignment for the salt-grid sizing pass); the pagerank/triangles
    # cached-frame precedent applies to LONG-typed frames only
    blocked = emb.join(cells, "vec_id").select(
        "vec_id", "embedding", F.col("cell").alias("label")
    )
    dup = (
        cos_block_pairs(blocked, threshold=_SEMDEDUP_TAU)
        .groupBy("vec_b")
        .agg(F.min("vec_a").alias("dup_of"))
    )
    return cells.join(dup, cells.vec_id == dup.vec_b, "left").select(
        "vec_id",
        "cell",
        "dup_of",
        F.col("dup_of").isNull().alias("is_kept"),
    )


@register(
    "op_corpus_softdedup_weights",
    f"""WITH RECURSIVE {_DUCK_COMP_CTE},
    sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS n
              FROM comp GROUP BY component)
    SELECT d.doc_id,
           coalesce(s.n, 1) AS comp_size,
           CAST(1 AS DOUBLE) / CAST(coalesce(s.n, 1) AS DOUBLE) AS weight
    FROM documents d
    LEFT JOIN comp ON comp.node = d.doc_id
    LEFT JOIN sizes s ON s.component = comp.component""",
    doc="soft deduplication (SoftDeDup / D4-style): instead of DROPPING "
    "near-duplicates, every document gets sampling weight 1/|its near-dup "
    "cluster| (singletons weigh 1) — each duplicated content unit "
    "contributes ~one document's worth of training mass while keeping "
    "every variant available, the reweight-don't-delete alternative to "
    "op_dedup_cluster_keep's keep/drop manifest.  Weight is ONE "
    "correctly-rounded division of exact integers.  Scale shape: the "
    "contraction loop is op_dedup_components' (O(log² n) bounded "
    "rounds over the PAIR graph, far smaller than the corpus); sizes is "
    "a component-cardinality aggregate; the corpus touch is one LEFT "
    "join of the label frame onto doc_ids — broadcastable whenever the "
    "duplicate-cluster population is dimension-sized relative to the "
    "corpus (it is, by the viral-bucket cap)",
)
def op_corpus_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _component_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(F.count("*").alias("comp_size"))
    weighted = labels.join(sizes, "component").select("doc_id", "comp_size")
    docs = load_spread(spark, sf_dir, "documents").select("doc_id")
    return docs.join(weighted, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("comp_size"), F.lit(1)).cast("bigint").alias("comp_size"),
        (
            F.lit(1).cast("double")
            / F.coalesce(F.col("comp_size"), F.lit(1)).cast("double")
        ).alias("weight"),
    )


# ---------------------------------------------------------------------------
# ANN quality measured in-engine: IVF recall vs the exact baseline
# ---------------------------------------------------------------------------

from daq_3i_spark.plans.extension_ops import _TOP_K as _RK  # noqa: E402
from daq_3i_spark.plans.extension_ops import op_sim_topk  # noqa: E402
from daq_3i_spark.plans.registry import QUERIES as _Q  # noqa: E402


@register(
    "op_sim_ivf_recall_eval",
    f"""WITH exact AS ( {_Q['op_sim_topk'].oracle} ),
    approx AS ( {_Q['op_sim_ivf_topk'].oracle} )
    SELECT e.query_id,
           CAST({_RK} AS BIGINT) AS k,
           CAST(count(a.vec_id) AS BIGINT) AS n_hits,
           CAST(count(a.vec_id) AS DOUBLE) / {_RK} AS recall_at_k
    FROM exact e LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id""",
    doc="ANN quality measured IN-ENGINE: per-query recall@10 of the IVF "
    "index against the exact brute-force baseline — the similarity-"
    "family sibling of op_corpus_minhash_eval (LSH banding quality) and "
    "the gate a vector pipeline runs before trusting its index: an "
    "nprobe/centroid regression surfaces as a recall drop in a driver-"
    "hashed column, not as silent retrieval decay.  Both sides are the "
    "REGISTERED ops' own plans and oracles verbatim (composed, not "
    "re-derived — a scoring change there flows here by construction); "
    "hits are exact integers, recall is ONE division by the constant "
    "k.  Plan: the exact and IVF pipelines each run once (the eval is "
    "BY DESIGN the expensive exact pass — run it on a sampled query "
    "set, as here with 8 probes); the final join + census aggregate "
    "operate on (queries × k)-sized frames — parameter-sized at any "
    "corpus scale",
)
def op_sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = op_sim_topk(spark, sf_dir).select("query_id", "vec_id")
    approx = op_sim_ivf_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(_RK).cast("bigint").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
            (
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.lit(_RK)
            ).alias("recall_at_k"),
        )
    )
