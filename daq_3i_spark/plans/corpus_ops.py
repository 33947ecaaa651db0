"""Training-corpus preparation operators (BASELINE.json north star).

Three LLM-data-pipeline stages beyond the dedup/similarity/text families
already in extension_ops*: sequence packing (documents -> fixed-budget
training sequences), benchmark-contamination detection (n-gram overlap with
a held-out eval set), and Gopher-style repetition signals (the classic
quality-filter inputs).  The reference has no text surface at all
(/root/reference is a MODBUS DAQ daemon); these extend the engine the way
BASELINE.json's north star asks.

Scale notes (100 TB):

* packing groups by ``source`` — each shard packs independently, and the
  running sum runs on the hot-source-safe ``grouped_cumsum`` kernel
  (operators/ranks.py): one RANGE shuffle on (source, order-key), partition-
  local sums, a <= P-row per-source offset rollup — a dominant source (one
  web crawl = 90% of a real corpus) spans many tasks instead of one
  ``Window.partitionBy(source)`` task, with bit-identical output;
* contamination broadcasts the eval-set shingle table (eval benchmarks are
  tiny relative to the corpus) — the train side streams through a broadcast
  hash join, no shuffle of the corpus;
* repetition signals are pure per-row HOF arithmetic — whole-stage codegen,
  no shuffle, scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from daq_3i_spark.cache import shared
from daq_3i_spark.functions.text import DUCK, SPARK
from daq_3i_spark.operators.ranks import grouped_cumsum
from daq_3i_spark.plans.registry import register
from daq_3i_spark.sources.tables import load_spread

_PACK_BUDGET = 256  # tokens per packed training sequence

#: max token frequency in a doc (the Gopher repetition signal), computed as
#: a run-length scan over the SORTED token array — O(n log n + n) per doc vs
#: the naive O(n x distinct) transform/filter nest (measured 1.6x on the
#: full corpus, value-identical; the DuckDB oracles keep their own
#: histogram formulation, so the hash match doubles as an equivalence
#: proof of the two computations).
_TOP_TOKEN_FREQ = """
  aggregate(array_sort(toks),
            struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0 AS best),
            (acc, x) -> CASE WHEN acc.prev IS NOT NULL AND x = acc.prev
                             THEN struct(x AS prev, acc.run + 1 AS run,
                                         greatest(acc.best, acc.run + 1) AS best)
                             ELSE struct(x AS prev, 1 AS run,
                                         greatest(acc.best, 1) AS best) END,
            acc -> acc.best)
"""


@register(
    "op_pack_sequences",
    f"""WITH t AS (
      SELECT doc_id, source,
             len(string_split(lower(text), ' ')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           (cum - n_tokens) // {_PACK_BUDGET} AS start_seq,
           (cum - 1) // {_PACK_BUDGET} AS end_seq,
           (cum - 1) // {_PACK_BUDGET} - (cum - n_tokens) // {_PACK_BUDGET} + 1
             AS n_seqs,
           (cum - n_tokens) % {_PACK_BUDGET} AS seq_offset
    FROM c""",
    doc="sequence packing for LLM pretraining: per source shard, documents "
    "are concatenated in doc_id order into a token stream cut every "
    f"{_PACK_BUDGET} tokens; each doc reports the packed sequences it spans "
    "and its offset in the first one.  One RANGE shuffle on (source, "
    "doc_id) + the grouped_cumsum kernel (operators/ranks.py): the running "
    "sum is partition-local with a <= P-row per-source offset rollup, so a "
    "hot source (one web crawl = 90% of the corpus) spans many tasks "
    "instead of funneling through Window.partitionBy(source)'s single "
    "task; integer-only arithmetic — the standard concat-and-chunk packing "
    "as a declarative plan",
)
def op_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(F.split(F.lower("text"), " ")).alias("n_tokens")
    )
    c = grouped_cumsum(
        t, "source", F.col("n_tokens"), [F.col("doc_id")], alias="cum"
    )
    b = F.lit(_PACK_BUDGET)
    start_seq = F.expr(f"(cum - n_tokens) DIV {_PACK_BUDGET}")
    end_seq = F.expr(f"(cum - 1) DIV {_PACK_BUDGET}")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        start_seq.alias("start_seq"),
        end_seq.alias("end_seq"),
        (end_seq - start_seq + 1).alias("n_seqs"),
        ((F.col("cum") - F.col("n_tokens")) % b).alias("seq_offset"),
    )


@register(
    "op_text_bpe_tokens",
    f"""WITH b AS (
      SELECT doc_id, lang,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
             {DUCK.bpe_token_count('text')} AS n_bpe_tokens,
             CAST(length(text) AS BIGINT) AS n_text_chars
      FROM documents
    )
    SELECT doc_id, lang, n_ws_tokens, n_bpe_tokens,
           CAST(n_text_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
             AS chars_per_token
    FROM b""",
    doc="deterministic toy-BPE token counting: each word's characters are "
    "merged through the frozen published-style merge table "
    "(functions/text.py:BPE_MERGES, applied in rank order like a tokenizer's "
    "merges.txt), giving the BPE piece count real training pipelines budget "
    "by — vs the whitespace count every op so far used — plus the "
    "chars-per-token compression ratio (the tokenizer-health metric).  The "
    "merge program is a chain of plain string replaces over a "
    "separator-encoded piece sequence (replace('·x·y·','·xy·') IS one "
    "leftmost non-overlapping merge pass) — pure whole-stage-codegen string "
    "ops, no UDF, no shuffle; scan-bound at any corpus size",
)
def op_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("n_ws_tokens"),
        F.expr(SPARK.bpe_token_count("text")).alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_text_chars"),
    )
    return b.select(
        "doc_id",
        "lang",
        "n_ws_tokens",
        "n_bpe_tokens",
        (
            F.col("n_text_chars").cast("double")
            / F.col("n_bpe_tokens").cast("double")
        ).alias("chars_per_token"),
    )


@register(
    "op_pack_sequences_bpe",
    f"""WITH t AS (
      SELECT doc_id, source, {DUCK.bpe_token_count('text')} AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           (cum - n_tokens) // {_PACK_BUDGET} AS start_seq,
           (cum - 1) // {_PACK_BUDGET} AS end_seq,
           (cum - 1) // {_PACK_BUDGET} - (cum - n_tokens) // {_PACK_BUDGET} + 1
             AS n_seqs,
           (cum - n_tokens) % {_PACK_BUDGET} AS seq_offset
    FROM c""",
    doc="tokenizer-aware sequence packing: op_pack_sequences' concat-and-chunk "
    f"plan with the {_PACK_BUDGET}-token budget measured in TOY-BPE tokens "
    "(functions/text.py:BPE_MERGES) instead of whitespace tokens — the "
    "whitespace count under-budgets real sequences by the merge compression "
    "factor, so shards packed by it overflow the model's context window.  "
    "Same plan shape: the BPE count is a per-row codegen projection, then "
    "ONE range shuffle on (source, doc_id) through the hot-source-safe "
    "grouped_cumsum kernel and integer-only arithmetic",
)
def op_pack_sequences_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.expr(SPARK.bpe_token_count("text")).alias("n_tokens")
    )
    c = grouped_cumsum(
        t, "source", F.col("n_tokens"), [F.col("doc_id")], alias="cum"
    )
    b = F.lit(_PACK_BUDGET)
    start_seq = F.expr(f"(cum - n_tokens) DIV {_PACK_BUDGET}")
    end_seq = F.expr(f"(cum - 1) DIV {_PACK_BUDGET}")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        start_seq.alias("start_seq"),
        end_seq.alias("end_seq"),
        (end_seq - start_seq + 1).alias("n_seqs"),
        ((F.col("cum") - F.col("n_tokens")) % b).alias("seq_offset"),
    )


@register(
    "op_contamination_check",
    f"""WITH th AS (
      SELECT doc_id, {DUCK.token_hashes('text')} AS th FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 3
    ), sh AS (
      SELECT doc_id, unnest({DUCK.shingle_hashes('th')}) AS h FROM th
    ),
    eval_sh AS (
      SELECT DISTINCT doc_id AS eval_id, h FROM sh WHERE doc_id % 97 = 0
    ),
    hits AS (
      SELECT t.doc_id, t.h, e.eval_id
      FROM sh t JOIN eval_sh e ON t.h = e.h
      WHERE t.doc_id % 97 <> 0
    )
    SELECT doc_id,
           CAST(count(DISTINCT h) AS BIGINT) AS n_shared_shingles,
           CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
    FROM hits GROUP BY doc_id""",
    doc="benchmark-contamination detection: the held-out eval set "
    "(doc_id % 97 = 0 stand-in) is shingled (3-token rolling hashes, the "
    "portable kernel from functions/text.py) and every training document "
    "sharing at least one shingle is flagged with overlap counts.  The eval "
    "shingle table is broadcast — the corpus side never shuffles, which is "
    "what makes decontamination tractable at 100 TB",
)
def op_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents").filter(
        F.size(F.split(F.lower("text"), " ")) >= 3
    )
    # NO distinct on the corpus side: that would shuffle the whole corpus,
    # and the final count(DISTINCT ...) aggregation dedups anyway — only the
    # (tiny, broadcast) eval side is deduped before the join.
    sh = docs.select(
        "doc_id", F.expr(SPARK.token_hashes("text")).alias("th")
    ).select("doc_id", F.explode(F.expr(SPARK.shingle_hashes("th"))).alias("h"))
    eval_sh = (
        sh.filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("eval_id"), "h")
        .distinct()
    )
    train_sh = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        train_sh.join(F.broadcast(eval_sh), "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


@register(
    "op_text_repetition",
    """WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ), m AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             list_max(list_transform(list_distinct(toks),
               t -> len(list_filter(toks, x -> x = t)))) AS top_n,
             CASE WHEN len(toks) >= 2 THEN
               len(list_distinct(list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i+1])))
             ELSE 0 END AS n_uniq_bigrams
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(top_n AS DOUBLE) / n_tokens AS top_unigram_frac,
           CAST(n_tokens - n_uniq AS DOUBLE) / n_tokens AS dup_unigram_frac,
           CASE WHEN n_tokens >= 2 THEN
             CAST(n_tokens - 1 - n_uniq_bigrams AS DOUBLE) / (n_tokens - 1)
           ELSE CAST(0 AS DOUBLE) END AS dup_bigram_frac
    FROM m""",
    doc="Gopher-style repetition signals per document: most-frequent-token "
    "fraction, duplicate-token fraction, duplicate-bigram fraction — the "
    "standard inputs to repetition quality filters.  Pure higher-order "
    "array expressions (codegen'd, zero shuffle); integer counts divide to "
    "double at the end so both engines emit identical bits",
)
def op_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
    m = t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_uniq"),
        F.expr(_TOP_TOKEN_FREQ).alias("top_n"),
        F.expr(
            "CASE WHEN size(toks) >= 2 THEN"
            " size(array_distinct(transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i+1]))))"
            " ELSE 0 END"
        ).alias("n_uniq_bigrams"),
    )
    n = F.col("n_tokens")
    return m.select(
        "doc_id",
        "n_tokens",
        (F.col("top_n").cast("double") / n).alias("top_unigram_frac"),
        ((n - F.col("n_uniq")).cast("double") / n).alias("dup_unigram_frac"),
        F.when(
            n >= 2,
            (n - 1 - F.col("n_uniq_bigrams")).cast("double") / (n - 1),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


@register(
    "op_corpus_training_shards",
    f"""WITH t AS (
      SELECT doc_id, source, text, string_split(lower(text), ' ') AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, source, text, len(toks) AS n_tokens
      FROM t
      WHERE len(toks) >= 4
        AND 2 * list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) <= len(toks)
        AND doc_id % 97 <> 0
    ), eth AS (
      SELECT {DUCK.token_hashes('text')} AS th FROM documents
      WHERE doc_id % 97 = 0 AND len(string_split(lower(text), ' ')) >= 3
    ), esh AS (
      SELECT DISTINCT unnest({DUCK.shingle_hashes('th')}) AS h FROM eth
    ), tth AS (
      SELECT doc_id, {DUCK.token_hashes('text')} AS th FROM q
    ), tsh AS (
      SELECT doc_id, unnest({DUCK.shingle_hashes('th')}) AS h FROM tth
    ), flagged AS (
      SELECT DISTINCT t.doc_id FROM tsh t JOIN esh USING (h)
    ), clean AS (
      SELECT doc_id, source, n_tokens,
             regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS norm
      FROM q WHERE doc_id NOT IN (SELECT doc_id FROM flagged)
    ), keep AS (
      SELECT min(doc_id) AS doc_id FROM clean GROUP BY norm
    ), dedup AS (
      SELECT c.source, c.n_tokens FROM clean c JOIN keep USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           (CAST(SUM(n_tokens) AS BIGINT) + {_PACK_BUDGET - 1})
             // {_PACK_BUDGET} AS n_seqs
    FROM dedup GROUP BY source""",
    doc="the full corpus-to-training-shards pipeline as ONE declarative "
    "plan: repetition quality gate (integer arithmetic, no float compare) "
    "-> eval-set decontamination (broadcast shingles, corpus never "
    "shuffles) -> exact dedup keep-min -> per-source packed-shard manifest "
    f"(docs, tokens, {_PACK_BUDGET}-token sequences).  Every stage is a "
    "composition of the standalone ops (op_text_repetition, "
    "op_contamination_check, op_dedup_exact, op_pack_sequences); Catalyst "
    "pipelines them without materialization barriers",
)
def op_corpus_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    top_n = F.expr(_TOP_TOKEN_FREQ)
    q = (
        docs.select("doc_id", "source", "text", toks.alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter(
            (F.col("n_tokens") >= 4)
            & (2 * top_n <= F.col("n_tokens"))
            & (F.col("doc_id") % 97 != 0)
        )
        .drop("toks")
    )
    # materialize the gated set ONCE: it feeds both the shingle branch and
    # the dedup branch, and the O(tokens x distinct-tokens) repetition gate
    # would otherwise re-run per branch (no subtree reuse across DataFrame
    # references) — measured ~40% off the op at sf0.1.  In a production
    # pipeline the gated set is a materialized Delta stage (SCALE.md).
    q = shared(q)
    esh = (
        docs.filter(
            (F.col("doc_id") % 97 == 0)
            & (F.size(F.split(F.lower("text"), " ")) >= 3)
        )
        .select(F.expr(SPARK.token_hashes("text")).alias("th"))
        .select(F.explode(F.expr(SPARK.shingle_hashes("th"))).alias("h"))
        .distinct()
    )
    tsh = q.select(
        "doc_id", F.expr(SPARK.token_hashes("text")).alias("th")
    ).select("doc_id", F.explode(F.expr(SPARK.shingle_hashes("th"))).alias("h"))
    flagged = tsh.join(F.broadcast(esh), "h").select("doc_id").distinct()
    clean = q.join(flagged, "doc_id", "anti").select(
        "doc_id",
        "source",
        "n_tokens",
        # explicit class, not \s: Java \s includes \x0b, RE2 \s does not —
        # the class below is identical in both engines (ADVICE r4)
        F.regexp_replace(F.lower("text"), r"[ \t\n\x0b\f\r]+", " ").alias("norm"),
    )
    keep = clean.groupBy("norm").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    dedup = clean.join(keep, "doc_id", "semi")
    return dedup.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        # integer DIV, not float /: matches the oracle's BIGINT // exactly
        # for any _PACK_BUDGET, not just powers of two (ADVICE r4)
        F.expr(
            f"(CAST(sum(n_tokens) AS BIGINT) + {_PACK_BUDGET - 1}) DIV {_PACK_BUDGET}"
        ).alias("n_seqs"),
    )


def _norm_text(dialect_spark: bool) -> str:
    # whitespace-normalized lowercased text, identical in both dialects.
    # Explicit character class instead of \s: Java regex \s includes
    # vertical tab \x0b, RE2 \s does not (ADVICE r4).  Spark SQL string
    # literals unescape backslashes once, DuckDB literals do not — hence
    # the doubled backslashes on the Spark side only.
    if dialect_spark:
        return "regexp_replace(lower(text), '[ \\\\t\\\\n\\\\x0b\\\\f\\\\r]+', ' ')"
    return "regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')"


@register(
    "op_stream_corpus_ingest",
    f"""WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks, text
      FROM documents
    ), q AS (
      SELECT text FROM t
      WHERE len(toks) >= 4
        AND 2 * list_max(list_transform(list_distinct(toks),
              w -> len(list_filter(toks, x -> x = w)))) <= len(toks)
    )
    SELECT DISTINCT {DUCK.char_hash(_norm_text(False))} AS fingerprint
    FROM q""",
    doc="continuous corpus ingestion as a streaming query: documents replay "
    "through an on-the-fly repetition quality gate, then streaming exact "
    "dedup keyed on the portable content fingerprint (rolling hash of the "
    "normalized text) — dropDuplicates keyed state across micro-batches, "
    "the LLM-corpus twin of op_stream_dedup_keys.  Emitting just the "
    "fingerprint keys makes the drained result deterministic; at 100 TB "
    "this is the ingest-time dedup that keeps exact-duplicate pages from "
    "ever landing in the corpus store",
)
def op_stream_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from daq_3i_spark.sources.tables import pin_utc
    from daq_3i_spark.streaming.drain import drain

    pin_utc(spark)
    from daq_3i_spark.sources.tables import load_table

    schema = load_table(spark, sf_dir, "documents").schema
    raw = spark.readStream.schema(schema).parquet(
        os.path.join(sf_dir, "documents.parque[t]")
    )
    toks = F.split(F.lower("text"), " ")
    top_n = F.expr(_TOP_TOKEN_FREQ)
    # fan the per-document kernels out BEFORE the quality gate: the local
    # single-row-group file gives the streaming scan ONE split, so the
    # repetition HOF + rolling char hash would run serially on one core
    # (the load_spread artifact, streaming form — measured 26 s at sf0.1
    # and minutes at sf1 without this; a production multi-file feed
    # parallelizes at the source and the exchange is a no-op cost-wise)
    spread = raw.repartition(spark.sparkContext.defaultParallelism)
    gated = (
        spread.select("text", toks.alias("toks"))
        .withColumn("n_tokens", F.size("toks"))
        .filter((F.col("n_tokens") >= 4) & (2 * top_n <= F.col("n_tokens")))
        .select(F.expr(SPARK.char_hash(_norm_text(True))).alias("fingerprint"))
    )
    fingerprints, _ = drain(gated.dropDuplicates(["fingerprint"]))
    return fingerprints


# --- chunk-granularity exact-substring dedup ---------------------------------

#: passage granularity: non-overlapping 16-token chunks.  RefinedWeb /
#: MassiveText dedup removes repeated PASSAGES across documents, not just
#: whole-document duplicates; fixed-boundary chunks are the shuffle-friendly
#: realization (a suffix-array substring dedup has no distributed plan).
_SUBSTR_CHUNK = 16
#: composite first-occurrence key: doc_id * 2^20 + chunk_id.  chunk_id is
#: bounded by ceil(100/16) = 7 on the shipped corpus and < 2^20 for any
#: document under ~16M tokens, so the key is collision-free and orders by
#: (doc_id, chunk_id) lexicographically — "first occurrence" is well defined
#: corpus-wide and engine-independent.  The oracle's chunk fan-out series
#: bound is derived from the corpus itself (max-token CTE), so a testdata
#: regeneration with longer documents cannot silently diverge from the
#: Spark side's unbounded sequence(1, ceil(n/16)).
_SUBSTR_KEY_BASE = 1 << 20


@register(
    "op_dedup_substring",
    f"""WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks,
             len(string_split(lower(text), ' ')) AS n
      FROM documents
    ), mx AS (
      SELECT CAST(ceil(max(n) / {_SUBSTR_CHUNK}.0) AS BIGINT) AS kmax FROM t
    ), ch AS (
      SELECT doc_id, k - 1 AS chunk_id,
             array_to_string(
               toks[(k-1)*{_SUBSTR_CHUNK}+1 : (k-1)*{_SUBSTR_CHUNK}+{_SUBSTR_CHUNK}],
               ' ') AS chunk_text
      FROM t CROSS JOIN (SELECT unnest(generate_series(1, (SELECT kmax FROM mx)))
                         AS k) u
      WHERE k <= CAST(ceil(n / {_SUBSTR_CHUNK}.0) AS BIGINT)
    ), ann AS (
      SELECT doc_id, chunk_id, chunk_text,
             doc_id * {_SUBSTR_KEY_BASE} + chunk_id AS key,
             min(doc_id * {_SUBSTR_KEY_BASE} + chunk_id)
               OVER (PARTITION BY md5(chunk_text)) AS fk
      FROM ch
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN key = fk THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN key = fk THEN chunk_text END,
                                   ' ' ORDER BY chunk_id), '')) AS clean_md5
    FROM ann GROUP BY doc_id""",
    doc="exact-substring dedup at passage granularity (RefinedWeb-style): "
    "documents are cut into non-overlapping 16-token chunks, every chunk "
    "text seen before (first occurrence = smallest (doc_id, chunk_id) "
    "corpus-wide) is dropped, and each document is rebuilt from its "
    "surviving chunks in order — surfaced as kept/total counts plus the md5 "
    "of the rebuilt text so the full reconstruction is hash-verified "
    "without shipping document bodies through the driver.  First-occurrence "
    "marking is a map-side-combined min-key AGGREGATE on the chunk hash "
    "joined back (AQE skew-join splits a viral boilerplate chunk; a "
    "Window.partitionBy(md5(chunk)) would single-task it), then a doc_id "
    "re-group for reassembly",
)
def op_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    t = docs.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    ch = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"sequence(1, CAST(ceil(n / {_SUBSTR_CHUNK}.0) AS INT))")
        ).alias("k"),
    ).select(
        "doc_id",
        (F.col("k") - 1).alias("chunk_id"),
        F.array_join(
            F.slice("toks", (F.col("k") - 1) * _SUBSTR_CHUNK + 1, _SUBSTR_CHUNK), " "
        ).alias("chunk_text"),
    )
    key = (F.col("doc_id") * _SUBSTR_KEY_BASE + F.col("chunk_id")).alias("key")
    # first-occurrence marking as a map-side-combined AGGREGATE + equi join,
    # not Window.partitionBy(md5(chunk)): a viral chunk (one boilerplate
    # paragraph duplicated across most of a web corpus) makes a single md5
    # key hold most of the table — a window plans one unsplittable task for
    # it, while the aggregate pre-reduces per input partition and AQE's
    # skew-join splits the oversized probe partition.  Identical fk values.
    hashed = shared(
        ch.select(
            "doc_id", "chunk_id", "chunk_text", key,
            F.md5("chunk_text").alias("h"),
        )
    )
    firsts = hashed.groupBy("h").agg(F.min("key").alias("fk"))
    ann = hashed.join(firsts, "h")
    kept = F.col("key") == F.col("fk")
    kept_struct = F.when(kept, F.struct("chunk_id", "chunk_text"))
    return ann.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["chunk_text"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )


# --- token-budget mixture sampling -------------------------------------------

#: per-source token budget for the sampled training mixture.  A fixed budget
#: (not a fraction) is the real-world shape: mixture specs say "20B tokens of
#: web, 5B of code", and the sampler must pick a reproducible subset of each
#: source that fills its budget.
_MIX_BUDGET = 3_000
#: deterministic shuffle order: an LCG mix of doc_id (plain BIGINT arithmetic,
#: identical in both engines; doc_id ties broken by doc_id itself).  Hash
#: order makes the selection a uniform sample that is stable across runs,
#: engines, and cluster sizes — rerunning the pipeline on the same corpus
#: always picks the same documents.
from daq_3i_spark.functions.numeric import (  # noqa: E402
    lcg_coin as _lcg_coin,
    lcg_coin_sql as _lcg_coin_sql,
)


@register(
    "op_corpus_budget_sample",
    f"""WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
             {_lcg_coin_sql('doc_id')} AS h
      FROM documents
    ), w AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens,
             CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS BIGINT) AS sample_rank
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens, sample_rank
    FROM w WHERE cum_tokens - n_tokens < {_MIX_BUDGET}""",
    doc="training-mixture sampling under a per-source token budget: documents "
    "are ordered by a portable LCG hash of doc_id (a reproducible shuffle), "
    "a running token sum fills each source's budget greedily, and a document "
    "is selected iff it starts before the budget is exhausted — so the "
    "manifest is deterministic across runs, engines, and cluster sizes.  One "
    "RANGE shuffle on (source, h, doc_id) through the hot-source-safe "
    "grouped_cumsum kernel (running sum + sample rank in the same pass, "
    "per-source offset rollup <= P rows); a dominant source spans many "
    "tasks instead of one window task",
)
def op_corpus_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower("text"), " ")).cast("bigint").alias("n_tokens"),
        _lcg_coin(F.col("doc_id")).alias("h"),
    )
    c = grouped_cumsum(
        t,
        "source",
        F.col("n_tokens"),
        [F.col("h"), F.col("doc_id")],
        alias="cum_tokens",
        rn_alias="sample_rank",
    )
    return (
        c.select("doc_id", "source", "n_tokens", "cum_tokens", "sample_rank")
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _MIX_BUDGET)
    )


@register(
    "op_corpus_dedup_sample",
    f"""WITH t AS (
      SELECT doc_id, source, string_split(lower(text), ' ') AS toks,
             len(string_split(lower(text), ' ')) AS n
      FROM documents
    ), mx AS (
      SELECT CAST(ceil(max(n) / {_SUBSTR_CHUNK}.0) AS BIGINT) AS kmax FROM t
    ), ch AS (
      SELECT doc_id, source, k - 1 AS chunk_id,
             toks[(k-1)*{_SUBSTR_CHUNK}+1 : (k-1)*{_SUBSTR_CHUNK}+{_SUBSTR_CHUNK}]
               AS chunk
      FROM t CROSS JOIN (SELECT unnest(generate_series(1, (SELECT kmax FROM mx)))
                         AS k) u
      WHERE k <= CAST(ceil(n / {_SUBSTR_CHUNK}.0) AS BIGINT)
    ), ann AS (
      SELECT doc_id, source, chunk,
             doc_id * {_SUBSTR_KEY_BASE} + chunk_id AS key,
             min(doc_id * {_SUBSTR_KEY_BASE} + chunk_id)
               OVER (PARTITION BY md5(array_to_string(chunk, ' '))) AS fk
      FROM ch
    ), deduped AS (
      SELECT doc_id, source,
             CAST(SUM(CASE WHEN key = fk THEN len(chunk) ELSE 0 END) AS BIGINT)
               AS n_tokens
      FROM ann GROUP BY doc_id, source
    ), live AS (
      SELECT doc_id, source, n_tokens,
             {_lcg_coin_sql('doc_id')} AS h
      FROM deduped WHERE n_tokens > 0
    )
    SELECT doc_id, source, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens,
           CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
             AS BIGINT) AS sample_rank
    FROM live
    QUALIFY cum_tokens - n_tokens < {_MIX_BUDGET}""",
    doc="curation composite in the REAL order — dedup first, then sample: "
    "passage-level substring dedup rewrites every document's token count to "
    "its surviving chunks only, documents deduplicated to nothing drop out, "
    "and the per-source token budget fills over POST-dedup counts (sampling "
    "before dedup would overcount duplicated passages against the budget).  "
    "One declarative plan: viral-chunk-safe min-key aggregate + join "
    "(never a chunk-hash window) -> doc regroup -> the hot-source-safe "
    "grouped_cumsum running sum — every stage inherits the standalone "
    "kernels' skew mitigations",
)
def op_corpus_dedup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    toks = F.split(F.lower("text"), " ")
    t = docs.select("doc_id", "source", toks.alias("toks"), F.size(toks).alias("n"))
    ch = t.select(
        "doc_id",
        "source",
        "toks",
        F.explode(
            F.expr(f"sequence(1, CAST(ceil(n / {_SUBSTR_CHUNK}.0) AS INT))")
        ).alias("k"),
    ).select(
        "doc_id",
        "source",
        (F.col("k") - 1).alias("chunk_id"),
        F.slice("toks", (F.col("k") - 1) * _SUBSTR_CHUNK + 1, _SUBSTR_CHUNK).alias(
            "chunk"
        ),
    )
    key = (F.col("doc_id") * _SUBSTR_KEY_BASE + F.col("chunk_id")).alias("key")
    # same viral-chunk-safe first-occurrence kernel as op_dedup_substring:
    # map-side-combined min aggregate + AQE-skew-splittable equi join, never
    # an unsplittable Window.partitionBy(md5(chunk))
    hashed = shared(
        ch.select(
            "doc_id", "source", "chunk", key,
            F.md5(F.array_join("chunk", " ")).alias("ch_h"),
        )
    )
    firsts = hashed.groupBy("ch_h").agg(F.min("key").alias("fk"))
    ann = hashed.join(firsts, "ch_h")
    deduped = ann.groupBy("doc_id", "source").agg(
        F.sum(
            F.when(F.col("key") == F.col("fk"), F.size("chunk")).otherwise(0)
        )
        .cast("bigint")
        .alias("n_tokens")
    )
    live = deduped.filter(F.col("n_tokens") > 0).withColumn(
        "h", _lcg_coin(F.col("doc_id"))
    )
    c = grouped_cumsum(
        live,
        "source",
        F.col("n_tokens"),
        [F.col("h"), F.col("doc_id")],
        alias="cum_tokens",
        rn_alias="sample_rank",
    )
    return (
        c.select("doc_id", "source", "n_tokens", "cum_tokens", "sample_rank")
        .filter(F.col("cum_tokens") - F.col("n_tokens") < _MIX_BUDGET)
    )


# --- incremental dedup: new batch vs accumulated corpus ----------------------
#
# The shape a 100 TB ingest pipeline actually runs: the corpus is already
# deduped and FINGERPRINTED (a narrow hash / band-signature index table,
# maintained incrementally); each arriving batch dedups (a) within itself
# and (b) against the index — history is never re-paired against itself.
# Here "history" is the even-doc_id half of documents and the "batch" the
# odd half (a deterministic split both engines compute identically); at
# scale the history side is the materialized index, so per-batch work is
# O(batch + matched buckets), independent of corpus size.


@register(
    "op_dedup_incremental",
    """WITH n AS (
      SELECT doc_id,
             md5(regexp_replace(lower(text), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM n WHERE doc_id % 2 = 0),
    batch AS (SELECT * FROM n WHERE doc_id % 2 = 1),
    k AS (
      SELECT min(doc_id) AS doc_id FROM batch b
      WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = b.fp)
      GROUP BY fp
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN k USING (doc_id)""",
    doc="incremental EXACT dedup of an arriving batch against the corpus "
    "fingerprint index: fp = md5(whitespace-normalized lowercased text); "
    "batch docs drop when their fp exists in history, and within the batch "
    "only the min doc_id per fp survives (same keep rule as op_dedup_exact)."
    "  Plan: one map-side fp projection of the batch, a group-by-min for "
    "in-batch dedup, and an anti-join against the history fp set — all "
    "shuffles carry 32-byte hashes and longs, never text.  At 100 TB the "
    "history side is the maintained index table (hash-bucketed so the "
    "anti-join co-locates); per-batch cost does not grow with corpus size",
)
def op_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower("text"), r"[ \t\n\x0b\f\r]+", " "))
    n = docs.select("doc_id", fp.alias("fp"))
    hist_fp = n.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).select("fp").distinct()
    batch = n.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)
    keep = (
        batch.join(hist_fp, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(keep, "doc_id", "semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "op_dedup_minhash_incremental",
    None,  # oracle assigned below to reuse extension_ops._duck_sig_cte
    doc="incremental NEAR-dup detection of an arriving batch against the "
    "corpus band index: the batch's MinHash band hashes join history's "
    "banded signatures on (band_idx, band_val) — candidate pairs are "
    "(history doc, batch doc) only, never history x history, and each "
    "survives the signature-estimated Jaccard >= 0.5 verify exactly as in "
    "op_dedup_minhash.  At 100 TB the history bands are the maintained "
    "index (partitioned by band key, so the batch probe co-locates) and "
    "the per-bucket cap of op_dedup_minhash_capped applies unchanged when "
    "a batch lands on a viral bucket; per-batch pair work is bounded by "
    "batch bands x matched-bucket occupancy, independent of corpus size",
)
def op_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.plans.extension_ops import _spark_sigs_of

    sigs = _spark_sigs_of(load_spread(spark, sf_dir, "documents"))
    bands = shared(
        sigs.select(
            "doc_id", "sig",
            F.posexplode(F.expr(SPARK.band_hashes("sig"))).alias(
                "band_idx", "band_val"
            ),
        )
    )  # one signature-chain run feeds both sides
    hist = bands.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0).alias("h")
    batch = bands.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1).alias("b")
    return (
        hist.join(
            batch,
            (F.col("h.band_idx") == F.col("b.band_idx"))
            & (F.col("h.band_val") == F.col("b.band_val")),
        )
        .select(
            F.col("h.doc_id").alias("doc_hist"),
            F.col("b.doc_id").alias("doc_new"),
            F.col("h.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .dropDuplicates(["doc_hist", "doc_new"])
        .withColumn("est_sim", F.expr(SPARK.sig_match_frac("sa", "sb")))
        .filter(F.col("est_sim") >= 0.5)
        .select("doc_hist", "doc_new", "est_sim")
    )


def _attach_minhash_incremental_oracle() -> None:
    from daq_3i_spark.plans.extension_ops import _duck_sig_cte
    from daq_3i_spark.plans.registry import QUERIES

    import dataclasses

    QUERIES["op_dedup_minhash_incremental"] = dataclasses.replace(
        QUERIES["op_dedup_minhash_incremental"],
        oracle=f"""WITH {_duck_sig_cte()},
    pairs AS (
      SELECT DISTINCT h.doc_id AS doc_hist, b.doc_id AS doc_new,
             h.sig AS sa, b.sig AS sb
      FROM bands h JOIN bands b
        ON h.band_idx = b.band_idx AND h.band_val = b.band_val
       AND h.doc_id % 2 = 0 AND b.doc_id % 2 = 1
    )
    SELECT doc_hist, doc_new, {DUCK.sig_match_frac('sa', 'sb')} AS est_sim
    FROM pairs
    WHERE {DUCK.sig_match_frac('sa', 'sb')} >= 0.5"""
    )


_attach_minhash_incremental_oracle()


@register(
    "op_stream_dedup_ingest",
    None,  # oracle assigned below (reuses extension_ops._duck_sig_cte)
    doc="streaming NEAR-dup ingest — the production run-shape of "
    "op_dedup_minhash_incremental: documents arrive in 4 deterministic "
    "micro-batches (doc_id mod 4, mtime-ordered feed files) and a "
    "foreachBatch sink probes each batch's MinHash bands against the "
    "accumulated band INDEX of every previously-seen doc, plus "
    "earlier-in-batch docs; a doc is admitted iff no signature-verified "
    "Jaccard >= 0.5 collision with anything before it in arrival order.  "
    "The index grows by appending the batch's bands (merge = append, no "
    "rebuild); the oracle replays the same admission rule as one SQL "
    "window over arrival order (doc_id mod 4, doc_id) — hash-proving the "
    "incremental index probe equals the batch computation.  At 100 TB the "
    "index is a band-key-partitioned table and each ingest batch's probe "
    "cost is batch-bands x matched-bucket occupancy, independent of "
    "corpus size",
)
def op_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    from daq_3i_spark.plans.extension_ops import _spark_sigs_of
    from daq_3i_spark.plans.streaming_ops import (
        _cached_feed,
        _sf_feed_key,
        _workdir,
    )
    from daq_3i_spark.sources.tables import pin_utc
    from daq_3i_spark.streaming.drain import drain, feed_stream

    pin_utc(spark)
    work = _workdir("op_stream_dedup_ingest")

    def build(feed: str) -> None:
        docs = load_spread(spark, sf_dir, "documents").persist()
        docs.count()

        def write_slice(k: int) -> str:
            tmp = os.path.join(work, f"tmp{k}")
            docs.filter(
                F.pmod(F.col("doc_id"), F.lit(4)) == k
            ).coalesce(1).write.parquet(tmp)
            return tmp

        with ThreadPoolExecutor(max_workers=4) as pool:
            tmps = list(pool.map(write_slice, range(4)))
        docs.unpersist()
        for k, tmp in enumerate(tmps):
            part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
            dst = os.path.join(feed, f"slice_{k}.parquet")
            shutil.move(os.path.join(tmp, part), dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))

    feed = _cached_feed(_sf_feed_key("doc_slices", sf_dir), build)

    index_dir = os.path.join(work, "band_index")
    admitted_dir = os.path.join(work, "admitted")
    band_match_sim = F.expr(SPARK.sig_match_frac("sa", "sb")) >= 0.5

    def handle(batch: DataFrame, batch_id: int) -> None:
        from daq_3i_spark.sources.tables import spread

        # fan the batch out BEFORE the MinHash kernel (r18): the one-file-
        # per-trigger replay delivers each micro-batch as a SINGLE partition,
        # so the per-character hashing chain ran on one core — measured 2.4 s
        # vs 0.8 s per sf1 batch against the spread form (the load_spread /
        # persist_batch convention; guide §2.5 input skew).  On a real multi-
        # file source the batch arrives already spread and this is one cheap
        # round-robin exchange of raw docs.
        bands_b = (
            _spark_sigs_of(spread(batch))
            .select(
                "doc_id", "sig",
                F.posexplode(F.expr(SPARK.band_hashes("sig"))).alias(
                    "band_idx", "band_val"
                ),
            )
            .localCheckpoint(eager=True)  # one sig-chain run, four consumers
        )
        dup_sets = []
        if os.path.isdir(index_dir):
            prior = spark.read.parquet(index_dir)
            dup_sets.append(
                prior.alias("a")
                .join(
                    bands_b.alias("b"),
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.band_val") == F.col("b.band_val")),
                )
                .select(
                    F.col("a.sig").alias("sa"),
                    F.col("b.sig").alias("sb"),
                    F.col("b.doc_id").alias("doc_id"),
                )
                .filter(band_match_sim)
                .select("doc_id")
            )
        dup_sets.append(
            bands_b.alias("a")
            .join(
                bands_b.alias("b"),
                (F.col("a.band_idx") == F.col("b.band_idx"))
                & (F.col("a.band_val") == F.col("b.band_val"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.sig").alias("sa"),
                F.col("b.sig").alias("sb"),
                F.col("b.doc_id").alias("doc_id"),
            )
            .filter(band_match_sim)
            .select("doc_id")
        )
        dups = dup_sets[0]
        for d in dup_sets[1:]:
            dups = dups.unionByName(d)
        admitted = batch.join(dups.distinct(), "doc_id", "left_anti").select(
            "doc_id", "lang", "n_chars"
        )
        admitted.write.mode("append").parquet(admitted_dir)
        bands_b.write.mode("append").parquet(index_dir)

    drain(feed_stream(spark, feed), handle, partitions=8)
    return spark.read.parquet(admitted_dir)


def _attach_stream_dedup_ingest_oracle() -> None:
    import dataclasses

    from daq_3i_spark.plans.extension_ops import _duck_sig_cte
    from daq_3i_spark.plans.registry import QUERIES

    QUERIES["op_stream_dedup_ingest"] = dataclasses.replace(
        QUERIES["op_stream_dedup_ingest"],
        oracle=f"""WITH {_duck_sig_cte()},
    dup AS (
      SELECT DISTINCT b.doc_id AS doc_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND (a.doc_id % 4 < b.doc_id % 4
            OR (a.doc_id % 4 = b.doc_id % 4 AND a.doc_id < b.doc_id))
      WHERE {DUCK.sig_match_frac('a.sig', 'b.sig')} >= 0.5
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dup)""",
    )


_attach_stream_dedup_ingest_oracle()


@register(
    "op_corpus_split",
    """SELECT doc_id, source, n_chars,
       CASE
         WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test'
       END AS split
    FROM (
      SELECT doc_id, source, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 10 AS b
      FROM documents
    ) t""",
    doc="deterministic train/val/test split (80/10/10) of the corpus by a "
    "portable content-independent hash of the doc key: bucket = first 32 "
    "bits of md5(doc_id) mod 10 — the same doc lands in the same split on "
    "every engine, cluster size, and rerun (a rand()-based split is not "
    "reproducible and a mod-on-id split inherits id assignment patterns)."
    "  Pure codegen projection, no shuffle; at 100 TB the split column is "
    "computed at scan time and feeds partitioned writes per split",
)
def op_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_spread(spark, sf_dir, "documents")
    b = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint"),
        F.lit(10),
    )
    split = F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    return docs.select("doc_id", "source", "n_chars", split.alias("split"))


# --- DSIR-style importance weighting ------------------------------------------

#: hashed-feature buckets for the importance estimator (DSIR keeps this small
#: — the estimate is a bucket-frequency ratio, not a language model)
_DSIR_BUCKETS = 256
#: target-domain proxy: the curated source whose distribution the selection
#: should match (DSIR's "target = formal text" role)
_DSIR_TARGET = "src0"
#: per-feature importance-ratio clip, in 1e-6 fixed-point units (ratio <=
#: 1e6).  DSIR implementations clip importance weights anyway (a rare bucket
#: dominating the product is estimator noise); here the clip also bounds the
#: per-doc int64 sum: term <= 1e12, so overflow needs > 9.2e6 bigrams in ONE
#: document
_DSIR_CLIP = 1_000_000_000_000

_DSIR_RATIO = (
    "(CAST(p_cnt AS DOUBLE) * CAST(q_tot AS DOUBLE))"
    " / (CAST(q_cnt AS DOUBLE) * CAST(p_tot AS DOUBLE))"
)
# clip BEFORE the BIGINT cast (as doubles): floor(least(x, C)) ==
# least(floor(x), C) for integer C, and the cast can then never overflow no
# matter how extreme the bucket skew gets
_DSIR_SCALED = (
    f"CAST(FLOOR(least(({_DSIR_RATIO}) * 1e6 + 0.5, "
    f"CAST({_DSIR_CLIP} AS DOUBLE))) AS BIGINT)"
)


# the shared scored-corpus sub-plan (oracle side): every DSIR op selects
# from `scored` — one text, two consumers, parity by construction
_DSIR_SCORED_CTE = f"""th AS (
      SELECT doc_id, source, {DUCK.token_hashes('text')} AS th FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ), feats AS (
      SELECT doc_id, source, h % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, source, unnest({DUCK.shingle_hashes('th', 2)}) AS h
            FROM th)
    ), dim AS (
      SELECT bucket,
             SUM(CASE WHEN source = '{_DSIR_TARGET}' THEN 1 ELSE 0 END) + 1 AS p_cnt,
             COUNT(*) + 1 AS q_cnt
      FROM feats GROUP BY bucket
    ), tot AS (
      SELECT SUM(p_cnt) AS p_tot, SUM(q_cnt) AS q_tot FROM dim
    ), rdim AS (
      SELECT bucket, {_DSIR_SCALED} AS s
      FROM dim CROSS JOIN tot
    ), scored AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_feats,
             CAST(SUM(r.s) AS DOUBLE) / 1e6 / CAST(COUNT(*) AS DOUBLE) AS dsir_score
      FROM feats f JOIN rdim r ON f.bucket = r.bucket
      GROUP BY f.doc_id
    )"""


def _dsir_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_feats, dsir_score) — the Spark twin of _DSIR_SCORED_CTE."""
    docs = load_spread(spark, sf_dir, "documents").filter(
        F.size(F.split(F.lower("text"), " ")) >= 2
    )
    feats = (
        docs.select(
            "doc_id", "source", F.expr(SPARK.token_hashes("text")).alias("th")
        )
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(SPARK.shingle_hashes("th", 2))).alias("h"),
        )
        .select("doc_id", "source", (F.col("h") % _DSIR_BUCKETS).alias("bucket"))
    )
    dim = feats.groupBy("bucket").agg(
        (
            F.sum(F.when(F.col("source") == _DSIR_TARGET, 1).otherwise(0)) + 1
        ).alias("p_cnt"),
        (F.count("*") + 1).alias("q_cnt"),
    )
    tot = dim.agg(
        F.sum("p_cnt").alias("p_tot"), F.sum("q_cnt").alias("q_tot")
    )
    rdim = dim.crossJoin(F.broadcast(tot)).select(
        "bucket", F.expr(_DSIR_SCALED).alias("s")
    )
    return (
        feats.join(F.broadcast(rdim), "bucket")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_feats"), F.sum("s").alias("raw"))
        .select(
            "doc_id",
            "n_feats",
            F.expr(
                "CAST(raw AS DOUBLE) / 1e6 / CAST(n_feats AS DOUBLE)"
            ).alias("dsir_score"),
        )
    )


@register(
    "op_corpus_dsir_weights",
    f"""WITH {_DSIR_SCORED_CTE}
    SELECT doc_id, n_feats, dsir_score FROM scored""",
    doc="DSIR-style importance weight per document (Xie et al. 2023, 'Data "
    "Selection for Language Models via Importance Resampling'): hashed "
    f"word-bigram features into {_DSIR_BUCKETS} buckets (the portable "
    "rolling-hash kernel), per-bucket importance ratio p_hat/q_hat between "
    f"the target source '{_DSIR_TARGET}' (add-one smoothed) and the whole "
    "corpus, and the per-doc mean ratio over its bigrams as the selection "
    "score.  Cross-engine exact WITHOUT log(): each bucket ratio is a "
    "correctly-rounded double rounded to 1e-6 fixed point and clipped, so "
    "per-doc sums are order-free integer arithmetic (the registry's BM25/"
    "TF-IDF rational-arithmetic convention).  Scale shape: two corpus "
    f"passes — one groupBy(bucket) collapsing to <= {_DSIR_BUCKETS} rows "
    "per partition map-side, then a broadcast of the ratio dim back over "
    "the feature stream with groupBy(doc_id) partials (explode preserves "
    "doc locality, so each doc collapses to one row before the shuffle).  "
    "No collect, no window, no all-pairs anything",
)
def op_corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _dsir_scored(spark, sf_dir)


@register(
    "op_corpus_dsir_select",
    f"""WITH {_DSIR_SCORED_CTE},
    m AS (SELECT max(dsir_score) AS mx FROM scored)
    SELECT doc_id, n_feats, dsir_score
    FROM scored CROSS JOIN m
    WHERE ({_lcg_coin_sql('doc_id')}) % 1000000
          < CAST(FLOOR(dsir_score / mx * 1e6) AS BIGINT)""",
    doc="the DSIR resampling step over op_corpus_dsir_weights' scores: keep "
    "each document with probability dsir_score/max(dsir_score) — "
    "importance-proportional Bernoulli selection using the portable LCG "
    "coin against a per-document threshold (the op_sample_weighted "
    "convention), so the selected manifest is reproducible across runs/"
    "engines/cluster sizes and monotone in the weight.  The threshold is "
    "floor((score/max)*1e6): both operands are the same correctly-rounded "
    "doubles in both engines, so the integer comparison is exact.  Scale "
    "shape: the one-row max rides as a broadcast crossJoin and the filter "
    "is pure codegen; the scored sub-plan feeds two consumers and is "
    "lazily cached (cache.shared) so it derives exactly once — a "
    "production deployment materializes op_corpus_dsir_weights' output "
    "once and runs selection over the stored table (this op composes the "
    "two stages declaratively for the single-query surface)",
)
def op_corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the scored sub-plan (two corpus passes + a broadcast join) feeds BOTH
    # the one-row max aggregate and the filtered scan — without the shared
    # cache the whole derivation executes once per consumer (two extra full
    # corpus passes at 100 TB; VERDICT r9 #2)
    scored = shared(_dsir_scored(spark, sf_dir))
    m = scored.agg(F.max("dsir_score").alias("mx"))
    coin = _lcg_coin(F.col("doc_id"))
    return (
        scored.crossJoin(F.broadcast(m))
        .filter(
            (coin % 1_000_000)
            < F.expr("CAST(FLOOR(dsir_score / mx * 1e6) AS BIGINT)")
        )
        .select("doc_id", "n_feats", "dsir_score")
    )


# ---------------------------------------------------------------------------
# curriculum staging: order the corpus by difficulty for staged training
# ---------------------------------------------------------------------------


@register(
    "op_corpus_curriculum",
    """SELECT doc_id, n_chars,
           CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS stage
    FROM documents""",
    doc="curriculum staging: every document assigned to one of 4 stages by "
    "length rank (short -> long, the classic sequence-length curriculum; "
    "swap the order column for a quality or LM score to get "
    "quality-staged training) with EXACT SQL ntile semantics over a "
    "total (n_chars, doc_id) order — reproducible across runs and "
    "cluster sizes where a sampled sort is not.  Plan: "
    "operators/ranks.py global_ntile — range repartition + per-"
    "partition rank + P-row offsets broadcast, never the "
    "single-partition global window (the op_events_rfm/op_text_vocab "
    "machinery, window-equivalence pinned in tests/test_ranks.py); at "
    "1e10 documents the stage assignment is still one data-sized "
    "range shuffle",
)
def op_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from daq_3i_spark.operators.ranks import global_ntile

    docs = load_spread(spark, sf_dir, "documents").select("doc_id", "n_chars")
    staged = global_ntile(docs, 4, [F.asc("n_chars"), F.asc("doc_id")], "stage")
    return staged.select(
        "doc_id", "n_chars", F.col("stage").cast("bigint").alias("stage")
    )
