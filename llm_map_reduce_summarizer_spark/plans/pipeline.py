"""Reference-parity pipeline queries (SURVEY.md §2.1).

The transcript input for the correctness gate is derived
deterministically from the ``documents`` table: each doc becomes one
segment (start = doc_id * 30 s, duration = n_chars / 16 s — a power-of-
two divisor so every timestamp is an exact double and both engines'
floating-point arithmetic is bit-identical). Speakers are the doc
sources, so consecutive same-source docs exercise the merge operator.

Oracle SQL twins are composed from shared CTE fragments that mirror
each operator step 1:1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    SQL_CLEAN,
    SQL_DEDUP_WORDS,
    SQL_FMT_TS,
    SQL_TOKEN_COUNT,
    format_timestamp,
    quantize,
    token_count,
)
from ..operators.aggregator import (
    reduce_auto,
    reduce_direct,
    reduce_level,
    with_time_headers,
)
from ..operators.chunker import (
    assign_chunks,
    assign_chunks_greedy,
    chunk_stats,
    chunk_texts,
    position_pct,
    split_oversized,
)
from ..operators.executor import extractive_summary, summarize_chunks
from ..operators.providers import (
    BASE_COMPLETION_RATE,
    BASE_PROMPT_RATE,
    token_rates,
)
from ..operators.preprocess import (
    aggregate_by_interval,
    merge_same_speaker,
    preprocess_segments,
)
from ..sources.tables import load_table

MAX_SEGMENT_DURATION = 120.0
INTERVAL_SECONDS = 300.0
MAX_TOKENS_PER_CHUNK = 500
BATCH_SIZE = 10


def derive_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread: the pipeline funnels into global-order single-
    # partition windows right after cleaning, and the many small
    # stages lose more to 32-way per-task overhead than the parallel
    # regex pass saves (measured +0.52 s on pipeline_e2e at sf0.1)
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").rlike(r"\S")).select(
        F.col("doc_id").alias("seg_id"),
        (F.col("doc_id") * 30.0).alias("start"),
        (F.col("doc_id") * 30.0 + F.col("n_chars") / 16.0).alias("end"),
        F.col("source").alias("speaker"),
        F.col("text"),
    )


def _segments_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return preprocess_segments(derive_segments(spark, sf_dir))


def _chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return assign_chunks(_segments_clean(spark, sf_dir), MAX_TOKENS_PER_CHUNK)


def _times_fmt() -> list:
    """The 'MM:SS' / 'HH:MM:SS' start and end of each row."""
    return [
        format_timestamp(F.col("start")).alias("start_fmt"),
        format_timestamp(F.col("end")).alias("end_fmt"),
    ]


# --------------------------------------------------------------- queries


def seg_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _segments_clean(spark, sf_dir).select(
        "seg_id", "speaker", *_times_fmt(), "text"
    )


def seg_clean_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity clean incl. the reference's repeated-word removal
    (preprocessor.py:84 backreference rule — the reference applies it
    ALWAYS). Rows-only check: `\\b(\\w+)( \\1\\b)+` needs Java regex;
    RE2-based oracles cannot express it, which is exactly why the
    oracle-checked `seg_clean` uses the RE2-safe subset.
    """
    return preprocess_segments(
        derive_segments(spark, sf_dir), full_fidelity=True
    ).select("seg_id", "speaker", *_times_fmt(), "text")


def seg_merge_speaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = merge_same_speaker(
        _segments_clean(spark, sf_dir), MAX_SEGMENT_DURATION
    )
    return merged.select(
        "group_id",
        "speaker",
        F.col("start").alias("start_s"),
        F.col("end").alias("end_s"),
        "n_segments",
        "text",
        *_times_fmt(),
    )


def seg_interval_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = aggregate_by_interval(
        _segments_clean(spark, sf_dir), INTERVAL_SECONDS
    )
    return agg.select(
        "interval_index",
        "interval_start",
        "interval_end",
        "n_segments",
        "speakers",
        "text",
    )


def chunk_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _chunked(spark, sf_dir).select("seg_id", "chunk_id", "n_tokens")


def chunk_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_stats(_chunked(spark, sf_dir)).select(
        "chunk_id",
        "start_time",
        "end_time",
        "token_count",
        "n_segments",
        "speakers",
        "position_pct",
    )


def map_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return summarize_chunks(chunk_texts(_chunked(spark, sf_dir), None)).select(
        "chunk_id", "token_count", "summary"
    )


def reduce_hierarchical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed two-level tree reduce (batches of 10, then combine-all).

    Deterministic depth so the oracle SQL can mirror it exactly; the
    dynamic log-depth variant is operators.aggregator.hierarchical_reduce.
    """
    summaries = map_summarize(spark, sf_dir)
    level1 = reduce_level(
        summaries, "chunk_id", "summary", BATCH_SIZE, "# Intermediate Summary"
    )
    level2 = reduce_level(
        level1, "chunk_id", "summary", 1_000_000_000, "# Transcript Summary"
    )
    return level2.select(
        "summary", F.col("n_parts").alias("n_batches")
    )


# sits between the sf0.01 total (3533 tokens -> direct) and the
# sf0.001 total (3636 -> hierarchical), so the oracle gate exercises
# BOTH branches of the mode decision; unit tests cover the branch rule
# data-independently
AUTO_BATCH_BUDGET = 3600


def _headered_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk summaries with the reference's '[Time: ...]' position
    headers (result_aggregator.py:86-88)."""
    stats = chunk_stats(_chunked(spark, sf_dir)).select(
        "chunk_id", "start_time", "end_time"
    )
    summaries = map_summarize(spark, sf_dir).join(stats, "chunk_id")
    return with_time_headers(summaries)


def reduce_direct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass (direct/simple-aggregator) combine of all summaries
    with time-position headers (result_aggregator.py:111-118)."""
    return reduce_direct(_headered_summaries(spark, sf_dir)).select(
        "summary", "n_parts"
    )


def reduce_auto_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's direct-vs-hierarchical decision on total token
    volume (result_aggregator.py:94-100): direct at sf0.001,
    hierarchical from sf0.01 up — both branches exercised by the gate.
    """
    headered = _headered_summaries(spark, sf_dir).withColumn(
        "sum_tokens", token_count(F.col("summary")).cast("long")
    )
    return reduce_auto(
        headered,
        token_col="sum_tokens",
        batch_budget=AUTO_BATCH_BUDGET,
        batch_size=BATCH_SIZE,
    )


def pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row run report (main.py:238-258): final summary + segment/
    chunk counts, total tokens, and estimated cost."""
    n_segments = _segments_clean(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("segments")
    )
    rep = map_cost_report(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("chunks"),
        F.sum("total_tokens").alias("tokens_used"),
        quantize(F.sum("cost_usd"), 8).alias("cost_usd"),
    )
    summary = reduce_hierarchical(spark, sf_dir).select("summary")
    return (
        summary.crossJoin(F.broadcast(n_segments))
        .crossJoin(F.broadcast(rep))
        .withColumn("provider", F.lit("mock"))
        .withColumn("model", F.lit("extractive-v1"))
    )


def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: clean -> merge -> chunk -> stats + extractive summaries.

    Stats and ordered chunk text come out of ONE groupBy(chunk_id) —
    a single shuffle instead of two parallel aggs + a join; the global
    t0 is a 1-row broadcast computed from the CLEANED-SEGMENTS subtree,
    not from the chunked table: merging preserves every segment's start
    and chunking drops no rows, so min(start) is identical — and the
    t0 arm then costs one narrow scan instead of replaying (or
    checkpointing) the whole clean→merge→chunk window chain.
    """
    merged = merge_same_speaker(
        _segments_clean(spark, sf_dir), MAX_SEGMENT_DURATION
    ).select(
        F.col("group_id").alias("seg_id"), "start", "end", "speaker", "text"
    )
    chunked = assign_chunks(merged, MAX_TOKENS_PER_CHUNK)
    t0 = _segments_clean(spark, sf_dir).agg(F.min("start").alias("t0"))
    combined = chunk_texts(
        chunked.crossJoin(F.broadcast(t0)),
        None,
        F.count(F.lit(1)).alias("n_segments"),
        F.array_join(F.array_sort(F.collect_set("speaker")), ", ").alias(
            "speakers"
        ),
        F.min("t0").alias("t0"),
    ).withColumn("position_pct", position_pct())
    return combined.withColumn(
        "summary",
        extractive_summary(
            F.col("text"), F.col("chunk_id"), F.col("token_count")
        ),
    ).select(
        "chunk_id",
        "start_time",
        "end_time",
        "n_segments",
        "token_count",
        "speakers",
        "position_pct",
        "summary",
    )


def chunk_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Faithful greedy chunker (rows-only check: sequential reset).

    Partitioned by ``source`` — each source is one transcript stream, so
    the sequential accumulate-and-reset fold runs per transcript in
    parallel groups, never as a single global task.
    """
    segs = _segments_clean(spark, sf_dir).withColumn(
        "transcript", F.col("speaker")
    )
    return assign_chunks_greedy(
        segs, MAX_TOKENS_PER_CHUNK, doc_col="transcript"
    ).select("transcript", "seg_id", "chunk_id", "n_tokens")


SPLIT_BUDGET_WORDS = 48
PROMPT_OVERHEAD_TOKENS = 9  # DEFAULT_PROMPT token count sans {transcript}
# Catalog/oracle rates are the base (non-GPT-4) tier — the reference's
# default model is gpt-3.5-turbo. map_cost_report(model=...) switches
# tiers via operators.providers.token_rates.
PROMPT_COST_PER_TOKEN = BASE_PROMPT_RATE
COMPLETION_COST_PER_TOKEN = BASE_COMPLETION_RATE


def seg_split_oversized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence/word-window splitting of over-budget segments
    (big_chunkeroosky.py:267-430)."""
    segs = _segments_clean(spark, sf_dir).select(
        "seg_id", "start", "end", "speaker", "text"
    )
    return split_oversized(segs, SPLIT_BUDGET_WORDS).select(
        "seg_id",
        "part_idx",
        "speaker",
        "n_words",
        "part_start",
        "part_end",
        "text",
    )


def map_cost_report(
    spark: SparkSession, sf_dir: str, model: str | None = None
) -> DataFrame:
    """Per-chunk token/cost accounting (llm_executor.py:303-324):
    prompt tokens = chunk tokens + template overhead, completion tokens
    from the (deterministic) summary, cost at the reference's
    model-tiered per-token rates (``"gpt-4" in model`` selects the
    GPT-4 tier, llm_executor.py:310; the catalog default is the base
    tier, matching the reference's default gpt-3.5-turbo)."""
    prompt_rate, completion_rate = token_rates(model)
    summaries = map_summarize(spark, sf_dir)
    prompt_toks = (F.col("token_count") + PROMPT_OVERHEAD_TOKENS).cast("long")
    completion_toks = token_count(F.col("summary")).cast("long")
    cost = (
        prompt_toks * F.lit(prompt_rate)
        + completion_toks * F.lit(completion_rate)
    )
    return summaries.select(
        "chunk_id",
        prompt_toks.alias("prompt_tokens"),
        completion_toks.alias("completion_tokens"),
        (prompt_toks + completion_toks).alias("total_tokens"),
        quantize(cost, 8).alias("cost_usd"),
    )


QUERIES = {
    "seg_split_oversized": seg_split_oversized,
    "map_cost_report": map_cost_report,
    "reduce_direct": reduce_direct_q,
    "reduce_auto": reduce_auto_q,
    "pipeline_report": pipeline_report,
    "seg_clean": seg_clean,
    "seg_clean_full": seg_clean_full,
    "seg_merge_speaker": seg_merge_speaker,
    "seg_interval_agg": seg_interval_agg,
    "chunk_assign": chunk_assign,
    "chunk_stats": chunk_stats_q,
    "map_summarize": map_summarize,
    "reduce_hierarchical": reduce_hierarchical,
    "pipeline_e2e": pipeline_e2e,
    "chunk_greedy": chunk_greedy,
}


# ---------------------------------------------------------- oracle SQL

_CLEAN = SQL_CLEAN.format(c="text")
_SEGS = rf"""segs AS (
  SELECT doc_id AS seg_id,
         doc_id * 30.0 AS start_s,
         doc_id * 30.0 + n_chars / 16.0 AS end_s,
         source AS speaker,
         {_CLEAN} AS text
  FROM documents
  WHERE regexp_matches(text, '\S')
)"""

_FMT_START = SQL_FMT_TS.format(s="start_s")
_FMT_END = SQL_FMT_TS.format(s="end_s")

_MERGE_CTES = f"""flags AS (
  SELECT *, CASE WHEN lag(speaker) OVER (ORDER BY seg_id) IS NULL
                   OR lag(speaker) OVER (ORDER BY seg_id) <> speaker
                 THEN 1 ELSE 0 END AS spk_change
  FROM segs
), isl AS (
  SELECT *, sum(spk_change) OVER (ORDER BY seg_id ROWS UNBOUNDED PRECEDING) AS island
  FROM flags
), buck AS (
  SELECT *, CAST(floor(coalesce(sum(end_s - start_s) OVER (
              PARTITION BY island ORDER BY seg_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) / {MAX_SEGMENT_DURATION}) AS BIGINT) AS bucket
  FROM isl
), merged AS (
  SELECT min(seg_id) AS group_id,
         min(speaker) AS speaker,
         min(start_s) AS start_s,
         max(end_s) AS end_s,
         count(*) AS n_segments,
         CASE WHEN count(*) = 1 THEN min(text)
              ELSE string_agg('[' || {_FMT_START} || '] ' || text, ' ' ORDER BY seg_id)
         END AS text
  FROM buck
  GROUP BY island, bucket
)"""

_CHUNK_CTES_TMPL = """tok AS (
  SELECT seg_id, start_s, end_s, speaker, text,
         '[' || {fmt_start} || '] ' || speaker || ': ' || text AS seg_text
  FROM {src}
), tok2 AS (
  SELECT *, CAST({ntok} AS BIGINT) AS n_tokens FROM tok
), chunked AS (
  SELECT *, CAST(floor(coalesce(sum(n_tokens) OVER (
              ORDER BY seg_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) / {budget}.0) AS BIGINT) AS chunk_id
  FROM tok2
)"""

_CHUNK_CTES = _CHUNK_CTES_TMPL.format(
    fmt_start=_FMT_START,
    src="segs",
    ntok=SQL_TOKEN_COUNT.format(c="seg_text"),
    budget=MAX_TOKENS_PER_CHUNK,
)

_STATS_CTES = """g AS (SELECT min(start_s) AS t0 FROM chunked),
stats AS (
  SELECT chunk_id,
         min(start_s) AS start_time,
         max(end_s) AS end_time,
         CAST(sum(n_tokens) AS BIGINT) AS token_count,
         count(*) AS n_segments,
         string_agg(DISTINCT speaker, ', ' ORDER BY speaker) AS speakers
  FROM chunked
  GROUP BY chunk_id
), stats2 AS (
  SELECT s.*, CASE WHEN s.end_time > g.t0
                   THEN (floor((100.0 * (s.start_time - g.t0) / (s.end_time - g.t0)) * 10000.0 + 0.5) / 10000.0)
                   ELSE 0.0 END AS position_pct
  FROM stats s CROSS JOIN g
)"""

_CHUNK_TEXTS_CTES = """ctext AS (
  SELECT chunk_id,
         string_agg(seg_text, chr(10) || chr(10) ORDER BY seg_id) AS text,
         CAST(sum(n_tokens) AS BIGINT) AS token_count
  FROM chunked
  GROUP BY chunk_id
)"""

_SUMMARY_EXPR = (
    "'SUMMARY[' || CAST(chunk_id AS VARCHAR) || '] tokens=' || "
    "CAST(token_count AS VARCHAR) || ': ' || substr(text, 1, 150)"
)

_B = SPLIT_BUDGET_WORDS

_SPLIT_CTES = f"""small AS (
  SELECT seg_id, CAST(0 AS BIGINT) AS part_idx, speaker,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_words,
         start_s AS part_start, end_s AS part_end, text
  FROM segs WHERE len(string_split(trim(text), ' ')) <= {_B}
), bigs AS (
  SELECT *, string_split(
           regexp_replace(text, '([.!?])\\s+', '\\1' || chr(31), 'g'),
           chr(31)) AS sents
  FROM segs WHERE len(string_split(trim(text), ' ')) > {_B}
), sentidx AS (
  SELECT *, unnest(generate_series(1, len(sents))) AS sent_idx FROM bigs
), sent AS (
  SELECT seg_id, start_s, end_s, speaker, sent_idx,
         string_split(trim(sents[sent_idx]), ' ') AS w
  FROM sentidx
), pieceidx AS (
  SELECT *, unnest(generate_series(0,
           greatest(CAST(ceil(len(w) / {_B}.0) AS BIGINT), 1) - 1)) AS j
  FROM sent
), pieces AS (
  SELECT seg_id, start_s, end_s, speaker, sent_idx, j,
         array_to_string(w[j*{_B}+1 : j*{_B}+{_B}], ' ') AS piece,
         CAST(least({_B}, len(w) - j*{_B}) AS BIGINT) AS piece_words,
         CAST(length(array_to_string(w[j*{_B}+1 : j*{_B}+{_B}], ' ')) AS BIGINT)
           AS piece_chars
  FROM pieceidx
), cum AS (
  SELECT *,
         coalesce(sum(piece_words) OVER (
           PARTITION BY seg_id ORDER BY sent_idx, j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_words_prev,
         coalesce(sum(piece_chars) OVER (
           PARTITION BY seg_id ORDER BY sent_idx, j
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_chars_prev,
         sum(piece_chars) OVER (PARTITION BY seg_id) AS total_chars
  FROM pieces
), parts AS (
  SELECT seg_id,
         CAST(floor(cum_words_prev / {_B}.0) AS BIGINT) AS part_idx,
         min(start_s) AS start_s, min(end_s) AS end_s,
         min(speaker) AS speaker,
         string_agg(piece, ' ' ORDER BY sent_idx, j) AS text,
         CAST(sum(piece_words) AS BIGINT) AS n_words,
         min(cum_chars_prev) AS c0,
         sum(piece_chars) AS clen,
         min(total_chars) AS tc
  FROM cum
  GROUP BY seg_id, CAST(floor(cum_words_prev / {_B}.0) AS BIGINT)
)"""

_PSTART = "(start_s + (end_s - start_s) * (CAST(c0 AS DOUBLE) / tc))"
_PEND = "(start_s + (end_s - start_s) * (CAST(c0 + clen AS DOUBLE) / tc))"

_HEADERED_CTES = f"""summaries AS (
  SELECT chunk_id, token_count, {_SUMMARY_EXPR} AS summary FROM ctext
), headered AS (
  SELECT s.chunk_id,
         '[Time: ' || {SQL_FMT_TS.format(s='st.start_time')} || ' - ' ||
         {SQL_FMT_TS.format(s='st.end_time')} || ']' || chr(10) || s.summary
           AS summary
  FROM summaries s JOIN stats2 st ON s.chunk_id = st.chunk_id
)"""

_DIRECT_SELECT = """SELECT '# Transcript Summary 0' || chr(10) ||
       string_agg(summary, chr(10) || chr(10) ORDER BY chunk_id) AS summary,
       count(*) AS n_parts
FROM headered"""

ORACLE = {
    "seg_split_oversized": f"""
        WITH {_SEGS}, {_SPLIT_CTES}
        SELECT seg_id, part_idx, speaker, n_words,
               (floor({_PSTART} * 1000000.0 + 0.5) / 1000000.0) AS part_start,
               (floor({_PEND} * 1000000.0 + 0.5) / 1000000.0) AS part_end,
               text
        FROM parts
        UNION ALL
        SELECT seg_id, part_idx, speaker, n_words, part_start, part_end, text
        FROM small
    """,
    "map_cost_report": f"""
        WITH {{segs}}, {{chunks}}, {{ctext}},
        rep AS (
          SELECT chunk_id,
                 CAST(token_count + {PROMPT_OVERHEAD_TOKENS} AS BIGINT)
                   AS prompt_tokens,
                 CAST({{sumtok}} AS BIGINT) AS completion_tokens
          FROM (
            SELECT chunk_id, token_count, {{summary}} AS summary FROM ctext
          )
        )
        SELECT chunk_id, prompt_tokens, completion_tokens,
               prompt_tokens + completion_tokens AS total_tokens,
               (floor((prompt_tokens * {PROMPT_COST_PER_TOKEN!r}
                       + completion_tokens * {COMPLETION_COST_PER_TOKEN!r})
                      * 100000000.0 + 0.5) / 100000000.0) AS cost_usd
        FROM rep
    """.format(
        segs=_SEGS,
        chunks=_CHUNK_CTES,
        ctext=_CHUNK_TEXTS_CTES,
        summary=_SUMMARY_EXPR,
        sumtok=SQL_TOKEN_COUNT.format(c="summary"),
    ),
    "pipeline_report": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_CHUNK_TEXTS_CTES},
        summaries AS (
          SELECT chunk_id, token_count, {_SUMMARY_EXPR} AS summary FROM ctext
        ), level1 AS (
          SELECT CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS batch_id,
                 '# Intermediate Summary ' ||
                 CAST(CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS VARCHAR) ||
                 chr(10) ||
                 string_agg(summary, chr(10) || chr(10) ORDER BY chunk_id)
                   AS summary
          FROM summaries GROUP BY 1
        ), final AS (
          SELECT '# Transcript Summary 0' || chr(10) ||
                 string_agg(summary, chr(10) || chr(10) ORDER BY batch_id)
                   AS summary
          FROM level1
        ), nseg AS (SELECT count(*) AS segments FROM segs),
        rep AS (
          SELECT count(*) AS chunks,
                 -- CAST: DuckDB sum(bigint) is HUGEINT; Spark's is bigint
                 CAST(sum(prompt_tokens + completion_tokens) AS BIGINT)
                   AS tokens_used,
                 (floor(sum(cost_usd) * 100000000.0 + 0.5) / 100000000.0)
                   AS cost_usd
          FROM (
            SELECT CAST(token_count + {PROMPT_OVERHEAD_TOKENS} AS BIGINT)
                     AS prompt_tokens,
                   CAST({SQL_TOKEN_COUNT.format(c='summary')} AS BIGINT)
                     AS completion_tokens,
                   (floor((CAST(token_count + {PROMPT_OVERHEAD_TOKENS} AS BIGINT)
                           * {PROMPT_COST_PER_TOKEN!r}
                           + CAST({SQL_TOKEN_COUNT.format(c='summary')} AS BIGINT)
                           * {COMPLETION_COST_PER_TOKEN!r})
                          * 100000000.0 + 0.5) / 100000000.0) AS cost_usd
            FROM summaries
          )
        )
        SELECT final.summary, nseg.segments, rep.chunks, rep.tokens_used,
               rep.cost_usd, 'mock' AS provider, 'extractive-v1' AS model
        FROM final CROSS JOIN nseg CROSS JOIN rep
    """,
    "reduce_direct": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_STATS_CTES}, {_CHUNK_TEXTS_CTES},
        {_HEADERED_CTES}
        {_DIRECT_SELECT}
    """,
    "reduce_auto": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_STATS_CTES}, {_CHUNK_TEXTS_CTES},
        {_HEADERED_CTES},
        tot AS (
          SELECT sum({SQL_TOKEN_COUNT.format(c='summary')}) AS t FROM headered
        ),
        direct AS ({_DIRECT_SELECT}),
        level1 AS (
          SELECT CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS batch_id,
                 '# Intermediate Summary ' ||
                 CAST(CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS VARCHAR) ||
                 chr(10) ||
                 string_agg(summary, chr(10) || chr(10) ORDER BY chunk_id)
                   AS summary
          FROM headered
          GROUP BY 1
        ),
        hier AS (
          SELECT '# Transcript Summary 0' || chr(10) ||
                 string_agg(summary, chr(10) || chr(10) ORDER BY batch_id)
                   AS summary,
                 count(*) AS n_parts
          FROM level1
        )
        SELECT summary, n_parts, 'direct' AS mode FROM direct
        WHERE (SELECT t FROM tot) <= {AUTO_BATCH_BUDGET}
        UNION ALL
        SELECT summary, n_parts, 'hierarchical' AS mode FROM hier
        WHERE (SELECT t FROM tot) > {AUTO_BATCH_BUDGET}
    """,
    "seg_clean": f"""
        WITH {_SEGS}
        SELECT seg_id, speaker,
               {_FMT_START} AS start_fmt,
               {_FMT_END} AS end_fmt,
               text
        FROM segs
    """,
    "seg_clean_full": f"""
        WITH {_SEGS}
        SELECT seg_id, speaker,
               {_FMT_START} AS start_fmt,
               {_FMT_END} AS end_fmt,
               {SQL_DEDUP_WORDS.format(c='text')} AS text
        FROM segs
    """,
    "seg_merge_speaker": f"""
        WITH {_SEGS}, {_MERGE_CTES}
        SELECT group_id, speaker, start_s, end_s, n_segments, text,
               {_FMT_START} AS start_fmt,
               {_FMT_END} AS end_fmt
        FROM merged
    """,
    "seg_interval_agg": f"""
        WITH {_SEGS},
        g AS (SELECT min(start_s) AS t0, max(end_s) AS tmax FROM segs),
        ex AS (
          SELECT s.*, g.t0, g.tmax,
                 CAST(floor((s.start_s - g.t0) / {INTERVAL_SECONDS}) AS BIGINT) AS lo,
                 CAST(floor((s.end_s - g.t0) / {INTERVAL_SECONDS}) AS BIGINT) AS hi_raw
          FROM segs s CROSS JOIN g
        ), ex2 AS (
          SELECT *, greatest(lo, hi_raw - CASE
                   WHEN hi_raw * {INTERVAL_SECONDS} = (end_s - t0) THEN 1 ELSE 0
                 END) AS hi
          FROM ex
        ), expl AS (
          SELECT ex2.*, unnest(generate_series(lo, hi)) AS interval_index
          FROM ex2
        ), agg AS (
          SELECT interval_index,
                 min(t0) AS t0, min(tmax) AS tmax,
                 count(*) AS n_segments,
                 string_agg(DISTINCT speaker, ', ' ORDER BY speaker) AS speakers,
                 string_agg('[' || {_FMT_START} || ' ' || speaker || '] ' || text,
                            chr(10) || chr(10) ORDER BY seg_id) AS text
          FROM expl
          GROUP BY interval_index
        )
        SELECT interval_index,
               t0 + interval_index * {INTERVAL_SECONDS} AS interval_start,
               least(t0 + interval_index * {INTERVAL_SECONDS} + {INTERVAL_SECONDS}, tmax)
                 AS interval_end,
               n_segments, speakers, text
        FROM agg
    """,
    "chunk_assign": f"""
        WITH {_SEGS}, {_CHUNK_CTES}
        SELECT seg_id, chunk_id, n_tokens FROM chunked
    """,
    "chunk_greedy": f"""
        WITH RECURSIVE {_SEGS},
        gtok AS (
          SELECT speaker AS transcript, seg_id,
                 '[' || {_FMT_START} || '] ' || speaker || ': ' || text
                   AS seg_text
          FROM segs
        ),
        gtok2 AS (
          SELECT transcript, seg_id,
                 CAST({SQL_TOKEN_COUNT.format(c='seg_text')} AS BIGINT)
                   AS n_tokens,
                 row_number() OVER (
                   PARTITION BY transcript ORDER BY seg_id
                 ) AS rn
          FROM gtok
        ),
        walk AS (
          SELECT transcript, rn, seg_id, n_tokens,
                 CAST(0 AS BIGINT) AS chunk_id, n_tokens AS acc
          FROM gtok2 WHERE rn = 1
          UNION ALL
          SELECT s.transcript, s.rn, s.seg_id, s.n_tokens,
                 CASE WHEN w.acc > 0
                       AND w.acc + s.n_tokens > {MAX_TOKENS_PER_CHUNK}
                      THEN w.chunk_id + 1 ELSE w.chunk_id END,
                 CASE WHEN w.acc > 0
                       AND w.acc + s.n_tokens > {MAX_TOKENS_PER_CHUNK}
                      THEN s.n_tokens ELSE w.acc + s.n_tokens END
          FROM walk w JOIN gtok2 s
            ON s.transcript = w.transcript AND s.rn = w.rn + 1
        )
        SELECT transcript, seg_id, chunk_id, n_tokens FROM walk
    """,
    "chunk_stats": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_STATS_CTES}
        SELECT chunk_id, start_time, end_time, token_count, n_segments,
               speakers, position_pct
        FROM stats2
    """,
    "map_summarize": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_CHUNK_TEXTS_CTES}
        SELECT chunk_id, token_count, {_SUMMARY_EXPR} AS summary
        FROM ctext
    """,
    "reduce_hierarchical": f"""
        WITH {_SEGS}, {_CHUNK_CTES}, {_CHUNK_TEXTS_CTES},
        summaries AS (
          SELECT chunk_id, {_SUMMARY_EXPR} AS summary FROM ctext
        ), level1 AS (
          SELECT CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS batch_id,
                 '# Intermediate Summary ' ||
                 CAST(CAST(floor(chunk_id / {BATCH_SIZE}.0) AS BIGINT) AS VARCHAR) ||
                 chr(10) ||
                 string_agg(summary, chr(10) || chr(10) ORDER BY chunk_id) AS summary
          FROM summaries
          GROUP BY 1
        )
        SELECT '# Transcript Summary 0' || chr(10) ||
               string_agg(summary, chr(10) || chr(10) ORDER BY batch_id) AS summary,
               count(*) AS n_batches
        FROM level1
    """,
    "pipeline_e2e": f"""
        WITH {_SEGS}, {_MERGE_CTES},
        msegs AS (
          SELECT group_id AS seg_id, start_s, end_s, speaker, text FROM merged
        ), {_CHUNK_CTES_TMPL.format(
            fmt_start=_FMT_START,
            src='msegs',
            ntok=SQL_TOKEN_COUNT.format(c='seg_text'),
            budget=MAX_TOKENS_PER_CHUNK,
        )}, {_STATS_CTES}, {_CHUNK_TEXTS_CTES}
        SELECT s.chunk_id, s.start_time, s.end_time, s.n_segments,
               s.token_count, s.speakers, s.position_pct,
               'SUMMARY[' || CAST(s.chunk_id AS VARCHAR) || '] tokens=' ||
               CAST(s.token_count AS VARCHAR) || ': ' || substr(c.text, 1, 150)
                 AS summary
        FROM stats2 s JOIN ctext c ON s.chunk_id = c.chunk_id
    """,
}
