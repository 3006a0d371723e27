"""Token-budget chunking (reference: big_chunkeroosky.py).

Two implementations:

* ``assign_chunks`` — the scale path. The reference's greedy
  accumulate-and-reset loop (big_chunkeroosky.py:80-145) is inherently
  sequential; we re-express it as a *prefix-sum bucketing*:
  ``chunk_id = floor(cum_tokens_before / budget)``. One window pass,
  parallel within and across transcripts, same budget discipline
  (each chunk's token sum stays within budget + one segment overshoot,
  exactly like the greedy version's last-segment overshoot rule).

* ``assign_chunks_greedy`` — faithful reset semantics as a JVM fold
  (``aggregate``) over each transcript's sorted segment array:
  parallel across transcripts, sequential within — the reference's
  own data dependency — with no Python worker and no exchange beyond
  the per-transcript grouping. The CLI and the catalog's
  ``chunk_greedy`` key use it wherever parity with the reference's
  chunk boundaries matters.

Either output goes through ``chunk_texts`` to build each chunk's text.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import (
    collect_sorted,
    format_timestamp,
    ordered_join,
    quantize,
)


def _part(doc_col: str | None) -> list[str]:
    return [doc_col] if doc_col else []


def formatted_segment(with_speaker: bool = True):
    """'[MM:SS] speaker: text' (big_chunkeroosky._format_segment_for_chunk)."""
    ts = F.concat(F.lit("["), format_timestamp(F.col("start")), F.lit("] "))
    if with_speaker:
        return F.concat(ts, F.col("speaker"), F.lit(": "), F.col("text"))
    return F.concat(ts, F.col("text"))


def with_token_counts(segments: DataFrame, counter: str = "regex") -> DataFrame:
    """Attach formatted text + token counts.

    ``counter`` selects the backend (functions/tokenize.py): ``regex``
    (JVM-side, oracle-expressible, the default), ``tiktoken``
    (reference-exact BPE via Arrow-batched Pandas UDF), or ``auto``.
    """
    from ..functions.tokenize import token_count_column

    return segments.withColumn("seg_text", formatted_segment()).withColumn(
        "n_tokens", token_count_column(F.col("seg_text"), counter).cast("long")
    )


def assign_chunks(
    segments: DataFrame,
    max_tokens_per_chunk: int = 500,
    doc_col: str | None = None,
    counter: str = "regex",
) -> DataFrame:
    """Prefix-sum chunk assignment: no sequential state.

    With ``doc_col`` the cumulative sum is an ordinary per-document
    window (each document sorts inside its own partition). Without it
    the order is global and the window runs as one task.

    ``counter='tiktoken'`` reproduces the reference's BPE-exact chunk
    boundaries (big_chunkeroosky.py:43) when tiktoken is installed.
    """
    counted = with_token_counts(segments, counter)
    w = Window.partitionBy(*_part(doc_col)).orderBy("seg_id")
    cum_prev = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    return counted.withColumn(
        "chunk_id", F.floor(cum_prev / F.lit(max_tokens_per_chunk))
    )


def chunk_stats(
    chunked: DataFrame, doc_col: str | None = None
) -> DataFrame:
    """Per-chunk metadata: the reference's context header fields
    (big_chunkeroosky.py:147-232): time range, speakers, token count,
    position percentage (chunk-relative formula at :182-184).
    """
    part = _part(doc_col)
    if part:
        wall = Window.partitionBy(*part)
        with_t0 = chunked.withColumn("t0", F.min("start").over(wall))
    else:
        # global min as a 1-row broadcast, not an empty-partition window
        # (which would drag every row through one task)
        t0 = chunked.agg(F.min("start").alias("t0"))
        with_t0 = chunked.crossJoin(F.broadcast(t0))
    stats = (
        with_t0
        .groupBy(*part, "chunk_id")
        .agg(
            F.min("start").alias("start_time"),
            F.max("end").alias("end_time"),
            F.sum("n_tokens").alias("token_count"),
            F.count(F.lit(1)).alias("n_segments"),
            F.array_join(F.array_sort(F.collect_set("speaker")), ", ").alias(
                "speakers"
            ),
            F.min("t0").alias("t0"),
        )
        .withColumn("position_pct", position_pct())
        .drop("t0")
    )
    return stats


def position_pct() -> Column:
    """A chunk's start as a percentage of the way from the transcript's
    ``t0`` to the chunk's ``end_time`` (the reference's chunk-relative
    formula, big_chunkeroosky.py:182-184); 0 for a zero-length span."""
    return F.when(
        F.col("end_time") > F.col("t0"),
        quantize(
            100.0
            * (F.col("start_time") - F.col("t0"))
            / (F.col("end_time") - F.col("t0")),
            4,
        ),
    ).otherwise(0.0)


def assign_chunks_greedy(
    segments: DataFrame,
    max_tokens_per_chunk: int = 500,
    doc_col: str | None = None,
    counter: str = "regex",
) -> DataFrame:
    """Faithful greedy accumulate-and-reset chunking, as a JVM fold.

    Parallel across transcripts (one collected segment array per
    doc_col value), sequential within — the reference's own dependency
    structure (big_chunkeroosky.py:86-99). Oversized single segments
    keep their own chunk (sentence-splitting of pathological segments
    is handled upstream by merge caps). ``counter='tiktoken'`` gives
    BPE-exact budgets matching the reference when the library is
    installed.

    The fold (``aggregate``) walks the seg_id-sorted array keeping only
    the running token sum and the 1-based positions where chunks
    start; ``slice`` then cuts each chunk back out and ``inline`` turns
    the segments into rows. Every input column is carried through,
    plus ``seg_text``, ``n_tokens`` and ``chunk_id``.
    """
    part = _part(doc_col)
    counted = with_token_counts(segments, counter)
    rest = [c for c in counted.columns if c not in (*part, "seg_id")]
    cols = ["seg_id", *rest]  # seg_id first: collect_sorted orders by it
    segs = counted.groupBy(*part).agg(collect_sorted(*cols).alias("_segs"))
    # The reference's reset rule: a non-empty chunk that would overflow
    # closes, and the segment opens the next one. The starts accumulate
    # as a ',N' string, not an array: Spark copies the fold's
    # accumulator on every element, and a string copies in one block
    # where an array copies element by element.
    budget = int(max_tokens_per_chunk)
    starts = F.expr(f"""aggregate(
        _segs,
        named_struct('starts', '', 'tokens', 0L, 'i', 1),
        (acc, x) -> IF(
            acc.i = 1 OR (acc.tokens > 0 AND acc.tokens + x.n_tokens > {budget}),
            named_struct('starts', concat(acc.starts, ',', acc.i),
                         'tokens', x.n_tokens, 'i', acc.i + 1),
            named_struct('starts', acc.starts,
                         'tokens', acc.tokens + x.n_tokens, 'i', acc.i + 1)),
        acc -> transform(array_remove(split(acc.starts, ','), ''), s -> int(s)))""")
    chunks = F.expr("""inline(flatten(transform(_starts, (first, k) -> transform(
        slice(_segs, first, coalesce(get(_starts, k + 1), size(_segs) + 1) - first),
        x -> named_struct('_seg', x, 'chunk_id', bigint(k))))))""")
    return (
        segs.select(*part, "_segs", starts.alias("_starts"))
        .select(*part, chunks)
        .select(*part, "_seg.*", "chunk_id")
    )


def chunk_texts(
    chunked: DataFrame, doc_col: str | None, *extra_aggs: Column
) -> DataFrame:
    """One row per (``doc_col``, chunk_id) of a chunker's output: the
    chunk's ``seg_text`` values joined by blank lines in seg_id order
    (``text``), ``token_count``, ``start_time`` and ``end_time``.
    ``extra_aggs`` are further per-chunk aggregates computed in the same
    groupBy, so a caller's stats cost no second aggregation."""
    return chunked.groupBy(*_part(doc_col), "chunk_id").agg(
        ordered_join("seg_text", "\n\n", "seg_id").alias("text"),
        F.sum("n_tokens").alias("token_count"),
        F.min("start").alias("start_time"),
        F.max("end").alias("end_time"),
        *extra_aggs,
    )


SENT_SEP = "\u001f"  # unit separator: survives both engines' regex paths


def split_oversized(
    segments: DataFrame,
    max_words: int = 64,
    doc_col: str | None = None,
) -> DataFrame:
    """Split segments over the word budget on sentence boundaries, then
    word windows (reference: big_chunkeroosky.py:267-430).

    Reference semantics, Spark-first shape: sentence-split oversized
    segments ([.!?] boundaries), word-window-split any sentence that is
    itself over budget (the reference's long-sentence clause fallback),
    then pack the pieces back up to the budget with the same prefix-sum
    bucketing as ``assign_chunks``. Per-part timestamps interpolate the
    segment's time range proportionally to characters, like the
    reference's char-weighted sentence timing
    (big_chunkeroosky.py:361-368).

    All stages are explode/window expressions — no Python, no
    sequential state; at 100 TB the only shuffle is the per-segment
    window (partitioned by doc/segment).
    """
    part = _part(doc_col)
    base_cols = [*part, "seg_id", "start", "end", "speaker"]
    nw_seg = F.size(F.split(F.trim(F.col("text")), " "))

    counted = segments.withColumn("n_words_seg", nw_seg)
    small = counted.filter(F.col("n_words_seg") <= max_words).select(
        *base_cols,
        F.lit(0).cast("long").alias("part_idx"),
        F.col("text"),
        F.col("n_words_seg").cast("long").alias("n_words"),
        F.col("start").alias("part_start"),
        F.col("end").alias("part_end"),
    )

    big = counted.filter(F.col("n_words_seg") > max_words)
    sents = F.split(
        F.regexp_replace(F.col("text"), r"([.!?])\s+", "$1" + SENT_SEP),
        SENT_SEP,
    )
    b1 = (
        big.select(*base_cols, F.posexplode(sents).alias("sent_idx", "sent"))
        .withColumn("w", F.split(F.trim(F.col("sent")), " "))
        .withColumn("nw_sent", F.size("w"))
    )
    n_parts = F.ceil(F.col("nw_sent") / F.lit(float(max_words))).cast("long")
    b2 = (
        b1.withColumn(
            "j",
            F.explode(F.sequence(F.lit(0), F.greatest(n_parts, F.lit(1)) - 1)),
        )
        .withColumn(
            "piece",
            F.array_join(
                F.slice(F.col("w"), F.col("j") * max_words + 1, max_words), " "
            ),
        )
        .withColumn(
            "piece_words",
            F.least(
                F.lit(max_words), F.col("nw_sent") - F.col("j") * max_words
            ).cast("long"),
        )
        .withColumn("piece_chars", F.length("piece").cast("long"))
    )

    worder = Window.partitionBy(*part, "seg_id").orderBy("sent_idx", "j")
    prev = worder.rowsBetween(Window.unboundedPreceding, -1)
    wseg = Window.partitionBy(*part, "seg_id")
    b3 = (
        b2.withColumn(
            "cum_words_prev",
            F.coalesce(F.sum("piece_words").over(prev), F.lit(0).cast("long")),
        )
        .withColumn(
            "cum_chars_prev",
            F.coalesce(F.sum("piece_chars").over(prev), F.lit(0).cast("long")),
        )
        .withColumn("total_chars", F.sum("piece_chars").over(wseg))
        .withColumn(
            "part_idx", F.floor(F.col("cum_words_prev") / F.lit(max_words))
        )
    )

    ordered_text = ordered_join("piece", " ", "sent_idx", "j")
    dur = F.col("end") - F.col("start")
    frac0 = F.col("c0").cast("double") / F.col("total_chars")
    frac1 = (F.col("c0") + F.col("clen")).cast("double") / F.col("total_chars")
    splits = (
        b3.groupBy(*part, "seg_id", "part_idx")
        .agg(
            F.min("start").alias("start"),
            F.min("end").alias("end"),
            F.min("speaker").alias("speaker"),
            ordered_text.alias("text"),
            F.sum("piece_words").alias("n_words"),
            F.min("cum_chars_prev").alias("c0"),
            F.sum("piece_chars").alias("clen"),
            F.min("total_chars").alias("total_chars"),
        )
        .withColumn("part_start", quantize(F.col("start") + dur * frac0, 6))
        .withColumn("part_end", quantize(F.col("start") + dur * frac1, 6))
        .select(
            *base_cols, "part_idx", "text", "n_words", "part_start", "part_end"
        )
    )
    return small.unionByName(splits)
