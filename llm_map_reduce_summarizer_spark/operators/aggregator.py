"""Hierarchical summary reduction (reference: result_aggregator.py).

The reference batches summaries (≤10/batch), summarizes each batch,
then combines batch summaries — a 2-level tree. On Spark each level is
one ``groupBy(ord // batch_size)`` with an order-stable string
aggregation, giving ``ceil(log_B(n))`` shrinking shuffles — the
map-side partial aggregation does most of the combining before any
exchange. ``hierarchical_reduce`` plans the depth on the driver
(``reduce_plan``) from the ids' runs, which the CLI already knows from
its per-document chunk counts, so the whole tree is one lazy plan that
the caller's final action runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.text import format_timestamp, ordered_join
from .persist import materialize


def _templated(joined, template: str):
    """Custom aggregation template: the reference substitutes the
    ordered summaries into the template's ``{summaries}`` slot
    (result_aggregator.py:184 ``prompt_template.replace``); with no
    slot the template text stands alone, mirroring str.replace."""
    pre, slot, post = template.partition("{summaries}")
    if not slot:
        return F.lit(template)
    return F.concat(F.lit(pre), joined, F.lit(post))


def reduce_level(
    df: DataFrame,
    ord_col: str = "chunk_id",
    text_col: str = "summary",
    batch_size: int | None = 10,
    header: str = "# Intermediate Summary",
    template: str | None = None,
) -> DataFrame:
    """One tree level: group ord//batch_size, join summaries in order.

    ``batch_size=None`` puts every row in one batch with id 0, whatever
    the ids. ``template`` (final level only in practice) replaces the
    default ``header N\\njoined`` format with the custom aggregator
    prompt.
    """
    if batch_size is None:
        batch = F.lit(0).cast("long").alias("batch_id")
    else:
        batch = F.floor(F.col(ord_col) / F.lit(batch_size)).alias("batch_id")
    grouped = df.groupBy(batch).agg(
        ordered_join(text_col, "\n\n", ord_col).alias("joined"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    if template is not None:
        text = _templated(F.col("joined"), template)
    else:
        text = F.concat(
            F.lit(header + " "),
            F.col("batch_id").cast("string"),
            F.lit("\n"),
            F.col("joined"),
        )
    return grouped.select(
        F.col("batch_id").alias(ord_col),
        text.alias(text_col),
        "n_parts",
    )


def _id_ranges(df: DataFrame, ord_col: str) -> list[tuple[int, int]]:
    """The distinct ``ord_col`` values as sorted half-open runs
    [lo, hi) — gaps and islands over the distinct ids, one action."""
    ids = df.select(F.col(ord_col).cast("long").alias("o")).distinct()
    island = F.col("o") - F.row_number().over(Window.orderBy("o"))
    runs = ids.withColumn("isl", island).groupBy("isl").agg(
        F.min("o").alias("lo"), (F.max("o") + 1).alias("hi")
    )
    return sorted((r["lo"], r["hi"]) for r in runs.collect())


def reduce_plan(
    ranges: list[tuple[int, int]], batch_size: int = 10
) -> list[int]:
    """Rows entering each tree level, then the final count, simulated
    on the driver from the ids' half-open runs: a level maps every id
    to id // B, so a run [lo, hi) becomes [lo // B, (hi - 1) // B + 1),
    and runs that then touch merge. The tree ends at the first level
    with at most one row."""
    runs = sorted(ranges)
    counts = [sum(hi - lo for lo, hi in runs)]
    while counts[-1] > 1:
        merged: list[tuple[int, int]] = []
        for lo, hi in runs:
            lo, hi = lo // batch_size, (hi - 1) // batch_size + 1
            if merged and lo <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
            else:
                merged.append((lo, hi))
        if merged == runs:
            # only ids on both sides of zero end here (-1 and 0 are
            # fixed points of // B): the tree would never close
            raise ValueError(
                f"hierarchical_reduce: ids {runs} never reduce to one row"
            )
        runs = merged
        counts.append(sum(hi - lo for lo, hi in runs))
    return counts


def hierarchical_reduce(
    df: DataFrame,
    ord_col: str = "chunk_id",
    text_col: str = "summary",
    batch_size: int = 10,
    template: str | None = None,
    ranges: list[tuple[int, int]] | None = None,
) -> DataFrame:
    """Tree-reduce to a single final-summary row (log-depth groupBys).

    ``df`` holds one row per ``ord_col`` id. The level plan — the rows
    entering each level, and so which levels take the final header and
    template — is worked out on the driver by ``reduce_plan`` from the
    ids' half-open runs ``ranges`` (one run per document for contiguous
    per-document chunk ids). Callers that know the runs pass them;
    otherwise one action derives them, after the input is materialized
    so the reduce does not recompute it. The levels then form one lazy
    plan, run by the caller's single action.
    """
    if ranges is None:
        df = df.transform(materialize)
        ranges = _id_ranges(df, ord_col)
    counts = reduce_plan(ranges, batch_size)
    levels = len(counts) - 1
    out = df
    for n in counts[:-1]:
        # a level of at most B rows counts as final, as in the
        # reference's batching; ids spread over several runs (one per
        # input file) can take more such levels before one row is left
        is_final = n <= batch_size
        header = (
            "# Transcript Summary" if is_final else "# Intermediate Summary"
        )
        out = reduce_level(
            out, ord_col, text_col, batch_size, header,
            template=template if is_final else None,
        )
    if levels == 0 and template is not None:
        # single input row: the reference still formats it through the
        # custom aggregation template
        out = out.withColumn(text_col, _templated(F.col(text_col), template))
    return out.select(
        F.col(text_col).alias("summary"), F.lit(levels).alias("levels")
    )


def with_time_headers(
    summaries: DataFrame,
    start_col: str = "start_time",
    end_col: str = "end_time",
    text_col: str = "summary",
) -> DataFrame:
    """Prepend the reference's '[Time: MM:SS - MM:SS]' position header
    to each chunk summary (result_aggregator.py:86-88)."""
    header = F.concat(
        F.lit("[Time: "),
        format_timestamp(F.col(start_col)),
        F.lit(" - "),
        format_timestamp(F.col(end_col)),
        F.lit("]\n"),
    )
    return summaries.withColumn(text_col, F.concat(header, F.col(text_col)))


def dynamic_batch_size(
    total_tokens: int, n_summaries: int, budget: int, reserved: int = 1000
) -> int:
    """Reference batch sizing (result_aggregator.py:357-380):
    max(1, (budget - reserved) / avg_tokens), capped at 10."""
    if n_summaries == 0:
        return 1
    avg = total_tokens / n_summaries
    return min(max(1, int((budget - reserved) / avg)), 10)


def reduce_direct(
    df: DataFrame,
    ord_col: str = "chunk_id",
    text_col: str = "summary",
    header: str = "# Transcript Summary",
    template: str | None = None,
) -> DataFrame:
    """Single-pass combine of ALL summaries into one row (the
    reference's direct / simple-aggregator mode:
    result_aggregator.py:111-118), in ``ord_col`` order."""
    return reduce_level(df, ord_col, text_col, None, header, template=template)


def reduce_auto(
    df: DataFrame,
    token_col: str,
    ord_col: str = "chunk_id",
    text_col: str = "summary",
    batch_budget: int = 4000,
    batch_size: int = 10,
) -> DataFrame:
    """The reference's mode decision (result_aggregator.py:94-100):
    direct combine when everything fits one batch, else hierarchical.

    The one-scalar total-token read is a driver-side PLAN decision
    (like AQE's runtime re-plan), not a data collect — the data itself
    never leaves the cluster.
    """
    total = df.agg(F.sum(token_col)).collect()[0][0] or 0
    if total <= batch_budget:
        out = reduce_direct(df, ord_col, text_col)
        return out.select(
            text_col, "n_parts", F.lit("direct").alias("mode")
        )
    level1 = reduce_level(
        df, ord_col, text_col, batch_size, "# Intermediate Summary"
    )
    level2 = reduce_direct(level1, ord_col, text_col)
    return level2.select(text_col, "n_parts", F.lit("hierarchical").alias("mode"))
