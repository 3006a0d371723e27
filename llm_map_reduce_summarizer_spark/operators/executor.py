"""Chunk 'LLM' map stage (reference: llm_executor.py).

The reference fans chunks out to an LLM API under an asyncio semaphore;
on Spark the fan-out is the cluster — each partition's chunks are
processed by its executor — and inside each map task a bounded thread
pool keeps up to ``max_concurrent_requests`` prompts in flight, the
reference's semaphore per task.

Two paths:

* ``summarize_chunks`` — deterministic extractive summarizer in pure
  Column expressions (the default, mirrors the reference's keyless
  mock provider: llm_executor.py:411-432). JVM-side, codegen'd,
  oracle-expressible.

* ``SparkLLMExecutor`` — pluggable executor over ``mapInPandas`` for
  real model calls. A provider maps one prompt to one completion
  (``str -> str``), so a rate-capped provider
  (operators/providers.py) takes one token from its process bucket
  per request, and each prompt retries on its own with bounded
  exponential backoff that honours a 429's ``Retry-After``.
"""

from __future__ import annotations

import sys
import time
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# per-prompt retry waits: exponential backoff from RETRY_BACKOFF_S up
# to MAX_BACKOFF_S, or a 429's Retry-After up to MAX_RETRY_AFTER_S
RETRY_BACKOFF_S = 0.25
MAX_BACKOFF_S = 8.0
MAX_RETRY_AFTER_S = 60.0

DEFAULT_PROMPT = "Please summarize the following transcript segment:\n\n{transcript}"


def read_prompt_file(path: str | None, what: str) -> str | None:
    """The stripped text of an optional prompt file, or None when no
    path is given or the file is empty. An unreadable file prints a
    warning (the reference logs an error, main.py:216) and also gives
    None, so the caller falls back to its default."""
    if not path:
        return None
    try:
        with open(path, encoding="utf-8") as f:
            return f.read().strip() or None
    except OSError as exc:
        print(f"warning: failed to load {what} from {path}: {exc}", file=sys.stderr)
        return None


def resolve_prompt(
    explicit: str | None = None,
    prompt_file: str | None = None,
    default: str = DEFAULT_PROMPT,
) -> str:
    """The reference's prompt-resolution priority (main.py:155-167):
    explicit template > template file > built-in default."""
    return explicit or read_prompt_file(prompt_file, "prompt template") or default


def extractive_summary(
    text_col: Column, chunk_id_col: Column, n_tokens_col: Column, head_chars: int = 150
) -> Column:
    """Deterministic 'summary': header stats + leading extract."""
    return F.concat(
        F.lit("SUMMARY["),
        chunk_id_col.cast("string"),
        F.lit("] tokens="),
        n_tokens_col.cast("string"),
        F.lit(": "),
        F.substring(text_col, 1, head_chars),
    )


def summarize_chunks(chunk_texts: DataFrame, head_chars: int = 150) -> DataFrame:
    """Add a deterministic extractive ``summary`` per chunk row.

    Expects columns (chunk_id, text, token_count).
    """
    return chunk_texts.withColumn(
        "summary",
        extractive_summary(
            F.col("text"), F.col("chunk_id"), F.col("token_count"), head_chars
        ),
    )


# ---------------------------------------------------------------------
# Pluggable executor (real-LLM path; default provider = offline mock)


def mock_provider(prompt: str, model: str = "mock-model") -> str:
    """Keyless deterministic provider (mirrors llm_executor mock)."""
    return (
        f"[Mock response using {model}]\n\nSimulated summary of a "
        f"{len(prompt)}-char prompt."
    )


def _retry_after_s(exc: BaseException) -> float | None:
    """Seconds a 429's ``Retry-After`` header asks for, read from the
    ``urllib.error.HTTPError`` the HTTP adapters raise; None when the
    error is not a 429 or the header is absent or not a number."""
    if getattr(exc, "code", None) != 429:
        return None
    headers = getattr(exc, "headers", None)
    value = headers.get("Retry-After") if headers is not None else None
    try:
        return max(0.0, float(value))
    except (TypeError, ValueError):
        return None


def complete_prompts(
    provider: Callable[[str], str],
    prompts: list[str],
    attempts: int = 3,
    concurrency: int = 5,
    sleep: Callable[[float], None] = time.sleep,
) -> list[str]:
    """Completions for ``prompts``, in order: one ``provider(p)`` call
    per prompt, up to ``concurrency`` in flight, each retried on its
    own. The wait before retry k is a 429's ``Retry-After`` (up to
    ``MAX_RETRY_AFTER_S``), else
    ``RETRY_BACKOFF_S * 2**k`` (up to ``MAX_BACKOFF_S``). Once
    ``attempts`` run out the prompt gets the reference's
    '[Error processing chunk: ...]' sentinel (llm_executor.py:216-228)
    instead of failing the task."""

    def one(prompt: str) -> str:
        attempt = 0
        while True:
            try:
                return provider(prompt)
            except Exception as exc:  # noqa: BLE001
                attempt += 1
                if attempt >= attempts:
                    return f"[Error processing chunk: {exc}]"
                wait = _retry_after_s(exc)
                if wait is None:
                    wait = min(RETRY_BACKOFF_S * 2 ** (attempt - 1), MAX_BACKOFF_S)
                sleep(min(wait, MAX_RETRY_AFTER_S))

    workers = min(len(prompts), max(1, concurrency))
    if workers <= 1:
        return [one(p) for p in prompts]
    with ThreadPoolExecutor(max_workers=workers) as pool:
        return list(pool.map(one, prompts))


class SparkLLMExecutor:
    """Distribute per-chunk prompt completion across the cluster.

    provider: ``(str) -> str``, called on executors through
    ``complete_prompts``: one prompt per call, up to
    ``max_concurrent_requests`` in flight per map task — the
    reference's semaphore (llm_executor.py:132-142) — each retried on
    its own. A rate-capped provider takes one token from its process
    bucket per request, retries included.
    """

    def __init__(
        self,
        provider: Callable[[str], str] | None = None,
        prompt_template: str = DEFAULT_PROMPT,
        system_prompt: str | None = None,
        retry_attempts: int = 3,
        max_concurrent_requests: int = 5,
    ):
        self.provider = provider or mock_provider
        self.prompt_template = prompt_template
        self.system_prompt = system_prompt
        self.retry_attempts = retry_attempts
        self.max_concurrent_requests = max_concurrent_requests

    def process_chunks(self, chunks: DataFrame, text_col: str = "text") -> DataFrame:
        template = self.prompt_template
        prefix = (self.system_prompt + "\n\n") if self.system_prompt else ""
        # plain values only: the closure ships to executors
        complete = partial(
            complete_prompts, self.provider,
            attempts=self.retry_attempts,
            concurrency=self.max_concurrent_requests,
        )
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in chunks.schema.fields
        ) + ", summary string"

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                prompts = [
                    prefix + template.replace("{transcript}", t)
                    for t in pdf[text_col].astype(str)
                ]
                yield pdf.assign(summary=complete(prompts))

        return chunks.mapInPandas(run, schema=out_schema)
