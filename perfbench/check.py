"""Correctness checks, run outside the timed region.

The transcript checks rebuild every chunk from the generated JSON with
a plain-Python model of the pipeline (clean, same-speaker merge, greedy
token packing, chunk text, prompt, time header) written from the
program's documented rules, not from its code, and compare the
program's outputs with it. The document check compares with the
package's DuckDB twin on the same table. Each checker returns a list of
error strings; an empty list means the output is correct.
"""

from __future__ import annotations

import json
import math
import re

TOKEN_RE = re.compile(r"\w+|[^\w\s]")
DEFAULT_PROMPT = "Please summarize the following transcript segment:\n\n{transcript}"
MAX_TOKENS_PER_CHUNK = 4000  # CLI default
CONTEXT_TOKENS = 150
BUDGET = MAX_TOKENS_PER_CHUNK - CONTEXT_TOKENS
MAX_SEGMENT_DURATION = 120.0  # CLI default
ERROR_PREFIX = "[Error processing chunk:"


def clean(text: str) -> str:
    text = text.strip(" ")
    text = re.sub(r"\s+", " ", text)
    text = re.sub(r"([.!?])([A-Za-z])", r"\1 \2", text)
    return re.sub(r"\b(\w+)( \1\b)+", r"\1", text)


def fmt_ts(seconds: float) -> str:
    total = math.floor(seconds)
    h, rem = divmod(total, 3600)
    m, s = divmod(rem, 60)
    return f"{h:02d}:{m:02d}:{s:02d}" if h > 0 else f"{m:02d}:{s:02d}"


def merged_segments(doc: dict) -> list[dict]:
    """Non-empty, cleaned segments merged into same-speaker groups: a
    speaker run splits where the run's duration so far crosses a
    multiple of the 120 s cap."""
    segs = [
        dict(seg_id=i, start=s["start"], end=s["end"], speaker=s["speaker"],
             text=clean(s["text"]))
        for i, s in enumerate(doc["segments"]) if s["text"].strip()
    ]
    groups: list[list[dict]] = []
    key = None
    cum = 0.0
    for s in segs:
        if groups and s["speaker"] == groups[-1][0]["speaker"] and key is not None:
            bucket = math.floor(cum / MAX_SEGMENT_DURATION)
            if bucket == key:
                groups[-1].append(s)
            else:
                groups.append([s])
                key = bucket
        else:
            groups.append([s])
            cum = 0.0
            key = 0
        cum += s["end"] - s["start"]
    out = []
    for g in groups:
        text = g[0]["text"] if len(g) == 1 else " ".join(
            f"[{fmt_ts(s['start'])}] {s['text']}" for s in g)
        out.append(dict(seg_id=g[0]["seg_id"], start=g[0]["start"],
                        end=max(s["end"] for s in g), speaker=g[0]["speaker"],
                        text=text))
    return out


def segment_line(m: dict) -> str:
    return f"[{fmt_ts(m['start'])}] {m['speaker']}: {m['text']}"


def expected_chunks(doc: dict, budget: int = BUDGET) -> list[dict]:
    """Greedy accumulate-and-reset packing of the merged segments."""
    chunks: list[dict] = []
    acc = 0
    for m in merged_segments(doc):
        line = segment_line(m)
        n = len(TOKEN_RE.findall(line))
        if not chunks or (acc > 0 and acc + n > budget):
            chunks.append(dict(lines=[], tokens=0, start=m["start"], end=m["end"]))
            acc = 0
        c = chunks[-1]
        c["lines"].append(line)
        c["tokens"] += n
        c["start"] = min(c["start"], m["start"])
        c["end"] = max(c["end"], m["end"])
        acc += n
    for c in chunks:
        c["text"] = "\n\n".join(c["lines"])
    return chunks


def chunk_summary(chunk: dict, completion) -> str:
    """The time-headed summary the reduce receives for ``chunk``."""
    prompt = DEFAULT_PROMPT.format(transcript=chunk["text"])
    return (f"[Time: {fmt_ts(chunk['start'])} - {fmt_ts(chunk['end'])}]\n"
            + completion(prompt))


def mock_completion(model: str = "gpt-3.5-turbo"):
    return lambda p: (f"[Mock response using {model}]\n\nSimulated summary of a "
                      f"{len(p)}-char prompt.")


def load_docs(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out.append(json.load(f))
    return out


def check_report(report: dict, docs: list[dict], completion) -> list[str]:
    """One ``run()`` report against the model of its input files (in
    the order the program orders them: by file path)."""
    errs: list[str] = []
    want_segments = sum(1 for d in docs for s in d["segments"] if s["text"].strip())
    if report.get("segments") != want_segments:
        errs.append(f"segments {report.get('segments')} != {want_segments}")
    chunks = [c for d in docs for c in expected_chunks(d)]
    if report.get("chunks") != len(chunks):
        errs.append(f"chunks {report.get('chunks')} != {len(chunks)}")
    errs += check_in_order(report.get("summary", ""),
                           [chunk_summary(c, completion) for c in chunks])
    return errs


def check_in_order(final: str, parts: list[str]) -> list[str]:
    """The final summary holds every chunk summary, in order."""
    pos = 0
    for i, p in enumerate(parts):
        at = final.find(p, pos)
        if at < 0:
            return [f"chunk summary {i} missing or out of order in the final summary"]
        pos = at + len(p)
    return []


def check_chunk_rows(rows: list[dict], docs: list[dict], completion,
                     budget: int = BUDGET) -> list[str]:
    """Saved chunk rows (doc order, then chunk_id) against the model:
    every merged segment once and in order, the greedy budget rule, and
    each summary equal to the completion for its prompt."""
    errs: list[str] = []
    by_doc: dict[str, list[dict]] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    if len(by_doc) != len(docs):
        return [f"{len(by_doc)} documents in the chunks, {len(docs)} expected"]
    for di, (doc, key) in enumerate(zip(docs, sorted(by_doc))):
        got = sorted(by_doc[key], key=lambda r: r["chunk_id"])
        merged = [segment_line(m) for m in merged_segments(doc)]
        lines = [ln for r in got for ln in r["text"].split("\n\n")]
        if lines != merged:
            errs.append(f"doc {di}: chunk texts do not hold each merged segment once, in order")
            continue
        sizes = [[len(TOKEN_RE.findall(ln)) for ln in r["text"].split("\n\n")] for r in got]
        for ci, s in enumerate(sizes):
            if sum(s) > budget and len(s) > 1:
                errs.append(f"doc {di} chunk {ci}: {sum(s)} tokens over the budget")
            if ci + 1 < len(sizes) and sum(s) + sizes[ci + 1][0] <= budget:
                errs.append(f"doc {di} chunk {ci}: greedy packing would take the next segment")
        want = expected_chunks(doc, budget)
        for ci, (r, c) in enumerate(zip(got, want)):
            if r["summary"] != chunk_summary(c, completion):
                errs.append(f"doc {di} chunk {ci}: summary is not the completion of its prompt")
    return errs


def check_prep(rows: list[tuple], oracle_rows: list[tuple], planted: dict) -> list[str]:
    """corpus_prep output rows (doc_id, lang, source, n_chars,
    quality_score, pred_lang) against the DuckDB twin's rows, plus every
    planted copy removed."""
    errs: list[str] = []

    def norm(rs):
        return sorted((int(r[0]), r[1], r[2], int(r[3]), round(float(r[4]), 9), r[5]) for r in rs)

    got, want = norm(rows), norm(oracle_rows)
    if got != want:
        errs.append(f"output ({len(got)} rows) differs from the DuckDB twin ({len(want)} rows)")
    kept = {r[0] for r in got}
    for kind in ("exact", "near", "junk", "foreign"):
        left = kept.intersection(planted[kind])
        if left:
            errs.append(f"{len(left)} planted {kind} documents survived, e.g. {min(left)}")
    return errs
