"""Seeded input generators: transcript JSON files and a documents table.

The same seed gives byte-identical files. Everything the program sees
comes from here; the benchmark keeps the returned ``stats`` (and the
planted-row id lists) for its correctness checks and its result line.
"""

from __future__ import annotations

import json
import os
import random
import re

TOKEN_RE = re.compile(r"\w+|[^\w\s]")

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "qui", "ro", "su", "ta", "vo", "wi", "xa", "yo", "zu", "bre", "cla",
    "dro", "fle", "gra", "pli", "sto", "tri", "vel", "mor", "san", "ten",
]
STOPWORDS = {
    "en": ["the", "a", "of", "to", "and", "in", "is", "it", "you", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los"],
    "fr": ["le", "la", "de", "et", "un", "une", "est", "les", "des", "que"],
}
_ALL_STOPS = {w for ws in STOPWORDS.values() for w in ws}


def _vocabulary(n: int = 3000) -> list[str]:
    """Fixed pseudo-word vocabulary (independent of the run seed), with
    no word shorter than 4 letters and none equal to any stopword."""
    rng = random.Random(0)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4)))
        if len(w) >= 4 and w not in seen and w not in _ALL_STOPS:
            seen.add(w)
            words.append(w)
    return words


VOCAB = _vocabulary()


# ------------------------------------------------------------ transcripts

# Call lengths in minutes. The schedules are fixed so every seed sees the
# same size distribution; the seed draws the words, speakers, turn runs,
# disfluencies and file order.
# One corpus batch: two ordinary calls and one multi-hour call.
CORPUS_BATCH_MINUTES = [20, 50, 200]
# Live traffic: roughly 5 minutes to 2 hours, log-spaced, long and short
# calls interleaved; request i gets LIVE_MINUTES[i % 12].
LIVE_MINUTES = [120, 5, 45, 9, 80, 12, 34, 7, 60, 15, 26, 20]
WARMUP_MINUTES = [3]


def _sentence(rng: random.Random, n_words: int) -> str:
    out: list[str] = []
    for _ in range(n_words):
        w = rng.choice(STOPWORDS["en"]) if rng.random() < 0.25 else rng.choice(VOCAB)
        while out and w == out[-1]:
            w = rng.choice(VOCAB)
        out.append(w)
    out[0] = out[0].capitalize()
    return " ".join(out)


def _disfluent(rng: random.Random, n_words: int) -> str:
    """Spoken-style text: repeated words, doubled spaces and a space
    before some sentence-final punctuation."""
    parts: list[str] = []
    left = n_words
    while left > 0:
        k = min(left, rng.randint(4, 14))
        left -= k
        words = _sentence(rng, k).split(" ")
        noisy: list[str] = []
        for w in words:
            noisy.append(w)
            if rng.random() < 0.06:
                noisy.extend([w] * rng.randint(1, 2))
        sep = [("  " if rng.random() < 0.05 else " ") for _ in noisy[1:]]
        s = noisy[0] + "".join(a + b for a, b in zip(sep, noisy[1:]))
        punct = rng.choice(".?!.,.")
        s += (" " if rng.random() < 0.15 else "") + punct
        parts.append(s)
    return " ".join(parts)


def transcript(rng: random.Random, minutes: int) -> dict:
    """One call of ``minutes`` length as the reference's transcript JSON.
    Times sit on a half-second grid, so duration sums are exact."""
    n_speakers = rng.randint(2, 5)
    speakers = [f"SPEAKER_{i:02d}" for i in range(n_speakers)]
    segs: list[dict] = []
    t = 0.0
    spk = rng.randrange(n_speakers)
    run = 0
    while t < minutes * 60:
        if run <= 0:
            spk = (spk + rng.randint(1, n_speakers - 1)) % n_speakers
            run = 1 + int(rng.expovariate(1 / 2.5))
        run -= 1
        dur = rng.randint(4, 60) / 2.0
        if rng.random() < 0.01:
            text = rng.choice(["", "   ", " \t "])
        else:
            text = _disfluent(rng, max(1, int(dur * 2.4)))
            if rng.random() < 0.1:
                text = " " + text + " "
        segs.append({"start": t, "end": t + dur, "text": text,
                     "speaker": speakers[spk]})
        t += dur + rng.randint(0, 4) / 2.0
    return {"segments": segs}


def write_transcripts(
    out_dir: str, seed: int, minutes: list[int], prefix: str = "t",
    shuffle: bool = True,
) -> dict:
    """Write one transcript JSON per file; returns input stats and the
    file paths, in the order the seed shuffled the lengths (or in the
    given order)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    order = list(minutes)
    if shuffle:
        rng.shuffle(order)
    stats = {"files": 0, "segments": 0, "nonempty_segments": 0,
             "regex_tokens": 0, "bytes": 0, "minutes": 0}
    paths = []
    for i, m in enumerate(order):
        doc = transcript(rng, m)
        body = json.dumps(doc)
        path = os.path.join(out_dir, f"{prefix}{i:04d}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write(body)
        paths.append(path)
        segs = doc["segments"]
        stats["files"] += 1
        stats["segments"] += len(segs)
        stats["nonempty_segments"] += sum(1 for s in segs if s["text"].strip())
        stats["regex_tokens"] += sum(len(TOKEN_RE.findall(s["text"])) for s in segs)
        stats["bytes"] += len(body.encode("utf-8"))
        stats["minutes"] += m
    return {"stats": stats, "paths": paths, "minutes": order}


# -------------------------------------------------------------- documents

_CJK = [chr(c) for c in range(0x4E00, 0x4E00 + 400)]


def _foreign_doc(rng: random.Random, lang: str, n_words: int) -> str:
    if lang == "zh":
        return "".join(rng.choice(_CJK) for _ in range(n_words * 2))
    stops = STOPWORDS[lang]
    return " ".join(
        rng.choice(stops) if rng.random() < 0.3 else rng.choice(VOCAB)
        for _ in range(n_words)
    )


def _junk_doc(rng: random.Random) -> str:
    toks = ["####", "$$", "1234", "0x00ff", "://", "...", "|||", "404", "%%"]
    return " ".join(rng.choice(toks) for _ in range(rng.randint(5, 40)))


def _near_copy(rng: random.Random, text: str) -> str:
    """A few-word variant whose 3-gram shingle set differs from the
    original's in one shingle: the last word is replaced, and a few
    words change case or gain doubled spaces (both normalized away by
    the shingler but not by the exact-dedup digest's word identity)."""
    words = text.split(" ")
    last = rng.choice(VOCAB)
    while last == words[-1]:
        last = rng.choice(VOCAB)
    words[-1] = last
    for i in rng.sample(range(len(words) - 1), 3):
        words[i] = words[i].upper()
    return "  ".join(words[:2]) + " " + " ".join(words[2:])


def document_rows(seed: int, n_docs: int) -> tuple[list[tuple], dict]:
    """(doc_id, text, lang, source, n_chars) rows plus planted-row ids.

    Planted, all with ids above their originals: exact copies (some with
    case/whitespace variation), one-word near copies of long English
    documents, short junk documents, and de/es/fr/zh documents."""
    rng = random.Random(seed)
    n_exact = n_docs // 50
    n_near = n_docs // 50
    n_junk = n_docs // 25
    n_foreign = n_docs // 10
    n_base = n_docs - n_exact - n_near - n_junk - n_foreign
    rows: list[tuple] = []
    planted = {"exact": [], "near": [], "junk": [], "foreign": []}

    def add(text: str, lang: str) -> int:
        i = len(rows)
        rows.append((i, text, lang, f"src{rng.randrange(20)}", len(text)))
        return i

    for _ in range(n_base):
        add(_sentence(rng, rng.randint(40, 400)).lower(), "en")
    long_ids = [r[0] for r in rows if len(r[1].split(" ")) >= 300]
    for _ in range(n_exact):
        src = rows[rng.randrange(n_base)][1]
        if rng.random() < 0.5:
            src = src.upper().replace(" ", "  ", 2)
        planted["exact"].append(add(src, "en"))
    for _ in range(n_near):
        src = rows[rng.choice(long_ids)][1]
        planted["near"].append(add(_near_copy(rng, src), "en"))
    for _ in range(n_junk):
        planted["junk"].append(add(_junk_doc(rng), "en"))
    for _ in range(n_foreign):
        lang = rng.choice(["de", "es", "fr", "zh"])
        planted["foreign"].append(add(_foreign_doc(rng, lang, rng.randint(40, 300)), lang))
    return rows, planted


def write_documents(path: str, seed: int, n_docs: int, row_groups: int = 8) -> dict:
    """Write the documents table (testdata schema) as one parquet file
    with ``row_groups`` row groups."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows, planted = document_rows(seed, n_docs)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=-(-n_docs // row_groups),
                   compression="snappy")
    stats = {
        "documents": n_docs,
        "row_groups": pq.ParquetFile(path).metadata.num_row_groups,
        "regex_tokens": sum(len(TOKEN_RE.findall(r[1])) for r in rows),
        "planted_exact": len(planted["exact"]),
        "planted_near": len(planted["near"]),
        "planted_junk": len(planted["junk"]),
        "planted_foreign": len(planted["foreign"]),
    }
    return {"stats": stats, "planted": planted}
