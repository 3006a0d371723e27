"""Self-tests of the benchmark's own parts (no Spark needed).

    python3 perfbench/selftest.py

* the generators are deterministic: one seed, byte-identical files;
* the LLM stub's latency, its 429 above the ceiling and its one-shot 500;
* each checker accepts a correct output and rejects a corrupted one: a
  dropped segment, a reordered chunk, a missing dedup drop.
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import subprocess
import sys
import tempfile
import time
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.path.dirname(HERE), ".perfbench_work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stub  # noqa: E402


def _work() -> str:
    os.makedirs(WORK, exist_ok=True)
    return WORK


def test_transcripts_deterministic():
    with tempfile.TemporaryDirectory(dir=_work()) as d:
        a = gen.write_transcripts(os.path.join(d, "a"), 5, [3, 9])
        b = gen.write_transcripts(os.path.join(d, "b"), 5, [3, 9])
        c = gen.write_transcripts(os.path.join(d, "c"), 6, [3, 9])
        assert a["stats"] == b["stats"]
        for pa, pb, pc in zip(a["paths"], b["paths"], c["paths"]):
            assert filecmp.cmp(pa, pb, shallow=False)
            assert not filecmp.cmp(pa, pc, shallow=False)


def test_documents_deterministic():
    with tempfile.TemporaryDirectory(dir=_work()) as d:
        pa, pb = os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")
        a = gen.write_documents(pa, 5, 300)
        b = gen.write_documents(pb, 5, 300)
        assert a == b and filecmp.cmp(pa, pb, shallow=False)
        assert a["stats"]["row_groups"] == 8


class _Stub:
    def __init__(self, **kw):
        args = [f"--{k.replace('_', '-')}={v}" for k, v in kw.items()]
        self.proc = subprocess.Popen([sys.executable, os.path.join(HERE, "stub.py"), *args],
                                     stdout=subprocess.PIPE, text=True)
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline().split()[1])}"

    def post(self, prompt: str) -> tuple[int, dict]:
        body = json.dumps({"model": "m", "messages": [{"role": "user", "content": prompt}]})
        req = urllib.request.Request(self.url + "/v1/chat/completions", data=body.encode(),
                                     headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=10) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    def stats(self) -> dict:
        with urllib.request.urlopen(self.url + "/stats", timeout=10) as r:
            return json.loads(r.read())

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.proc.terminate()
        self.proc.wait(timeout=10)
        self.proc.stdout.close()


def test_stub_latency_and_completion():
    prompt = "word " * 2000
    with _Stub(base_ms=50, per_token_ms=0.1, ceiling=1000, fail_share=0) as s:
        t = time.monotonic()
        code, body = s.post(prompt)
        took = time.monotonic() - t
        assert code == 200
        assert body["choices"][0]["message"]["content"] == stub.completion_for(prompt)
        assert 0.25 <= took < 1.0, took  # 50 ms + 2000 tokens x 0.1 ms


def test_stub_rejects_above_ceiling():
    with _Stub(base_ms=0, per_token_ms=0, ceiling=2, slack=1, fail_share=0) as s:
        codes = [s.post(f"p{i}")[0] for i in range(6)]
        assert codes[0] == 200 and codes.count(429) >= 3, codes
        time.sleep(0.6)
        assert s.post("later")[0] == 200
        assert s.stats()["rejected_429"] == codes.count(429)


def test_stub_one_shot_500():
    with _Stub(base_ms=0, per_token_ms=0, ceiling=1000, fail_share=1.0) as s:
        assert s.post("same prompt")[0] == 500
        assert s.post("same prompt")[0] == 200
        st = s.stats()
        assert (st["requests"], st["errors_500"], st["distinct_answered"]) == (2, 1, 1)


def _doc(seed: int = 3, minutes: int = 40) -> dict:
    import random

    return gen.transcript(random.Random(seed), minutes)


def _rows(doc: dict, budget: int) -> list[dict]:
    comp = check.mock_completion()
    return [{"doc_id": "file:///x/t0000.json", "chunk_id": i, "text": c["text"],
             "summary": check.chunk_summary(c, comp)}
            for i, c in enumerate(check.expected_chunks(doc, budget))]


def test_chunk_check_rejects_dropped_segment_and_reordered_chunk():
    doc, budget = _doc(), 800
    comp = check.mock_completion()
    rows = _rows(doc, budget)
    assert len(rows) >= 3
    assert check.check_chunk_rows(rows, [doc], comp, budget) == []

    dropped = copy.deepcopy(rows)
    parts = dropped[1]["text"].split("\n\n")
    dropped[1]["text"] = "\n\n".join(parts[:1] + parts[2:])
    assert check.check_chunk_rows(dropped, [doc], comp, budget)

    swapped = copy.deepcopy(rows)
    swapped[0]["chunk_id"], swapped[1]["chunk_id"] = 1, 0
    assert check.check_chunk_rows(swapped, [doc], comp, budget)

    wrong = copy.deepcopy(rows)
    wrong[2]["summary"] = wrong[2]["summary"].replace("Simulated", "Simulted")
    assert check.check_chunk_rows(wrong, [doc], comp, budget)


def test_report_check_rejects_dropped_segment_and_reordered_chunk():
    doc = _doc(4, 90)
    comp = stub.completion_for
    parts = [check.chunk_summary(c, comp) for c in check.expected_chunks(doc)]
    assert len(parts) >= 3
    n_seg = sum(1 for s in doc["segments"] if s["text"].strip())
    good = {"segments": n_seg, "chunks": len(parts),
            "summary": "# Transcript Summary 0\n" + "\n\n".join(parts)}
    assert check.check_report(good, [doc], comp) == []

    assert check.check_report({**good, "segments": n_seg - 1}, [doc], comp)
    reordered = [parts[1], parts[0], *parts[2:]]
    assert check.check_report({**good, "summary": "\n\n".join(reordered)}, [doc], comp)

    # a segment dropped from the input changes a chunk's prompt, so its
    # stub completion no longer matches
    short = copy.deepcopy(doc)
    i = next(k for k, s in enumerate(short["segments"]) if s["text"].strip())
    short["segments"][i]["text"] = ""
    assert check.check_report({**good, "segments": n_seg}, [short], comp)


def test_prep_check_rejects_missing_dedup_drop():
    rows, planted = gen.document_rows(9, 500)
    kept_ids = set(range(len(rows))) - {i for v in planted.values() for i in v}
    out = [(r[0], r[2], r[3], r[4], 0.75, "en") for r in rows if r[0] in kept_ids]
    assert check.check_prep(out, out, planted) == []
    leaked = out + [(planted["near"][0], "en", "src0", 10, 0.75, "en")]
    assert check.check_prep(leaked, leaked, planted)
    assert check.check_prep(out[1:], out, planted)


def main() -> int:
    tests = [(k, v) for k, v in globals().items() if k.startswith("test_")]
    failed = 0
    for name, fn in tests:
        try:
            fn()
            print(f"ok   {name}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {name}: {exc!r}")
    print(f"{len(tests) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
