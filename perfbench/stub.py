"""Local LLM stub: a single-threaded asyncio HTTP server answering in the
OpenAI chat-completions shape.

* Latency is ``base_ms + per_token_ms * prompt_tokens`` (regex tokens).
* The completion is a pure function of the prompt's digest
  (:func:`completion_for`), so a checker can recompute it.
* Above ``ceiling`` requests/s it answers 429, with ``slack`` tokens of
  burst - the sum of the burst-1 buckets the clients' limiter holds.
* A seed-chosen ``fail_share`` of prompts get a one-shot 500 on their
  first attempt; the retry succeeds.
* ``GET /stats`` returns the counters; ``POST /reset`` zeroes them.

Run: ``python3 perfbench/stub.py --seed 1 --ceiling 40`` prints
``PORT <n>`` once it listens on 127.0.0.1.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import json
import re
import sys
import time

TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def digest(prompt: str) -> str:
    return hashlib.sha256(prompt.encode("utf-8")).hexdigest()


def completion_for(prompt: str) -> str:
    n = len(TOKEN_RE.findall(prompt))
    return f"stub-{digest(prompt)[:16]}: summary of {n} prompt tokens."


def fails_first(seed: int, prompt_digest: str, share: float) -> bool:
    h = hashlib.sha256(f"{seed}:{prompt_digest}".encode()).digest()
    return int.from_bytes(h[:8], "big") < share * 2**64


class Stub:
    def __init__(self, seed: int, base_ms: float, per_token_ms: float,
                 ceiling: float, slack: float, fail_share: float):
        self.seed = seed
        self.base = base_ms / 1000.0
        self.per_token = per_token_ms / 1000.0
        self.ceiling = ceiling
        self.capacity = max(1.0, slack)
        self.fail_share = fail_share
        self.tokens = self.capacity
        self.refilled = time.monotonic()
        self.failed_once: set[str] = set()
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.ok = 0
        self.rejected_429 = 0
        self.errors_500 = 0
        self.inflight = 0
        self.inflight_max = 0
        self.area = 0.0
        self.answered: set[str] = set()
        self.since = self.last = time.monotonic()

    def _track(self, delta: int) -> None:
        now = time.monotonic()
        self.area += self.inflight * (now - self.last)
        self.last = now
        self.inflight += delta
        self.inflight_max = max(self.inflight_max, self.inflight)

    def _admit(self) -> bool:
        now = time.monotonic()
        self.tokens = min(self.capacity,
                          self.tokens + (now - self.refilled) * self.ceiling)
        self.refilled = now
        if self.tokens >= 1.0 - 1e-9:
            self.tokens -= 1.0
            return True
        return False

    def stats(self) -> dict:
        self._track(0)
        elapsed = max(1e-9, self.last - self.since)
        return {
            "requests": self.requests,
            "ok": self.ok,
            "distinct_answered": len(self.answered),
            "rejected_429": self.rejected_429,
            "errors_500": self.errors_500,
            "inflight_mean": self.area / elapsed,
            "inflight_max": self.inflight_max,
            "elapsed_s": elapsed,
            "ceiling": self.ceiling,
        }

    async def complete(self, body: bytes) -> tuple[int, dict]:
        self.requests += 1
        if not self._admit():
            self.rejected_429 += 1
            return 429, {"error": {"message": "rate limit exceeded"}}
        self._track(+1)
        try:
            req = json.loads(body)
            prompt = req["messages"][-1]["content"]
            d = digest(prompt)
            n_tokens = len(TOKEN_RE.findall(prompt))
            if (d not in self.failed_once
                    and fails_first(self.seed, d, self.fail_share)):
                self.failed_once.add(d)
                self.errors_500 += 1
                await asyncio.sleep(self.base)
                return 500, {"error": {"message": "transient upstream error"}}
            await asyncio.sleep(self.base + self.per_token * n_tokens)
            self.ok += 1
            self.answered.add(d)
            text = completion_for(prompt)
            return 200, {
                "id": "chatcmpl-" + d[:24],
                "object": "chat.completion",
                "model": req.get("model", "stub"),
                "choices": [{"index": 0, "finish_reason": "stop",
                             "message": {"role": "assistant", "content": text}}],
                "usage": {"prompt_tokens": n_tokens,
                          "completion_tokens": len(TOKEN_RE.findall(text))},
            }
        finally:
            self._track(-1)

    async def handle(self, reader: asyncio.StreamReader,
                     writer: asyncio.StreamWriter) -> None:
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except (asyncio.IncompleteReadError, ConnectionError):
                    return
                lines = head.decode("latin-1").split("\r\n")
                method, path, _ = lines[0].split(" ", 2)
                headers = {}
                for line in lines[1:]:
                    if ":" in line:
                        k, v = line.split(":", 1)
                        headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", "0")))
                if method == "POST" and path.endswith("/chat/completions"):
                    status, payload = await self.complete(body)
                elif method == "GET" and path == "/stats":
                    status, payload = 200, self.stats()
                elif method == "POST" and path == "/reset":
                    self.reset()
                    status, payload = 200, {"reset": True}
                else:
                    status, payload = 404, {"error": {"message": "not found"}}
                data = json.dumps(payload).encode("utf-8")
                keep = headers.get("connection", "").lower() != "close"
                writer.write(
                    f"HTTP/1.1 {status} {'OK' if status == 200 else 'Error'}\r\n"
                    f"Content-Type: application/json\r\nContent-Length: {len(data)}\r\n"
                    f"Connection: {'keep-alive' if keep else 'close'}\r\n\r\n".encode()
                    + data
                )
                await writer.drain()
                if not keep:
                    return
        finally:
            writer.close()


async def serve(stub: Stub) -> None:
    server = await asyncio.start_server(stub.handle, "127.0.0.1", 0, backlog=512)
    print(f"PORT {server.sockets[0].getsockname()[1]}", flush=True)
    async with server:
        await server.serve_forever()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--base-ms", type=float, default=40.0)
    p.add_argument("--per-token-ms", type=float, default=0.02)
    p.add_argument("--ceiling", type=float, default=50.0)
    p.add_argument("--slack", type=float, default=1.0)
    p.add_argument("--fail-share", type=float, default=0.05)
    a = p.parse_args(argv)
    stub = Stub(a.seed, a.base_ms, a.per_token_ms, a.ceiling, a.slack, a.fail_share)
    try:
        asyncio.run(serve(stub))
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
