"""Mock Ollama server: ``POST /api/generate`` with deterministic extractive
replies and a fixed, sleep-based service time.

Run as its own process::

    python3 perfbench/mock_ollama.py

It binds 127.0.0.1 on a free port, prints ``PORT <n>`` as its first line and
shuts down when its standard input closes.

* Reply: the first ``options.num_predict`` whitespace tokens of the wrapped
  text, joined by single spaces. The wrapped text is the prompt after the
  critic's ``TÓM TẮT:`` line when there is one (so critiques echo the
  summary and never say "no issues", and every critique is followed by a
  refine), else the prompt with the summarizer's default instruction prefix
  removed when present.
* Service time: ``SCALE * (REQUEST_S + prompt tokens * PROMPT_TOKEN_S +
  output tokens * OUTPUT_TOKEN_S)``, slept while holding one of ``nproc``
  slots (an LLM server with that many parallel sequences). Requests beyond
  the slot count queue. ``GET /pace?scale=<x>`` sets ``SCALE`` (0 for an
  untimed warm-up).
* ``GET /stats``: cumulative ``calls``, ``prompt_tokens``,
  ``completion_tokens``, ``busy_s`` (summed time requests spent inside the
  server, queueing included), ``max_inflight`` (since the last
  ``/stats?reset=1``) and ``connections`` (TCP connections that carried a
  generate request).
* HTTP/1.1 with keep-alive, so a pooled client can reuse connections; the
  connection count shows whether it does.

The service-time constants are fitted to the reference's llama3.2:3b runs
on dataset-2 (BASELINE.md: 3,884 tokens/doc, 512 new tokens at most):
0.5 s + 0.1 ms per prompt token + 5.5 ms per output token gives 3.7 s for a
truncated call (measured 3.5 s/doc), 18 s/doc for map-reduce at 4.1 map
calls and one reduce per doc (measured 23.1) and 21 s/doc for iterative at
6.2 calls per doc (measured 24.3). ``SCALE`` shrinks that to a
benchmark-sized 1/20.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PREFIX = "Write a concise summary of the following text:\n\n"  # OllamaSummarizer's default
CRITIC_MARK = "TÓM TẮT:\n"  # OllamaCritic's prompts put the summary after it
REQUEST_S = 0.5
PROMPT_TOKEN_S = 1e-4
OUTPUT_TOKEN_S = 5.5e-3
SCALE = 1 / 20


class Stats:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.calls = 0
        self.prompt_tokens = 0
        self.completion_tokens = 0
        self.busy_s = 0.0
        self.inflight = 0
        self.max_inflight = 0
        self.connections = 0
        self.bad_requests = 0
        self.scale = SCALE

    def snapshot(self, reset: bool) -> dict:
        with self.lock:
            out = {
                "calls": self.calls,
                "prompt_tokens": self.prompt_tokens,
                "completion_tokens": self.completion_tokens,
                "busy_s": self.busy_s,
                "max_inflight": self.max_inflight,
                "connections": self.connections,
                "bad_requests": self.bad_requests,
            }
            if reset:
                self.max_inflight = self.inflight
            return out


def make_handler(stats: Stats, slots: threading.BoundedSemaphore):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        _counted = False

        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload, ensure_ascii=False).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path.startswith("/stats"):
                self._send(200, stats.snapshot(reset="reset=1" in self.path))
            elif self.path.startswith("/pace?scale="):
                stats.scale = float(self.path.split("=", 1)[1])
                self._send(200, {"scale": stats.scale})
            else:
                self._send(404, {"error": "not found"})

        def do_POST(self):
            t0 = time.perf_counter()
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n)
            if self.path != "/api/generate":
                self._send(404, {"error": "not found"})
                return
            try:
                req = json.loads(raw)
                prompt = req["prompt"]
                k = int((req.get("options") or {}).get("num_predict", 128))
                if not isinstance(prompt, str) or k < 0:
                    raise ValueError("bad prompt or num_predict")
            except (ValueError, KeyError, TypeError):
                with stats.lock:
                    stats.bad_requests += 1
                self._send(400, {"error": "malformed request"})
                return
            if CRITIC_MARK in prompt:
                text = prompt.split(CRITIC_MARK, 1)[1]
            else:
                text = prompt[len(PREFIX):] if prompt.startswith(PREFIX) else prompt
            reply_toks = text.split()[:k]
            p_toks = len(prompt.split())
            service = stats.scale * (REQUEST_S + p_toks * PROMPT_TOKEN_S + len(reply_toks) * OUTPUT_TOKEN_S)
            with stats.lock:
                if not self._counted:  # one handler instance per connection
                    self._counted = True
                    stats.connections += 1
                stats.inflight += 1
                stats.max_inflight = max(stats.max_inflight, stats.inflight)
            try:
                with slots:
                    time.sleep(service)
                self._send(
                    200,
                    {
                        "model": req.get("model", ""),
                        "response": " ".join(reply_toks),
                        "done": True,
                        "prompt_eval_count": p_toks,
                        "eval_count": len(reply_toks),
                    },
                )
            finally:
                with stats.lock:
                    stats.inflight -= 1
                    stats.calls += 1
                    stats.prompt_tokens += p_toks
                    stats.completion_tokens += len(reply_toks)
                    stats.busy_s += time.perf_counter() - t0

    return Handler


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 256


def main() -> int:
    stats = Stats()
    slots = threading.BoundedSemaphore(len(os.sched_getaffinity(0)))
    server = Server(("127.0.0.1", 0), make_handler(stats, slots))
    print(f"PORT {server.server_address[1]}", flush=True)
    threading.Thread(target=lambda: (sys.stdin.read(), server.shutdown()), daemon=True).start()
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
