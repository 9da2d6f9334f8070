"""HTTP search daemon — the reference ``searchd`` surface, stdlib-only.

The reference serves POST ``/search`` on port 8921 (searchd/config.h:1-2)
over libevent (searchd/httpd.c), parsing request JSON
``{"page": N, "kw": [{"type": "term"|"tex", "str": ...}]}``
(searchd/utils.c:65-150 parse_json_qry) and answering with the paginated
hit JSON that ``engine.SearchEngine.query_json`` already renders
(searchd/utils.c:173-389). This module is the listener: a
``http.server.ThreadingHTTPServer`` handler that translates the reference
request shape onto the engine facade.

Spark driver-side concurrency: concurrent requests are MICRO-BATCHED — the
handler enqueues each request and a single drainer thread sweeps the queue
(one bounded-latency window per sweep) into ONE ``query_json_many`` call.
On a warmed engine (``main`` warms with ``--cache-mb``) that call scores
the whole batch in the driver, like the reference's one-process searchd:
terms in the posting-cache pool are read from its decoded in-memory copy,
the batch's other terms arrive with one Spark fetch of their blocks, and
one docstore probe feeds the snippet pass (plans/serve.driver_search). So
a batch costs at most two Spark jobs, however many clients it drains. An
engine without a pool, or a batch whose cold terms could bring more
postings than the pool holds, is ranked with one ``search_many`` plan
instead. Under a single client this degenerates to the per-request path
with one window of added latency (default 5 ms).

Run: ``python -m search_engine_spark.searchd --index <path> [--port 8921]``
"""

from __future__ import annotations

import json
import logging
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

DEFAULT_PORT = 8921  # searchd/config.h:1
DEFAULT_URI = "/search"  # searchd/config.h:2
BATCH_WINDOW_MS = 5.0  # micro-batch accumulation window (latency bound)
MAX_BATCH = 64  # requests per drained batch
# listen backlog: a burst of clients waits in the kernel's accept queue
# while the drainer's driver-side scoring holds the interpreter; at
# http.server's default of 5, 64 clients connecting at once got some of
# their connections reset
LISTEN_BACKLOG = 128

log = logging.getLogger(__name__)


def keywords_to_qtext(kw_list) -> str:
    """Reference keyword array -> the engine's query text: term keywords
    join as plain text; tex keywords wrap in [imath] tags (the inverse of
    math.search.split_query)."""
    parts = []
    for kw in kw_list:
        t, s = kw.get("type"), kw.get("str", "")
        if t == "tex":
            parts.append(f"[imath]{s}[/imath]")
        elif t == "term":
            parts.append(s)
        else:
            raise ValueError(f"unknown keyword type: {t!r}")
    return " ".join(parts)


class MicroBatcher:
    """Drain concurrent requests into one ``query_json_many`` call.

    ``submit`` blocks the calling handler thread until its reply is ready;
    a single long-lived drainer thread waits for work, sleeps one
    ``window_ms`` accumulation window (the latency price of batching), then
    executes everything queued as ONE batch. Replies are matched back by
    position. A batch-level failure is logged with its traceback and
    answers every member with the reference's window-calculation error
    code rather than killing the daemon (searchd_ret
    SEARCHD_RET_WIND_CALC_ERR role)."""

    def __init__(self, engine, window_ms: float = BATCH_WINDOW_MS, max_batch: int = MAX_BATCH):
        self.engine = engine
        self.window_s = window_ms / 1000.0
        self.max_batch = max_batch
        self._cond = threading.Condition()
        self._queue: list[dict] = []
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def submit(self, qtext: str, page: int, mode: str = "or") -> dict:
        item = {"req": (qtext, page, mode), "done": threading.Event(), "out": None}
        with self._cond:
            self._queue.append(item)
            self._cond.notify()
        item["done"].wait()
        return item["out"]

    def _loop(self) -> None:
        from .engine import RET_WINDOW_ERR, errcode_json

        while True:
            with self._cond:
                while not self._queue:
                    self._cond.wait()
            time.sleep(self.window_s)  # let concurrent arrivals pile up
            with self._cond:
                batch = self._queue[: self.max_batch]
                del self._queue[: self.max_batch]
            try:
                outs = self.engine.query_json_many([it["req"] for it in batch])
            except Exception:
                log.exception("query_json_many failed on a batch of %d requests", len(batch))
                outs = [errcode_json(RET_WINDOW_ERR)] * len(batch)
            for it, out in zip(batch, outs):
                it["out"] = out
                it["done"].set()


def make_handler(batcher: MicroBatcher):
    class SearchHandler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _reply(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 (http.server API)
            from .engine import RET_BAD_JSON, errcode_json

            if self.path != DEFAULT_URI:
                self._reply(404, errcode_json(RET_BAD_JSON))
                return
            try:
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n) or b"{}")
                page = int(req.get("page", 0))
                qtext = keywords_to_qtext(req.get("kw", []))
            except (ValueError, json.JSONDecodeError):
                # searchd/run/searchd.c:53-59 malformed request JSON
                self._reply(200, errcode_json(RET_BAD_JSON))
                return
            # page 0 / missing page flows through to the engine's admission
            # check, which answers BAD_JSON like the reference
            # (parse_json_qry signals parse failure with page == 0)
            self._reply(200, batcher.submit(qtext, page))

    return SearchHandler


class _Server(ThreadingHTTPServer):
    request_queue_size = LISTEN_BACKLOG


def serve(engine, port: int = DEFAULT_PORT, block: bool = True):
    """Start the daemon; returns the server object (non-blocking callers
    shut it down with ``server.shutdown()``)."""
    srv = _Server(("127.0.0.1", port), make_handler(MicroBatcher(engine)))
    if block:
        srv.serve_forever()
    else:
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main() -> None:
    import argparse

    from .engine import SearchEngine
    from .session import get_spark

    ap = argparse.ArgumentParser(description="approach0-shape search daemon")
    ap.add_argument("--index", required=True, help="save_index output path")
    ap.add_argument("--port", type=int, default=DEFAULT_PORT)
    ap.add_argument("--cache-mb", type=int, default=32,
                    help="posting-cache budget (reference postcache default)")
    args = ap.parse_args()
    spark = get_spark("searchd")
    eng = SearchEngine.load(spark, args.index).warm(args.cache_mb << 20)
    print(f"searchd: serving POST {DEFAULT_URI} on 127.0.0.1:{args.port}")
    serve(eng, port=args.port)


if __name__ == "__main__":
    main()
