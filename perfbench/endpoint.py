"""The dimension endpoint, run as its own process so that serving costs
land on neither the driver's interpreter lock nor its clock.

    python3 perfbench/endpoint.py --seed 1 --rows 100000 [--drop-row]

Prints ``PORT <n>`` once it listens on 127.0.0.1, then serves until its
standard input closes.  Routes:

- ``GET /data``: the pre-encoded document ``{"generation": g,
  "served_at": t, "data": {"rows": [...]}}``; ``g`` counts responses from
  1 and is also stamped into every row's ``gen`` field, ``t`` is the
  wall-clock time the response was built;
- ``GET /log``: ``[[g, t], ...]`` for every ``/data`` response so far.

``--drop-row`` leaves the last row out of every response: a fault that
the benchmark's correctness checks must report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import GEN_MARK, dimension  # noqa: E402


def serve(seed: int, rows: int, drop_row: bool) -> None:
    parts = dimension(seed, rows).body_parts
    if drop_row:
        # cut the last row object out of the array, keep the closing `]}}`
        prefix = GEN_MARK.join(parts[:-1])
        parts = prefix[: prefix.rindex(b',{"id":')].split(GEN_MARK)
        parts[-1] += b"]}}"
    head, parts = parts[0], parts[1:]
    log: list[list[float]] = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/data":
                gen = len(log) + 1
                served_at = time.time()
                log.append([gen, served_at])
                stamp = f'{{"generation":{gen},"served_at":{served_at!r},'.encode()
                body = stamp + head[1:] + f'"{gen}"'.encode().join([b""] + parts)
            elif self.path == "/log":
                body = json.dumps(log).encode()
            else:
                self.send_error(404)
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    httpd = HTTPServer(("127.0.0.1", 0), Handler)
    print(f"PORT {httpd.server_address[1]}", flush=True)

    def stop_on_stdin_close() -> None:
        sys.stdin.read()
        httpd.shutdown()

    threading.Thread(target=stop_on_stdin_close, daemon=True).start()
    httpd.serve_forever()
    httpd.server_close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--drop-row", action="store_true")
    a = ap.parse_args()
    serve(a.seed, a.rows, a.drop_row)
