"""In-process fake warehouse for the fs_sync workload.

The read side (``Lister``) serves the generated projects and categories
to ``sources.rest.fetch_paginated`` on the driver.  The write side
(``SinkFactory``) is the ``transport_factory`` handed to
``sync.engine.apply_file_actions``: it is pickled into the Python
workers, and every transport it makes holds each call for a fixed
service time and appends one line per call to its own log file, so the
correctness gate can count calls and idempotency keys after the job.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from urllib.parse import parse_qs, urlsplit


class Lister:
    """GET ``<path>?page=P&limit=L`` over in-memory row lists."""

    def __init__(self, tables: dict[str, list[dict]], service_s: float):
        self.tables = tables
        self.service_s = service_s
        self.calls = 0

    def __call__(self, method: str, path: str, body):
        if method != "GET":
            raise ValueError(f"read-only fake: {method} {path}")
        self.calls += 1
        time.sleep(self.service_s)
        url = urlsplit(path)
        q = parse_qs(url.query)
        page, limit = int(q["page"][0]), int(q["limit"][0])
        return self.tables[url.path][page * limit : (page + 1) * limit]


class _SinkTransport:
    def __init__(self, log_dir: str, service_s: float):
        self.service_s = service_s
        name = f"sink-{os.getpid()}-{threading.get_ident()}-{uuid.uuid4().hex}.log"
        # line-buffered: every call is on disk when the call returns
        self.log = open(os.path.join(log_dir, name), "a", buffering=1)

    def __call__(self, method: str, path: str, body):
        t0 = time.time()
        time.sleep(self.service_s)
        key = parse_qs(urlsplit(path).query)["idempotency_key"][0]
        self.log.write(f"{t0:.6f} {time.time():.6f} {method} {key}\n")
        return {"ok": True}


class SinkFactory:
    """Picklable ``transport_factory``: one logging transport per thread."""

    def __init__(self, log_dir: str, service_s: float):
        self.log_dir = log_dir
        self.service_s = service_s

    def __call__(self) -> _SinkTransport:
        return _SinkTransport(self.log_dir, self.service_s)


def read_sink_log(log_dir: str) -> list[tuple[float, float, str, str]]:
    """Every logged call: (start, end, method, idempotency key)."""
    calls = []
    for name in sorted(os.listdir(log_dir)):
        if not name.startswith("sink-"):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                t0, t1, method, key = line.split(" ", 3)
                calls.append((float(t0), float(t1), method, key.rstrip("\n")))
    return calls
