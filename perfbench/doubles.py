"""Instrumented test doubles for the traced run.

``TimedJsonlDirSink`` is the package's ``JsonlDirSink`` with a timer
around each executor-side ``write_pairs`` call. Each call appends one
JSON line (start, end, pairs, bytes) to a record file, so the driver
can read the sink layer's busy time after the run.

``CountingDict`` is the KV store handed to ``KvReplayService``: a
``dict`` that counts every key a handler examines, by iteration or by
lookup. Writes are recorded separately, so a request's writes can be
checked against an independent lookup.
"""

from __future__ import annotations

import json
import os
import time

from streaming_recommendation_spark.streaming.sink import JsonlDirSink


class TimedJsonlDirSink(JsonlDirSink):
    def __init__(self, path: str, record_path: str):
        super().__init__(path)
        self.record_path = record_path

    def write_pairs(self, pairs) -> None:
        t0 = time.time()
        rows = list(pairs)
        super().write_pairs(rows)
        t1 = time.time()
        rec = {
            "t0": t0,
            "t1": t1,
            "pairs": len(rows),
            "bytes": sum(len(k) + len(v) for k, v in rows),
        }
        # one short O_APPEND write per call: lines from concurrent
        # executor processes do not interleave
        fd = os.open(self.record_path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, (json.dumps(rec) + "\n").encode())
        finally:
            os.close(fd)


def read_records(record_path: str) -> list[dict]:
    if not os.path.exists(record_path):
        return []
    with open(record_path) as f:
        return [json.loads(line) for line in f if line.strip()]


class WriteLog(dict):
    """A dict that logs every write, so a handler's writes can be
    checked. Reads stay the plain dict's."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.writes: list[tuple[str, str]] = []

    def __setitem__(self, key, value):
        self.writes.append((key, value))
        super().__setitem__(key, value)


class CountingDict(WriteLog):
    """A ``WriteLog`` that also counts the keys read through it."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.examined = 0

    def __iter__(self):
        for k in super().__iter__():
            self.examined += 1
            yield k

    def __getitem__(self, key):
        self.examined += 1
        return super().__getitem__(key)

    def get(self, key, default=None):
        self.examined += 1
        return super().get(key, default)

    def __contains__(self, key):
        self.examined += 1
        return super().__contains__(key)
