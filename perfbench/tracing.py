"""Spans recorded by the benchmark around its calls into the program.

Spans live in memory (``Tracer.spans``) and are written once, at the end
of a traced run. A span is ``{id, name, start, end, parent, req}`` with
wall-clock seconds, so spans taken in Spark worker processes (the client's
``put_records`` log) line up with the driver's. ``req`` is the request id:
the micro-batch id for streaming work, the execution index for queries.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import time
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

# MicroBatchExecution's phases in the order it runs them; durationMs gives
# only their lengths, so child spans are laid end to end in this order.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets")


class Tracer:
    """Records while ``active``; a traced run switches it per pass, so it
    can interleave traced and untraced passes."""

    def __init__(self):
        self.active = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name, start, end, parent=None, req=None, sid=None, **attrs):
        if not self.active:
            return None
        sid = sid or next(self._ids)
        self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                           "parent": parent, "req": req, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name, parent=None, req=None, **attrs):
        """Times the block; yields the span id, so spans recorded inside
        the block can name it as their parent."""
        sid = next(self._ids) if self.active else None
        t0 = time.time()
        try:
            yield sid
        finally:
            self.add(name, t0, time.time(), parent, req, sid=sid, **attrs)

    def add_batches(self, progress: list, parent) -> dict:
        """Micro-batch spans (req = batch id) with their phase children;
        returns batch id -> span id."""
        ids = {}
        for p in progress:
            d = p["durationMs"]
            start = _iso(p["timestamp"])
            sid = self.add("micro_batch", start, start + d.get("triggerExecution", 0) / 1e3,
                           parent, p["batchId"], rows=p["numInputRows"])
            ids[p["batchId"]] = sid
            t = start
            for ph in PHASES:
                if ph in d:
                    self.add(ph, t, t + d[ph] / 1e3, sid, p["batchId"])
                    t += d[ph] / 1e3
        return ids

    def add_calls(self, calls: list, parent_by_batch: dict) -> None:
        for c in calls:
            self.add("put_records", c["t0"], c["t1"], parent_by_batch.get(c["b"]), c["b"],
                     entries=c["n"], accepted=c["ok"])

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1))


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every progress event of every query, by query id."""

    def __init__(self):
        self.progress: dict[str, list] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass
