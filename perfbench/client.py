"""The benchmark's Kinesis client: a PutRecords endpoint that logs.

Built from the import path ``perfbench.client:make_client`` with a JSON
argument, so a Spark worker process builds its own instance exactly as it
would build a boto3 client. Each instance appends one JSON line per
``put_records`` call to its own file under ``out_dir``:

    {"b": batch_id, "t0": wall start, "t1": wall end, "n": entries sent,
     "ok": entries accepted, "bytes": accepted bytes, "raw": accepted
     payloads still holding the unsanitized marker, "k": [keys], "s": [seqs]}

``k``/``s`` list the ACCEPTED entries in the order the call carried them;
``batch_id`` and ``seq`` come from the sink's ``batch_id:seq|data``
envelope. The endpoint can charge a fixed service time per call and
throttle deterministically: every ``throttle_every``-th call accepts only
the first ``accept_share`` of its entries and fails the rest with
``ProvisionedThroughputExceededException``. Failing a suffix, never a
middle entry, keeps per-key order intact across the sink's retry.
"""

from __future__ import annotations

import json
import math
import os
import time
import uuid
from pathlib import Path

RAW_MARKER = b"@example.com"


class BenchClient:
    def __init__(self, out_dir: str, service_ms: float = 0.0, throttle_every: int = 0,
                 accept_share: float = 0.75):
        self.service_s = service_ms / 1000.0
        self.throttle_every = throttle_every
        self.accept_share = accept_share
        self.calls = 0
        self.path = Path(out_dir) / f"c-{os.getpid()}-{uuid.uuid4().hex[:12]}.jsonl"

    def put_records(self, StreamName: str, Records: list):  # noqa: N803 (boto3 names)
        t0 = time.time()
        self.calls += 1
        n = len(Records)
        ok = n
        if self.throttle_every and (self.calls - 1) % self.throttle_every == 0 and n > 1:
            ok = max(1, math.floor(n * self.accept_share))
        keys, seqs, nbytes, raw, batch = [], [], 0, 0, -1
        for rec in Records[:ok]:
            data = rec["Data"]
            head, _, body = data.partition(b"|")
            b, _, s = head.partition(b":")
            batch = int(b)
            keys.append(rec["PartitionKey"])
            seqs.append(int(s))
            nbytes += len(data) + len(rec["PartitionKey"])
            if RAW_MARKER in body:
                raw += 1
        if self.service_s:
            time.sleep(self.service_s)
        results = [{"SequenceNumber": str(i)} for i in range(ok)]
        results += [
            {"ErrorCode": "ProvisionedThroughputExceededException",
             "ErrorMessage": "rate exceeded"}
        ] * (n - ok)
        t1 = time.time()
        line = json.dumps({"b": batch, "t0": t0, "t1": t1, "n": n, "ok": ok,
                           "bytes": nbytes, "raw": raw, "k": keys, "s": seqs},
                          separators=(",", ":"))
        with open(self.path, "a") as f:
            f.write(line + "\n")
        return {"FailedRecordCount": n - ok, "Records": results}


def make_client(arg: str = "") -> BenchClient:
    """``module:callable`` entry point; ``arg`` is a JSON object of kwargs."""
    return BenchClient(**json.loads(arg))


def read_calls(out_dir: str) -> list[dict]:
    """Every logged call, with ``file`` and ``line`` (per-instance call order)."""
    calls = []
    for fi, p in enumerate(sorted(Path(out_dir).glob("c-*.jsonl"))):
        with open(p) as f:
            for li, line in enumerate(f):
                c = json.loads(line)
                c["file"], c["line"] = fi, li
                calls.append(c)
    return calls
