"""Seeded input generator for the benchmark.

Every input the program reads, except the analytics tables, is made here
from ``(kind, seed)``:

* Firehose-layout archives (``dt=YYYY-MM-DD/hr=HH/part-NNNNN.json.gz``),
  one gzip NDJSON file per chunk, in the event schema the archive readers
  declare. Each record carries its creation time (``ts``) on a synthetic
  timeline that advances with ``event_id``, so the same seed always gives
  the same bytes. File mtimes increase with the part number, so the
  streaming file source consumes files in ``event_id`` order.
* The DuckDB oracle rows of the analytics mix. The tables themselves are
  the repo's sf0.01 test fixture, copied into ``perfbench/fixtures/sf0.01``
  so that a run reads nothing outside its checkout.

Output is cached under ``<cache>/<kind>-<hash of (kind, seed, params)>``;
the program only ever receives the archive root or the table directory.
A ``truth.parquet`` beside each archive (never inside it) holds what the
benchmark checks the outputs against.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import shutil
import tempfile
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = "1"

# Per-workload archive shapes. ``key`` is the partition-key distribution
# (props.k); ``pad`` sizes the record; ``email`` plants a value the
# workload's sanitize rule must redact.
ARCHIVES = {
    # ~200 B records, uniform keys, many small files: per-record cost
    "backfill": dict(files=60, per_file=400, keys=8192, key="uniform", pad=60,
                     users=50_000, email=False),
    # ~2 KB records, Zipf-skewed keys, tiny files: per-batch cost
    "paced-replay": dict(files=40, per_file=24, keys=2000, key="zipf", pad=1800,
                         users=50_000, email=True),
    # change log: user_id is the upsert key, re-updated across batches
    "upsert-ingest": dict(files=10, per_file=500, keys=64, key="uniform", pad=40,
                          users=12_000, email=False),
}

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = [
    f"{a}{b}"
    for a in ("ka", "lo", "mi", "nu", "pe", "ro", "sa", "ti", "vu", "ze",
              "ba", "de", "fo", "gu", "hi", "ju")
    for b in ("n", "r", "s", "t", "l", "m", "x", "k", "d", "p", "g", "b")
]
EPOCH = dt.datetime(2024, 1, 1)
MTIME_BASE = 1_700_000_000  # fixed, so mtimes are part of the seeded input


def _key(kind: str, seed: int, params: dict) -> str:
    blob = json.dumps([GEN_VERSION, kind, seed, params], sort_keys=True)
    return f"{kind}-{hashlib.sha256(blob.encode()).hexdigest()[:16]}"


def _cached(cache: Path, kind: str, seed: int, params: dict, build) -> Path:
    """Build ``build(tmp_dir)`` once per (kind, seed, params); atomic rename."""
    final = cache / _key(kind, seed, params)
    if (final / "_DONE").exists():
        return final
    cache.mkdir(parents=True, exist_ok=True)
    tmp = Path(tempfile.mkdtemp(prefix=".build-", dir=cache))
    try:
        build(tmp)
        (tmp / "_DONE").touch()
        os.rename(tmp, final)
    except OSError:
        if not (final / "_DONE").exists():
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def prune_cache(cache: Path, keep: int = 6) -> None:
    """Keep only the ``keep`` most recently used cache entries."""
    if not cache.is_dir():
        return
    entries = sorted(
        (p for p in cache.iterdir() if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in entries[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def _zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float = 1.1):
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    # hot keys get scattered ids, not 0, 1, 2...
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=n, p=p)]


def archive(cache: Path, kind: str, seed: int, files: int | None = None) -> dict:
    """Return ``{"root", "truth", "n", "files", "json_bytes"}`` for ``kind``;
    ``files`` overrides the file count (the warm-up archives are short)."""
    params = dict(ARCHIVES[kind], **({"files": files} if files else {}))
    path = _cached(cache, kind, seed, params, lambda tmp: _write_archive(tmp, params, seed))
    os.utime(path)  # LRU stamp for prune_cache
    meta = json.loads((path / "meta.json").read_text())
    return {
        "root": str(path / "archive"),
        "truth": str(path / "truth.parquet"),
        **meta,
    }


def _write_archive(out: Path, p: dict, seed: int) -> None:
    rng = np.random.default_rng([seed, 1])
    n = p["files"] * p["per_file"]
    eid = np.arange(n, dtype=np.int64)
    if p["key"] == "zipf":
        keys = _zipf_keys(rng, n, p["keys"])
    else:
        keys = rng.integers(0, p["keys"], size=n)
    users = rng.integers(0, p["users"], size=n)
    etypes = rng.integers(0, len(EVENT_TYPES), size=n)
    values = np.round(rng.uniform(0.01, 500.0, size=n), 2)
    # creation time: a six-hour synthetic timeline, strictly increasing
    step_us = (6 * 3600 * 1_000_000) // n
    ts_us = eid * step_us + rng.integers(0, step_us, size=n)
    words = np.array(WORDS)
    pad_words = max(1, p["pad"] // 4)
    pads = words[rng.integers(0, len(words), size=(n, pad_words))]

    arc = out / "archive"
    json_bytes = 0
    for f in range(p["files"]):
        lo, hi = f * p["per_file"], (f + 1) * p["per_file"]
        lines = []
        for i in range(lo, hi):
            props = {"k": int(keys[i]), "note": " ".join(pads[i])}
            if p["email"]:
                props["email"] = f"u{int(users[i])}@example.com"
            ts = EPOCH + dt.timedelta(microseconds=int(ts_us[i]))
            lines.append(
                json.dumps(
                    {
                        "event_id": int(eid[i]),
                        "ts": ts.strftime("%Y-%m-%dT%H:%M:%S.%f"),
                        "user_id": int(users[i]),
                        "event_type": EVENT_TYPES[etypes[i]],
                        "value": float(values[i]),
                        "props": json.dumps(props, separators=(",", ":")),
                    },
                    separators=(",", ":"),
                )
            )
        payload = ("\n".join(lines) + "\n").encode()
        json_bytes += len(payload)
        t0 = EPOCH + dt.timedelta(microseconds=int(ts_us[lo]))
        d = arc / f"dt={t0:%Y-%m-%d}" / f"hr={t0:%H}"
        d.mkdir(parents=True, exist_ok=True)
        target = d / f"part-{f:05d}.json.gz"
        target.write_bytes(gzip.compress(payload, compresslevel=6, mtime=0))
        os.utime(target, (MTIME_BASE + f, MTIME_BASE + f))

    pq.write_table(
        pa.table(
            {
                "seq": eid,
                "key": pa.array([str(int(k)) for k in keys]),
                "user_id": users.astype(np.int64),
                "event_type": pa.array([EVENT_TYPES[i] for i in etypes]),
                "value": values,
            }
        ),
        out / "truth.parquet",
    )
    (out / "meta.json").write_text(
        json.dumps({"n": int(n), "files": p["files"], "json_bytes": json_bytes})
    )


# ------------------------------------------------------------ analytics


def oracle_rows(cache: Path, sf_dir: str, oracles: dict[str, str]) -> dict:
    """DuckDB oracle results, canonicalized, cached by the hash of the SQL:
    ``{name: [sorted column names, canonical rows]}``."""
    from s3_kinesis_replay_spark.oracle import canon_rows, duck_connect, duck_result

    blob = json.dumps([sf_dir, oracles], sort_keys=True)
    digest = hashlib.sha256(blob.encode()).hexdigest()[:16]
    path = cache / f"oracle-{digest}.json"
    if path.exists():
        return json.loads(path.read_text())
    con = duck_connect(sf_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            cols, rows = duck_result(con, sql)
            out[name] = [sorted(cols), [list(r) for r in canon_rows(cols, rows)]]
    finally:
        con.close()
    cache.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(out))
    os.rename(tmp, path)
    return out
