"""The four workloads. Each is a closed loop with one client in one process.

A workload object is built with the Spark session, a scratch directory,
its seeded inputs and a :class:`~perfbench.tracing.Tracer`, then driven by
``run.py``: ``warmup()`` (untimed passes), ``measure(seconds)`` (timed
passes until ``seconds`` have elapsed; correctness checked after each
pass, outside its timing), then ``throughput()``/``latency_p50()`` for the
end-to-end figures and ``per_layer()``/``probes()`` for a traced run. A
*pass* is one complete unit of work: a full drain of the archive, or one
round of the query mix.
"""

from __future__ import annotations

import json
import random
import statistics
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from s3_kinesis_replay_spark.oracle import canon_rows
from s3_kinesis_replay_spark.operators import table_format as tf
from s3_kinesis_replay_spark.registry import all_queries
from s3_kinesis_replay_spark.sources.archive import read_archive, stream_archive
from s3_kinesis_replay_spark.streaming.replay import (
    ReplayConfig,
    build_replay_stream,
    run_replay,
)

from perfbench.client import read_calls
from perfbench.tracing import ProgressListener

CLIENT = "perfbench.client:make_client"
SANITIZE = [(r"u[0-9]+@example\.com", "<email>")]


def pct(values, q):
    return float(np.percentile(values, q)) if len(values) else 0.0


def _p50(values):
    return float(statistics.median(values)) if values else 0.0


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    unit_of_work = ""

    def __init__(self, spark, tmp: Path, tracer):
        self.spark = spark
        self.tmp = tmp
        self.tracer = tracer
        self.passes: list[dict] = []  # timed passes only
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self._n = 0

    def _dir(self, what: str) -> str:
        self._n += 1
        p = self.tmp / f"{what}-{self._n}"
        p.mkdir(parents=True)
        return str(p)

    def warmup(self, passes: int = 2) -> None:
        """Untimed passes over the short warm-up input (``self.warm``)."""
        was_active, self.tracer.active = self.tracer.active, False
        timed_input, self.input = self.input, self.warm
        try:
            for _ in range(passes):
                self.run_pass(traced=False, timed=False)
        finally:
            self.input = timed_input
            self.tracer.active = was_active

    def measure(self, seconds: float, trace: bool) -> None:
        """Timed passes until ``seconds`` elapse (at least two). With
        ``trace``, at least four, recording spans on passes 0, 3, 4, 7, ...
        (ABBA order, so the drift of a still-warming process cancels out
        of ``overhead``)."""
        t_end = time.perf_counter() + seconds
        i = 0
        while i < (4 if trace else 2) or time.perf_counter() < t_end:
            traced = trace and i % 4 in (0, 3)
            self.tracer.active = traced
            self.passes.append(self.run_pass(traced=traced, timed=True))
            i += 1
        self.tracer.active = trace

    def fail(self, n: int, msg: str) -> None:
        if n:
            self.failed += n
            self.problems.append(msg)

    # end-to-end figures common to every workload ------------------------
    def throughput(self) -> float:
        return _p50([p["work"] / p["wall"] for p in self.passes])

    def latencies(self) -> list[float]:
        return [x for p in self.passes for x in p["latency"]]

    def latency_p50(self) -> float:
        return pct(self.latencies(), 50)

    def overhead(self) -> float:
        tr = [p["wall"] / p["work"] for p in self.passes if p["traced"]]
        un = [p["wall"] / p["work"] for p in self.passes if not p["traced"]]
        return _p50(tr) / _p50(un) - 1.0 if tr and un else 0.0

    def traced(self) -> list[dict]:
        return [p for p in self.passes if p["traced"]]


# ---------------------------------------------------------------- replay


class Replay(Workload):
    """Archive → ``run_replay`` → the benchmark client.

    ``backfill``: coarse pacing, ``distributed=True``, zero-latency client.
    ``paced-replay``: CLI pacing (4 files/trigger), the driver-side publish
    path, sanitize rules, a client with a service time and deterministic
    partial throttling.
    """

    unit_of_work = "records"

    def __init__(self, spark, tmp, tracer, name, arc, warm, files_per_trigger,
                 distributed, client_conf, sanitize):
        super().__init__(spark, tmp, tracer)
        self.name = name
        self.input, self.warm = self._load(arc), self._load(warm)
        self.mft = files_per_trigger
        self.distributed = distributed
        self.client_conf = client_conf
        self.sanitize = sanitize
        self.listener = ProgressListener()

    @staticmethod
    def _load(arc: dict) -> dict:
        truth = pq.read_table(arc["truth"], columns=["key"])
        return {**arc, "key": np.array(truth.column("key").to_pylist(), dtype=object)}

    def config(self) -> ReplayConfig:
        return ReplayConfig(
            archive_root=self.input["root"],
            stream_name="bench",
            checkpoint_dir=self._dir("ckpt"),
            sanitize_rules=list(self.sanitize),
            max_files_per_trigger=self.mft,
        )

    def run_pass(self, traced: bool, timed: bool) -> dict:
        out = self._dir("calls")
        cfg = self.config()
        arg = json.dumps({"out_dir": out, **self.client_conf})
        if traced:
            self.spark.streams.addListener(self.listener)
        with self.tracer.span("drain", workload=self.name) as drain:
            t0 = time.perf_counter()
            q = run_replay(self.spark, cfg, CLIENT, distributed=self.distributed,
                           client_arg=arg)
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"replay failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if "addBatch" in p["durationMs"]]
        if traced:
            progress = _listened(self.listener, q.id, len(progress)) or progress
            self.spark.streams.removeListener(self.listener)
        calls = read_calls(out)
        res = self.check(calls)
        if traced:
            self.tracer.add_calls(calls, self.tracer.add_batches(progress, drain))
        d = [p["durationMs"] for p in progress]
        return {
            "traced": traced,
            "wall": wall,
            "work": self.input["n"],
            "latency": [x["triggerExecution"] / 1e3 for x in d],
            "add_batch": [x["addBatch"] / 1e3 for x in d],
            "offset": [(x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1e3 for x in d],
            "overhead": [(x["triggerExecution"] - x["addBatch"]) / 1e3 for x in d],
            "batches": len(d),
            "calls": calls,
            **res,
        }

    def check(self, calls: list) -> dict:
        """Every generated record delivered exactly once, under its own key,
        in per-key seq order, with the sanitize rule applied."""
        n, truth_key = self.input["n"], self.input["key"]
        keys = [k for c in calls for k in c["k"]]
        seqs = np.array([s for c in calls for s in c["s"]], dtype=np.int64)
        order = np.array([(c["b"], c["file"], c["line"], j) for c in calls
                          for j in range(len(c["s"]))], dtype=np.int64).reshape(-1, 4)
        self.attempted += n
        accepted = len(seqs)
        in_range = (seqs >= 0) & (seqs < n)
        counts = np.bincount(seqs[in_range], minlength=n)
        missing = int((counts == 0).sum())
        dups = int((counts > 1).sum()) + int((~in_range).sum())
        self.fail(missing, f"{missing} records never delivered")
        self.fail(dups, f"{dups} records delivered more than once")
        karr = np.array(keys, dtype=object)
        wrong = int((karr[in_range] != truth_key[seqs[in_range]]).sum())
        self.fail(wrong, f"{wrong} records under the wrong partition key")
        raw = sum(c["raw"] for c in calls)
        if self.sanitize:
            self.fail(raw, f"{raw} records published unsanitized")
        bad_order = 0
        if accepted:
            # delivery order: batch, then call order inside one client
            # (a key is owned by one writer per batch), then position
            idx = np.lexsort((order[:, 3], order[:, 2], order[:, 1], order[:, 0]))
            k_sorted, s_sorted = karr[idx], seqs[idx]
            by_key = sorted(range(len(idx)), key=lambda i: k_sorted[i])  # stable
            ks, ss = k_sorted[by_key], s_sorted[by_key]
            same = ks[1:] == ks[:-1]
            bad_order = int((same & (ss[1:] <= ss[:-1])).sum())
        self.fail(bad_order, f"{bad_order} per-key seq order violations")
        return {"deliveries_per_record": accepted / n}

    def per_layer(self) -> dict:
        tp = self.traced()
        calls = [c for p in tp for c in p["calls"]]
        batches = sum(p["batches"] for p in tp) or 1
        n_calls = len(calls) or 1
        busy = sum(c["t1"] - c["t0"] for c in calls)
        skew, kskew = [], []
        for p in tp:
            per_batch: dict = {}
            for c in p["calls"]:
                per_batch.setdefault(c["b"], []).append(c)
            for cs in per_batch.values():
                by_writer: dict = {}
                by_key: dict = {}
                for c in cs:
                    by_writer[c["file"]] = by_writer.get(c["file"], 0) + c["ok"]
                    for k in c["k"]:
                        by_key[k] = by_key.get(k, 0) + 1
                w = list(by_writer.values())
                skew.append(max(w) / (sum(w) / len(w)))
                kv = list(by_key.values())
                kskew.append(max(kv) / (sum(kv) / len(kv)))
        add = [x for p in tp for x in p["add_batch"]]
        return {
            "archive.offset_s": _p50([x for p in tp for x in p["offset"]]),
            "replay.batch_overhead_s": _p50([x for p in tp for x in p["overhead"]]),
            "replay.batches": float(tp[0]["batches"]) if tp else 0.0,
            "kinesis_sink.add_batch_p50_s": pct(add, 50),
            "kinesis_sink.add_batch_p90_s": pct(add, 90),
            "kinesis_sink.put_calls": len(calls) / max(len(tp), 1),
            "kinesis_sink.records_per_call": sum(c["ok"] for c in calls) / n_calls,
            "kinesis_sink.bytes_per_call": sum(c["bytes"] for c in calls) / n_calls,
            "kinesis_sink.client_busy_s": busy / batches,
            "kinesis_sink.accepted_per_attempt":
                sum(c["ok"] for c in calls) / max(sum(c["n"] for c in calls), 1),
            "kinesis_sink.writer_skew": _p50(skew),
            "kinesis_sink.key_skew": _p50(kskew),
            "kinesis_sink.deliveries_per_record":
                _p50([p["deliveries_per_record"] for p in self.passes]),
        }

    def probes(self) -> dict:
        """Layer ceilings: archive scan alone, and source + transform alone."""
        scan = _scan_probe(self)
        xf = []
        for i in range(2):
            cfg = self.config()
            with self.tracer.span("probe.replay_transform", req=i):
                t0 = time.perf_counter()
                q = (build_replay_stream(self.spark, cfg).writeStream.format("noop")
                     .option("checkpointLocation", cfg.checkpoint_dir)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                xf.append(self.input["n"] / (time.perf_counter() - t0))
        return {"archive.scan_records_per_s": _p50(scan),
                "replay.transform_records_per_s": _p50(xf)}


def _scan_probe(w: Workload, reps: int = 3) -> list[float]:
    """``read_archive`` → noop over the workload's archive, records/s."""
    out = []
    for i in range(reps):
        with w.tracer.span("probe.archive_scan", req=i):
            t0 = time.perf_counter()
            _noop(read_archive(w.spark, w.input["root"]))
            out.append(w.input["n"] / (time.perf_counter() - t0))
    return out


def _listened(listener, qid, expected, wait_s: float = 5.0) -> list | None:
    """The listener's events for ``qid`` once all ``expected`` arrived
    (the listener bus is asynchronous)."""
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        got = [p for p in listener.progress.get(str(qid), [])
               if "addBatch" in p["durationMs"]]
        if len(got) >= expected:
            return got
        time.sleep(0.02)
    return None


# ---------------------------------------------------------------- upsert


class Upsert(Workload):
    """Change log → per-batch latest-per-user → manifest table.

    The benchmark's own ``foreachBatch`` reduces each micro-batch to one
    row per ``user_id`` (the a15j shape), commits it with ``snapshot_write``
    (first batch) or ``snapshot_merge``, then calls ``snapshot_auto_maintain``.
    """

    name = "upsert-ingest"
    unit_of_work = "records"
    FOLD_AT, COMPACT_AT = 4, 6

    def __init__(self, spark, tmp, tracer, arc, warm, files_per_trigger):
        super().__init__(spark, tmp, tracer)
        self.input, self.warm = self._load(arc), self._load(warm)
        self.mft = files_per_trigger
        self.listener = ProgressListener()

    @staticmethod
    def _load(arc: dict) -> dict:
        """The expected final table, computed from the generator's output
        alone: the latest change per user_id."""
        expected = duckdb.sql(
            f"""SELECT user_id, seq AS last_event_id, event_type AS last_type,
                       value AS last_value
                FROM read_parquet('{arc['truth']}')
                QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) = 1
                ORDER BY user_id"""
        ).arrow()
        return {**arc, "expected": expected}

    def run_pass(self, traced: bool, timed: bool) -> dict:
        spark, tracer = self.spark, self.tracer
        table = self._dir("table")
        stats = {"merge": [], "maintain": [], "actions": []}
        state = {}

        def sink(batch_df, batch_id):
            latest = batch_df.groupBy("user_id").agg(
                F.max(F.struct("event_id", "event_type", "value")).alias("s")
            ).select("user_id", F.col("s.event_id").alias("last_event_id"),
                     F.col("s.event_type").alias("last_type"),
                     F.col("s.value").alias("last_value"))
            t0 = time.time()
            if not stats["merge"] and tf.latest_version(table) == 0:
                tf.snapshot_write(spark, latest, table, mode="overwrite")
                name = "snapshot_write"
            else:
                tf.snapshot_merge(spark, table, latest, "user_id")
                name = "snapshot_merge"
            t1 = time.time()
            acts = tf.snapshot_auto_maintain(spark, table, fold_at=self.FOLD_AT,
                                             compact_at=self.COMPACT_AT)
            t2 = time.time()
            tracer.add(name, t0, t1, state["drain"], batch_id)
            tracer.add("snapshot_auto_maintain", t1, t2, state["drain"], batch_id,
                       actions=acts)
            stats["merge"].append(t1 - t0)
            stats["maintain"].append(t2 - t1)
            stats["actions"].extend(acts)

        if traced:
            spark.streams.addListener(self.listener)
        with tracer.span("drain", workload=self.name) as drain:
            state["drain"] = drain
            t0 = time.perf_counter()
            q = (stream_archive(spark, self.input["root"], max_files_per_trigger=self.mft)
                 .writeStream.foreachBatch(sink)
                 .option("checkpointLocation", self._dir("ckpt"))
                 .outputMode("append").trigger(availableNow=True).start())
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"upsert drain failed: {q.exception()}")
        progress = [json.loads(p.json) for p in q.recentProgress]
        progress = [p for p in progress if "addBatch" in p["durationMs"]]
        if traced:
            progress = _listened(self.listener, q.id, len(progress)) or progress
            spark.streams.removeListener(self.listener)
            tracer.add_batches(progress, drain)
        applied = sum(p["numInputRows"] for p in progress)
        read_s = 0.0
        if traced:
            with tracer.span("read_after_ingest", drain):
                t = time.perf_counter()
                _noop(tf.snapshot_read(spark, table))
                read_s = time.perf_counter() - t
        self.check(table, applied)
        files = [p for p in Path(table).rglob("*.parquet")]
        d = [p["durationMs"] for p in progress]
        return {
            "traced": traced,
            "wall": wall,
            "work": self.input["n"],
            "latency": [x["triggerExecution"] / 1e3 for x in d],
            "offset": [(x.get("latestOffset", 0) + x.get("getBatch", 0)) / 1e3 for x in d],
            "overhead": [(x["triggerExecution"] - x["addBatch"]) / 1e3 for x in d],
            "batches": len(d),
            "read_s": read_s,
            "bytes": sum(f.stat().st_size for f in Path(table).rglob("*") if f.is_file()),
            "data_files": len(files),
            **stats,
        }

    def check(self, table: str, applied: int) -> None:
        n, expected = self.input["n"], self.input["expected"]
        self.attempted += expected.num_rows
        self.fail(abs(applied - n), f"{applied} change records applied, {n} generated")
        got = tf.snapshot_read(self.spark, table).orderBy("user_id").toArrow()
        got = got.select(expected.column_names)
        if got.num_rows != expected.num_rows:
            self.fail(abs(got.num_rows - expected.num_rows) or 1,
                      f"table has {got.num_rows} rows, expected {expected.num_rows}")
            return
        bad = np.zeros(got.num_rows, dtype=bool)
        for col in expected.column_names:
            a = got.column(col).to_numpy(zero_copy_only=False)
            b = expected.column(col).to_numpy(zero_copy_only=False)
            bad |= a != b
        self.fail(int(bad.sum()), f"{int(bad.sum())} table rows differ from latest-per-key")

    def per_layer(self) -> dict:
        tp = self.traced()
        merge = [x for p in tp for x in p["merge"]]
        maint = [x for p in tp for x in p["maintain"]]
        growth = []
        for p in tp:
            m = p["merge"]
            q = max(1, len(m) // 4)
            if len(m) >= 4:
                growth.append(statistics.mean(m[-q:]) / statistics.mean(m[:q]))
        return {
            "table_format.merge_p50_s": pct(merge, 50),
            "table_format.merge_p90_s": pct(merge, 90),
            "table_format.maintain_p50_s": pct(maint, 50),
            "table_format.maintain_max_s": max(maint, default=0.0),
            "table_format.folds": _p50([p["actions"].count("fold") for p in tp]),
            "table_format.compactions": _p50([p["actions"].count("compact") for p in tp]),
            "table_format.merge_growth": _p50(growth),
            "table_format.bytes_written_per_input_byte":
                _p50([p["bytes"] / self.input["json_bytes"] for p in tp]),
            "table_format.files_per_batch": _p50([p["data_files"] / p["batches"] for p in tp]),
            "table_format.read_after_ingest_s": _p50([p["read_s"] for p in tp]),
            "archive.offset_s": _p50([x for p in tp for x in p["offset"]]),
            "replay.batch_overhead_s": _p50([x for p in tp for x in p["overhead"]]),
            "replay.batches": float(tp[0]["batches"]) if tp else 0.0,
        }

    def probes(self) -> dict:
        return {"archive.scan_records_per_s": _p50(_scan_probe(self))}


# ---------------------------------------------------------------- analytics

# Registry queries in the mix, one per operator family: scan + decimal
# aggregation, 3-way join + top-k, shuffle join, window ranking, vector
# top-k, TF-IDF, gzip archive scan.
MIX = [
    "q1_pricing_summary", "q3_shipping_priority", "c1_inner_join", "e1_ranking",
    "i5_topk_cosine", "i8_tfidf", "a4_gzip_scan",
]

# Manifest-table reads over a table this benchmark builds in its scratch
# directory (the registry's own table entries cache their tables under a
# fixed system path). v1 = events with event_id < SPLIT, v2 = append of the
# rest, v3 = merge doubling every event_id % 10 == 3 value.
SPLIT = 6000
_AGG = ("CAST(COUNT(*) AS BIGINT) AS n_rows, "
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, "
        "ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value")
TABLE_QUERIES = {
    "m1_manifest_pruned_read": f"SELECT {_AGG} FROM events WHERE event_id BETWEEN 7000 AND 8000",
    "m2_manifest_time_travel": f"""
        SELECT CAST(1 AS BIGINT) AS version, {_AGG} FROM events WHERE event_id < {SPLIT}
        UNION ALL
        SELECT CAST(3 AS BIGINT), {_AGG} FROM (
          SELECT user_id, CASE WHEN event_id % 10 = 3 THEN value * 2 ELSE value END AS value
          FROM events)""",
}


def _agg(df):
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 6)
        .alias("sum_value"),
    )


def oracles() -> dict[str, str]:
    """Oracle SQL for every query in the mix."""
    reg = all_queries()
    return {**{n: reg[n].oracle for n in MIX}, **TABLE_QUERIES}


class Analytics(Workload):
    """Rounds of the query mix, each query forced with a noop write, in a
    seeded order that is reshuffled every round."""

    name = "analytics"
    unit_of_work = "queries"

    def __init__(self, spark, tmp, tracer, sf_dir, expected, seed):
        super().__init__(spark, tmp, tracer)
        self.sf_dir = sf_dir
        self.expected = expected
        self.rng = random.Random(seed)
        reg = all_queries()
        self.fns = {n: reg[n].fn for n in MIX}
        self.table = self._build_table()
        self.fns["m1_manifest_pruned_read"] = self._pruned_read
        self.fns["m2_manifest_time_travel"] = self._time_travel
        self.bad: set[str] = set()
        self.per_query: dict[str, list] = {}

    def _build_table(self) -> str:
        root = self._dir("table")
        ev = self.spark.read.parquet(f"{self.sf_dir}/events.parquet").select(
            "event_id", "user_id", "event_type", "value")
        tf.snapshot_write(self.spark, ev.filter(F.col("event_id") < SPLIT), root,
                          mode="overwrite")
        tf.snapshot_write(self.spark, ev.filter(F.col("event_id") >= SPLIT), root,
                          mode="append")
        tf.snapshot_merge(self.spark, root,
                          ev.filter(F.col("event_id") % 10 == 3)
                          .withColumn("value", F.col("value") * 2), "event_id")
        return root

    def _pruned_read(self, spark, _sf):
        df, n_read, n_total = tf.snapshot_read_pruned(
            spark, self.table, {"event_id": (7000, 8000)}, version=2)
        return _agg(df.filter(F.col("event_id").between(7000, 8000)))

    def _time_travel(self, spark, _sf):
        v1 = _agg(tf.snapshot_read(spark, self.table, version=1))
        v3 = _agg(tf.snapshot_read(spark, self.table))
        return v1.select(F.lit(1).cast("bigint").alias("version"), "*").unionByName(
            v3.select(F.lit(3).cast("bigint").alias("version"), "*"))

    def warmup(self, passes: int = 2) -> None:
        """The correctness round, then ``passes`` noop rounds. The collecting
        correctness round warms less than a noop round: with one noop round
        after it, the first timed round still ran 14 % slower than the
        next."""
        was_active, self.tracer.active = self.tracer.active, False
        try:
            self.check()
            for _ in range(passes):
                self.run_pass(traced=False, timed=False)
        finally:
            self.tracer.active = was_active

    def check(self) -> None:
        """Each query's result against its DuckDB oracle, once per run
        (oracle rows are computed with the inputs, outside the run)."""
        for name, fn in self.fns.items():
            df = fn(self.spark, self.sf_dir)
            cols, rows = list(df.columns), [tuple(r) for r in df.collect()]
            want_cols, want_rows = self.expected[name]
            got = [list(r) for r in canon_rows(cols, rows)]
            if sorted(cols) != want_cols or got != want_rows:
                self.bad.add(name)
                self.problems.append(
                    f"{name}: columns {sorted(cols)} vs {want_cols}, "
                    f"{len(got)} rows vs {len(want_rows)}, rows equal: {got == want_rows}")

    def run_pass(self, traced: bool, timed: bool) -> dict:
        order = list(self.fns)
        self.rng.shuffle(order)
        lat = []
        with self.tracer.span("round") as rnd:
            t0 = time.perf_counter()
            for i, name in enumerate(order):
                with self.tracer.span("query", rnd, i, query=name):
                    q0 = time.perf_counter()
                    _noop(self.fns[name](self.spark, self.sf_dir))
                    dt_ = time.perf_counter() - q0
                lat.append(dt_)
                if timed:
                    self.attempted += 1
                    self.fail(int(name in self.bad), f"{name} result did not match")
                    if traced:
                        self.per_query.setdefault(name, []).append(dt_)
            wall = time.perf_counter() - t0
        return {"traced": traced, "wall": wall, "work": len(order), "latency": lat}

    def latency_p50(self) -> float:
        """Median over rounds of each round's median query latency. Pooling
        the executions instead would put the median on the boundary
        between two queries' latencies whenever a run holds an even
        number of rounds."""
        return _p50([_p50(p["latency"]) for p in self.passes])

    def per_layer(self) -> dict:
        return {f"query.{n}_s": _p50(v) for n, v in sorted(self.per_query.items())}

    def probes(self) -> dict:
        return {}


# Every per-layer metric, with its unit. Each workload reports all of
# them; a layer the workload bypasses reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "archive.scan_records_per_s": "1/s",
    "archive.offset_s": "s",
    "replay.transform_records_per_s": "1/s",
    "replay.batch_overhead_s": "s",
    "replay.batches": "count",
    "kinesis_sink.add_batch_p50_s": "s",
    "kinesis_sink.add_batch_p90_s": "s",
    "kinesis_sink.put_calls": "count",
    "kinesis_sink.records_per_call": "count",
    "kinesis_sink.bytes_per_call": "B",
    "kinesis_sink.client_busy_s": "s",
    "kinesis_sink.accepted_per_attempt": "ratio",
    "kinesis_sink.key_skew": "ratio",
    **{f"query.{n}_s": "s" for n in sorted([*MIX, *TABLE_QUERIES])},
    "trace.overhead_share": "ratio",
}

# Printed in a traced run's summary but left out of its JSON line, because
# they cannot move on the workloads in BENCHMARK.json (paced-replay and
# analytics). writer_skew is 1.0 on the driver-side publish path (one
# client per batch; it varies only on backfill); any deliveries_per_record
# other than 1.0 already fails the correctness check; the table_format
# write-side figures come from upsert-ingest only.
SUMMARY_ONLY = {
    "kinesis_sink.writer_skew": "ratio",
    "kinesis_sink.deliveries_per_record": "ratio",
    "table_format.merge_p50_s": "s",
    "table_format.merge_p90_s": "s",
    "table_format.maintain_p50_s": "s",
    "table_format.maintain_max_s": "s",
    "table_format.folds": "count",
    "table_format.compactions": "count",
    "table_format.merge_growth": "ratio",
    "table_format.bytes_written_per_input_byte": "ratio",
    "table_format.files_per_batch": "ratio",
    "table_format.read_after_ingest_s": "s",
}
