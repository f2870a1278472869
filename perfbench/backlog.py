"""replicate-backlog: the at-least-once replication job drains a
pre-written backlog of envelope files into a fresh sink.  One op runs
from query start to ``processAllAvailable()``."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aws_kinesis_data_streams_replicator_spark.operators import replication
from aws_kinesis_data_streams_replicator_spark.plans.queries import CONFIG_ROWS
from aws_kinesis_data_streams_replicator_spark.streaming import job
from aws_kinesis_data_streams_replicator_spark.streaming.sinks import (
    read_checkpoint_table,
)
from aws_kinesis_data_streams_replicator_spark.streaming.source import (
    read_envelope_stream,
)

import gen
from measure import Tracer, job_ids, median_or_zero

N_FILES = 2
PER_FILE = 150_000
# names the sinks are wrapped under, in streaming/job.py's namespace
SINK_SPANS = {
    "append_replicated": "sinks.write",
    "upsert_checkpoint_rows": "sinks.checkpoint_commit",
}
_DURATIONS = {
    "source.latest_offset_ms": "latestOffset",
    "source.get_batch_ms": "getBatch",
    "job.trigger_ms": "triggerExecution",
    "job.add_batch_ms": "addBatch",
    "job.wal_commit_ms": "walCommit",
    "job.commit_offsets_ms": "commitOffsets",
    "job.query_planning_ms": "queryPlanning",
}


def config_df(spark):
    values = ", ".join(f"('{s}', '{r}')" for s, r in CONFIG_ROWS)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(streamName, activeRegion)")


class Backlog:

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.out: dict[str, str] = {}
        self.n_ops = 0
        self.expected: dict = {}
        self.op_stats: list[dict] = []
        self.missing: dict[str, str] = {}

    def generate(self, work: str, seed: int) -> None:
        self.work = work
        self.stage = os.path.join(work, "backlog")
        self.expected = gen.write_backlog(self.stage, seed, N_FILES, PER_FILE)

    def install_trace(self) -> None:
        """Wrap the sink functions where the job module looks them up."""
        for name, span in SINK_SPANS.items():
            fn = getattr(job, name, None)
            if fn is None:
                self.missing[span] = f"streaming.job has no {name}"
                continue
            setattr(job, name, self.tracer.wrap(span, fn))

    def op(self) -> float:
        """One drain; returns its wall time."""
        if self.out:
            shutil.rmtree(os.path.dirname(self.out["repl"]), ignore_errors=True)
        d = os.path.join(self.work, f"op{self.n_ops}")
        self.n_ops += 1
        self.out = {k: os.path.join(d, k) for k in ("repl", "cp", "wal")}
        t0 = time.perf_counter()
        q = job.run_replication_stream(
            read_envelope_stream(self.spark, self.stage, max_batches_per_trigger=1),
            config_df(self.spark),
            gen.REGION,
            replicated_dir=self.out["repl"],
            checkpoint_table_dir=self.out["cp"],
            stream_checkpoint_dir=self.out["wal"],
        )
        q.processAllAvailable()
        dt = time.perf_counter() - t0
        self.query = q
        q.stop()
        q.awaitTermination(60)
        return dt

    def warm_up(self) -> None:
        """One full op, discarded."""
        self.op()
        self.check_op()

    def check_op(self) -> None:
        """Output checks for the last op; raises on any mismatch."""
        exp = self.expected
        files = sorted(
            os.path.join(self.out["repl"], f)
            for f in os.listdir(self.out["repl"])
            if f.endswith(".parquet")
        )
        tables = [pq.read_table(f, columns=["streamName", "sequenceNumber"]) for f in files]
        for f, t in zip(files, tables):
            seq = t.column("sequenceNumber")
            if len(seq) > 1 and not pc.all(
                pc.greater(seq.slice(1), seq.slice(0, len(seq) - 1))
            ).as_py():
                raise AssertionError(f"sequence order broken in {os.path.basename(f)}")
        t = pa.concat_tables(tables)
        want = exp["counts"]["replicated"]
        if t.num_rows != want:
            raise AssertionError(f"replicated {t.num_rows} != expected {want}")
        distinct = t.group_by(["streamName", "sequenceNumber"]).aggregate([]).num_rows
        if distinct != t.num_rows:
            raise AssertionError(f"{t.num_rows - distinct} duplicate records")
        cp = {
            r["streamName"]: r["lastReplicatedCommitTimestamp"]
            for r in read_checkpoint_table(self.spark, self.out["cp"]).collect()
        }
        if cp != exp["checkpoint"]:
            raise AssertionError(f"checkpoint {cp} != expected {exp['checkpoint']}")

    def collect_trace(self, op_span: int) -> None:
        """Per-trigger numbers of the last op, from the query's progress
        and the job group Structured Streaming runs it under."""
        q = self.query
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
        for p in prog:
            start = _progress_start(p)
            self.tracer.add(
                "streaming.trigger",
                start,
                start + p.durationMs.get("triggerExecution", 0) / 1000,
                op_span,
            )
        # sink spans were recorded under the op span; re-parent each to
        # the trigger that contains it
        triggers = [s for s in self.tracer.children(op_span) if s.name == "streaming.trigger"]
        for s in self.tracer.children(op_span):
            if s.name.startswith("sinks."):
                for t in triggers:
                    if t.start <= s.start <= t.end:
                        s.parent = t.id
        sink_files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(self.out["repl"])
            for f in fs
            if f.endswith(".parquet")
        ]
        records_in = sum(p.numInputRows for p in prog)
        replicated = sum(pq.read_metadata(f).num_rows for f in sink_files)
        self.op_stats.append(
            {
                "triggers": len(prog),
                "spark_jobs": len(job_ids(self.spark, str(q.runId))),
                "durations": [dict(p.durationMs) for p in prog],
                "bytes_written": sum(os.path.getsize(f) for f in sink_files),
                "files_written": len(sink_files),
                "records_in": records_in,
                "replicated": replicated,
            }
        )

    def decode_gate_s(self) -> float:
        """Median of three batch ``noop`` writes of the decode + gate plan
        over one backlog file: the per-record replication operators alone."""
        df = self.spark.read.parquet(self.expected["files"][0])
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            replication.gate_active_region(
                replication.with_decoded(df), config_df(self.spark), gen.REGION
            ).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        return median_or_zero(times)

    def layer_metrics(self) -> dict[str, float]:
        stats = self.op_stats
        n = len(stats)
        trig = [d for s in stats for d in s["durations"]]
        m = {
            k: median_or_zero(d.get(key, 0) for d in trig) for k, key in _DURATIONS.items()
        }
        n_trig = sum(s["triggers"] for s in stats)
        m["job.triggers"] = n_trig / n
        m["job.spark_jobs_per_trigger"] = sum(s["spark_jobs"] for s in stats) / n_trig
        for span in ("sinks.write", "sinks.checkpoint_commit"):
            m[f"{span}_ms"] = median_or_zero(self.tracer.durations(span)) * 1000
        # sink spans are recorded during traced ops only
        m["sinks.checkpoint_commits"] = len(self.tracer.durations("sinks.checkpoint_commit")) / n
        m["sinks.bytes_written"] = sum(s["bytes_written"] for s in stats) / n
        m["sinks.files_written"] = sum(s["files_written"] for s in stats) / n
        records_in = sum(s["records_in"] for s in stats) / n
        replicated = sum(s["replicated"] for s in stats) / n
        m["replication.records_in"] = records_in
        m["replication.replicated"] = replicated
        # the at-least-once drain has no dead-letter sink, so every record
        # not replicated was dropped by the gate
        m["replication.dropped"] = records_in - replicated
        m["replication.decode_gate_s"] = self.decode_gate_s()
        return m


def _progress_start(p) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
