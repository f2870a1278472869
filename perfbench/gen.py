"""Seeded, Spark-free input generators for the benchmark.

Everything here is numpy + pyarrow: set-up must not depend on a Spark
job (staging envelope files through Spark cost 23.5 s of single-task
window sorting per process and was the source of set-up noise).

* ``write_backlog`` writes envelope parquet files in the shape the
  engine's file-stream source reads (``sources/envelope.py``) and
  returns the outcome the replication job must produce for them.
* ``write_tables`` writes the ten analytics tables with the schemas of
  the engine's fixture tables (FIXTURES.md).  Their value sets and
  distributions are this benchmark's own choice, made to resemble the
  fixture sf0.01: at scale 0.01 the row counts, event users and types,
  document vocabulary, lines per order and embedding labels agree
  (``test_tables_match_the_fixture_at_its_scale``).  Timestamps are
  written in microseconds, so the engine's nanosecond read path does not
  run.

Sequence numbers are fixed-width 56-digit decimal strings (the shape of
a real shard's numbers) and every ``commitTimestamp`` uses one form,
``YYYY-MM-DDTHH:MM:SS.ffffffZ``.  Mixed widths and mixed ISO-8601
forms are deliberately NOT generated: they belong to property tests,
not to this benchmark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from aws_kinesis_data_streams_replicator_spark.plans.queries import CONFIG_ROWS
from aws_kinesis_data_streams_replicator_spark.sources.envelope import (
    ARN_PREFIX,
    ARN_SUFFIX,
)

REGION = "us-east-1"
STREAMS = ("kds-click", "kds-view", "kds-purchase", "kds-signup", "kds-error")
SEQ_WIDTH = 56
_SEQ_COUNTER_DIGITS = 20
_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def dispositions() -> dict[str, str]:
    """Stream -> what the active-region gate does with its records,
    derived from the engine's own config rows (2 active, 1 inactive,
    1 with duplicate rows, 1 unconfigured)."""
    regions: dict[str, list[str]] = {}
    for s, r in CONFIG_ROWS:
        regions.setdefault(s, []).append(r)
    out = {}
    for s in STREAMS:
        rs = regions.get(s, [])
        if not rs:
            out[s] = "dropped_unconfigured"
        elif len(rs) > 1:
            out[s] = "dropped_duplicate_config"
        elif rs[0].lower() == REGION:
            out[s] = "replicated"
        else:
            out[s] = "dropped_inactive"
    return out


def envelope_table(
    rng: np.random.Generator, n: int, first_seq: int, first_us: int, seq_prefix: str
) -> tuple[pa.Table, np.ndarray, np.ndarray]:
    """``n`` envelope records in sequence order.  Returns the table, the
    per-record stream index and the per-record commit instant (µs)."""
    stream_ix = rng.integers(0, len(STREAMS), n)
    user = rng.integers(0, 5000, n)
    # strictly increasing commit instants: CDC commits are monotone
    commit_us = first_us + np.cumsum(rng.integers(1, 2000, n))
    seq = pc.utf8_lpad(
        pa.array(np.arange(first_seq, first_seq + n, dtype=np.int64)).cast(pa.string()),
        _SEQ_COUNTER_DIGITS,
        "0",
    )
    seq = pc.binary_join_element_wise(seq_prefix, seq, "")
    stream = pc.take(pa.array(STREAMS), pa.array(stream_ix))
    key = pa.array(user).cast(pa.string())
    payload = pc.binary_join_element_wise(
        '{"key": ', key,
        ', "commitTimestamp": "', pa.array(_iso_us(commit_us)),
        'Z", "props": {"k": ', pa.array(user % 100).cast(pa.string()),
        "}}", "",
    )
    table = pa.table(
        {
            "eventSourceARN": pc.binary_join_element_wise(ARN_PREFIX, stream, ARN_SUFFIX, ""),
            "partitionKey": key,
            "sequenceNumber": seq,
            # arrival trails the commit by a few ms, as on a real shard
            "approximateArrivalTimestamp": pa.array(
                commit_us + rng.integers(1000, 50_000, n), pa.timestamp("us", tz="UTC")
            ),
            "data": payload.cast(pa.binary()),
        }
    )
    return table, stream_ix, commit_us


def _iso_us(us: np.ndarray) -> np.ndarray:
    """µs since the epoch -> ``YYYY-MM-DDTHH:MM:SS.ffffff`` (UTC)."""
    return np.datetime_as_string(us.astype("datetime64[us]"))


def write_backlog(out_dir: str, seed: int, n_files: int, per_file: int) -> dict:
    """Write ``n_files`` envelope files of ``per_file`` records each,
    sequence numbers ascending across and within files.  Returns the
    expected outcome: record counts per disposition and each active
    stream's maximum commit instant."""
    rng = np.random.default_rng(seed)
    # a 36-digit per-seed shard prefix + a 20-digit counter = 56 digits
    seq_prefix = "49" + "".join(str(d) for d in rng.integers(0, 10, 34))
    os.makedirs(out_dir, exist_ok=True)
    disp = dispositions()
    counts = {d: 0 for d in sorted(set(disp.values()))}
    max_commit: dict[str, int] = {}
    files = []
    first_us = _EPOCH_US
    for i in range(n_files):
        table, stream_ix, commit_us = envelope_table(
            rng, per_file, i * per_file, first_us, seq_prefix
        )
        first_us = int(commit_us[-1])
        for j, s in enumerate(STREAMS):
            mask = stream_ix == j
            counts[disp[s]] += int(mask.sum())
            if disp[s] == "replicated" and mask.any():
                max_commit[s] = max(max_commit.get(s, 0), int(commit_us[mask].max()))
        path = os.path.join(out_dir, f"batch_{i:05d}.parquet")
        pq.write_table(table, path)
        files.append(path)
    return {
        "files": files,
        "records": n_files * per_file,
        "counts": counts,
        "checkpoint": {
            s: str(_iso_us(np.array([us]))[0]) + "Z" for s, us in sorted(max_commit.items())
        },
    }


# --- analytics tables -------------------------------------------------------

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_DAY_US = 86_400_000_000


def _pick(rng, values, n) -> pa.Array:
    return pc.take(pa.array(values), pa.array(rng.integers(0, len(values), n)))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start_us, n_days, n) -> pa.Array:
    return pa.array(start_us + rng.integers(0, n_days, n) * _DAY_US, pa.timestamp("us"))


def _documents(rng, n) -> pa.Table:
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def analytics_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten analytics tables at ``scale`` (0.01 gives the row counts
    of the fixture sf0.01), fully determined by ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_part = int(150_000 * scale), int(1_500_000 * scale), int(200_000 * scale)
    n_supp, n_line, n_evt = int(10_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc = n_emb = int(50_000 * scale)
    t95 = 788_918_400_000_000  # 1995-01-01
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pc.binary_join_element_wise(
                    _pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part), " "
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
                "o_orderdate": _days(rng, t95, 2400, n_ord),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, t95, 2500, n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
                "ts": pa.array(
                    np.sort(_EPOCH_US + rng.integers(0, 30 * _DAY_US, n_evt)), pa.timestamp("us")
                ),
                "user_id": pa.array(rng.integers(0, 150, n_evt)),
                "event_type": _pick(rng, _EVENT_TYPES, n_evt),
                "value": pa.array(_money(rng, 0.01, 490, n_evt)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytics_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
