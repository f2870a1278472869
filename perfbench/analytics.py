"""analytics-mix: one op is one pass, in fixed order, over nine registry
queries, each built and then executed by a ``noop`` write.  No
streaming code runs here; each query exercises a different operator
module."""

from __future__ import annotations

import importlib.util
import os
import re
import statistics
import sys
import time

import gen
from measure import Tracer, job_ids, stage_totals

# pipeline_corpus_curation_v8 is left out: its cold build (~16 s, 47
# Spark jobs) plus its DuckDB oracle (~5 s, run twice by the check) made
# an analytics run alone exceed the benchmark's time budget per run.
QUERIES = (
    "doc_token_budget_allocation",
    "doc_simhash_neardup_pairs",
    "emb_ann_ivf_kmeans_topk",
    "files_bloom_pruning",
    "dq_record_linkage",
    "tpch_q18_large_orders",
    "evt_session_windows",
    "part_abc_pareto",
    "mm_image_phash_groups",
)
SCALE = 0.005


def _parity_module(root: str):
    """The repository's DuckDB parity harness (``tools/parity.py``)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Analytics:
    def __init__(self, spark, tracer: Tracer, root: str):
        self.spark = spark
        self.tracer = tracer
        self.parity = _parity_module(root)
        # the wrapped callables `__spark_entry__.queries()` exposes
        self.queries = {n: self.parity.QUERIES[n] for n in QUERIES}
        self.n_ops = 0
        self.per_query: list[dict[str, dict]] = []
        self.result_rows: dict[str, int] = {}
        self.missing: dict[str, str] = {}

    def generate(self, work: str, seed: int) -> None:
        self.sf_dir = os.path.join(work, "tables")
        gen.write_tables(self.sf_dir, seed, SCALE)

    def install_trace(self) -> None:
        pass

    def check_op(self) -> None:
        """Nothing to check: a ``noop`` write has no output.  Results are
        compared with the oracles once per run, in :meth:`warm_up`."""

    def warm_up(self) -> None:
        """Build and collect every query once, comparing its result with
        its DuckDB oracle; raises on a mismatch, or on an empty result,
        which would leave the comparison nothing to catch."""
        con = self.parity.duck_connection(self.sf_dir)
        try:
            bad = []
            for name in QUERIES:
                ok, msg = self.parity.compare_query(self.spark, con, name, self.sf_dir)
                # compare_query reports "OK (<n> rows)" after an oracle match
                rows = re.fullmatch(r"OK \((\d+) rows\)", msg) if ok else None
                if rows and int(rows.group(1)) > 0:
                    self.result_rows[name] = int(rows.group(1))
                else:
                    bad.append(f"{name}: {msg}")
        finally:
            con.close()
        print(f"result rows: {self.result_rows}", file=sys.stderr)
        if bad:
            raise AssertionError("; ".join(bad))

    def op(self) -> float:
        sc = self.spark.sparkContext
        traced = self.tracer.enabled
        stats: dict[str, dict] = {}
        total = 0.0
        op_id = self.n_ops
        self.n_ops += 1
        for name in QUERIES:
            if traced:
                sc.setJobGroup(f"bench-build-{op_id}-{name}", name)
            t0 = time.time()
            df = self.queries[name](self.spark, self.sf_dir)
            t1 = time.time()
            if traced:
                sc.setJobGroup(f"bench-exec-{op_id}-{name}", name)
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            total += t2 - t0
            if traced:
                self.tracer.add("plans.build", t0, t1)
                self.tracer.add("exec.write", t1, t2)
                stats[name] = {"build_s": t1 - t0, "exec_s": t2 - t1}
        if traced:
            sc.setJobGroup("bench-idle", "idle")
            for name in QUERIES:
                stats[name]["build_jobs"] = len(
                    job_ids(self.spark, f"bench-build-{op_id}-{name}")
                )
                stats[name].update(stage_totals(self.spark, f"bench-exec-{op_id}-{name}"))
            self.per_query.append(stats)
        return total

    def collect_trace(self, op_span: int) -> None:
        pass

    def layer_metrics(self) -> dict[str, float]:
        m: dict[str, float] = {}
        for name in QUERIES:
            rows = [p[name] for p in self.per_query]

            def med(key):
                return statistics.median(r[key] for r in rows)

            m[f"plans.build_s.{name}"] = med("build_s")
            m[f"plans.build_jobs.{name}"] = med("build_jobs")
            m[f"exec.wall_s.{name}"] = med("exec_s")
            m[f"exec.cpu_s.{name}"] = med("cpu_s")
            m[f"exec.shuffle_write_mb.{name}"] = med("shuffle_write_mb")
            m[f"exec.spill_mb.{name}"] = med("spill_mb")
            m[f"exec.tasks.{name}"] = med("tasks")
            m[f"exec.rows.{name}"] = self.result_rows.get(name, 0)
        return m
