"""Self-tests for the benchmark's own code (no Spark needed).

Run from the repository root:  python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

import gen  # noqa: E402
import measure  # noqa: E402
from aws_kinesis_data_streams_replicator_spark.plans.queries import CONFIG_ROWS  # noqa: E402
from aws_kinesis_data_streams_replicator_spark.sources.tables import TABLES  # noqa: E402


def _backlog(tmp_path, seed, name="b"):
    return gen.write_backlog(str(tmp_path / name), seed, n_files=3, per_file=2_000)


def test_backlog_is_identical_for_the_same_seed(tmp_path):
    a, b = _backlog(tmp_path, 7, "a"), _backlog(tmp_path, 7, "b")
    c = _backlog(tmp_path, 8, "c")
    assert a["counts"] == b["counts"] and a["checkpoint"] == b["checkpoint"]
    for fa, fb, fc in zip(a["files"], b["files"], c["files"]):
        assert pq.read_table(fa).equals(pq.read_table(fb))
        assert not pq.read_table(fa).equals(pq.read_table(fc))


def test_sequence_numbers_are_fixed_width_and_ascending_across_files(tmp_path):
    exp = _backlog(tmp_path, 3)
    seqs = [s for f in exp["files"] for s in pq.read_table(f).column("sequenceNumber").to_pylist()]
    assert {len(s) for s in seqs} == {gen.SEQ_WIDTH}
    assert all(s.isdigit() for s in seqs)
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)


def test_expected_outcome_matches_a_duckdb_count(tmp_path):
    """The generator's expected counts and checkpoints, recomputed by
    DuckDB over the written files with the gate rules of the reference
    (no config row, several rows, or an inactive region: dropped)."""
    exp = _backlog(tmp_path, 5)
    values = ", ".join(f"('{s}', '{r}')" for s, r in CONFIG_ROWS)
    files = ", ".join(f"'{f}'" for f in exp["files"])
    con = duckdb.connect()
    rows = con.execute(
        f"""
        WITH cfg(streamName, activeRegion) AS (VALUES {values}),
        c AS (SELECT streamName, count(*) AS n, min(activeRegion) AS r
              FROM cfg GROUP BY streamName),
        env AS (
            SELECT split_part(split_part(eventSourceARN, ':', 6), '/', 2) AS streamName,
                   json_extract_string(decode(data), '$.commitTimestamp') AS cts
            FROM read_parquet([{files}]))
        SELECT CASE WHEN c.n IS NULL THEN 'dropped_unconfigured'
                    WHEN c.n > 1 THEN 'dropped_duplicate_config'
                    WHEN lower(c.r) = '{gen.REGION}' THEN 'replicated'
                    ELSE 'dropped_inactive' END AS disposition,
               env.streamName, count(*), max(cts)
        FROM env LEFT JOIN c USING (streamName)
        GROUP BY ALL
        """
    ).fetchall()
    counts: dict[str, int] = {}
    checkpoint = {}
    for disposition, stream, n, cts in rows:
        counts[disposition] = counts.get(disposition, 0) + n
        if disposition == "replicated":
            checkpoint[stream] = cts
    assert counts == exp["counts"]
    assert sum(counts.values()) == exp["records"]
    assert checkpoint == exp["checkpoint"]
    assert len(checkpoint) == 2  # two active streams


def test_analytics_tables_are_seeded_and_cover_every_fixture_table():
    a, b = gen.analytics_tables(4, 0.001), gen.analytics_tables(4, 0.001)
    c = gen.analytics_tables(5, 0.001)
    assert sorted(a) == sorted(TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


@pytest.mark.skipif(
    not os.environ.get("PERFBENCH_FIXTURE_DIR"),
    reason="set PERFBENCH_FIXTURE_DIR to the fixture sf0.01 directory",
)
def test_tables_match_the_fixture_at_its_scale():
    """At scale 0.01 the generated tables have the fixture sf0.01's row
    counts and the value statistics the mix's queries depend on."""
    import pyarrow.compute as pc

    fix_dir = os.environ["PERFBENCH_FIXTURE_DIR"]
    fix = {t: pq.read_table(os.path.join(fix_dir, f"{t}.parquet")) for t in TABLES}
    ours = gen.analytics_tables(7, 0.01)

    def stats(t):
        texts = t["documents"]["text"].to_pylist()
        return {
            "users": pc.count_distinct(t["events"]["user_id"]).as_py(),
            "event_types": set(t["events"]["event_type"].to_pylist()),
            "vocab": {w for x in texts for w in x.split()},
            "orders_with_lines": pc.count_distinct(t["lineitem"]["l_orderkey"]).as_py(),
            "words_per_doc": sum(len(x.split()) for x in texts) / len(texts),
            "labels": pc.count_distinct(t["embeddings"]["label"]).as_py(),
        }

    assert {t: ours[t].num_rows for t in TABLES} == {t: fix[t].num_rows for t in TABLES}
    a, b = stats(ours), stats(fix)
    for k in ("users", "event_types", "vocab", "labels"):
        assert a[k] == b[k], k
    assert a["orders_with_lines"] == pytest.approx(b["orders_with_lines"], rel=0.02)
    assert a["words_per_doc"] == pytest.approx(b["words_per_doc"], rel=0.1)


def test_covered_and_self_time():
    tr = measure.Tracer(enabled=True)
    op = tr.add("op", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, op)
    tr.add("b", 3.0, 5.0, op)  # overlaps a
    tr.add("c", 9.0, 12.0, op)  # runs past the parent's end
    assert measure.covered(tr.children(op), 0.0, 10.0) == pytest.approx(5.0)
    assert tr.self_time(op) == pytest.approx(5.0)


def test_tree_cpu_counts_exited_children():
    before = measure.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.5: pass"],
        check=True,
    )
    assert measure.tree_cpu_s() - before >= 0.4


def test_tree_pids_sees_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        deadline = time.time() + 5
        while child.pid not in measure.tree_pids() and time.time() < deadline:
            time.sleep(0.05)
        assert child.pid in measure.tree_pids()
        assert measure.tree_peak_rss_mb() > 0
    finally:
        child.kill()
        child.wait(timeout=5)
