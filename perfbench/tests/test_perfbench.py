"""Tests of the benchmark's own parts: the seeded corpus, the oracle
check and the event-log reader. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from perfbench import corpus
from perfbench import oracle as O
from perfbench.eventlog import EventLog

TURNS, CONVS = 600, 9
BUILD = ("nodes", "edges", "triples")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    corpus.write_corpus(str(d), TURNS, CONVS, seed=7)
    return str(d)


@pytest.fixture(scope="module")
def oracle(events_dir):
    o = O.Oracle(events_dir)
    yield o
    o.close()


@pytest.fixture(scope="module")
def want(oracle):
    sqls = entry.oracle_sql()
    return {f"kg_{t}": oracle.digest(sqls[f"kg_{t}"]) for t in BUILD}


def test_same_seed_same_digest_other_seed_other_digest():
    a = corpus.table_digest(corpus.events_table(TURNS, CONVS, 1))
    assert a == corpus.table_digest(corpus.events_table(TURNS, CONVS, 1))
    assert a != corpus.table_digest(corpus.events_table(TURNS, CONVS, 2))


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_seed_keeps_the_shape(seed):
    t = corpus.events_table(TURNS, CONVS, seed).to_pandas()
    assert len(t) == TURNS
    assert t.user_id.nunique() == CONVS
    assert list(t.event_id) == list(range(TURNS))
    assert (t.event_id % 5 < 2).mean() == pytest.approx(corpus.HEAD_PICK_SHARE, abs=1 / TURNS)
    assert t.ts.is_monotonic_increasing


def test_materialized_oracle_equals_inline_evaluation(events_dir, want):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_dir}/events.parquet'")
    sqls = entry.oracle_sql()
    for t in BUILD:
        inline = O.digest(con, f"({sqls[f'kg_{t}']})")
        assert inline == want[f"kg_{t}"]
        assert inline["rows"] > 0


def _write(out, oracle, edges_select="* EXCLUDE (__rn)", edges_where="true"):
    """The oracle's tables as a job's parquet output; edges pass through
    ``SELECT edges_select ... WHERE edges_where`` over rows numbered ``__rn``."""
    sqls = entry.oracle_sql()
    counts = {}
    for t in BUILD:
        rel = oracle.relation(sqls[f"kg_{t}"])
        if t == "edges":
            rel = (f"(SELECT {edges_select} FROM (SELECT *, row_number() OVER () AS __rn "
                   f"FROM {rel}) WHERE {edges_where})")
        (out / t).mkdir()
        oracle.con.execute(f"COPY (SELECT * FROM {rel}) TO '{out / t / 'part-0.parquet'}' (FORMAT PARQUET)")
        counts[t] = oracle.con.execute(f"SELECT count(*) FROM {rel}").fetchone()[0]
    return counts


def test_exact_outputs_pass(tmp_path, oracle, want):
    counts = _write(tmp_path, oracle)
    assert O.check_outputs(str(tmp_path), BUILD, counts, want) == []


def test_planted_one_row_drop_fails(tmp_path, oracle, want):
    counts = _write(tmp_path, oracle, edges_where="__rn > 1")
    failures = O.check_outputs(str(tmp_path), BUILD, counts, want)
    assert failures and failures[0].startswith("edges: row count")


def test_planted_one_value_change_fails(tmp_path, oracle, want):
    counts = _write(tmp_path, oracle, "* EXCLUDE (__rn) REPLACE ("
                    "CASE WHEN __rn = 1 THEN target_key || 'x' ELSE target_key END AS target_key)")
    assert O.check_outputs(str(tmp_path), BUILD, counts, want) == ["edges: digest differs from oracle"]


def test_wrong_read_back_count_fails(tmp_path, oracle, want):
    counts = _write(tmp_path, oracle)
    counts["nodes"] += 1
    assert O.check_outputs(str(tmp_path), BUILD, counts, want)[0].startswith("nodes: read-back count")


def test_zero_rows_on_both_sides_fails():
    empty = {"rows": 0, "md5": "same"}
    assert O.compare(empty, empty) == "vacuous: oracle returned 0 rows"


def test_oracle_digests_are_cached(tmp_path, events_dir):
    digest = corpus.table_digest(pq.read_table(f"{events_dir}/events.parquet"))
    first = O.digests(events_dir, digest, ["kg_triples"], str(tmp_path))
    assert len(list(tmp_path.iterdir())) == 1
    assert O.digests("/nonexistent", digest, ["kg_triples"], str(tmp_path)) == first


def test_split_ctes_finds_every_prelude_cte():
    from stakgraph_spark.sql.templates import prelude

    names = [n for n, _ in O.split_ctes(prelude())]
    assert names[:2] == ["ents", "als"]
    assert {"transcripts", "mentions", "resolved", "nodes", "edges", "triples"} <= set(names)
    assert len(names) == len(set(names))


def test_event_log_groups_jobs_and_shuffle(tmp_path):
    def task(stage, launch, finish, shuffle=0, run=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run, "JVM GC Time": 5,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "b"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 0, "Completion Time": 10}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Submission Time": 0, "Completion Time": 50}},
        task(0, 0, 10, shuffle=2_000_000, run=1000),
        task(1, 0, 10, run=1000), task(1, 0, 10, run=1000), task(1, 0, 40, run=1000),
        task(2, 0, 99),  # stage 2 skipped: never completed
    ]
    (tmp_path / "app").mkdir()
    (tmp_path / "app" / "events_1").write_text("\n".join(json.dumps(e) for e in events))
    log = EventLog(str(tmp_path))
    assert (log.jobs("a"), log.jobs("b"), log.jobs()) == (1, 1, 2)
    assert (log.shuffle_mb("a"), log.shuffle_mb("b")) == (2.0, 0.0)
    s = log.summary(wall_s=2.0, cores=2, scan_marker="events.parquet")
    assert s["spark.stages"] == 2 and s["spark.tasks"] == 4
    assert s["spark.busy_share"] == pytest.approx(4.0 / 4.0)
    assert s["spark.task_skew"] == pytest.approx(40 / 10)
