"""Checks of the benchmark's own logic that need no Spark session.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle, run, spans


def _oracle_of(pdf: pd.DataFrame):
    from tests.conftest import canon_frame

    return canon_frame(pdf)


def test_oracle_mismatch_counts_every_execution_of_the_query_as_failed():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    bad = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert oracle.mismatch(good, _oracle_of(good)) is None
    reason = oracle.mismatch(bad, _oracle_of(good))
    assert reason is not None and "first diffs" in reason

    verdict = {"q_ok": "ok", "q_bad": reason}
    passes = [[run.QueryRun("q_ok", 0.1, good), run.QueryRun("q_bad", 0.1, bad)] for _ in range(3)]
    assert run.count_failures(passes, verdict) == (6, 3)


def test_raised_query_counts_as_failed_and_column_mismatch_is_caught():
    pdf = pd.DataFrame({"k": [1]})
    assert "columns" in oracle.mismatch(pdf, _oracle_of(pd.DataFrame({"j": [1]})))
    passes = [[run.QueryRun("q", 0.1, error="Py4JJavaError: boom")]]
    assert run.count_failures(passes, {"q": "ok"}) == (1, 1)


def test_oracle_result_is_cached_by_query_and_input_digest(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(pa.table({"x": [3, 1, 2]}), data / "t.parquet")
    con = oracle.connect(str(data), 1)
    digest = oracle.input_digest(str(data))
    cache = tmp_path / "cache"
    first = oracle.expected(con, "q", "SELECT x FROM t", digest, str(cache))
    assert first == (["x"], [("1",), ("2",), ("3",)])
    assert len(list(cache.iterdir())) == 1
    # a cached answer is served without running the SQL again
    assert oracle.expected(con, "q", "SELECT x FROM t", digest, str(cache)) == first
    con.close()


def test_self_time_subtracts_children_and_subtree_walks_all_descendants():
    s = [
        spans.Span(0, "query", None, 1, 0, 0.0, 10.0, [1, 2]),
        spans.Span(1, "registry.build", 0, 1, 0, 0.0, 6.0, [3]),
        spans.Span(2, "execute", 0, 1, 0, 6.0, 9.5),
        spans.Span(3, "session.materialize", 1, 1, 0, 1.0, 4.0),
    ]
    assert spans.self_time(s[0], s) == 0.5
    assert spans.self_time(s[1], s) == 3.0
    assert {x.id for x in spans.subtree(s[1], s)} == {1, 3}


def test_event_log_work_is_attributed_to_job_groups(tmp_path):
    def ev(name, **kw):
        return json.dumps({"Event": f"SparkListener{name}", **kw}, separators=(",", ":"))

    props = {"spark.jobGroup.id": "pb-3"}
    metrics = {
        "Executor Run Time": 20,
        "Executor CPU Time": 5_000_000,
        "Peak Execution Memory": 2**20,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**19},
        "Disk Bytes Spilled": 0,
        "Input Metrics": {"Bytes Read": 2**21},
    }
    lines = [
        ev("JobStart", **{"Job ID": 0, "Properties": props}),
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 7, "Stage Attempt ID": 0}, "Properties": props}),
        ev("TaskEnd", **{"Stage ID": 7, "Stage Attempt ID": 0, "Task Metrics": metrics}),
        ev("TaskEnd", **{"Stage ID": 7, "Stage Attempt ID": 0, "Task Metrics": metrics}),
        ev("StageCompleted", **{"Stage Info": {"Stage ID": 7, "Stage Attempt ID": 0}}),
        ev("JobStart", **{"Job ID": 1, "Properties": {}}),
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(lines) + "\n")
    per = spans.read_event_log(log)
    g = per["pb-3"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 1, 2)
    assert g["shuffle_write_mb"] == 2.0 and g["shuffle_read_mb"] == 1.0 and g["input_mb"] == 4.0
    assert g["executor_run_s"] == 0.04 and g["peak_exec_mem_mb"] == 1.0
    assert per[None]["jobs"] == 1

    assert spans.spark_work([spans.Span(0, "query", None, 1, 0, 0.0, 1.0)], per)["jobs"] == 0
    assert spans.spark_work([spans.Span(3, "execute", None, 1, 0, 0.0, 1.0)], per)["tasks"] == 2


def test_inputs_are_seeded_and_the_seed_only_reorders_rows():
    a = gen.tables_for("olap_headline", 1)
    assert all(a[t].equals(b) for t, b in gen.tables_for("olap_headline", 1).items())
    c = gen.tables_for("olap_headline", 2)
    key = {"lineitem": ["l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice"]}
    li_a = a["lineitem"].to_pandas().sort_values(key["lineitem"]).reset_index(drop=True)
    li_c = c["lineitem"].to_pandas().sort_values(key["lineitem"]).reset_index(drop=True)
    assert not a["lineitem"].equals(c["lineitem"])
    pd.testing.assert_frame_equal(li_a, li_c)


def test_pipelines_corpus_salts_the_share_the_seed_picks():
    docs = {s: gen.tables_for("pipelines", s)["documents"].to_pandas() for s in (1, 2)}
    for d in docs.values():
        salted = d["text"].str.contains("~")
        assert salted.mean() == gen.SALT_SHARE
        assert (d["n_chars"] == d["text"].str.len()).all()
    ids = [set(d.loc[d["text"].str.contains("~"), "doc_id"]) for d in docs.values()]
    assert ids[0] != ids[1]


def _fixtures_schemas() -> dict[str, dict[str, str]]:
    """table -> column -> type, from FIXTURES.md's driver-table sections."""
    import re
    from pathlib import Path

    text = (Path(__file__).resolve().parents[2] / "FIXTURES.md").read_text()
    driver = text.split("## 1. Driver tables")[1].split("\n## ")[0]
    out = {}
    for section in driver.split("\n### ")[1:]:
        rows = re.findall(r"^\| (\w+) \| ([^|]+?) \|", section, re.M)
        out[section.split()[0]] = {c: t.replace("*", "") for c, t in rows if c != "column"}
    return out


def _type_name(t: pa.DataType) -> str:
    if pa.types.is_list(t):
        return f"list<{t.value_type}>"
    return str(t)


def test_generated_files_have_the_driver_schemas(tmp_path):
    """As written to parquet: ``events.ts`` stays nanoseconds, so the
    engine's catalog takes its ``nanosAsLong`` path as on driver tables."""
    want = _fixtures_schemas()
    for workload in ("olap_headline", "pipelines"):
        out = tmp_path / workload
        for name in gen.write_inputs(workload, 1, str(out)):
            schema = pq.read_schema(out / f"{name}.parquet")
            got = {f.name: _type_name(f.type) for f in schema}
            assert got == want[name], (workload, name)
