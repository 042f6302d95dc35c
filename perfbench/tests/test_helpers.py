"""Tests of the benchmark's own helpers. They need no Spark session.

Run from the root of the repository: ``python -m pytest perfbench/tests -q``
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)

import datagen  # noqa: E402
import proctree  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402

EVENT_LOG = os.path.join(BENCH_DIR, "tests", "data", "eventlog_small.jsonl")


# -- percentiles ---------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    values = list(range(n))
    tail = stats.tail_percentile(values)
    if expected is None:
        assert tail is None
        return
    assert tail["percentile"] == expected
    assert tail["samples"] == n
    assert tail["value"] == pytest.approx(np.percentile(values, expected))
    assert sum(v > tail["value"] for v in values) >= 10


def test_percentile_and_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


# -- result hash ------------------------------------------------------------


def _frame():
    return pd.DataFrame({
        "k": [1, 2, 3, 3],
        "name": ["a", "b", None, "c"],
        "x": [0.1, 2.5, float("nan"), 1e12 / 3],
        "vec": [[1.0, 2.0], [3.0], [], [0.5]],
    })


def test_result_hash_ignores_row_and_column_order():
    df = _frame()
    shuffled = df.sample(frac=1.0, random_state=3)[["vec", "x", "k", "name"]]
    assert stats.result_hash(shuffled) == stats.result_hash(df)


def test_result_hash_tolerates_summation_order_noise():
    df = _frame()
    noisy = df.copy()
    noisy["x"] = noisy["x"] * (1 + 1e-14)
    assert stats.result_hash(noisy) == stats.result_hash(df)


@pytest.mark.parametrize("change", ["value", "drop_row", "dup_row", "rename"])
def test_result_hash_sees_changes(change):
    df = _frame()
    other = df.copy()
    if change == "value":
        other.loc[1, "x"] = 2.6
    elif change == "drop_row":
        other = other.iloc[:-1]
    elif change == "dup_row":
        other = pd.concat([other, other.iloc[:1]])
    else:
        other = other.rename(columns={"k": "key"})
    assert stats.result_hash(other) != stats.result_hash(df)


def test_result_hash_of_empty_frame():
    assert stats.result_hash(pd.DataFrame({"a": []})) != stats.result_hash(pd.DataFrame({"b": []}))


# -- event log ---------------------------------------------------------------


def test_parse_event_log_counts_tasks_stages_and_python_traffic():
    counts = tracing.parse_event_log(EVENT_LOG)
    assert set(counts) == {"pass0|0|q1", "pass0|1|q2"}
    q1, q2 = counts["pass0|0|q1"], counts["pass0|1|q2"]
    # q1: pandas UDF + group-by on 1000 rows over two partitions
    assert (q1["jobs"], q1["stages"], q1["tasks"], q1["single_task_stages"]) == (2, 2, 3, 1)
    assert q1["failed_tasks"] == 0 and set(q1) == set(tracing.COUNT_KEYS)
    assert q1["py_rows_in"] == 1000 and q1["py_rows_out"] == 1000
    assert q1["py_bytes_sent"] == 8416 and q1["py_bytes_received"] == 8288
    assert q1["shuffle_write_bytes"] == q1["shuffle_read_bytes"] == 384
    assert q1["task_s"] == pytest.approx(4.101)
    assert 0 < q1["task_cpu_s"] < q1["task_s"]
    assert q1["sched_wait_s"] == pytest.approx(0.345)
    # q2: mapInPandas + count; both rows in and out of Python are counted
    assert q2["py_rows_in"] == 1000 and q2["py_rows_out"] == 1000
    assert q2["tasks"] == 3


def test_parse_event_log_reads_a_directory(tmp_path):
    with open(EVENT_LOG) as src, open(tmp_path / "local-1", "w") as dst:
        dst.write(src.read())
    (tmp_path / ".local-1.crc").write_text("ignored")
    assert tracing.parse_event_log(str(tmp_path)) == tracing.parse_event_log(EVENT_LOG)


# -- spans ------------------------------------------------------------------


def test_spans_nest_and_inherit_request(tmp_path):
    spans = tracing.Spans()
    with spans.span("request", "p0|q"):
        with spans.span("plans.build"):
            time.sleep(0.01)
        with spans.span("exec.action"):
            pass
    with spans.span("request", "p1|q"):
        pass
    by_name = {r["name"]: r for r in spans.records if r["request"] == "p0|q"}
    assert by_name["plans.build"]["parent"] == by_name["request"]["id"]
    assert by_name["request"]["parent"] is None
    assert spans.total("plans.build", "p0|") >= 0.01
    assert spans.total("plans.build", "p1|") == 0
    path = tmp_path / "spans.jsonl"
    spans.write(str(path))
    lines = [json.loads(x) for x in path.read_text().splitlines()]
    assert len(lines) == 4 and {"id", "name", "start", "end", "parent", "request"} <= set(lines[0])


def test_timed_wrapper_records_each_call():
    spans = tracing.Spans()
    wrapped = tracing.timed_wrapper(spans, "io.load_table", lambda a, b=1: a + b)
    assert wrapped(1, b=2) == 3 and wrapped(1) == 2
    assert [r["name"] for r in spans.records] == ["io.load_table"] * 2


# -- /proc sampler ------------------------------------------------------------

_BUSY_CHILD = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.4: pass\ntime.sleep(30)\n"


def test_cpu_and_rss_of_the_tree_include_a_child():
    me = os.getpid()
    before = proctree.cpu_seconds(me)["total"]
    child = subprocess.Popen([sys.executable, "-c", _BUSY_CHILD])
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            procs = proctree.tree(me)
            if child.pid in procs and proctree.cpu_seconds(me)["total"] - before >= 0.35:
                break
            time.sleep(0.05)
        assert child.pid in proctree.tree(me)
        assert proctree.cpu_seconds(me)["total"] - before >= 0.35
        rss = proctree.rss_mb(me)
        assert rss["total"] >= rss["driver"] > 0
        with proctree.RssSampler(me, interval_s=0.01) as sampler:
            time.sleep(0.05)
        assert sampler.samples >= 2 and sampler.peak["total"] >= rss["driver"]
    finally:
        child.kill()
        child.wait(timeout=10)
    assert proctree.wait_gone([child.pid], 5) == []


def test_roles_follow_the_jvm():
    stat = ["S"] + ["0"] * 40
    procs = {
        10: ("python3", 1, stat),
        11: ("java", 10, stat),
        12: ("python3", 11, stat),  # pyspark daemon
        13: ("python3", 12, stat),  # forked worker
        14: ("git", 10, stat),
    }
    roles = proctree._roles(procs, 10)
    assert roles == {10: "driver", 11: "jvm", 12: "py_worker", 13: "py_worker", 14: "driver"}


# -- inputs -------------------------------------------------------------------


def test_tables_are_deterministic_and_sized():
    a, b = datagen.make_tables(0.001), datagen.make_tables(0.001)
    counts = datagen.table_counts(0.001)
    for name, df in a.items():
        assert len(df) == counts[name]
        assert df.drop(columns=["embedding"], errors="ignore").equals(
            b[name].drop(columns=["embedding"], errors="ignore"))
    assert (a["documents"]["n_chars"] == a["documents"]["text"].str.len()).all()


def test_catalog_expectations_match_the_client():
    client, ids, expected = datagen.make_catalog(seed=5, n_artists=30)
    assert len(ids) == 30 and [r[0] for r in expected["artist"]] == sorted(ids)
    for entity, rows in expected.items():
        assert all(len(r) == len(datagen.GOLD_COLUMNS[entity]) for r in rows)
    artists = {r[0]: r for r in expected["artist"]}
    for a, rec in client.artists_by_id.items():
        followers = rec.get("followers", {}).get("total")
        assert artists[a] == (a, rec["name"], followers, rec["popularity"])
    assert any(r[2] is None for r in expected["artist"])  # a missing follower count stays NULL
    albums = {al["id"]: al for lst in client.albums_by_artist.values() for al in lst}
    assert len(albums) == len(expected["album"]) == 30 * datagen.ALBUMS_PER_ARTIST
    assert all(r[1:] == (albums[r[0]]["name"], albums[r[0]]["release_date"], "album",
                         datagen.TRACKS_PER_ALBUM, "album") for r in expected["album"])
    bridge = {(c["id"], c["name"], al["id"], al["name"]) for al in albums.values() for c in al["artists"]}
    assert sorted(bridge) == expected["album_artists"]
    tracks = {t["id"]: t for lst in client.tracks_by_album.values() for t in lst}
    assert len(expected["track"]) == len(tracks) == len(albums) * datagen.TRACKS_PER_ALBUM
    assert all(r == (t, tracks[t]["name"], tracks[t]["track_number"], tracks[t]["duration_ms"])
               for r in expected["track"] for t in [r[0]])
    # a shared album is listed by both of its artists
    shared = [al for al in albums.values() if len(al["artists"]) == 2]
    assert shared and all(al in client.albums_by_artist[al["artists"][1]["id"]] for al in shared)


def test_etl_checksum_covers_every_column():
    import workloads

    _, _, expected = datagen.make_catalog(seed=5, n_artists=10)
    base = workloads._etl_expected(expected)
    assert workloads._row_text(("a", None, 7)) == "a\x1f\x00\x1f7"
    for entity, rows in expected.items():
        for col in range(len(rows[0])):
            changed = dict(expected)
            row = list(rows[0])
            row[col] = None if row[col] is not None else 0
            changed[entity] = [tuple(row)] + rows[1:]
            assert workloads._etl_expected(changed)[entity] != base[entity], (entity, col)


# -- command line -------------------------------------------------------------


def test_run_refuses_a_directory_without_the_program(tmp_path):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "llm_batch",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert out.stdout == ""
    assert not os.path.exists(tmp_path / ".perfbench_work")
