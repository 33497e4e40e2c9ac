"""Tests of the benchmark's own helpers (sf0.001-sized inputs).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from procstat import ProcTree, descendants  # noqa: E402
from stats import percentile  # noqa: E402


# -- percentile rule -----------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 90) == 90.0
    assert percentile(xs[:99], 90) is None


def test_p50_needs_twenty_samples():
    xs = [float(i) for i in range(20, 0, -1)]
    assert percentile(xs, 50) == 10.0
    assert percentile(xs[:19], 50) is None


def test_percentile_rejects_out_of_range():
    with pytest.raises(ValueError):
        percentile([1.0] * 200, 100)


# -- generator determinism -----------------------------------------------------


def test_files_table_is_deterministic_per_seed():
    a = gen.files_table(5, 40)
    assert a == gen.files_table(5, 40)
    assert a != gen.files_table(6, 40)
    assert len({r["content"] for r in a}) == 40
    assert sum(r["repo"] == gen.HOT_REPO for r in a) == int(40 * gen.HOT_SHARE)


def test_commit_stream_edits_a_seeded_share():
    commits = gen.commit_stream(3, 100, 2, edit_share=0.05)
    assert commits == gen.commit_stream(3, 100, 2, edit_share=0.05)
    assert commits[0] == gen.files_table(3, 100)
    for prev, cur in zip(commits, commits[1:]):
        assert len({r["commit"] for r in cur}) == 1
        assert [r["path"] for r in cur] == [r["path"] for r in prev]
        assert sum(a["content"] != b["content"] for a, b in zip(prev, cur)) == 5


def test_documents_and_gazetteer_are_deterministic():
    assert gen.documents(2, 30, 0.2) == gen.documents(2, 30, 0.2)
    gaz = gen.gazetteer(2, 500)
    assert gaz == gen.gazetteer(2, 500)
    assert len({r["term"] for r in gaz}) == 500
    assert all(r["term"] == r["term"].lower() for r in gaz)


def test_expected_delta_counts_from_content_hashes():
    commits = gen.commit_stream(4, 50, 1, edit_share=0.1)
    assert oracle.expected_delta_counts(commits) == [
        {"files_new": 50, "contents_fresh": 5, "contents_reused": 45}
    ]


# -- /proc walker --------------------------------------------------------------


def test_proc_tree_finds_children_and_counts_reaped_cpu():
    tree = ProcTree(os.getpid())
    own0, below0 = tree.cpu()
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\n"
         "time.sleep(5)"]
    )
    try:
        deadline = time.time() + 10
        while child.pid not in descendants(os.getpid()):
            assert time.time() < deadline
            time.sleep(0.05)
        # counted while alive ...
        while tree.cpu()[1] - below0 < 0.25:
            assert time.time() < deadline
            time.sleep(0.05)
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.returncode is not None
    # ... and still counted once reaped, through our cutime
    own1, below1 = tree.cpu()
    assert below1 - below0 >= 0.25
    assert own1 >= own0
    tree.sample()
    assert tree.peak_rss > 0


# -- digest --------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from riksdagen_sentences_spark.session import get_spark

    s = get_spark(2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_digest_is_independent_of_partitioning(spark):
    rows = [(f"s{i}", ("partOf", "occursIn")[i % 2], f"o{i % 7}") for i in range(500)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    one = oracle.graph_digest(df.repartition(1))
    many = oracle.graph_digest(df.repartition(7, "obj"))
    assert one == many
    assert one["partOf"][0] == 250 and one["mentions"] == [0, "0"]
    changed = df.filter("subj <> 's0'").unionByName(
        spark.createDataFrame([("s0", "occursIn", "o0")], df.schema)
    )
    assert oracle.graph_digest(changed) != one
