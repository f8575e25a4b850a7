"""Self-tests of the benchmark. Run from the repo root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import eventlog, inputs, measure, workloads

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: inputs.documents_table(300, seed),
        lambda seed: inputs.embeddings_table(120, seed),
        lambda seed: inputs.html_pages(40, seed),
    ],
    ids=["documents", "embeddings", "html_pages"],
)
def test_seed_determines_inputs(make):
    assert make(5) == make(5)
    assert make(5) != make(6)


def test_written_pages_are_identical_for_a_seed(tmp_path):
    for d in ("a", "b"):
        inputs.write_pages(inputs.html_pages(30, 9), tmp_path / d, 4)
    files = sorted(p.name for p in (tmp_path / "a").iterdir())
    assert len(files) == 4
    for name in files:
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


def test_tail_percentile_rule():
    xs = list(range(1, 101))
    assert measure.tail_percentile(xs) == (90.0, 90)
    assert measure.tail_percentile(list(reversed(xs))) == (90.0, 90)
    assert measure.tail_percentile(list(range(20))) == (50.0, 9)
    assert measure.tail_percentile([3.0] * 10 + [1.0]) == (100 / 11, 1.0)
    assert measure.tail_percentile(list(range(10))) is None
    assert measure.tail_percentile([]) is None


def test_task_slots_are_half_the_cores():
    assert [measure.task_slots(c) for c in (1, 2, 3, 4, 32)] == [1, 1, 1, 2, 16]


def test_stream_check_rejects_an_empty_drain():
    """A reused checkpoint drains nothing, which must count as a failure and
    not as a very fast pass."""
    wl = workloads.Extract()
    wl.expected = {"u1": ("d1", 1), "u2": ("d2", 3)}
    wl.rows = [{"url": "u1"}, {"url": "u2"}]  # fewer than STREAM_DOCS: all are streamed
    want = -(-workloads.STREAM_FILES // workloads.STREAM_FILES_PER_TRIGGER)
    batches = [workloads.Op("batch", 0.1) for _ in range(want)]
    good = workloads.Pass("w0", 1.0, [workloads.Op("drain", 1.0, result=[("u1", "d1"), ("u2", "d2")]), *batches])
    empty = workloads.Pass("w1", 0.01, [workloads.Op("drain", 0.01, result=[])])
    wrong = workloads.Pass("w2", 1.0, [workloads.Op("drain", 1.0, result=[("u1", "d1"), ("u2", "x")]), *batches])
    dup = workloads.Pass(
        "w3", 1.0, [workloads.Op("drain", 1.0, result=[("u1", "d1"), ("u2", "d2"), ("u2", "d2")]), *batches]
    )
    assert wl.check([good]) == (want, 0)
    assert wl.check([empty]) == (1, 1)
    assert wl.check([wrong]) == (want, want)
    assert wl.check([dup]) == (want, want)


def test_without_program_sources_it_fails_without_a_result(tmp_path):
    (tmp_path / "BENCHMARK.json").write_text((ROOT / "BENCHMARK.json").read_text())
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_event_log_task_counts_match_spark(tmp_path):
    """On a tiny traced run (sf0.001-sized tables), the parser's task count
    per stage equals what Spark's status tracker reports for that stage."""
    from deepseek_ocr_spark.entry_queries import queries
    from deepseek_ocr_spark.pipeline.extract_job import extract_documents
    from deepseek_ocr_spark.pipeline.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    sf = tmp_path / "sf"
    inputs.write_table(inputs.documents_table(500, 3), sf / "documents.parquet")
    inputs.write_pages(inputs.html_pages(30, 3), tmp_path / "pages", 3)
    logs = tmp_path / "eventlog"
    logs.mkdir()
    spark = build_session(
        app_name="perfbench-selftest",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs.as_uri(),
            "spark.eventLog.compress": "false",
        },
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("t|dedup_minhash_pairs|exec", "t")
        queries()["dedup_minhash_pairs"](spark, str(sf)).collect()
        sc.setJobGroup("t|pass|exec", "t")
        extract_documents(spark.read.parquet(str(tmp_path / "pages"))).write.format("noop").mode(
            "overwrite"
        ).save()
        tracker = sc.statusTracker()
        expected = {}
        for group in ("t|dedup_minhash_pairs|exec", "t|pass|exec"):
            for job in tracker.getJobIdsForGroup(group):
                for sid in tracker.getJobInfo(job).stageIds:
                    info = tracker.getStageInfo(sid)
                    if info is not None and info.numCompletedTasks > 0:
                        expected[sid] = info.numCompletedTasks
    finally:
        spark.stop()

    (events,) = eventlog.read_apps(logs)
    _, rows = eventlog.parse(events)
    mine = {r["stage"]: r for r in rows if r["group"] in ("t|dedup_minhash_pairs|exec", "t|pass|exec")}
    assert expected and set(mine) == set(expected)
    for sid, n in expected.items():
        assert mine[sid]["tasks"] == n == mine[sid]["n_tasks"], sid
    assert any(r["python"] for r in mine.values())  # the extraction stage crossed the Arrow boundary
