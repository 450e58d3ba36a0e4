"""Smoke tests of the benchmark itself, at tiny corpus sizes.

    python3 -m pytest perfbench/ -q

They run every workload end to end (warm pass, one job, output checks),
check that the decision checksum does not depend on the number of input
partitions, and that a crashed and resumed Iceberg run decides exactly what
an uninterrupted run decides (``code_filter_iceberg``'s own check).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

run.prepare_env()

import corpus  # noqa: E402
import reaper  # noqa: E402
from harness import decision_checksum  # noqa: E402
from workloads import WORKLOADS, Ctx, _decisions  # noqa: E402

TINY_ROWS = 240
TINY_FILES = 4
CORES = 2


@pytest.fixture(scope="module")
def spark():
    session = run.start_session(CORES, ui=False)
    yield session
    run.stop_session(session, jvm=True)


def tiny_ctx(spark, tmp_path, kind: str, seed: int = 3) -> Ctx:
    corpus_dir = corpus.generate(kind, seed, TINY_ROWS, TINY_FILES, str(tmp_path / f"{kind}-{seed}"), procs=2)
    return Ctx(spark, seed, corpus_dir, TINY_ROWS, str(tmp_path), CORES)


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {w["name"]: w["why"] for w in spec["workloads"]} == {n: w.why for n, w in WORKLOADS.items()}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_corpus_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    def rows(seed, name):
        path = corpus.generate("dup", seed, 60, 3, str(tmp_path / name), procs=2)
        return pq.read_table(path).to_pylist(), corpus.planted_copies(path)

    first, again, other = rows(5, "a"), rows(5, "b"), rows(6, "c")
    assert first == again
    assert first[0] != other[0]
    assert first[1]["exact"] or first[1]["near"]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_runs_and_checks(spark, tmp_path, name):
    workload = WORKLOADS[name]
    ctx = tiny_ctx(spark, tmp_path, workload.corpus_kind)
    workload.warm(ctx)
    assert workload.job(ctx) == TINY_ROWS
    check = workload.check(ctx)
    workload.cleanup(ctx)
    assert check["problems"] == []
    assert check["keep_f1"] >= 0.99


def test_code_checksum_independent_of_partitions(spark, tmp_path):
    workload = WORKLOADS["code_filter"]
    ctx = tiny_ctx(spark, tmp_path, "code")

    def checksum(df):
        return decision_checksum((k, *v) for k, v in _decisions(workload.pipeline(df), "scrubbed_content").items())

    assert checksum(ctx.read().coalesce(1)) == checksum(ctx.read().repartition(4))


def test_dedup_checksum_independent_of_partitions(spark, tmp_path):
    workload = WORKLOADS["near_dup"]
    ctx = tiny_ctx(spark, tmp_path, "dup")

    def checksum(df):
        exact, out = workload.dedup(ctx, df)
        try:
            return decision_checksum((k, *v) for k, v in _decisions(out, "content").items())
        finally:
            exact.unpersist()

    assert checksum(ctx.read().coalesce(1)) == checksum(ctx.read().repartition(4))


END_ALL = """
import json, multiprocessing, os, subprocess, sys, time
import reaper

pool = multiprocessing.get_context("spawn").Pool(1)  # starts the resource tracker
pool.close()
pool.join()
sleeper = "import time; time.sleep(60)"
subprocess.Popen([sys.executable, "-c", f"import subprocess, sys, time; "
                  f"subprocess.Popen([sys.executable, '-c', {sleeper!r}]); time.sleep(60)"])
end = time.monotonic() + 30
while len(reaper.tree(os.getpid())) < 4 and time.monotonic() < end:  # me, tracker, child, grandchild
    time.sleep(0.05)
procs = reaper.tree(os.getpid())
reaper.end_all()
print(json.dumps(sorted(procs.items())))
"""


def test_end_all_ends_children_and_grandchildren():
    proc = subprocess.run([sys.executable, "-c", END_ALL], cwd=os.path.dirname(run.__file__),
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
    procs = json.loads(proc.stdout)
    assert len(procs) == 4
    assert not any(reaper.alive(pid, start) for pid, start in procs)


def test_run_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    here = os.path.dirname(os.path.abspath(__file__))
    for f in os.listdir(here):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(here, f), "rb").read())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "code_filter", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
