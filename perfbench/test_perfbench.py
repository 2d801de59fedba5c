"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The Spark tests run the serve workload at a reduced size (about a
minute each on 4 cores).
"""

from __future__ import annotations

import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import gen, oracle, run, trace, workloads


def test_generator_is_seeded():
    a = gen.make_sequences(np.random.default_rng([7, 1]), 50, 64, 4096)
    b = gen.make_sequences(np.random.default_rng([7, 1]), 50, 64, 4096)
    c = gen.make_sequences(np.random.default_rng([8, 1]), 50, 64, 4096)
    assert np.array_equal(a.values, b.values) and np.array_equal(a.lengths, b.lengths)
    assert not np.array_equal(a.lengths, c.lengths)
    assert a.points == int(a.lengths.sum()) == a.values.size


def test_dtw_pool_selects_a_fixed_length_mix():
    pool, sel_key = gen.make_dtw_pool(np.random.default_rng(3), 32, 2, tail=(512, 640))
    chosen = pool.lengths[np.argsort(sel_key)[:32]]
    assert (chosen >= 512).sum() == 2
    assert sorted(sel_key.tolist()) == list(range(64))


def test_oracle_bucket_stats():
    ts = np.arange(120, dtype=np.int64)
    v = np.arange(120, dtype=np.int32)
    assert oracle.bucket_stats(ts, v, 60) == {
        0: (0, 59, sum(range(60)), 60),
        60: (60, 119, sum(range(60, 120)), 60),
    }


def test_parse_metric():
    assert trace.parse_metric("1,234") == 1234
    assert trace.parse_metric("12.0 KiB") == 12 * 1024
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n"
                              "1.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 1.5
    assert trace.parse_metric("250 ms") == pytest.approx(0.25)
    assert trace.parse_metric(None) == 0.0


def test_tail_percentile():
    assert workloads.tail_percentile(19) is None
    assert workloads.tail_percentile(20) == 0.5
    assert workloads.tail_percentile(100) == 0.9
    assert workloads.tail_percentile(1000) == 0.99


def test_stop_session_ends_every_process():
    # a session leader whose child moves to a process group of its own,
    # as the Spark JVM's Python daemon does
    leader = subprocess.Popen(
        [sys.executable, "-c",
         "import os, subprocess, time\n"
         "subprocess.Popen(['sleep', '60'], preexec_fn=lambda: os.setpgid(0, 0))\n"
         "time.sleep(60)"],
        start_new_session=True)
    deadline = time.monotonic() + 10
    while len(run._session(leader.pid)) < 2 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(run._session(leader.pid)) == 2
    run.stop_session(leader.pid)
    assert all(state == "Z" for _, state, _ in run._session(leader.pid))
    assert leader.poll() is not None


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(workloads.Serve, "N_DOCS", 24)
    monkeypatch.setattr(workloads.DtwBlock, "BLOCK", 16)
    monkeypatch.setattr(run, "SETUP_REPS", 1)


def _serve(traced: int):
    args = run.parse_args(["--workload", "serve", "--seed", "3", "--seconds", "0",
                           "--trace", str(traced)])
    results, _ = run.bench(args)
    return run.result_line(args, results), results[0]


def test_corrupted_oracle_counts_failed_ops(small, monkeypatch):
    real = oracle.ewma
    monkeypatch.setattr(oracle, "ewma", lambda x, alpha: real(x, alpha) + 1e-3)
    line, res = _serve(0)
    assert not line["correct"]
    assert 0 < line["failed"] < line["attempted"]
    assert all("ewma_fast" in why for why in res["why_failed"])


def test_traced_and_untraced_runs_pass_the_same_checks(small):
    plain, plain_res = _serve(0)
    traced, traced_res = _serve(1)
    assert plain["correct"] and traced["correct"]
    assert plain["failed"] == traced["failed"] == 0
    kinds = {o for o, *_ in workloads.SERVE_CYCLE}
    assert len(kinds) <= plain["attempted"] <= traced["attempted"]
    layers = traced["metrics"]
    assert set(layers) == set(trace.LAYER_METRICS)
    # the serve path never encodes and never runs the Arrow 1m kernel
    assert layers["kernels.rollup_arrow.python_s"]["value"] == 0
    assert layers["kernels.codec.encode_python_s"]["value"] == 0
    assert layers["kernels.dtw.pairs"]["value"] > 0
    assert layers["plans.merge.readback_bytes"]["value"] > 0
    assert layers["trace.span_coverage"]["value"] >= 0.9
