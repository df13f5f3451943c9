"""Tests for the benchmark's own helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import host, stats, trace

DATA = os.path.join(os.path.dirname(__file__), "data")
ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------ tail rule
def test_tail_has_ten_samples_beyond():
    vals = [float(v) for v in range(1, 21)]  # 20 samples
    value, pct, n = stats.tail(vals)
    assert value == 10.0 and n == 20
    assert sum(v > value for v in vals) == 10
    assert pct == 50.0


def test_tail_with_eleven_samples_is_the_minimum():
    vals = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0]
    assert stats.tail(vals)[0] == 1.0


def test_tail_falls_back_to_max_below_eleven_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(v) for v in range(10)])[0] == 9.0


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        stats.tail([])


# --------------------------------------------------------------- staging
def test_staged_builds_once_and_keeps_the_newest(tmp_path):
    from perfbench import stage

    built = []

    def build(d):
        built.append(d)
        open(os.path.join(d, "x"), "w").close()

    for k in range(5):
        stage.staged(str(tmp_path), f"in-{k}", build, keep=3)
        time.sleep(0.01)  # distinct mtimes
    assert stage.staged(str(tmp_path), "in-2", build, keep=3).endswith("in-2")
    assert len(built) == 5  # the last call reused in-2
    time.sleep(0.01)
    stage.staged(str(tmp_path), "in-5", build, keep=3)
    # in-2 was reused last, so in-3 is the oldest and goes
    assert sorted(os.listdir(tmp_path)) == ["in-2", "in-4", "in-5"]
    assert os.path.exists(tmp_path / "in-5" / "_SUCCESS")


# ----------------------------------------------------- prefix arithmetic
def test_marginals_are_prefix_differences():
    got = stats.marginals([("scan", 1.0), ("extract.s", 3.5), ("stages.tld.s", 3.75)])
    assert got == {"extract.s": 2.5, "stages.tld.s": 0.25}
    assert 1.0 + sum(got.values()) == 3.75  # the split telescopes to the full prefix


def test_marginals_keep_negative_noise_visible():
    assert stats.marginals([("scan", 2.0), ("x", 1.9)]) == {"x": pytest.approx(-0.1)}


# ---------------------------------------------------------- steal reader
def test_steal_reader(tmp_path):
    p = tmp_path / "stat"
    p.write_text("cpu  100 5 50 800 10 1 2 30 7 0\ncpu0 50 2 25 400 5 0 1 15 3 0\nintr 1\n")
    total, steal = host.read_cpu_ticks(str(p))
    assert (total, steal) == (100 + 5 + 50 + 800 + 10 + 1 + 2 + 30, 30)
    assert host.steal_share((900, 20), (1900, 70)) == 0.05
    assert host.steal_share((5, 5), (5, 5)) == 0.0


def test_steal_reader_on_this_host():
    total, steal = host.read_cpu_ticks()
    assert total > 0 and 0 <= steal <= total


def test_heap_never_above_ram():
    assert host.driver_heap_mb(2 * 1024 * 1024) == 512  # 2 GB host
    assert host.driver_heap_mb(16 * 1024 * 1024) == 2048
    for kb in (1024 * 1024, 3 * 1024 * 1024, 64 * 1024 * 1024):
        assert host.driver_heap_mb(kb) * 1024 < kb


# ------------------------------------------------------ event-log parser
def _log_lines():
    with open(os.path.join(DATA, "eventlog_small.jsonl")) as f:
        return f.readlines()


def test_event_log_parser_totals():
    ev = trace.parse_event_log(_log_lines(), 0, 1e13)
    assert ev["jobs"] == 2 and ev["tasks"] == 5
    assert ev["task_s"] == pytest.approx((259 + 3017 + 3019 + 146 + 146) / 1000)
    assert ev["gc_s"] == pytest.approx((28 + 74 + 74) / 1000)
    assert ev["input_bytes"] == 1053 + 1046
    assert ev["shuffle_write_bytes"] == 350129 + 376186
    assert ev["py_bytes_in"] == 741320 + 798696
    assert ev["py_bytes_out"] == 691448 + 743880
    assert ev["retries"] == 0 and ev["spill_bytes"] == 0
    # skew of the stage that read the most: stage 9 read 243177 and 296901
    assert ev["shuffle_skew"] == pytest.approx(296901 / ((243177 + 296901) / 2))


def test_event_log_parser_window():
    ev = trace.parse_event_log(_log_lines(), 1792205797393, 1792205804230)
    assert ev["jobs"] == 1  # job 1 only
    assert ev["tasks"] == 2  # the stage-4 task and task 18 of stage 7
    assert ev["py_bytes_in"] == 798696


def test_event_log_parser_python_batches():
    # the extract node's plan is logged after its tasks; each of the two
    # tasks sent 40 rows to the _extract node
    ev = trace.parse_event_log(_log_lines(), 0, 1e13, udf="_extract", arrow_batch_rows=10_000)
    assert ev["py_batches"] == 2
    assert ev["py_max_batch_bytes"] == 798696
    ev = trace.parse_event_log(_log_lines(), 0, 1e13, udf="_extract", arrow_batch_rows=16)
    assert ev["py_batches"] == 6  # ceil(40 / 16) per task
    assert ev["py_max_batch_bytes"] == pytest.approx(798696 / 3)
    ev = trace.parse_event_log(_log_lines(), 0, 1e13, udf="_geoip")
    assert ev["py_batches"] == 0 and ev["py_max_batch_bytes"] == 0


def test_event_files_reads_rolling_directories(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("".join(_log_lines()))
    (d / "appstatus_local-1").write_text("")
    assert trace.event_files(str(tmp_path)) == [str(d / "events_1_local-1")]
    assert trace.read_event_log(str(tmp_path), 0, 1e13)["tasks"] == 5


# ----------------------------------------------------------------- spans
def test_spans_parent_and_closure():
    import threading

    tr = trace.Tracer()
    with tr.span("op", root=True) as root:
        with tr.span("a"):
            time.sleep(0.02)
        t = threading.Thread(target=lambda: tr.span("pool").__enter__().__exit__(None, None, None))
        t.start()
        t.join(5)
        with tr.span("b"):
            with tr.span("b.inner"):
                time.sleep(0.02)
    by = {s.name: s for s in tr.spans}
    assert by["a"].parent == root.id and by["b"].parent == root.id
    assert by["b.inner"].parent == by["b"].id
    assert by["pool"].parent == root.id  # another thread hangs off the root
    c = trace.closure(tr, by["op"])
    assert 0.5 < c <= 1.0


def test_wrap_and_unwrap():
    class Engine:
        def work(self, x):
            return x * 2

    tr = trace.Tracer()
    seen = []
    tr.wrap(Engine, "work", lambda self, x: f"work.{x}", after=lambda a, k, r, sp: seen.append(r))
    assert Engine().work(3) == 6
    tr.unwrap_all()
    assert Engine().work(4) == 8
    assert [s.name for s in tr.spans] == ["work.3"] and seen == [6]


# ------------------------------------------------------- RSS/CPU sampler
def _fake_proc(tmp_path, procs):
    """procs: pid -> (ppid, rss pages, utime, stime, cutime, cstime)."""
    for pid, (ppid, rss, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)] + ["0"] * 10
        (d / "stat").write_text(f"{pid} (java (x)) " + " ".join(fields))
        (d / "statm").write_text(f"1000 {rss} 10 0 0 0 0")
    return str(tmp_path)


def test_pss_is_preferred_over_rss(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, 5, 0, 0, 0, 0), 11: (10, 100, 0, 0, 0, 0)})
    (tmp_path / "11" / "smaps_rollup").write_text("Rss: 400 kB\nPss: 123 kB\nShared_Clean: 0 kB\n")
    assert host.tree_sample(10, proc)[0] == 123 * 1024


def test_tree_sample_on_a_fake_proc(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, 5, 1, 1, 0, 0),        # ourselves
        11: (10, 100, 50, 20, 0, 0),   # driver JVM
        12: (11, 40, 5, 5, 30, 10),    # python daemon with reaped workers
        13: (12, 10, 2, 1, 0, 0),      # a live worker
        20: (1, 999, 999, 999, 0, 0),  # unrelated
    })
    assert sorted(host.descendants(10, proc)) == [11, 12, 13]
    rss, cpu = host.tree_sample(10, proc)
    assert rss == (100 + 40 + 10) * host.PAGE  # no smaps_rollup here: plain RSS
    assert cpu == (50 + 20) + (5 + 5 + 30 + 10) + (2 + 1)


def test_sampler_sees_a_real_child():
    code = ("import time; b = b'x' * (64 * 2**20); t = time.time()\n"
            "while time.time() - t < 0.6: pass\ntime.sleep(30)")
    s = host.TreeSampler(period_s=0.05).start()
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        before = s.begin()
        time.sleep(1.5)
        peak, cpu_s = s.end(before)
    finally:
        s.stop()
        child.kill()
        child.wait(timeout=30)
    assert peak >= 64 * 2**20
    assert cpu_s >= 0.3


# -------------------------------------------------------- metric names
def test_benchmark_json_matches_the_printed_metrics():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
