"""Tests for the benchmark's own helpers: the /proc readers, the output
digest and the event-log fold. Run with ``python3 -m pytest perfbench/tests``
from the repository root; no Spark session is started."""

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import procstat  # noqa: E402
from perfbench.digest import digest_rows  # noqa: E402
from perfbench.eventlog import fold_event_log  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "tiny_eventlog.jsonl")


def _fake_proc(root, pid, comm, ppid, ticks, hwm_kb=None):
    d = root / str(pid)
    d.mkdir()
    u, s, cu, cs = ticks
    # 52 fields as in Linux; comm carries a space and a ')' on purpose
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(u), str(s), str(cu), str(cs)] \
        + ["0"] * 37
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
    status = f"Name:\t{comm}\n"
    if hwm_kb is not None:
        status += f"VmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n"
    (d / "status").write_text(status)


@pytest.fixture
def proc(tmp_path):
    tk = procstat.CLK_TCK
    _fake_proc(tmp_path, 10, "python3", 1, (tk, 0, 0, 0), 100 * 1024)
    _fake_proc(tmp_path, 11, "java", 10, (2 * tk, tk, 0, 0), 2048 * 1024)
    _fake_proc(tmp_path, 12, "python3", 11, (0, 0, tk, tk), 50 * 1024)
    _fake_proc(tmp_path, 13, "python3", 12, (tk, 0, 0, 0), 300 * 1024)
    _fake_proc(tmp_path, 20, "odd ) name", 1, (5 * tk, 0, 0, 0), 1024)
    (tmp_path / "self").mkdir()   # non-numeric entries are skipped
    return str(tmp_path)


def test_read_stat_parses_comm_with_paren(proc):
    comm, ppid, ticks = procstat.read_stat(20, proc)
    assert (comm, ppid, ticks) == ("odd ) name", 1, 5 * procstat.CLK_TCK)


def test_tree_cpu_sums_utime_stime_cutime_cstime(proc):
    assert procstat.tree_pids(10, proc) == [10, 11, 12, 13]
    # 1 (driver) + 3 (jvm) + 2 (reaped children) + 1 (worker)
    assert procstat.tree_cpu_s(10, proc) == pytest.approx(7.0)
    assert procstat.tree_cpu_s(12, proc) == pytest.approx(3.0)


def test_threads_cpu_counts_named_threads_only(proc, tmp_path):
    tk = procstat.CLK_TCK
    task = tmp_path / "11" / "task"
    task.mkdir()
    _fake_proc(task, 11, "java", 10, (tk, 0, 0, 0))
    _fake_proc(task, 31, "C2 CompilerThre", 10, (2 * tk, tk, 5 * tk, 0))
    _fake_proc(task, 32, "C1 CompilerThre", 10, (0, tk, 0, 0))
    _fake_proc(task, 33, "GC Thread#0", 10, (7 * tk, 0, 0, 0))
    jit = procstat.JIT_THREADS
    # utime + stime of the compiler threads; cutime is not a thread's own
    assert procstat.threads_cpu_s(11, jit, proc) == pytest.approx(4.0)
    assert procstat.threads_cpu_s(12, jit, proc) == 0.0
    # the tree's 7 s less the JVM's 4 s of compiler threads
    assert procstat.work_cpu_s(10, proc) == pytest.approx(3.0)


def test_vm_hwm_and_process_lookup(proc):
    assert procstat.vm_hwm_mb(11, proc) == pytest.approx(2048.0)
    assert procstat.vm_hwm_mb(999, proc) == 0.0
    assert procstat.find_child(10, "java", proc) == 11
    assert procstat.find_child(10, "nope", proc) is None
    assert procstat.python_descendants(10, proc) == [12, 13]


def test_reads_this_process():
    assert procstat.tree_cpu_s(os.getpid()) > 0
    assert procstat.vm_hwm_mb(os.getpid()) > 1


def test_digest_is_order_independent_and_exact():
    ts = datetime.datetime(2026, 3, 1, 12, 0, 0, 5)
    rows = [("a", 1, 0.1, None, ts), ("b", 2, 1e-300, "x", ts)]
    d = digest_rows(rows)
    assert d == digest_rows(list(reversed(rows)))
    assert d.startswith("2:")
    assert d != digest_rows([("a", 1, 0.1 + 1e-17 * 2, None, ts), rows[1]])
    assert d != digest_rows(rows[:1])
    assert digest_rows([("1",)]) != digest_rows([(1,)])
    assert digest_rows([(None,)]) != digest_rows([("N",)])


def test_digest_counts_duplicates():
    assert digest_rows([("a",)]) != digest_rows([("a",), ("a",)])


def test_event_log_fold():
    out = fold_event_log(FIXTURE)
    assert set(out) == {"span-a", "span-b"}
    a = out["span-a"]
    assert a["shuffle_mb"] == pytest.approx(3.0)
    assert a["spill_mb"] == pytest.approx(1.0)
    assert a["py_mb"] == pytest.approx(2.5)
    assert a["py_s"] == pytest.approx(1.0)
    # longest stage is 0: durations 100, 300, 100 ms
    assert a["task_skew"] == pytest.approx(3.0)
    b = out["span-b"]
    assert b["task_skew"] == 1.0 and b["py_mb"] == 0.0


def test_benchmark_json_matches_the_reported_metrics():
    import json
    from perfbench.run import END_TO_END, per_layer_units
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == per_layer_units()
    assert len(bench["per_layer"]) < 128
