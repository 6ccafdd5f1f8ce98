"""/proc tree sampler, on a fake /proc and on the live one.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import procfs  # noqa: E402

T = procfs.CLK_TCK


def _stat(pid, comm, ppid, ut, st, cut, cst, state="S"):
    # fields after "(comm) ": state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = [state, ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, ut, st, cut, cst, 20, 0, 1]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest) + "\n"


@pytest.fixture
def fake_proc(tmp_path):
    """bench(100) -> java(200) -> {daemon(300) -> worker(301), sh(302)},
    plus an unrelated process(400). Comm strings carry spaces and
    parens."""
    procs = {
        100: ("python3", 1, 1, 1, 0, 0),
        200: ("java", 100, 40 * T, 10 * T, 2 * T, 1 * T),
        300: ("python3 (daemon)", 200, 1 * T, 0, 5 * T, 1 * T),
        301: ("python3", 300, 3 * T, 1 * T, 0, 0),
        302: ("sh", 200, 1 * T, 1 * T, 0, 0),
        400: ("java", 1, 99 * T, 0, 0, 0),
    }
    for pid, (comm, ppid, ut, st, cut, cst) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst))
    (tmp_path / "200" / "status").write_text(
        "Name:\tjava\nVmPeak:\t 9000 kB\nVmHWM:\t  524288 kB\nVmRSS:\t 1000 kB\n"
    )
    (tmp_path / "meminfo").write_text("MemTotal:       16384000 kB\nMemFree: 1 kB\n")
    (tmp_path / "loadavg").write_text("0.50 1.00 1.50 1/100 999\n")
    # cpu user nice system idle iowait irq softirq steal guest guest_nice
    (tmp_path / "stat").write_text(f"cpu  100 0 50 1000 5 0 2 {3 * T} 0 0\ncpu0 1 2\n")
    return str(tmp_path)


def test_read_stat_parses_comm_with_parens(fake_proc):
    comm, ppid, own, reaped = procfs.read_stat(300, fake_proc)
    assert comm == "python3 (daemon)"
    assert ppid == 200
    assert (own, reaped) == (1 * T, 6 * T)
    assert procfs.read_stat(999, fake_proc) is None


def test_tree_and_jvm(fake_proc):
    snap = procfs.snapshot(fake_proc)
    assert sorted(procfs.descendants(100, snap)) == [200, 300, 301, 302]
    assert procfs.find_jvm(100, snap) == 200  # not the unrelated java


def test_tree_cpu_splits_jvm_and_python(fake_proc):
    cpu = procfs.tree_cpu(200, fake_proc)
    # own 50 + reaped forks 3 + a live `sh` 2
    assert cpu["jvm"] == pytest.approx(55.0)
    # daemon 1 + its reaped workers 6 + live worker 4
    assert cpu["python"] == pytest.approx(11.0)
    assert procfs.tree_cpu(12345, fake_proc) == {"jvm": 0.0, "python": 0.0}


def test_thread_cpu_by_kind(fake_proc):
    def write_threads(threads):
        for tid, (comm, secs) in threads.items():
            d = os.path.join(fake_proc, "200", "task", str(tid))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "stat"), "w") as f:
                f.write(_stat(tid, comm, 100, secs * T, 0, 0, 0))

    write_threads({
        201: ("C2 CompilerThre", 1),
        202: ("GC Thread#0", 2),
        203: ("G1 Conc#0", 3),
        204: ("Executor task l", 4),
        205: ("py4j-server", 5),
    })
    before = procfs.thread_ticks(200, fake_proc)
    assert before[201] == ("jit", 1 * T) and before[205] == ("other", 5 * T)
    # the compiler thread retires; a new one starts; tasks run
    shutil.rmtree(os.path.join(fake_proc, "200", "task", "201"))
    write_threads({206: ("C1 CompilerThre", 2), 204: ("Executor task l", 7)})
    after = procfs.thread_ticks(200, fake_proc)
    delta = procfs.thread_cpu_delta(before, after)
    assert delta == pytest.approx({"jit": 2.0, "gc": 0.0, "task": 3.0, "other": 0.0})
    assert procfs.thread_ticks(12345, fake_proc) == {}


def test_status_and_host_record(fake_proc):
    assert procfs.status_kb(200, "VmHWM", fake_proc) == 524288
    assert procfs.status_kb(200, "VmSwap", fake_proc) == 0
    host = procfs.host_record(fake_proc)
    assert host["mem_total_mb"] == pytest.approx(16000.0)
    assert host["loadavg"] == [0.5, 1.0, 1.5]
    assert host["nproc"] >= 1
    assert procfs.steal_s(fake_proc) == pytest.approx(3.0)


def test_live_tree_counts_a_busy_child():
    me = os.getpid()
    comm, ppid, _, _ = procfs.read_stat(me)
    assert ppid == os.getppid() and comm
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.6: pass"]
    )
    try:
        time.sleep(0.2)
        assert child.pid in procfs.descendants(me, procfs.snapshot())
    finally:
        child.wait()
    # reaped by this process: its CPU now shows in our cutime+cstime
    _, _, _, reaped = procfs.read_stat(me)
    assert reaped / T > 0.3
    assert procfs.wait_gone([child.pid], timeout_s=1) == []
