"""The /proc readers behind cpu_s_per_pass and peak_rss_mb, on a fake
/proc tree and on this process."""

import os
import subprocess
import sys
import time

import pytest

from perfbench import procstat


def _stat(pid, comm, ppid, utime, stime, cutime, cstime, start=1000):
    fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1, 0, start]
    return "%d (%s) %s\n" % (pid, comm, " ".join(str(f) for f in fields))


def test_parse_stat_handles_spaces_and_parens_in_comm():
    f = procstat.parse_stat(_stat(42, "python3 (worker) x", 7, 11, 12, 13, 14, 555))
    assert f == {"ppid": 7, "utime": 11, "stime": 12, "cutime": 13, "cstime": 14, "starttime": 555}


def test_parse_status_kb():
    text = "Name:\tjava\nVmPeak:\t 900 kB\nVmHWM:\t  2048 kB\nVmRSS:\t 1000 kB\n"
    assert procstat.parse_status_kb(text, "VmHWM") == 2048
    assert procstat.parse_status_kb("Name:\tkthreadd\n", "VmHWM") == 0


@pytest.fixture
def fake_proc(tmp_path):
    """1 -> 2 -> 3 is the tree; 4 belongs to someone else."""
    procs = {
        1: ("bench", 0, 100, 10, 5, 5, 1000),
        2: ("java", 1, 300, 30, 0, 0, 2000),
        3: ("python3 -m pyspark.daemon", 2, 50, 5, 40, 10, 500),
        4: ("other", 99, 9999, 9999, 0, 0, 7777),
    }
    for pid, (comm, ppid, ut, st, cut, cst, hwm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, ut, st, cut, cst))
        (d / "status").write_text("Name:\t%s\nVmHWM:\t%d kB\n" % (comm, hwm))
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    (tmp_path / "stat").write_text("cpu  100 0 50 800 10 0 5 35 0 0\ncpu0 1 2 3 4\n")
    return str(tmp_path)


def test_descendants(fake_proc):
    assert sorted(procstat.descendants(1, fake_proc)) == [1, 2, 3]
    assert sorted(procstat.descendants(2, fake_proc)) == [2, 3]


def test_tree_cpu_counts_reaped_children(fake_proc):
    ticks = (100 + 10 + 5 + 5) + (300 + 30) + (50 + 5 + 40 + 10)
    assert procstat.tree_cpu_s(1, fake_proc) == pytest.approx(ticks / procstat.CLK_TCK)


def test_peak_rss_by_name(fake_proc):
    rss = procstat.peak_rss_by_name(1, fake_proc)
    assert rss == {
        "bench": [pytest.approx(1000 / 1024)],
        "java": [pytest.approx(2000 / 1024)],
        "python3 -m pyspark.daemon": [pytest.approx(500 / 1024)],
    }


def test_cpu_ticks(fake_proc):
    assert procstat.cpu_ticks(fake_proc) == (35, 100 + 50 + 800 + 10 + 5 + 35)


def test_live_tree_sees_child_and_its_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time\nt=time.time()\nwhile time.time()-t<0.3: pass\ntime.sleep(5)"]
    )
    try:
        time.sleep(0.5)
        assert child.pid in procstat.descendants(os.getpid())
        assert procstat.tree_cpu_s(os.getpid()) >= 0.2
        assert sum(map(sum, procstat.peak_rss_by_name(os.getpid()).values())) > 1.0
    finally:
        child.kill()
        procstat.wait_gone([child.pid], timeout_s=5)
    assert child.pid not in procstat.descendants(os.getpid())


def test_wait_gone_kills_stragglers():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    t0 = time.monotonic()
    procstat.wait_gone([child.pid], timeout_s=0.2)
    assert time.monotonic() - t0 < 10
    assert child.poll() is not None


def test_process_age():
    assert 0.0 < procstat.process_age_s() < 24 * 3600
