"""The /proc resident-memory sampler."""

import os
import subprocess
import sys

from procmem import PeakRSS, descendants, rss_kb, tree_rss_kb


def _fake_proc(tmp_path, procs):
    """procs: pid → (ppid, rss_kb or None, comm)."""
    for pid, (ppid, kb, comm) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0 -1\n")
        status = f"Name:\t{comm}\n"
        if kb is not None:
            status += f"VmRSS:\t{kb} kB\n"
        (d / "status").write_text(status)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_descendants_and_tree_sum(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, 500, "python3"),
        11: (10, 4000, "java"),
        12: (11, 300, "python3 -m daemon"),   # spaces in the command name
        13: (12, 200, "worker) (x"),          # and parentheses
        14: (1, 9999, "unrelated"),
        15: (11, None, "kthread"),            # no VmRSS line
    })
    assert sorted(descendants(10, proc)) == [11, 12, 13, 15]
    assert rss_kb(11, proc) == 4000
    assert rss_kb(15, proc) == 0
    assert rss_kb(99, proc) == 0  # exited
    # the root itself is not counted
    assert tree_rss_kb(10, proc) == 4000 + 300 + 200
    assert tree_rss_kb(10, proc, exclude=(12,)) == 4000 + 200


def test_sampler_sees_a_child_and_exits():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; b = bytearray(64 << 20); sys.stdin.read()"],
        stdin=subprocess.PIPE)
    try:
        rss = PeakRSS(interval_s=0.05).start()
        import time
        time.sleep(1.0)
        sampler = rss._proc
        rss.stop()
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    assert sampler.poll() is not None
    assert rss.samples >= 2
    # the child holds 64 MB; the sampler's own RSS is excluded
    assert rss.peak_mb >= 64
    assert os.getpid() not in descendants(os.getpid())
