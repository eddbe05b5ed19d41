"""Process-tree RSS/CPU sampler: descendants found, reaped CPU kept."""

import os
import subprocess
import sys
import time

from perfbench import proctree

# parent -> child -> grandchild; the grandchild holds ~64 MiB and sleeps
HOLDER = """
import subprocess, sys
g = subprocess.Popen([sys.executable, "-c",
    "import time; b = bytearray(64 << 20); b[::4096] = b'x' * len(b[::4096]); print('up', flush=True); time.sleep(30)"],
    stdout=subprocess.PIPE, text=True)
print(g.stdout.readline().strip(), flush=True)
g.wait()
"""

# burns ~0.5 s of CPU in a grandchild, reaps it, then waits for stdin
BURNER = """
import subprocess, sys
subprocess.run([sys.executable, "-c",
    "import time\\nt = time.process_time()\\nwhile time.process_time() - t < 0.5: pass"])
print("reaped", flush=True)
sys.stdin.readline()
"""


def _spawn(code):
    return subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE, text=True)


def test_tree_finds_descendants_and_sums_rss():
    p = _spawn(HOLDER)
    try:
        assert p.stdout.readline().strip() == "up"
        pids = proctree.tree_pids(p.pid)
        assert len(pids) == 2 and pids[0] == p.pid
        assert proctree.rss_bytes(pids) >= 64 << 20
        assert proctree.rss_bytes(pids) > proctree.rss_bytes([p.pid]) + (60 << 20)
    finally:
        for pid in proctree.tree_pids(p.pid)[::-1]:
            os.kill(pid, 9)
        p.wait(timeout=10)
    assert proctree.rss_bytes([p.pid]) == 0  # gone processes count 0


def test_cpu_of_reaped_children_is_kept():
    p = _spawn(BURNER)
    try:
        assert p.stdout.readline().strip() == "reaped"
        # the grandchild is gone; its CPU lives on in the child's cutime
        assert proctree.tree_pids(p.pid) == [p.pid]
        assert proctree.cpu_seconds([p.pid]) >= 0.45
    finally:
        p.stdin.write("\n")
        p.stdin.close()
        p.wait(timeout=10)


def test_sampler_peak_between_windows():
    p = _spawn(HOLDER)
    try:
        with proctree.RssSampler(os.getpid(), interval_s=0.02) as s:
            t0 = time.monotonic()
            assert p.stdout.readline().strip() == "up"
            time.sleep(0.2)
            t1 = time.monotonic()
        assert len(s.samples) >= 5
        assert s.peak_between(t0, t1) >= 64 << 20
        assert s.peak_between(t1 + 10, t1 + 20) == 0
    finally:
        for pid in proctree.tree_pids(p.pid)[::-1]:
            os.kill(pid, 9)
        p.wait(timeout=10)


# leaves a grandchild running once the child itself exits (on stdin)
ORPHANER = """
import subprocess, sys
g = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
print(g.pid, flush=True)
sys.stdin.readline()
"""


def test_wait_gone_kills_leftover_descendants():
    p = _spawn(ORPHANER)
    with proctree.RssSampler(p.pid, interval_s=0.01) as s:
        orphan = int(p.stdout.readline())
        deadline = time.monotonic() + 10
        while orphan not in s.seen and time.monotonic() < deadline:
            time.sleep(0.01)
    assert orphan in s.seen
    p.stdin.write("\n")
    p.stdin.close()
    p.wait(timeout=10)
    t0 = time.monotonic()
    proctree.wait_gone(s.seen, timeout_s=0.3)
    assert 0.3 <= time.monotonic() - t0 < 5
    assert not proctree._alive(orphan, s.seen[orphan])
