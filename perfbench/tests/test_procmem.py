import os
import subprocess
import sys
import time

from xspbench import procmem

TOUCH_64MB = (
    "import sys, time; b = bytearray(64 << 20); b[::4096] = b'x' * len(b[::4096]); "
    "print('ready', flush=True); time.sleep(30)"
)


def test_tree_memory_counts_children():
    me = os.getpid()
    before = procmem.tree_bytes(me, frozenset({me}))
    child = subprocess.Popen([sys.executable, "-c", TOUCH_64MB], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        assert child.pid in procmem.descendants(me)
        with procmem.MemSampler(rss_pids=frozenset(), interval_s=0.05) as mem:
            time.sleep(0.3)
        assert mem.samples >= 2
        assert mem.peak_bytes - before > 48 << 20
        # counted by RSS instead of Pss, the child reads about the same
        by_rss = procmem.tree_bytes(me, frozenset({me, child.pid}))
        assert by_rss - before > 48 << 20
    finally:
        child.kill()
        child.wait(10)
    assert child.pid not in procmem.descendants(me)
