import os
import subprocess
import sys
import time

from rss import RssSampler, tree_rss

MB = 2**20
CHILD = (
    "import sys, time\n"
    "b = bytearray(160 * 2**20)\n"
    "for i in range(0, len(b), 4096): b[i] = 1\n"
    "print('ready', flush=True)\n"
    "time.sleep(30)\n"
)


def test_sampler_sees_child_of_known_size():
    base = tree_rss(os.getpid())
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "ready"
        with RssSampler(os.getpid(), interval_s=0.02) as s:
            time.sleep(0.2)
        grown = s.peak_bytes - base
        # the child's bytearray plus an interpreter of at most ~40 MB
        assert 160 * MB <= grown <= 200 * MB, grown / MB
        assert s.samples >= 2
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None
    assert tree_rss(os.getpid()) < 160 * MB + base


def test_prefix_filters_process_names():
    child = subprocess.Popen(["sleep", "5"])
    try:
        time.sleep(0.1)
        assert tree_rss(os.getpid(), comm_prefix="sleep") > 0
        assert tree_rss(os.getpid(), comm_prefix="no-such-command") == 0
    finally:
        child.kill()
        child.wait(timeout=10)
