"""A codegen compile failure logged during a run fails it, the tail
percentile follows its definition, and a run's processes are all stopped."""

import os
import subprocess
import sys

from bench import codegen_failures

from perfbench.harness import PLANTED_CODEGEN_LINE, tail_percentile
from perfbench.run import kill_group


def test_planted_codegen_line_is_a_failure():
    assert codegen_failures("INFO ok\n" + PLANTED_CODEGEN_LINE + "\n") == [PLANTED_CODEGEN_LINE]


def test_tail_percentile():
    assert tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    # under 100 samples ten beyond would sit below p90: the maximum
    assert tail_percentile([float(i) for i in range(1, 41)]) == (100.0, 40.0)
    xs = [float(i) for i in range(1, 201)]  # 200 samples
    pct, v = tail_percentile(xs)
    assert pct == 95.0
    assert sum(x > v for x in xs) == 10


def test_kill_group_stops_grandchildren():
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import subprocess, time; subprocess.Popen(['sleep', '60']); time.sleep(60)"],
        start_new_session=True)
    kill_group(child)
    assert child.returncode is not None
    try:
        os.killpg(child.pid, 0)
        alive = True
    except ProcessLookupError:
        alive = False
    assert not alive
