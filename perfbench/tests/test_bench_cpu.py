"""The CPU clock counts the work of processes under the benchmark,
reaped ones included, and not its own polling."""

import subprocess
import sys
import time

from cpu import CpuClock

BUSY = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"


def test_counts_a_reaped_child():
    clock = CpuClock()
    try:
        before = clock.seconds()
        subprocess.run([sys.executable, "-c", BUSY], check=True)
        assert 0.45 <= clock.seconds() - before < 1.5
    finally:
        clock.close()


def test_idle_time_is_not_counted():
    clock = CpuClock()
    try:
        before = clock.seconds()
        time.sleep(1.0)  # the poller runs several times meanwhile
        assert clock.seconds() - before < 0.05
    finally:
        clock.close()
