import subprocess
import sys

from worker import session_cpu_s

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"


def test_session_cpu_counts_this_process():
    before = session_cpu_s()
    exec(SPIN)
    assert session_cpu_s() - before >= 0.25


def test_session_cpu_counts_exited_children():
    before = session_cpu_s()
    subprocess.run([sys.executable, "-c", SPIN], check=True)
    assert session_cpu_s() - before >= 0.25

