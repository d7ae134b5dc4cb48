"""The slow tier is a committed list: marking a test ``slow`` takes it out
of the default gate, so that set changes only together with
``tests/slow_tests.txt``."""

import os
import subprocess
import sys

TESTS = os.path.dirname(os.path.abspath(__file__))


def test_slow_marked_tests_match_committed_list():
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", TESTS, "--collect-only", "-q",
         "-m", "slow", "-p", "no:cacheprovider"],
        cwd=os.path.dirname(TESTS), capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    # one id per test function: parametrized sweeps grow with the registry
    collected = {
        line.split("[")[0] for line in proc.stdout.splitlines() if "::" in line
    }
    with open(os.path.join(TESTS, "slow_tests.txt")) as f:
        committed = {line.strip() for line in f if line.strip()}
    assert collected == committed, {
        "newly slow": sorted(collected - committed),
        "no longer slow": sorted(committed - collected),
    }
