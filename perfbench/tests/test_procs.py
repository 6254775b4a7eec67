"""A run leaves no process behind: orphaned descendants are adopted and
waited for, and a termination signal still runs the clean-up. Each case
runs in a child interpreter, since a subreaper stays one for life."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _python(code: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "-c", textwrap.dedent(code)], cwd=ROOT,
                          capture_output=True, text=True, timeout=60)


def test_reap_children_waits_for_and_ends_orphaned_grandchildren():
    out = _python("""
        import subprocess, time
        from perfbench import procs
        assert procs.adopt_orphans()
        # ends by itself inside the grace period: waited for, not signalled
        subprocess.Popen(["sleep", "0.3"])
        assert procs.reap_children(grace_s=10) == [] and procs.children() == []
        # the shell exits at once; its background sleep is re-parented here
        subprocess.run(["sh", "-c", "sleep 30 >/dev/null 2>&1 &"], check=True)
        time.sleep(0.3)
        adopted = procs.children()
        signalled = procs.reap_children(grace_s=0.2, step_s=0.5)
        print(len(adopted), signalled == adopted, len(procs.children()))
    """)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["1", "True", "0"]


def test_sigterm_runs_the_clean_up():
    out = _python("""
        import os, signal
        from perfbench import procs
        procs.exit_on_signals()
        try:
            os.kill(os.getpid(), signal.SIGTERM)
        finally:
            print("cleaned up", flush=True)
    """)
    assert out.stdout.strip() == "cleaned up"
    assert out.returncode == 128 + 15
