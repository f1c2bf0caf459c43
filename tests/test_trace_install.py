"""The benchmark tracer wraps each traced name exactly once.

``perfbench.trace.install`` patches a function at the name its caller
resolves.  A module the tracer is first to import binds names from
modules already patched, and its own site then wraps the wrapper: every
call records two nested spans.  The check runs in a fresh interpreter,
where nothing has imported the engine yet.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
import perfbench.trace as tr
inst = tr.install(tr.Tracer("probe"), tr.SITES)
from moonlink_spark.operators import changelog
inner = changelog.scan_files.__wrapped__
assert not hasattr(inner, "__wrapped__"), "changelog.scan_files wrapped twice"
inst.restore()
"""


def test_changelog_scan_files_is_wrapped_once():
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run([sys.executable, "-c", _PROBE], cwd=REPO,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
