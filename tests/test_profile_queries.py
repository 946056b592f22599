"""``tools/profile_queries.py`` rejects bad arguments before it starts a
JVM: with ``JAVA_HOME`` pointing nowhere, a JVM start would fail with
exit 1, so exit 2 (argparse's usage error) proves none was attempted."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

TOOL = Path(__file__).resolve().parent.parent / "tools" / "profile_queries.py"


@pytest.mark.parametrize(
    "args, message",
    [
        (["--runs", "0", "x"], "--runs must be at least 1"),
        (["no_such_query"], "unknown queries: no_such_query"),
    ],
)
def test_bad_arguments_exit_2_without_spark(tmp_path, args, message):
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-java"))
    p = subprocess.run(
        [sys.executable, str(TOOL), *args],
        capture_output=True,
        text=True,
        env=env,
        timeout=120,
    )
    assert p.returncode == 2, p.stderr
    assert message in p.stderr
