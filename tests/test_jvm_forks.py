"""tools/jvm_forks.py's reader of ``jfr print --json`` output, on a
small committed recording excerpt (no Spark, no JVM)."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

from tools.jvm_forks import process_starts

DOC = json.loads(
    (Path(__file__).parent / "fixtures" / "jfr_process_starts.json").read_text()
)
T0 = 1767323045.0  # 2026-01-02T03:04:05Z


def test_counts_starts_by_command_inside_windows():
    # nanosecond stamps parse; both window ends are inclusive; a path
    # to the binary counts under its base name
    assert process_starts(DOC, [(T0, T0 + 0.5), (T0 + 4, T0 + 4.125)]) == Counter(
        {"readlink": 3}
    )
    assert process_starts(DOC, [(T0 - 1, T0 + 5)]) == Counter(
        {"readlink": 4, "chmod": 2, "bash": 1}
    )
    assert process_starts(DOC, []) == Counter()
