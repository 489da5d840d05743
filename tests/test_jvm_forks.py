"""tools/jvm_forks.py's reader of ``jfr print --json`` output, on a
small committed recording excerpt (no Spark, no JVM)."""

from __future__ import annotations

import json
from collections import Counter
from pathlib import Path

from tools.jvm_forks import caller, process_starts, process_starts_by_caller

DOC = json.loads(
    (Path(__file__).parent / "fixtures" / "jfr_process_starts.json").read_text()
)
T0 = 1767323045.0  # 2026-01-02T03:04:05Z
CKPT = "org.apache.spark.sql.execution.streaming.checkpointing."


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


def test_names_each_start_by_its_first_frame_past_the_fork_path():
    # JFR writes class names with slashes; frames of the JDK, Hadoop's
    # Shell and Hadoop's fs package (subpackages too) are skipped; a
    # missing or all-skipped stack trace counts as "?"
    assert process_starts_by_caller(DOC, [(T0 - 1, T0 + 5)]) == Counter({
        ("readlink", CKPT + "FileContextBasedCheckpointFileManager.renameTempFile"): 3,
        ("readlink", "?"): 1,
        ("chmod", "org.apache.parquet.hadoop.util.HadoopOutputFile.create"): 1,
        ("chmod", CKPT + "FileSystemBasedCheckpointFileManager.createTempFile"): 1,
        ("bash", "?"): 1,
    })
    frame = {"method": {"type": {"name": "org.apache.hadoop.fsx.Tool"}, "name": "run"}}
    assert caller({"frames": [frame]}) == "org.apache.hadoop.fsx.Tool.run"
    assert caller(None) == "?"
