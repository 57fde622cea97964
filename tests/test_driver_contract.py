"""Pins on the driver contract itself (VERDICT r10 items 4 & 7).

These tests need no SparkSession — they exercise the window-rotation
policy and the bench stdout-line guard, the two places where a silent
drift breaks the driver's artifacts rather than any query result.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

# The round whose CORRECTNESS artifacts the committed window was derived
# from.  Bump this when rotating _CHECK_WINDOW for a new round — the pin
# snapshots the ledger so a post-round CORRECTNESS file landing after
# the commit cannot retroactively fail it.
WINDOW_DERIVED_FROM_ROUND = 12


def test_window_matches_rotation_policy():
    """The committed _CHECK_WINDOW must equal the mechanical policy
    output (never-checked > outstanding-failure > code-changed >
    stalest), so rotations stay auditable instead of hand-maintained
    (VERDICT r10 item 4).  The code-changed bucket is the committed
    ``_R13_CHANGED`` list (VERDICT r12 item 1: every r12-changed path,
    er1/st10 first, plus the r13 change surface)."""
    import __spark_entry__
    from rotate_window import next_window

    window, buckets = next_window(
        max_round=WINDOW_DERIVED_FROM_ROUND,
        changed=list(__spark_entry__._R13_CHANGED),
    )
    assert window == list(__spark_entry__._CHECK_WINDOW), {
        "only_in_committed": sorted(set(__spark_entry__._CHECK_WINDOW) - set(window)),
        "only_in_policy": sorted(set(window) - set(__spark_entry__._CHECK_WINDOW)),
    }


def test_window_is_registry_prefix():
    """queries() must present the window as its dict PREFIX — the driver
    verifies the first 50 entries only."""
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert names[: len(__spark_entry__._CHECK_WINDOW)] == list(
        __spark_entry__._CHECK_WINDOW
    )


def test_bench_line_guard_full_registry():
    """Render the stdout line with the FULL registry's per-query map and
    assert the <1900-char guard holds as the registry grows — the r8/r9
    `parsed: null` class (VERDICT r10 item 7).  Also checks the
    truncation marker fires and the headline value survives."""
    import __spark_entry__
    from bench import render_stdout_line

    names = list(__spark_entry__.queries())
    assert len(names) >= 200
    times = {n: 123.456 for n in names}  # worst-case realistic widths
    result = {
        "metric": "headline_total_sec",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": dict(times),
        "sf": 0.1,
        "same_code_band_sec": [13.27, 15.47],
        "weather_ok": True,
        "n_errors": 3,
    }
    line = render_stdout_line(result)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == round(123.456 * len(names), 3)
    if len(parsed["queries"]) < len(names):
        assert parsed["queries_truncated"] is True
        assert parsed["queries_dropped"] == len(names) - len(parsed["queries"])


def test_bench_line_no_truncation_when_small():
    from bench import render_stdout_line

    result = {"metric": "headline_total_sec", "value": 1.0, "unit": "sec",
              "queries": {"q1": 1.0}, "sf": 0.1}
    parsed = json.loads(render_stdout_line(result))
    assert "queries_truncated" not in parsed
    assert parsed["queries"] == {"q1": 1.0}

