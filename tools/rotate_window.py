"""Mechanical driver-window rotation (VERDICT r10 item 4).

The driver verifies only the FIRST 50 entries of ``queries()``
(``_CHECK_WINDOW`` in ``__spark_entry__.py``).  Until r10 the rotation
was hand-maintained comments; this tool makes it auditable: it reads
every ``CORRECTNESS_r*.json`` at the repo root, builds the staleness
ledger (last round each registry entry was driver-green), and emits the
next window by the documented policy:

    1. never-driver-checked entries, in registry order;
    2. entries explicitly flagged as code-changed this round
       (``--changed name [name ...]`` — the tool cannot detect source
       drift itself, so the builder passes these in);
    3. stalest entries by ascending last-green round, ties broken by
       registry order.

Entries whose last driver check FAILED (err / hash mismatch) sort ahead
of everything except never-checked, regardless of round.

Usage:
    python tools/rotate_window.py [--size 50] [--changed n1 n2 ...]
                                  [--verify]

``--verify`` exits nonzero unless the emitted window equals the current
``_CHECK_WINDOW`` in ``__spark_entry__.py`` — run it in tests so the
committed window always matches the mechanical policy.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def registry_order() -> list[str]:
    """Canonical registry order, the same whichever query module was
    imported first (NOT the window-reordered prefix
    ``__spark_entry__._registry()`` builds)."""
    import __spark_entry__

    return list(__spark_entry__._registry_in_order())


def load_ledger(
    max_round: int | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """Return (last_green, last_failed) maps: name -> round number.

    ``max_round`` snapshots the ledger as of that round's close — tests
    pin the committed window against the artifacts it was derived from,
    so a new CORRECTNESS file landing after the commit (the driver
    writes it post-round) cannot retroactively fail the pin.
    """
    last_green: dict[str, int] = {}
    last_failed: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            data = json.load(f)
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            ok = (
                res.get("err") is None
                and res.get("rows_match", False)
                and res.get("schema_match", True) is not False
                # hash_match None => rows-only check (no oracle); count
                # a clean rows-only run as green, an explicit False as red.
                and res.get("hash_match") is not False
            )
            if ok:
                last_green[name] = max(rnd, last_green.get(name, 0))
            else:
                last_failed[name] = max(rnd, last_failed.get(name, 0))
    return last_green, last_failed


def next_window(
    size: int = 50,
    changed: list[str] | None = None,
    max_round: int | None = None,
) -> tuple[list[str], dict[str, list[str]]]:
    order = registry_order()
    pos = {n: i for i, n in enumerate(order)}
    last_green, last_failed = load_ledger(max_round)
    changed = [c for c in (changed or []) if c in pos]

    never = [n for n in order if n not in last_green and n not in last_failed]
    # outstanding failure = failed more recently than (or without) a green
    failing = [
        n
        for n in order
        if n in last_failed and last_failed[n] >= last_green.get(n, -1)
    ]
    changed_set = set(changed) - set(never) - set(failing)
    rest = [
        n
        for n in order
        if n not in set(never) | set(failing) | changed_set
    ]
    rest.sort(key=lambda n: (last_green.get(n, -1), pos[n]))

    window: list[str] = []
    buckets = {
        "never_checked": never,
        "outstanding_failure": failing,
        "code_changed": sorted(changed_set, key=pos.__getitem__),
        "stalest": [],
    }
    for bucket in ("never_checked", "outstanding_failure", "code_changed"):
        for n in buckets[bucket]:
            if len(window) < size and n not in window:
                window.append(n)
    for n in rest:
        if len(window) >= size:
            break
        if n not in window:
            window.append(n)
            buckets["stalest"].append(n)
    return window, buckets


def current_window() -> list[str]:
    import __spark_entry__

    return list(__spark_entry__._CHECK_WINDOW)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--size", type=int, default=50)
    ap.add_argument("--changed", nargs="*", default=[])
    ap.add_argument("--verify", action="store_true")
    ap.add_argument(
        "--max-round",
        type=int,
        default=None,
        help=(
            "Snapshot the ledger as of this round's close (default: all "
            "artifacts).  Pass the round the committed window was derived "
            "from when using --verify after a newer CORRECTNESS artifact "
            "lands — otherwise the policy advances and --verify spuriously "
            "reports MISMATCH (ADVICE r11)."
        ),
    )
    args = ap.parse_args()

    window, buckets = next_window(args.size, args.changed, args.max_round)
    out = {
        "window": window,
        "buckets": {k: v for k, v in buckets.items() if v},
        "size": len(window),
    }
    print(json.dumps(out, indent=2))
    if args.verify:
        cur = current_window()
        if cur != window:
            extra = sorted(set(cur) - set(window))
            missing = sorted(set(window) - set(cur))
            print(
                f"MISMATCH: committed window != policy window "
                f"(only-in-committed={extra}, only-in-policy={missing})",
                file=sys.stderr,
            )
            return 1
        print("VERIFY OK: committed window matches policy", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
