"""The driver grades the FIRST 50 registry entries; this pins the r9 window
composition exactly, so an innocent-looking registration change cannot
silently rotate an unvetted query into (or a vetted one out of) the graded
prefix. Update deliberately when applying the documented rotation plan.

Also enforces the structural invariant that closed the q44 (r6) / p70 (r7)
omission class: every oracle-bearing entry must either have green driver
history (a green row in some checked-in CORRECTNESS_r*.json) or sit inside
the graded prefix of the CURRENT window — an oracle-bearing entry can never
again be registered and then silently miss every driver grading window.
"""

from __future__ import annotations

import glob
import json
import os

from duckdb_cloudflare_spark import queries as Q

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_graded_window_is_exactly_the_r15_rotation():
    names = list(Q.all_queries())
    window = names[:50]
    expected = (
        # the connected-components anchors and the carried ungraded
        # entries lead, then the oracle-bearing queries rebuilt on the
        # shared n-gram primitive, then the r15 window: the new r15 ops,
        # then strict least-recently-driver-graded order from the
        # checked-in CORRECTNESS records: p58-p61 (r10), the r11 cohort,
        # then the equal-recency r12 tier fills the rest; the window is
        # cut at exactly 50.
        [
            "p39_", "p54_",
            "p05_", "p105_", "p111_", "p113_", "p115_", "p116_", "p119_",
        ]
        + [
            "p34_", "p36_", "p40_", "p41_", "p46_", "p48_", "p50_", "p51_",
            "p64_", "p87_", "p93_", "p95_", "p99_", "p100_", "p107_", "p114_",
        ]
        + ["q71_", "q72_", "p124_", "p125_", "p126_"]
        + ["p58_", "p59_", "p60_", "p61_"]
        + [
            "p13_", "p15_", "p16_", "p17_", "p18_", "p19_", "p21_",
            "p22_", "p23_", "p24_", "p25_", "p26_", "p27_", "p29_",
            "p31_", "p32_", "p33_", "p70_", "p71_", "p72_", "p73_",
            "p75_", "p76_", "p77_", "p78_", "p80_", "p82_", "p84_",
        ]
        + [
            "q17_", "q18_", "q19_", "q20_", "q21_", "q22_", "q23_",
            "q24_", "q25_", "q26_", "q27_", "q28_", "q61_", "q62_",
            "p102_",
        ]
    )[:50]
    assert len(window) == len(expected) == 50
    for name, prefix in zip(window, expected):
        assert name.startswith(prefix), (name, prefix)
    # every windowed entry must be oracle-bearing (window invariant since r4)
    oracles = Q.all_oracles()
    assert all(n in oracles for n in window)


def _driver_green_history() -> set[str]:
    """Entries with at least one fully-green row in the checked-in driver
    correctness records (CORRECTNESS_r*.json at the repo root)."""
    green: set[str] = set()
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        with open(path) as f:
            for name, row in json.load(f).items():
                if (
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match")
                    and not row.get("err")
                ):
                    green.add(name)
    return green


def test_no_oracle_bearing_entry_stranded_without_driver_history():
    """The q44/p70 omission class, made structurally impossible: any
    oracle-bearing entry with ZERO green driver history must be inside the
    graded prefix of the current window, or this fails loudly. New
    operators therefore cannot be registered without also being scheduled
    to lead (prepend their prefix to _WINDOW_PRIORITY and to the pin test
    above), and a rotation can never strand an ungraded entry."""
    names = list(Q.all_queries())
    oracles = Q.all_oracles()
    green = _driver_green_history()
    assert green, "no CORRECTNESS_r*.json found — invariant cannot run"
    window = set(names[:50])
    stranded = [
        n for n in names if n in oracles and n not in green and n not in window
    ]
    assert stranded == [], (
        "oracle-bearing entries with no driver history are outside the "
        f"graded window and would never be graded: {stranded}"
    )


def test_rows_only_entries_sort_last():
    # The driver emits `err: no_oracle` for rows-only entries; they must
    # never be adjacent to the window boundary. The reorder pushes them to
    # the absolute end of the registry.
    names = list(Q.all_queries())
    oracles = Q.all_oracles()
    rows_only = [n for n in names if n not in oracles]
    assert rows_only == names[-len(rows_only):]


def test_post_window_entries_all_locally_gated():
    # Post-window entries are only safe to rotate out because the local
    # gate verifies the FULL registry: assert the gate's source of truth
    # (all_queries) and the declared inventory agree in size.
    names = list(Q.all_queries())
    assert len(names) >= 116  # grows monotonically; never silently shrinks


def test_registered_callables_are_named_like_their_registry_keys():
    """Catches the stacked-decorator mis-registration class: inserting a
    new @register block between an existing entry's decorator and its def
    silently registers ONE function under TWO names (and orphans the
    other def). register() returns fn unchanged, so __name__ must equal
    the registry key for every entry."""
    for name, fn in Q.all_queries().items():
        assert fn.__name__ == name, (
            f"registry key {name!r} is bound to function {fn.__name__!r} — "
            "a decorator is stacked on the wrong def"
        )
