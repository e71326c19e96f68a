"""The one tier policy of the iterative and pair operators.

An operator runs as a driver-local solve over collected rows, a loop of
broadcast-hash joins, or a loop of shuffle joins, and picks one from
exact row counts through the two budgets below. No keyword, option or
conf key overrides them; tests force a tier by patching them
(``monkeypatch.setattr(tiers, "LOCAL_ROWS", 0)``), and the predicates
read them at call time. ``solve_locally(0)`` is False, so empty inputs
always take the distributed path.
"""

LOCAL_ROWS = 2_000_000  # most rows a driver-local solve (or driver-held index) collects
BROADCAST_ROWS = 5_000_000  # largest frame a loop broadcasts into its joins


def solve_locally(n: int) -> bool:
    return 0 < n <= LOCAL_ROWS


def broadcastable(n: int) -> bool:
    return n <= BROADCAST_ROWS
