"""Registration-budget gate (VERDICT r9 task 2).

The driver verifies only the FIRST 50 entries of ``queries()`` per
round. Round 9 registered 55 new queries against 35 free window slots,
creating the repo's first backlog of never-driver-verified names. The
rotation logic (unverified-first + mechanical staleness refronts,
tests/test_rotation_staleness.py) guarantees the *right* names occupy
the window — this test guarantees the window is *big enough* for all of
them, i.e. the round can always end with zero verification backlog.

Budget = every name the next driver window must absorb:

  * ``ROTATE_FRONT`` refronts (code changed since green verdict), plus
  * every registered query without a fully-green row in the
    ``CORRECTNESS_r*.json`` records — which by construction includes
    anything registered this round.

If this exceeds the window, the fix is to stop registering: a query
that cannot get a driver verdict this round should not be registered
this round. Note that adding any keyword to a query's ``@query(...)``
call, or moving it to another module, changes its staleness
fingerprint (tests/test_rotation_staleness.py) and so also spends a
window slot.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DRIVER_WINDOW = 50


def test_window_absorbs_every_unverified_and_refronted_name():
    import __spark_entry__ as entry
    from kafka_go_streamer_spark.plans import QUERIES

    front = [n for n in entry.ROTATE_FRONT if n in QUERIES]
    unverified = [
        n for n in QUERIES if n not in entry.DRIVER_VERIFIED
    ]
    need = set(front) | set(unverified)
    assert len(need) <= DRIVER_WINDOW, (
        f"{len(need)} names need a driver verdict next round "
        f"({len(front)} refronts + {len(set(unverified) - set(front))} "
        f"never-green) but the driver verifies only the first "
        f"{DRIVER_WINDOW} queries — stop registering new queries this "
        f"round or the backlog compounds: "
        f"{sorted(need)[:60]}"
    )


def test_window_head_is_exactly_the_needy_set():
    """The first len(need) names of the driver ordering must be exactly
    the refronts + never-green names — i.e. the ordering actually
    spends the window on what needs verdicts, wasting no slot on an
    already-green name while an unverified one waits behind slot 50."""
    import __spark_entry__ as entry
    from kafka_go_streamer_spark.plans import QUERIES

    front = [n for n in entry.ROTATE_FRONT if n in QUERIES]
    unverified = [
        n for n in QUERIES if n not in entry.DRIVER_VERIFIED
    ]
    need = set(front) | set(unverified)
    ordered = entry._ordered_names()
    head = ordered[: len(need)]
    assert set(head) == need, (
        "driver-window head is not the refront+unverified set: "
        f"unexpected={sorted(set(head) - need)} "
        f"missing={sorted(need - set(head))}"
    )
