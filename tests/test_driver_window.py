"""The driver window is one declared tuple, and every rotation of it goes
through ``registry.swap``, which refuses a swap that would leave the
window off its slot cap or move an entry the wrong way."""

from __future__ import annotations

import pytest

from hadoop_hive_analysis_spark.plans.registry import (
    DRIVER_SLOT_CAP,
    DRIVER_WINDOW,
    QUERIES,
    query_map,
    swap,
)

SCORED = DRIVER_WINDOW[0]
SCORED_2 = DRIVER_WINDOW[1]
RESTED = next(n for n in QUERIES if n not in DRIVER_WINDOW)
RESTED_2 = next(n for n in QUERIES if n not in DRIVER_WINDOW and n != RESTED)


def test_window_is_full_unique_registered_and_oracle_backed():
    assert len(DRIVER_WINDOW) == DRIVER_SLOT_CAP
    assert len(set(DRIVER_WINDOW)) == DRIVER_SLOT_CAP
    assert set(DRIVER_WINDOW) <= set(QUERIES)
    assert all(QUERIES[n].oracle for n in DRIVER_WINDOW)


def test_query_map_is_the_window_in_registry_order():
    assert list(query_map()) == [n for n in QUERIES if n in DRIVER_WINDOW]
    # the tuple itself is kept in registry order, so a rotation diff of
    # it reads in the same order as the driver sees the queries
    assert list(query_map()) == list(DRIVER_WINDOW)
    assert {n for n, s in QUERIES.items() if s.driver} == set(DRIVER_WINDOW)


def test_swap_returns_the_new_window_in_registry_order():
    window = swap(DRIVER_WINDOW, [RESTED], [SCORED])
    assert len(window) == DRIVER_SLOT_CAP
    assert RESTED in window and SCORED not in window
    assert list(window) == [n for n in QUERIES if n in window]
    # an empty swap is the identity
    assert swap(DRIVER_WINDOW, [], []) == DRIVER_WINDOW


@pytest.mark.parametrize(
    "promote, demote, message",
    [
        (["no_such_query"], [SCORED], "unknown"),
        ([RESTED], ["no_such_query"], "unknown"),
        ([RESTED, RESTED], [SCORED, SCORED_2], "duplicate"),
        ([RESTED, RESTED_2], [SCORED, SCORED], "duplicate"),
        ([RESTED, SCORED], [SCORED, SCORED_2], "both promoted and demoted"),
        ([RESTED, RESTED_2], [SCORED], "unbalanced"),
        ([SCORED_2], [SCORED], "already scored"),
        ([RESTED], [RESTED_2], "already rested"),
    ],
    ids=[
        "unknown_promote",
        "unknown_demote",
        "duplicate_promote",
        "duplicate_demote",
        "overlap",
        "unbalanced",
        "already_scored",
        "already_rested",
    ],
)
def test_swap_rejects_bad_plans(promote, demote, message):
    with pytest.raises(ValueError, match=message):
        swap(DRIVER_WINDOW, promote, demote)
