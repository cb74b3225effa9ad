"""Ordered-funnel analysis (operators/funnel.py)."""

from __future__ import annotations

from datetime import datetime

from org_revue_de_presse_trends_spark.operators.funnel import (
    funnel_steps,
)


def _ts(h, m=0):
    return datetime(2024, 1, 1, h, m)


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def test_funnel_greedy_earliest_and_window(spark):
    rows = [
        # u1 completes all three inside the window
        (1, _ts(9), "view"), (1, _ts(10), "click"), (1, _ts(11), "purchase"),
        # u2: click BEFORE the first view -> step 2 never fires
        (2, _ts(9), "click"), (2, _ts(10), "view"),
        # u3: click outside the 2h window of the anchor view; the
        # GREEDY-EARLIEST semantic anchors at 09:00 even though the
        # 13:00 view would have caught it
        (3, _ts(9), "view"), (3, _ts(13), "view"), (3, _ts(14), "click"),
        # u4: same-timestamp click does NOT count (strictly after)
        (4, _ts(9), "view"), (4, _ts(9), "click"), (4, _ts(10, 30), "click"),
        # u5: no view at all -> absent from output
        (5, _ts(9), "purchase"),
    ]
    out = {
        r["user_id"]: (
            r["step_1_ts"], r["step_2_ts"], r["step_3_ts"],
            r["steps_completed"],
        )
        for r in funnel_steps(
            _events(spark, rows),
            ["view", "click", "purchase"],
            within_seconds=7200,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1] == (_ts(9), _ts(10), _ts(11), 3)
    assert out[2] == (_ts(10), None, None, 1)
    assert out[3] == (_ts(9), None, None, 1)
    assert out[4] == (_ts(9), _ts(10, 30), None, 2)


def test_funnel_unbounded_window(spark):
    rows = [
        (1, _ts(9), "view"), (1, _ts(23), "click"),
        (2, _ts(9), "view"),
    ]
    per_user = funnel_steps(
        _events(spark, rows), ["view", "click"]
    )
    got = {r["user_id"]: r["steps_completed"] for r in per_user.collect()}
    assert got == {1: 2, 2: 1}


def test_sliding_funnel_catches_later_anchor(spark):
    """The documented semantic gap: greedy-earliest anchors u3 at
    09:00 and misses the 14:00 click; the sliding variant's 13:00
    anchor catches it.  Full-chain counting and the strictly-after
    rule carry over."""
    from org_revue_de_presse_trends_spark.operators.funnel import (
        funnel_steps_sliding,
    )

    rows = [
        # u3 from the greedy test: second anchor completes step 2
        (3, _ts(9), "view"), (3, _ts(13), "view"), (3, _ts(14), "click"),
        # u6: two anchors, one full conversion
        (6, _ts(8), "view"), (6, _ts(9), "click"), (6, _ts(10), "purchase"),
        (6, _ts(20), "view"),
        # u7: duplicate anchor timestamps collapse (distinct anchors)
        (7, _ts(9), "view"), (7, _ts(9), "view"),
    ]
    out = {
        r["user_id"]: (r["n_anchors"], r["best_level"], r["n_full"])
        for r in funnel_steps_sliding(
            _events(spark, rows),
            ["view", "click", "purchase"],
            window_seconds=7200,
        ).collect()
    }
    assert out[3] == (2, 2, 0)
    assert out[6] == (2, 3, 1)
    assert out[7] == (1, 1, 0)
