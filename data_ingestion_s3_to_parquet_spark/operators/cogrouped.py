"""Cogrouped-pandas operators: ``groupby().cogroup().applyInPandas``.

The cogroup API is the remaining Arrow-batched Python surface the
engine didn't exercise: TWO frames, co-partitioned by key, delivered
to one pandas function per key group. It is the right tool when the
per-key logic needs both sides at once and isn't expressible as a
join + window (custom matching, per-key model fits, interval algebra
on irregular grids).

Here it implements the as-of join as a TWIN of the graded
``join_asof`` (equi-join + inequality + rank-1 window,
``relational.q_join_asof``) — same contract, different engine path —
and a parity test (tests/test_operators.py) diffs the two outputs
row-for-row, tie-breaks included. That is the repo's standard pattern
for every double-implemented operator (see SCALE.md §31): docstring
claims of equivalence don't survive boundary cases; a diff test does.

Scale: cogroup shuffles BOTH inputs once on the key — the same
exchange the join-based lane pays — then streams each key's pair of
Arrow batches through `pd.merge_asof` (O(n log n) sort + linear
merge per key). Per-task memory is the largest single key group, so
the entity key must bound fan-in (user_id does; a global as-of would
need time-bucketing first — same caveat as the join lane).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ASOF_OUT_SCHEMA = (
    "event_id long, user_id long, asof_orderkey long, asof_orderdate timestamp"
)


def _asof_merge(events: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
    if events.empty or orders.empty:
        return pd.DataFrame(
            columns=["event_id", "user_id", "asof_orderkey", "asof_orderdate"]
        )
    # merge_asof(direction="backward") picks the LAST right row with
    # key <= left key; sorting orders by (date, orderkey) makes that
    # "latest date, then highest orderkey" — the join lane's exact
    # tie-break (DESC date, DESC orderkey under rank 1).
    ev = events.sort_values("ts", kind="mergesort")
    od = orders.sort_values(["o_orderdate", "o_orderkey"], kind="mergesort")
    m = pd.merge_asof(
        ev,
        od[["o_orderdate", "o_orderkey"]],
        left_on="ts",
        right_on="o_orderdate",
        direction="backward",
    )
    m = m.dropna(subset=["o_orderkey"])  # inner semantics, like the twin
    return pd.DataFrame(
        {
            "event_id": m["event_id"].astype("int64"),
            "user_id": m["user_id"].astype("int64"),
            "asof_orderkey": m["o_orderkey"].astype("int64"),
            "asof_orderdate": m["o_orderdate"],
        }
    )


def asof_join_cogrouped(events: DataFrame, orders: DataFrame) -> DataFrame:
    """As-of join via the cogroup API: for each purchase event, the
    most recent order of that customer at event time.

    ``events`` needs (event_id, user_id, ts, event_type); ``orders``
    needs (o_custkey, o_orderkey, o_orderdate).
    """
    ev = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    od = orders.select("o_custkey", "o_orderkey", "o_orderdate")
    return (
        ev.groupby("user_id")
        .cogroup(od.groupby("o_custkey"))
        .applyInPandas(lambda e, o: _asof_merge(e, o), schema=ASOF_OUT_SCHEMA)
    )
