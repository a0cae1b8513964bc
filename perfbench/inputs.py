"""Seeded inputs for the daily-run benchmark.

Everything here is plain Python + pyarrow: no Spark session is needed
to build the corpus or to decide what a day changes, so the seed ->
input mapping can be unit-tested cheaply (`test_perfbench.py`).

* The corpus is an `events` table shaped like the repository's
  testdata (event_id, ts, user_id, event_type, value, props), drawn
  from a FIXED generator seed. The run seed never changes the corpus
  content, so every run measures the same amount of work.
* The run seed chooses the row order of the batch input and the
  contents of every day delta.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

#: generator seed of the corpus itself (never the run seed)
CORPUS_SEED = 20240101
#: events per participant, the testdata ratio (sf0.1: 100k events,
#: 1.5k users)
EVENTS_PER_USER = 67
_EVENT_TYPES = np.array(["signup", "click", "view", "purchase", "error"])
_JAN_2024_US = 1_704_067_200 * 1_000_000
_MONTH_US = 30 * 86_400 * 1_000_000
_INT64_MAX = 2**63 - 1


class IdCollisionError(ValueError):
    """Two replica rows would share an event id."""


def corpus_events(n_events: int, n_users: int | None = None,
                  seed: int = CORPUS_SEED) -> pa.Table:
    """`n_events` testdata-shaped events from `n_users` participants
    (default: the testdata ratio), with dense ids 0..n-1 sorted by
    timestamp over January 2024."""
    rng = np.random.default_rng(seed)
    if n_users is None:
        n_users = n_events // EVENTS_PER_USER
    n_users = max(15, n_users)
    ts = np.sort(rng.integers(0, _MONTH_US, n_events)) + _JAN_2024_US
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": pa.array(_EVENT_TYPES[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_events)]),
    })


def replica_shift(event_ids: np.ndarray) -> int:
    """Id offset between replicas: one past the largest source id, so
    replica k occupies [k*shift, k*shift + shift) and cannot meet
    another replica whatever the source id range is."""
    if len(event_ids) == 0:
        raise ValueError("cannot replicate an empty events table")
    if int(event_ids.min()) < 0:
        raise IdCollisionError("negative event ids break the shift rule")
    return int(event_ids.max()) + 1


def check_unique_ids(event_ids: np.ndarray) -> None:
    """Raise IdCollisionError when any event id repeats."""
    if len(np.unique(event_ids)) != len(event_ids):
        dup = int(len(event_ids) - len(np.unique(event_ids)))
        raise IdCollisionError(f"{dup} duplicate event ids after replication")


def replicate(events: pa.Table, factor: int,
              shift: int | None = None) -> pa.Table:
    """`factor` id-shifted copies of `events` (participants are
    shared, as in a longer-running programme). `shift` defaults to
    `replica_shift`; passing a smaller one is how the self-tests make
    the collision check fire."""
    ids = events.column("event_id").to_numpy()
    shift = replica_shift(ids) if shift is None else shift
    if (factor - 1) * shift + int(ids.max()) > _INT64_MAX:
        raise IdCollisionError("replica ids overflow int64")
    parts = []
    for k in range(factor):
        parts.append(events.set_column(
            0, "event_id", pa.array(ids + k * shift, pa.int64())))
    out = pa.concat_tables(parts)
    check_unique_ids(out.column("event_id").to_numpy())
    return out


def shuffled(table: pa.Table, seed: int) -> pa.Table:
    """The same rows in a seed-chosen order."""
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(perm))


# ---------------------------------------------------------------------------
# Day deltas
# ---------------------------------------------------------------------------

def message_classes(events: pa.Table) -> dict[str, list[int]]:
    """Event ids of the live messages per final dataset, following
    the synthetic messages derivation (sources/synthetic.py): event
    type -> dataset, v2 snapshots of event_id % 20 == 0 RQA rows swap
    episode, event_id % 7 == 3 rows are stale."""
    ids = events.column("event_id").to_numpy()
    kinds = events.column("event_type").to_numpy(zero_copy_only=False)
    ds = np.select([kinds == "signup", kinds == "click", kinds == "view",
                    kinds == "purchase"],
                   ["gender", "age", "location", "s01e01"], "s01e02")
    moved = (ids % 20 == 0) & np.isin(ds, ["s01e01", "s01e02"])
    ds = np.where(moved & (ds == "s01e01"), "s01e02",
                  np.where(moved & (ds == "s01e02"), "s01e01", ds))
    live = ids % 7 != 3
    return {d: sorted(int(i) for i in ids[live & (ds == d)])
            for d in ("gender", "age", "location", "s01e01", "s01e02")}


@dataclass(frozen=True)
class DaySize:
    inserts: int
    recodes: int
    moves: int
    deletes: int

    @property
    def rows(self) -> int:
        return self.inserts + self.recodes + self.moves + self.deletes


@dataclass
class DayDelta:
    """What one day changes, as event ids of the corpus:

    * inserts: new messages cloned from `insert_src` (same
      participant and dataset, a fresh id above every corpus id)
    * recodes: s01e01 messages relabelled with checked codes
    * moves: s01e02 messages moved to s01e01 by a WS correction
    * deletes: messages removed through a deletion-vector delete
    """
    day: int
    insert_src: list[int]
    insert_ids: list[int]
    recodes: list[int]
    moves: list[int]
    deletes: list[int] = field(default_factory=list)

    def digest(self) -> str:
        return hashlib.sha256(json.dumps(
            [self.day, self.insert_src, self.insert_ids, self.recodes,
             self.moves, self.deletes]).encode()).hexdigest()


def day_delta(classes: dict[str, list[int]], n_events: int, seed: int,
              day: int, size: DaySize) -> DayDelta:
    """The seed-chosen delta of day `day` (days count from 1). Recodes,
    moves and deletes are disjoint, and deletes avoid every message an
    earlier day of this seed changed, so a deleted key is never the
    target of a later update."""
    rng = random.Random(f"{seed}:{day}")
    rqa1, rqa2 = classes["s01e01"], classes["s01e02"]
    recodes = sorted(rng.sample(rqa1, size.recodes))
    moves = sorted(rng.sample(rqa2, size.moves))
    all_live = sorted(set().union(*classes.values()))
    insert_src = sorted(rng.sample(all_live, size.inserts))
    # fresh ids: a per-day block above every corpus id
    first = n_events + (day - 1) * size.inserts
    insert_ids = list(range(first, first + size.inserts))
    # deletes come from the demographic datasets, which no recode or
    # move of any day touches
    demog = classes["gender"] + classes["age"] + classes["location"]
    deletes = sorted(random.Random(f"{seed}:deletes").sample(
        demog, size.deletes * day)[-size.deletes:]) if size.deletes else []
    return DayDelta(day, insert_src, insert_ids, recodes, moves, deletes)
