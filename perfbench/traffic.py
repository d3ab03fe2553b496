"""Frozen wire-traffic generator for the ingest workloads.

This module deliberately imports nothing from ``report_worker_spark``:
the workload is defined here, once, so a change to the program cannot
change what it is fed.

Distribution (the reference load generator's shape):

- 300 players ``player0..player299``; about half the messages are v1
  (name-keyed), half v2 (id-keyed, ids 0..299).
- ``metadata`` is absent on half of the v1 messages (absent means v1).
- ``ts`` is uniform over 1996..2038 in epoch seconds, so most messages
  fall outside the keep-window 2020-01-01..2025-01-01; a quarter are
  sent in milliseconds.
- each equipment slot is NULL 30% of the time, otherwise an id in
  0..40000, so some ids exceed the 32767 clamp.
- 2% of v1 names are spelled with case/padding noise that sanitizes to
  the canonical name; 1% name a player not in the snapshot, so the
  dimension store appends.
- 1% of lines are malformed JSON (truncated bodies) for the DLQ path.

Every draw comes from one ``random.Random(seed)``, so a seed fixes the
whole message sequence. Files are written atomically: to a staging
directory first, then renamed into the watched directory.
"""

from __future__ import annotations

import json
import os
import random

N_PLAYERS = 300
EQUIPMENT_SLOTS = [
    "equip_head_id",
    "equip_amulet_id",
    "equip_torso_id",
    "equip_legs_id",
    "equip_boots_id",
    "equip_cape_id",
    "equip_hands_id",
    "equip_weapon_id",
    "equip_shield_id",
]
TS_LO, TS_HI = 838857600, 2145916800  # ~1996 .. 2038
MALFORMED_RATE = 0.01


class Traffic:
    """Deterministic message source; ``lines(n)`` returns the next ``n``
    wire lines (JSON text) and records which of them are malformed."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = random.Random(seed)
        self.n_sent = 0
        self.n_malformed = 0
        self.n_new_names = 0

    def _name(self) -> str:
        r = self.rng
        u = r.random()
        if u < 0.01:
            self.n_new_names += 1
            return f"Newbie-{self.seed}_{self.n_new_names}"
        n = f"player{r.randrange(N_PLAYERS)}"
        if u < 0.03:
            return f" {n.upper()} "
        return n

    def message(self) -> dict:
        r = self.rng
        is_v1 = r.random() < 0.5
        msg: dict = {}
        if is_v1:
            if r.random() < 0.5:
                msg["metadata"] = {"version": "v1.0.0"}
            msg["reporter"] = self._name()
            msg["reported"] = self._name()
        else:
            msg["metadata"] = {"version": "v2.0.0"}
            msg["reporter_id"] = r.randrange(N_PLAYERS)
            msg["reported_id"] = r.randrange(N_PLAYERS)
        ts = r.randrange(TS_LO, TS_HI)
        if r.random() < 0.25:
            ts *= 1000
        msg.update(
            region_id=r.randint(10_000, 10_500),
            x_coord=r.randint(0, 5000),
            y_coord=r.randint(0, 5000),
            z_coord=r.randint(0, 3),
            ts=ts,
            manual_detect=r.randint(0, 1),
            on_members_world=r.randint(0, 1),
            on_pvp_world=r.randint(0, 1),
            world_number=r.randint(300, 500),
            equipment={
                s: (None if r.random() < 0.3 else r.randint(0, 40_000))
                for s in EQUIPMENT_SLOTS
            },
            equip_ge_value=0,
        )
        return msg

    def lines(self, n: int) -> list[str]:
        out = []
        for _ in range(n):
            body = json.dumps(self.message(), separators=(",", ":"))
            if self.rng.random() < MALFORMED_RATE:
                body = body[: self.rng.randrange(1, len(body) // 2)]
                self.n_malformed += 1
            out.append(body)
        self.n_sent += n
        return out


def write_atomic(directory: str, staging: str, name: str, lines: list[str]) -> str:
    """Write ``lines`` as ``directory/name`` so that a reader listing
    ``directory`` never sees a partial file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    dst = os.path.join(directory, name)
    os.rename(tmp, dst)
    return dst


def write_players(path: str) -> None:
    """The players snapshot the program is seeded with: (name, id) for
    the 300 canonical players, as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "name": [f"player{i}" for i in range(N_PLAYERS)],
            "id": pa.array(range(N_PLAYERS), pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "players.parquet"))
