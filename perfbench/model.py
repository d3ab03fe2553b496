"""Reference model of what one ingest run must leave behind.

A plain-Python restatement of the reference worker's rules, applied to
the exact lines the generator wrote. It shares no code with the
program, so a defect in the program's transforms cannot hide by also
being in the reference. ``gate`` compares the model with the tables
the program wrote and returns the list of mismatches (empty = pass).

Rules (reference worker):
- a line that is not a JSON object goes to the DLQ;
- ``metadata.version`` absent means v1; v1 names are sanitized
  (lower-case, ``_``/``-`` to space, trimmed) and resolved to player
  ids, first-seen names are appended to the players dimension;
- ``ts`` above 10^10 is milliseconds; rows outside
  [2020-01-01, 2025-01-01] (epoch seconds, inclusive) are dropped;
- equipment ids above 32767 become 0; NULL slots stay NULL.

Star keys compared as sets of natural keys (surrogate ids are hashes,
so equal natural keys mean equal ids): sighting (reporting_id,
reported_id, manual_detect), gear (9 slots), location (region_id,
x, y, z), fact (sighting key + location key) and fact (key, epoch
second of ``timestamp``).
"""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.dataset as ds

from traffic import EQUIPMENT_SLOTS, N_PLAYERS

TS_LOWER, TS_UPPER = 1577883600, 1735736400
MS_CUTOFF = 10**10
EQUIP_MAX = 32767
SIGHTING = ["reporting_id", "reported_id", "manual_detect"]
LOCATION = ["region_id", "x_coord", "y_coord", "z_coord"]


def sanitize(name: str) -> str:
    return re.sub("[_-]", " ", name.lower()).strip(" ")


class Expected:
    """Everything the program's tables must contain for ``lines``."""

    def __init__(self, lines: list[str]) -> None:
        self.n_messages = len(lines)
        self.n_malformed = 0
        self.names = {f"player{i}" for i in range(N_PLAYERS)}
        self.staged = []  # (version, reporter, reported, fields...)
        for line in lines:
            try:
                msg = json.loads(line)
            except ValueError:
                self.n_malformed += 1
                continue
            if not isinstance(msg, dict):
                self.n_malformed += 1
                continue
            version = (msg.get("metadata") or {}).get("version") or "v1.0.0"
            if version == "v1.0.0":
                rep, red = sanitize(msg["reporter"]), sanitize(msg["reported"])
                self.names.update((rep, red))
            elif version == "v2.0.0":
                rep, red = msg["reporter_id"], msg["reported_id"]
            else:
                continue
            ts = msg["ts"]
            if ts > MS_CUTOFF:
                ts = int(ts / 1000)
            if not TS_LOWER <= ts <= TS_UPPER:
                continue
            gear = tuple(
                None if (v := msg["equipment"].get(s)) is None
                else (0 if v > EQUIP_MAX else v)
                for s in EQUIPMENT_SLOTS
            )
            loc = (msg["region_id"], msg["x_coord"], msg["y_coord"], msg["z_coord"])
            self.staged.append(
                (version, rep, red, bool(msg["manual_detect"]), gear, loc, ts)
            )

    def keys(self, ids: dict[str, int]) -> dict[str, set]:
        """Expected key sets once v1 names resolve through ``ids``."""
        out = {"sighting": set(), "gear": set(), "location": set(),
               "fact": set(), "fact_ts": set()}
        for version, rep, red, md, gear, loc, ts in self.staged:
            if version == "v1.0.0":
                rep, red = ids.get(rep), ids.get(red)
                if rep is None or red is None:
                    continue
            sk = (rep, red, md)
            out["sighting"].add(sk)
            out["gear"].add(gear)
            out["location"].add(loc)
            out["fact"].add(sk + loc)
            out["fact_ts"].add(sk + loc + (ts,))
        return out


def _table(path: str) -> pa.Table | None:
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table()


def _rows(t: pa.Table | None, cols: list[str]) -> list[tuple]:
    if t is None or t.num_rows == 0:
        return []
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def read_outputs(out: str) -> dict:
    fact = _table(f"{out}/fact")
    ts = []
    if fact is not None and fact.num_rows:
        ts = [v // 1_000_000 for v in
              fact.column("timestamp").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()]
    fact_keys = _rows(fact, SIGHTING + LOCATION)
    dlq = _table(f"{out}/dlq")
    return {
        "players": _rows(_table(f"{out}/_dims/players"), ["name", "id"]),
        "sighting": set(_rows(_table(f"{out}/sighting"), SIGHTING)),
        "gear": set(_rows(_table(f"{out}/gear"), EQUIPMENT_SLOTS)),
        "location": set(_rows(_table(f"{out}/location"), LOCATION)),
        "fact": set(fact_keys),
        "fact_ts": {k + (t,) for k, t in zip(fact_keys, ts)},
        "dlq_rows": 0 if dlq is None else dlq.num_rows,
    }


def gate(expected: Expected, got: dict) -> list[str]:
    """Mismatches between the model and the program's tables."""
    errors = []
    if got["dlq_rows"] != expected.n_malformed:
        errors.append(
            f"dlq rows {got['dlq_rows']} != malformed {expected.n_malformed}"
        )
    ids: dict[str, int] = {}
    for name, pid in got["players"]:
        if ids.setdefault(name, pid) != pid:
            errors.append(f"player {name!r} has two ids")
    if set(ids) != expected.names:
        errors.append(
            f"players: {len(set(ids) - expected.names)} unexpected, "
            f"{len(expected.names - set(ids))} missing"
        )
    for i in range(N_PLAYERS):
        if ids.get(f"player{i}", i) != i:
            errors.append(f"snapshot id of player{i} changed")
            break
    want = expected.keys(ids)
    for table in ("sighting", "gear", "location", "fact", "fact_ts"):
        miss = len(want[table] - got[table])
        extra = len(got[table] - want[table])
        if miss or extra:
            errors.append(f"{table}: {miss} keys missing, {extra} unexpected")
    return errors
