"""Seeded deliveries for the ingest workloads, with plain-Python ground truth.

Records are built from the shipped registry specs
(``schemas.load_default_registry``): every declared column gets a value of
its declared type, structs get every sub-field and arrays a short list.
The ground truth never calls the engine. It re-states the pipeline's
contract in Python:

- latest record per key, ordered by ``InsertedDate`` then
  ``export_end_date`` (``export_end_date`` alone when the table has no
  ``InsertedDate``), which is ``operators.dedup_latest``'s rule;
- keys named in a ``_Deleted`` delivery are removed;
- struct columns flatten to ``Parent_Child``; an array column becomes a
  child table of (parent keys, cohort, ParticipantID, index, element
  fields).

Every record version carries a later ordering stamp than the one before
it, so the latest record is unique; the only ties are byte-identical
redeliveries.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import random
import zipfile
from dataclasses import dataclass, field

from recover_spark.schemas.registry import TableSpec, load_default_registry

COHORTS = ("adults_v1", "pediatric_v1")
# One week's delivery: NDJSON parts per archive, plus a manifest member
# the dispatch filter must skip.
PARTS_PER_ARCHIVE = 4

# Shares of a delivery. Neither the RECOVER paper nor the export
# documentation gives redelivery, update or delete rates, so these values,
# like the participant counts and array lengths below, are assumptions
# (listed in perfbench/README.md). They make every code path do work
# without dominating a delivery.
DUP_FRAC = 0.10  # byte-identical redeliveries of earlier records
UPDATE_FRAC = 0.15  # newer versions of earlier keys
DELETE_FRAC = 0.05  # earlier keys named in the _Deleted delivery

WEEKLY_TYPES = (
    "HealthKitV2Electrocardiogram",  # structs, SubSamples array -> child table, deletes
    "FitbitDailyData",  # wide, no deletes
)
DELETED_TYPES = {"HealthKitV2Electrocardiogram"}
MAX_SUBSAMPLES = 6  # assumed: 0-6 elements, about 3 child rows per record


@functools.cache
def _registry():
    return load_default_registry()


def spec(name: str) -> TableSpec:
    return _registry()[name]


def record_key_field(sp: TableSpec) -> str:
    """The index field that is not the participant (Date for Fitbit)."""
    return [f for f in sp.index_fields if f != "ParticipantIdentifier"][0]


_EPOCH = dt.datetime(2024, 1, 1)


def _day(week: int) -> str:
    return (_EPOCH + dt.timedelta(days=7 * week)).date().isoformat()


class RecordFactory:
    """Makes records of one registry type from a seeded RNG."""

    def __init__(self, type_name: str, rng: random.Random, participants: int):
        self.type = type_name
        self.spec = spec(type_name)
        self.rng = rng
        self.participants = participants
        self.key_field = record_key_field(self.spec)
        self.has_inserted = "InsertedDate" in self.spec.columns
        self._serial = 0
        self._clock = 0  # one tick per record version: no ordering ties
        self._pools: dict[str, list] = {}

    def new_key(self) -> tuple[str, str]:
        pid = self.rng.randrange(self.participants)
        self._serial += 1
        if self.key_field == "Date":
            # distinct (participant, day) per key: serial picks the day
            day = dt.date(1990, 1, 1) + dt.timedelta(days=self._serial)
            return (f"RP-{pid:05d}", day.isoformat())
        return (f"RP-{pid:05d}", f"{self.type[:6]}-{self._serial:09d}")

    def record(self, key: tuple[str, str], week: int) -> dict:
        """A new version of ``key``, later than every earlier version."""
        participant, rkey = key
        pnum = int(participant[3:])
        rec: dict = {}
        for col, typ in self.spec.columns.items():
            rec[col] = self._value(col, typ)
        rec["ParticipantIdentifier"] = participant
        rec[self.key_field] = rkey
        rec["ParticipantID"] = f"P{pnum:05d}"
        self._clock += 1
        stamp = (_EPOCH + dt.timedelta(days=7 * week, seconds=self._clock)).isoformat()
        rec["export_start_date"] = _day(week)
        rec["export_end_date"] = stamp
        if self.has_inserted:
            rec["InsertedDate"] = stamp
        rec["cohort"] = COHORTS[pnum % 2]
        return rec

    def deleted(self, key: tuple[str, str], week: int) -> dict:
        participant, rkey = key
        return {
            "ParticipantIdentifier": participant,
            self.key_field: rkey,
            "ParticipantID": f"P{int(participant[3:]):05d}",
            "DeletedDate": _day(week + 1),
            "export_start_date": _day(week),
            "export_end_date": _day(week + 1),
            "cohort": COHORTS[int(participant[3:]) % 2],
        }

    def _value(self, col: str, typ: str):
        rng = self.rng
        if typ.startswith("struct<"):
            pool = self._pools.get(col)
            if pool is None:
                # a fixed menu of sub-field fillings per struct column keeps
                # generation cheap; one member in eight is absent, as in
                # real device exports
                subs = _struct_fields(typ)
                pool = self._pools[col] = [None] + [
                    {f: (None if rng.random() < 0.2 else f"{f[:3]}{rng.randrange(50)}")
                     for f in subs}
                    for _ in range(7)
                ]
            return pool[rng.randrange(len(pool))]
        if typ.startswith("array<"):
            return [
                {
                    "MicroVolts": round(rng.uniform(-900.0, 900.0), 3),
                    "TimeSinceSampleStart": i * 0.002,
                }
                for i in range(rng.randrange(MAX_SUBSAMPLES + 1))
            ]
        if typ == "int":
            return rng.randrange(35, 200)
        if typ == "double":
            return round(rng.uniform(0.0, 100.0), 4)
        # strings: numeric text for the measure-like columns the suite
        # range-checks, short categorical text for the rest
        if col in NUMERIC_TEXT:
            return None if rng.random() < 0.05 else str(rng.randrange(0, 20000))
        return f"{col[:4]}-{rng.randrange(40)}"


NUMERIC_TEXT = {"Value", "Steps", "Calories", "Distance", "Floors", "RestingHeartRate"}


def _struct_fields(typ: str) -> list[str]:
    body = typ[len("struct<"):-1]
    return [part.split(":", 1)[0] for part in body.split(",")]


# -- deliveries -----------------------------------------------------------


@dataclass
class Delivery:
    """Records and deletes of one type, in delivery order."""

    records: list[dict] = field(default_factory=list)
    deleted: list[dict] = field(default_factory=list)


def _grow(fac: RecordFactory, live: list, n: int, week: int,
          with_deletes: bool) -> Delivery:
    """One delivery of ``n`` records: new keys, updates of ``live`` keys
    and byte-identical redeliveries, plus deletes of ``live`` keys."""
    rng = fac.rng
    out = Delivery()
    n_dup = int(n * DUP_FRAC)
    n_upd = int(n * UPDATE_FRAC)
    for _ in range(n - n_dup - n_upd):
        key = fac.new_key()
        rec = fac.record(key, week)
        live.append((key, rec))
        out.records.append(rec)
    for _ in range(n_upd):
        i = rng.randrange(len(live))
        key = live[i][0]
        rec = fac.record(key, week)
        live[i] = (key, rec)
        out.records.append(rec)
    for _ in range(n_dup):
        out.records.append(dict(live[rng.randrange(len(live))][1]))
    rng.shuffle(out.records)
    if with_deletes:
        for _ in range(int(n * DELETE_FRAC)):
            out.deleted.append(fac.deleted(live[rng.randrange(len(live))][0], week))
    return out


def weekly_deliveries(seed: int, type_name: str, n: int) -> list[Delivery]:
    """Two weeks of one type: week 0 is the previous week, week 1 the
    current one (new keys, updates, redeliveries and deletes)."""
    rng = random.Random(f"{seed}:{type_name}")
    # assumed: about 20 records per participant per week
    fac = RecordFactory(type_name, rng, participants=max(8, n // 20))
    live: list = []
    dels = type_name in DELETED_TYPES
    return [_grow(fac, live, n, week, dels) for week in (0, 1)]


def write_archive(path: str, stem: str, rows: list[dict]) -> int:
    """Zip ``rows`` as NDJSON parts plus a manifest; returns archive bytes."""
    with zipfile.ZipFile(path, "w", compression=zipfile.ZIP_DEFLATED) as zf:
        step = max(1, -(-len(rows) // PARTS_PER_ARCHIVE))
        for i in range(0, max(len(rows), 1), step):
            chunk = rows[i:i + step]
            if chunk:
                zf.writestr(
                    f"{stem}_part{i // step}.ndjson",
                    "".join(json.dumps(r) + "\n" for r in chunk),
                )
        zf.writestr("Manifest.json", json.dumps({"parts": PARTS_PER_ARCHIVE}))
    return os.path.getsize(path)


# -- ground truth ---------------------------------------------------------


def _order(rec: dict) -> tuple:
    return (rec.get("InsertedDate") or "", rec["export_end_date"])


def latest_state(sp: TableSpec, deliveries: list[Delivery]) -> dict[tuple, dict]:
    """key -> surviving record after dedup and deletes over ``deliveries``."""
    best: dict[tuple, dict] = {}
    keys = sp.index_fields
    for d in deliveries:
        for r in d.records:
            k = tuple(r[f] for f in keys)
            cur = best.get(k)
            if cur is None or _order(r) > _order(cur):
                best[k] = r
    for d in deliveries:
        for r in d.deleted:
            best.pop(tuple(r[f] for f in keys), None)
    return best


def output_tables(sp: TableSpec, state: dict[tuple, dict]) -> dict[str, tuple[list, list]]:
    """Relationalized output: ``{table: (columns, rows)}`` in the
    pipeline's naming (lowercased type, ``_<array>`` children)."""
    columns = dict(sp.columns)
    for pk in sp.partition_keys:
        columns.setdefault(pk, "string")
    scalar, structs, arrays = [], [], []
    for name, typ in columns.items():
        if typ.startswith("struct<"):
            structs.append((name, _struct_fields(typ)))
        elif typ.startswith("array<"):
            arrays.append(name)
        else:
            scalar.append(name)
    cols = list(scalar) + [f"{s}_{sub}" for s, subs in structs for sub in subs]
    parent_rows = []
    children: dict[str, list] = {a: [] for a in arrays}
    carry = list(sp.index_fields) + ["cohort", "ParticipantID"]
    for rec in state.values():
        row = [rec.get(c) for c in scalar]
        for s, subs in structs:
            val = rec.get(s)
            row.extend((val or {}).get(sub) for sub in subs)
        parent_rows.append(tuple(row))
        for a in arrays:
            for i, el in enumerate(rec.get(a) or []):
                children[a].append(
                    tuple(rec[c] for c in carry)
                    + (i, el["MicroVolts"], el["TimeSinceSampleStart"])
                )
    name = sp.name.lower()
    out = {name: (cols, parent_rows)}
    for a, rows in children.items():
        out[f"{name}_{a.lower()}"] = (
            carry + ["index", "MicroVolts", "TimeSinceSampleStart"], rows
        )
    return out
