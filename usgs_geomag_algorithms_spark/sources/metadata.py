"""Metadata epoch store — the reference's metadata service re-expressed
for the engine.

Covers three reference surfaces:

- ``geomagio/Metadata.py:get_instrument`` — open-interval epoch
  resolution where a NULL ``start_time``/``end_time`` means "since
  forever" / "until forever" (vectors: ``test/Metadata_test.py:27-99``).
- ``geomagio/api/db/metadata_table.py`` + ``MetadataDatabaseFactory.py``
  — the metadata table columns (created/updated audit fields, SNCL
  wildcards, category, priority, data_valid, status, JSON payload) and
  the exact ``get_metadata`` filter semantics (``channel``/``location``
  are SQL LIKE patterns; ``starttime``/``endtime`` are open-bound
  overlap predicates; ``created_after``/``created_before``;
  ``data_valid``; ``status IN``).
- ``geomagio/api/db/metadata_history_table.py`` +
  ``MetadataDatabaseFactory.update_metadata`` — every update first
  copies the current row into a history table (new history ``id``,
  ``metadata_id`` = the updated row's id), then updates in place with
  ``updated_by``/``updated_time``.

Design: metadata is a *dimension* relation — a few thousand epoch rows
governing petabytes of facts — so the store keeps it as snapshot-
versioned JSON (exact ints, native NULLs, atomic tmp+rename commits
under the same kernel-held commit lock as :class:`.store.TierStore`,
``functions/filelock.py``)
and exposes every read as a Spark DataFrame.  The scale-critical side is
the *join* onto facts, which stays a broadcast interval join
(:func:`..operators.misc.apply_instrument_metadata`); this store never
appears on the shuffled side of a plan.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.filelock import commit_lock

#: Spark schema of the metadata relation — metadata_table.py columns with
#: times as epoch microseconds and the JSON payload as a string column.
#: ``metadata_id`` is NULL in the current table and set on history rows.
METADATA_SCHEMA = (
    "id long, metadata_id long, created_by string, created_time_us long, "
    "updated_by string, updated_time_us long, starttime_us long, "
    "endtime_us long, network string, station string, channel string, "
    "location string, category string, priority int, data_valid boolean, "
    "status string, metadata string, comment string, review_comment string"
)

_FIELDS = [f.split(" ")[0] for f in METADATA_SCHEMA.split(", ")]

#: known category values (MetadataCategory.py)
CATEGORIES = ("adjusted-matrix", "flag", "instrument", "observatory", "reading")


class MetadataConflictError(RuntimeError):
    """Another writer holds the metadata commit lock."""


class MetadataStore:
    """Snapshot-versioned metadata table with update history.

    Layout::

        {base}/manifest.json        {"version": N, "next_id": ..,
                                     "next_history_id": ..}
        {base}/v{N}.json            full current rows at version N
        {base}/h{N}.json            full history rows at version N
        {base}/_commit.lock         flock'd writer lock (kept on disk)

    Versions are immutable — ``read(version=k)`` time-travels, matching
    the snapshot discipline of the main TierStore.
    """

    def __init__(self, spark: SparkSession, base: str, lock_wait_s: float = 10.0):
        self.spark = spark
        self.base = base
        self.lock_wait_s = lock_wait_s
        os.makedirs(base, exist_ok=True)

    # ------------------------------------------------------------------
    # storage plumbing
    # ------------------------------------------------------------------
    def _manifest(self) -> dict:
        p = os.path.join(self.base, "manifest.json")
        if not os.path.exists(p):
            return {"version": 0, "next_id": 1, "next_history_id": 1}
        with open(p) as f:
            return json.load(f)

    def _rows(self, version: int | None = None, history: bool = False) -> list[dict]:
        m = self._manifest()
        v = m["version"] if version is None else version
        if v > m["version"] or v < 0:
            raise ValueError(f"metadata version {v} does not exist (head {m['version']})")
        if v == 0:
            return []
        p = os.path.join(self.base, f"{'h' if history else 'v'}{v}.json")
        with open(p) as f:
            return json.load(f)

    def _commit(self, rows: list[dict], hist: list[dict], m: dict) -> int:
        v = m["version"] + 1
        for name, data in ((f"v{v}.json", rows), (f"h{v}.json", hist)):
            tmp = os.path.join(self.base, f"_{name}.tmp")
            with open(tmp, "w") as f:
                json.dump(data, f)
            os.replace(tmp, os.path.join(self.base, name))
        m2 = dict(m, version=v)
        tmp = os.path.join(self.base, "_manifest.tmp")
        with open(tmp, "w") as f:
            json.dump(m2, f)
        os.replace(tmp, os.path.join(self.base, "manifest.json"))
        return v

    def _lock(self):
        return commit_lock(self.base, self.lock_wait_s, MetadataConflictError)

    def versions(self) -> list[int]:
        return list(range(1, self._manifest()["version"] + 1))

    # ------------------------------------------------------------------
    # CRUD — MetadataDatabaseFactory parity
    # ------------------------------------------------------------------
    def create(self, metas: list[dict], now_us: int | None = None) -> list[int]:
        """Insert rows; returns assigned ids.  ``status`` defaults to
        "new", ``created_time`` to now, ``priority`` to 1, ``data_valid``
        to True (``create_metadata``, MetadataDatabaseFactory.py:17-23 +
        the table defaults, metadata_table.py:36-40).  The ``metadata``
        payload may be any JSON-able value and is stored as JSON text."""
        now = int(time.time() * 1_000_000) if now_us is None else now_us
        with self._lock():
            m = self._manifest()
            rows = self._rows()
            hist = self._rows(history=True)
            ids = []
            for meta in metas:
                row = {k: None for k in _FIELDS}
                row.update({k: meta[k] for k in meta if k in _FIELDS})
                unknown = set(meta) - set(_FIELDS)
                if unknown:
                    raise ValueError(f"unknown metadata fields: {sorted(unknown)}")
                row["id"] = m["next_id"]
                row["metadata_id"] = None
                row["status"] = row["status"] or "new"
                row["created_time_us"] = (
                    row["created_time_us"] if row["created_time_us"] is not None else now
                )
                row["priority"] = 1 if row["priority"] is None else row["priority"]
                row["data_valid"] = (
                    True if row["data_valid"] is None else row["data_valid"]
                )
                if not isinstance(row["metadata"], (str, type(None))):
                    row["metadata"] = json.dumps(row["metadata"], sort_keys=True)
                m["next_id"] += 1
                ids.append(row["id"])
                rows.append(row)
            self._commit(rows, hist, m)
        return ids

    def update(self, id: int, changes: dict, updated_by: str,
               now_us: int | None = None) -> dict:
        """Update one row, archiving its prior image to history first
        (``update_metadata``, MetadataDatabaseFactory.py:113-131): the
        history copy gets a fresh history id and ``metadata_id`` pointing
        at the updated row; the live row then takes ``changes`` plus
        ``updated_by``/``updated_time``."""
        now = int(time.time() * 1_000_000) if now_us is None else now_us
        unknown = set(changes) - (set(_FIELDS) - {"id", "metadata_id"})
        if unknown:
            raise ValueError(f"unknown metadata fields: {sorted(unknown)}")
        with self._lock():
            m = self._manifest()
            rows = self._rows()
            hist = self._rows(history=True)
            live = [r for r in rows if r["id"] == id]
            if len(live) != 1:
                raise ValueError(f"{len(live)} records found")
            row = live[0]
            archived = dict(row, id=m["next_history_id"], metadata_id=row["id"])
            m["next_history_id"] += 1
            hist.append(archived)
            row.update(changes)
            if not isinstance(row["metadata"], (str, type(None))):
                row["metadata"] = json.dumps(row["metadata"], sort_keys=True)
            row["updated_by"] = updated_by
            row["updated_time_us"] = now
            self._commit(rows, hist, m)
            return dict(row)

    # ------------------------------------------------------------------
    # reads
    # ------------------------------------------------------------------
    def read(self, version: int | None = None, history: bool = False) -> DataFrame:
        """The full table (current or history) at a version, as a Spark
        DataFrame with :data:`METADATA_SCHEMA`."""
        rows = self._rows(version=version, history=history)
        data = [tuple(r[k] for k in _FIELDS) for r in rows]
        return self.spark.createDataFrame(data, METADATA_SCHEMA)

    def get(self, history: bool = False, **query) -> DataFrame:
        """``get_metadata`` filter parity (MetadataDatabaseFactory.py:25-82).

        Accepted keys: id, category, network, station, channel (LIKE),
        location (LIKE), starttime_us, endtime_us, created_after_us,
        created_before_us, data_valid, status (list)."""
        df = self.read(history=history)
        return filter_metadata(df, **query)

    def get_by_id(self, id: int) -> dict:
        got = [r for r in self._rows() if r["id"] == id]
        if len(got) != 1:
            raise ValueError(f"{len(got)} records found")
        return dict(got[0])

    def history_by_metadata_id(self, metadata_id: int) -> DataFrame:
        """All versions of one row, newest first: archived history images
        ordered by update time, then the live row on top
        (``get_metadata_history_by_metadata_id``,
        MetadataDatabaseFactory.py:99-112)."""
        hist = self.read(history=True).where(
            F.col("metadata_id") == int(metadata_id)
        )
        live = self.read().where(F.col("id") == int(metadata_id))
        # reference order (append current, then reverse): live row first,
        # then archived images newest-first; the creation image (never
        # updated before archiving) carries a NULL updated_time and sorts
        # last — metadata_id is NULL only on the live row
        return hist.unionByName(live).orderBy(
            F.col("metadata_id").isNull().desc(),
            F.col("updated_time_us").desc_nulls_last(),
            F.col("id").desc(),
        )


def filter_metadata(
    df: DataFrame,
    id: int | None = None,
    category: str | None = None,
    network: str | None = None,
    station: str | None = None,
    channel: str | None = None,
    location: str | None = None,
    starttime_us: int | None = None,
    endtime_us: int | None = None,
    created_after_us: int | None = None,
    created_before_us: int | None = None,
    data_valid: bool | None = None,
    status: list[str] | None = None,
) -> DataFrame:
    """The ``get_metadata`` WHERE clause as a DataFrame transform — usable
    on any relation with :data:`METADATA_SCHEMA` columns, not only the
    store's own (exact predicate set of MetadataDatabaseFactory.py:48-81:
    equality on category/network/station, LIKE on channel/location, and
    open-bound interval overlap on start/end)."""
    if id is not None:
        df = df.where(F.col("id") == int(id))
    if category is not None:
        df = df.where(F.col("category") == category)
    if network is not None:
        df = df.where(F.col("network") == network)
    if station is not None:
        df = df.where(F.col("station") == station)
    if channel is not None:
        df = df.where(F.col("channel").like(channel))
    if location is not None:
        df = df.where(F.col("location").like(location))
    if starttime_us is not None:
        df = df.where(
            F.col("endtime_us").isNull() | (F.col("endtime_us") > int(starttime_us))
        )
    if endtime_us is not None:
        df = df.where(
            F.col("starttime_us").isNull() | (F.col("starttime_us") < int(endtime_us))
        )
    if created_after_us is not None:
        df = df.where(F.col("created_time_us") > int(created_after_us))
    if created_before_us is not None:
        df = df.where(F.col("created_time_us") < int(created_before_us))
    if data_valid is not None:
        df = df.where(F.col("data_valid") == bool(data_valid))
    if status is not None:
        df = df.where(F.col("status").isin(list(status)))
    return df


def get_instrument(
    metadata: DataFrame,
    observatory: str,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """Open-interval instrument-epoch resolution — the exact predicate of
    ``geomagio/Metadata.py:get_instrument``: station equality plus
    half-open overlap where a NULL epoch bound matches everything::

        station == observatory
        AND (end_us   is None OR starttime_us IS NULL OR starttime_us < end_us)
        AND (start_us is None OR endtime_us   IS NULL OR endtime_us   > start_us)

    Vectors: ``test/Metadata_test.py:27-99`` (before/after/inside/span/
    unknown)."""
    cond = F.col("station") == observatory
    if end_us is not None:
        cond = cond & (
            F.col("starttime_us").isNull() | (F.col("starttime_us") < int(end_us))
        )
    if start_us is not None:
        cond = cond & (
            F.col("endtime_us").isNull() | (F.col("endtime_us") > int(start_us))
        )
    return metadata.where(cond)


def instrument_epochs_table(
    metadata: DataFrame,
    key_col: str = "station",
) -> DataFrame:
    """Flatten instrument metadata rows into the epoch shape consumed by
    :func:`..operators.misc.apply_instrument_metadata`:
    ``(key, start_us, end_us, scale, offset)`` with NULL-able bounds.

    The reference's instrument payload maps output channels to component
    lists (``Metadata.py _INSTRUMENT_METADATA``: ``{"channels": {"U":
    [{"channel": "U_Volt", "offset": .., "scale": ..}, ...]}}``); here
    each (station epoch, output channel, component) becomes one epoch row
    keyed ``station/out/component`` so the downstream join stays a flat
    broadcast relation.  Runs as one JSON projection — no Python over
    rows."""
    # the payload may be the channels map directly or the reference's
    # _INSTRUMENT_METADATA shape with it nested under "instrument"
    ch = F.from_json(
        F.coalesce(
            F.get_json_object("metadata", "$.channels"),
            F.get_json_object("metadata", "$.instrument.channels"),
        ),
        "map<string, array<struct<channel:string, offset:double, scale:double>>>",
    )
    exploded = (
        metadata.where(F.col("category") == "instrument")
        .select(
            F.col(key_col),
            "starttime_us",
            "endtime_us",
            F.explode(ch).alias("out_channel", "components"),
        )
        .select(
            key_col,
            "starttime_us",
            "endtime_us",
            "out_channel",
            F.explode("components").alias("c"),
        )
    )
    return exploded.select(
        F.concat_ws(
            "/", F.col(key_col), F.col("out_channel"), F.col("c.channel")
        ).alias("key"),
        F.col(key_col).alias("station"),
        "out_channel",
        F.col("c.channel").alias("component"),
        F.col("starttime_us").alias("start_us"),
        F.col("endtime_us").alias("end_us"),
        # components may omit scale/offset — same defaults as the
        # dict-shaped path (operators/misc.py::calculated_channel), so a
        # missing key never NULL-poisons the downstream Σ term
        F.coalesce(F.col("c.scale"), F.lit(1.0)).alias("scale"),
        F.coalesce(F.col("c.offset"), F.lit(0.0)).alias("offset"),
    )
