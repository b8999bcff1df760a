"""Seeded CDC feed generator for the pipeline workloads, with ground truth.

Four entities modelled on FIXTURES.md A.1-A.4: two parquet feeds
(``app_downloads``, ``locations``) and two json feeds (``users``,
``receipts``; ``receipts`` has the composite key ``receipt_id, store_id``).

The feed carries about 30% superseded versions, 5% deletes, 3% NULL
``op`` and 1% rows that break an expectation rule. Version ``g`` of a
key lands in a file of generation ``g``, so a raw file never holds two
versions of one key (the engine's order among rows of one file is
undefined). Files get strictly increasing modification times in
version order, so "latest" by file time is the generator's latest.

``CdcFeed`` keeps, per entity, the latest version of every key. That
is the ground truth silver is checked against: the latest version of
each key, minus deletes and NULL ops, minus rows failing an
expectation.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["ENTITIES", "EntitySpec", "CdcFeed", "entity_config"]

# File modification times start here and step one second per file.
_MTIME_BASE = 1_700_000_000
_TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01


@dataclass(frozen=True)
class EntitySpec:
    name: str
    fmt: str
    pk: tuple[str, ...]
    share: float  # share of the feed's rows
    # column -> kind: int | int32 | dbl | str | ts (ts is a timestamp in
    # parquet feeds and an ISO string in json feeds)
    columns: dict
    expect: dict
    clustering_cols: tuple[str, ...] = ()


ENTITIES = (
    EntitySpec(
        "app_downloads", "parquet", ("id",), 0.40,
        {"id": "int", "op": "str", "business_id": "int", "created_at": "ts",
         "platform": "str", "downloads": "int32"},
        {"has_timestamp": "created_at IS NOT NULL", "has_id": "id IS NOT NULL"},
        clustering_cols=("id", "op"),
    ),
    EntitySpec(
        "users", "json", ("id",), 0.20,
        {"id": "int", "op": "str", "email": "str", "age": "int", "signup_ts": "str",
         "prefs": "str"},
        {"has_email": "email IS NOT NULL"},
    ),
    EntitySpec(
        "receipts", "json", ("receipt_id", "store_id"), 0.25,
        {"receipt_id": "int", "store_id": "int", "op": "str", "amount": "dbl",
         "issued_at": "str"},
        {"non_negative_amount": "amount >= 0"},
    ),
    EntitySpec(
        "locations", "parquet", ("id",), 0.15,
        {"id": "int", "op": "str", "name": "str", "lat": "dbl", "lon": "dbl",
         "opened_on": "ts"},
        {"valid_lat": "lat BETWEEN -90 AND 90"},
    ),
)

_PLATFORMS = np.array(["ios", "android", "web", "tv"])
_N_STORES = 50


def entity_config(spec: EntitySpec) -> dict:
    """The entity's entry in the pipeline's JSON config document."""
    return {
        "raw_file_format": spec.fmt,
        "unique_primary_key": list(spec.pk),
        "clustering_cols": list(spec.clustering_cols),
        "skipping_indexes": list(spec.pk),
        "expect_all_or_drop": dict(spec.expect),
    }


def _ops(rng, n: int, first: np.ndarray) -> np.ndarray:
    """5% 'D', 3% NULL, else 'I' for a key's first version and 'U' after."""
    u = rng.random(n)
    op = np.where(first, "I", "U").astype(object)
    op[u < 0.08] = None
    op[u < 0.05] = "D"
    return op


def _payload(spec: EntitySpec, rng, keys: pd.DataFrame) -> pd.DataFrame:
    """Fresh business values for one version of each key in ``keys``;
    1% of rows break the entity's expectation rule."""
    n = len(keys)
    bad = rng.random(n) < 0.01
    df = keys.reset_index(drop=True).copy()
    ts = _TS_BASE_US + rng.integers(0, 365 * 86_400, n) * 1_000_000
    if spec.name == "app_downloads":
        df["business_id"] = rng.integers(0, 10_000, n)
        created = pd.Series(pd.to_datetime(ts, unit="us", utc=True))
        df["created_at"] = created.where(~bad)
        df["platform"] = _PLATFORMS[rng.integers(0, len(_PLATFORMS), n)]
        df["downloads"] = rng.integers(0, 100_000, n).astype(np.int32)
    elif spec.name == "users":
        email = pd.Series([f"user{k}_{v}@example.com" for k, v in
                           zip(df["id"], rng.integers(0, 1000, n))], dtype=object)
        df["email"] = email.where(~bad)
        df["age"] = rng.integers(13, 90, n)
        df["signup_ts"] = pd.to_datetime(ts, unit="us").strftime("%Y-%m-%dT%H:%M:%S")
        df["prefs"] = [json.dumps({"theme": int(t)}) for t in rng.integers(0, 3, n)]
    elif spec.name == "receipts":
        amount = np.round(rng.uniform(0.5, 500.0, n), 2)
        df["amount"] = np.where(bad, -amount, amount)
        df["issued_at"] = pd.to_datetime(ts, unit="us").strftime("%Y-%m-%dT%H:%M:%S")
    else:
        df["name"] = [f"store-{v}" for v in rng.integers(0, 100_000, n)]
        lat = np.round(rng.uniform(-80.0, 80.0, n), 6)
        df["lat"] = np.where(bad, lat + 200.0, lat)
        df["lon"] = np.round(rng.uniform(-180.0, 180.0, n), 6)
        df["opened_on"] = pd.to_datetime(ts, unit="us", utc=True)
    return df


def _key_frame(spec: EntitySpec, key_ids: np.ndarray) -> pd.DataFrame:
    """Key columns for integer key ids (receipts split into two parts)."""
    if len(spec.pk) == 1:
        return pd.DataFrame({spec.pk[0]: key_ids.astype(np.int64)})
    return pd.DataFrame({
        "receipt_id": (key_ids // _N_STORES).astype(np.int64),
        "store_id": (key_ids % _N_STORES).astype(np.int64),
    })


class CdcFeed:
    """Writes one seeded CDC feed under ``root`` and tracks its truth."""

    def __init__(self, root: str, seed: int, rows: int, rows_per_file: int = 20_000):
        self.root = root
        self.rng = np.random.default_rng(seed)
        self.rows_per_file = rows_per_file
        self.file_seq = 0
        self.rows_landed = 0
        self.bytes_landed = 0
        self.landed: dict[str, int] = {}
        self.n_keys: dict[str, int] = {}
        self.latest: dict[str, pd.DataFrame] = {}
        self._initial(rows)

    # -- writing -------------------------------------------------------------
    def _write(self, spec: EntitySpec, df: pd.DataFrame, stem: str) -> None:
        d = os.path.join(self.root, spec.name)
        os.makedirs(d, exist_ok=True)
        df = df[list(spec.columns)]
        path = os.path.join(d, f"{stem}.{spec.fmt}")
        if spec.fmt == "parquet":
            fields = []
            for col, kind in spec.columns.items():
                typ = {"int": pa.int64(), "int32": pa.int32(), "dbl": pa.float64(),
                       "str": pa.string(), "ts": pa.timestamp("us", tz="UTC")}[kind]
                fields.append(pa.field(col, typ))
            pq.write_table(pa.Table.from_pandas(df, pa.schema(fields), preserve_index=False),
                           path)
        else:
            records = df.astype(object).where(df.notna(), None).to_dict("records")
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in records)
        mtime = _MTIME_BASE + self.file_seq
        os.utime(path, (mtime, mtime))
        self.file_seq += 1
        self.rows_landed += len(df)
        self.bytes_landed += os.path.getsize(path)
        self.landed[spec.name] = self.landed.get(spec.name, 0) + len(df)

    def _land(self, spec: EntitySpec, versions: pd.DataFrame, stem: str) -> None:
        self._write(spec, versions, stem)
        merged = pd.concat([self.latest.get(spec.name), versions], ignore_index=True)
        self.latest[spec.name] = merged.drop_duplicates(list(spec.pk), keep="last")

    def _initial(self, rows: int) -> None:
        for spec in ENTITIES:
            n_rows = max(10, int(rows * spec.share))
            n_keys = max(5, int(n_rows * 0.70))
            self.n_keys[spec.name] = n_keys
            # Every key has version 0; the extra 30% of rows are later
            # versions of random keys (a key's k-th draw is version k).
            extra = self.rng.integers(0, n_keys, n_rows - n_keys)
            order = self.rng.permutation(len(extra))
            drawn = pd.Series(extra[order])
            gen = np.empty(len(extra), dtype=np.int64)
            gen[order] = drawn.groupby(drawn).cumcount().to_numpy() + 1
            key_ids = np.concatenate([np.arange(n_keys), extra])
            gens = np.concatenate([np.zeros(n_keys, dtype=np.int64), gen])
            for g in range(int(gens.max()) + 1):
                ids = key_ids[gens == g]
                ids = ids[self.rng.permutation(len(ids))]
                versions = _payload(spec, self.rng, _key_frame(spec, ids))
                versions.insert(len(spec.pk), "op", _ops(self.rng, len(ids), gens[gens == g] == 0))
                for i, start in enumerate(range(0, len(versions), self.rows_per_file)):
                    part = versions.iloc[start:start + self.rows_per_file]
                    self._land(spec, part, f"g{g:03d}_{i:04d}")

    def land_delta(self, step: int, frac: float = 0.001) -> int:
        """Land one small Zipf-skewed delta file per entity: about
        ``frac`` of the keys, hot keys more often, with updates, late
        deletes, NULL ops and a few new keys. Returns rows landed."""
        before = self.rows_landed
        for spec in ENTITIES:
            n_keys = self.n_keys[spec.name]
            n = max(2, int(n_keys * frac))
            # Exactly n distinct keys, drawn Zipf-skewed (hot keys recur
            # across deltas), in first-drawn order.
            drawn: dict[int, None] = {}
            while len(drawn) < n:
                for k in (self.rng.zipf(1.3, 4 * n) - 1) % n_keys:
                    drawn.setdefault(int(k))
            ids = np.fromiter(drawn, dtype=np.int64)[:n]
            n_new = max(1, n // 20)
            ids = np.concatenate([ids, np.arange(n_keys, n_keys + n_new)])
            self.n_keys[spec.name] = n_keys + n_new
            versions = _payload(spec, self.rng, _key_frame(spec, ids))
            versions.insert(len(spec.pk), "op", _ops(self.rng, len(ids), ids >= n_keys))
            self._land(spec, versions, f"d{step:05d}")
        return self.rows_landed - before

    # -- truth -----------------------------------------------------------------
    def truth(self, spec: EntitySpec) -> pd.DataFrame:
        """Expected silver rows: latest version per key, live op, passing
        every expectation."""
        df = self.latest[spec.name]
        live = df["op"].notna() & (df["op"] != "D")
        if spec.name == "app_downloads":
            ok = df["created_at"].notna() & df["id"].notna()
        elif spec.name == "users":
            ok = df["email"].notna()
        elif spec.name == "receipts":
            ok = df["amount"] >= 0
        else:
            ok = df["lat"].between(-90, 90)
        return df[live & ok][list(spec.columns)]
