"""Seeded input generators.

Everything the engine receives is produced here from ``--seed``: the node
history corpus, the events table the way/relation docs are derived from,
the typed-store update batches, the rank table and the query parameters.
Generation is numpy/pandas in the Spark driver process; the docs are assembled in
Spark with the same struct → ``to_json`` construction the engine's own
generators use, so the JSON spans and the native typed columns cannot
disagree.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

YEAR = 31_536_000
T_2008 = 1_199_145_600  # 2008-01-01T00:00:00Z
JAN_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
MONTH_US = 30 * 86_400 * 1_000_000

# yearly snapshot grid over the node corpus' edit history
NODE_TS = [T_2008 + YEAR * k for k in range(1, 13)]

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])


def node_versions(seed: int, n_docs: int, hot_frac: float = 0.4,
                  first_id: int = 1) -> tuple[pd.DataFrame, dict]:
    """Flat per-version node history: one row per (doc, version).

    ``hot_frac`` of the docs sit in one ~0.05° tile at a seeded location
    (a dense urban cell); the rest spread over the globe. Every version
    after the first either moves the node or flips its amenity tag, so
    each version is exactly one contribution. Returns the rows and the
    measured shares."""
    rng = np.random.default_rng([seed, 1])
    k = rng.integers(2, 7, n_docs)
    hot = rng.random(n_docs) < hot_frac
    cx, cy = rng.uniform(-10.0, 30.0), rng.uniform(35.0, 60.0)
    lon0 = np.where(hot, cx + rng.uniform(-0.025, 0.025, n_docs),
                    rng.uniform(-179.0, 179.0, n_docs))
    lat0 = np.where(hot, cy + rng.uniform(-0.025, 0.025, n_docs),
                    rng.uniform(-84.0, 84.0, n_docs))
    doc = np.repeat(np.arange(n_docs), k)
    starts = np.concatenate([[0], np.cumsum(k)[:-1]])
    version = np.arange(len(doc)) - np.repeat(starts, k) + 1
    first = version == 1
    gap = rng.integers(60 * 86_400, 700 * 86_400, len(doc))
    gap[first] = rng.integers(0, 3 * YEAR, n_docs)
    ts = T_2008 + _segment_cumsum(gap, doc)
    move = rng.random(len(doc)) < 0.5
    move[first] = False
    step = np.where(move, rng.integers(-500, 501, len(doc)), 0)
    lon7 = np.round(lon0[doc] * 1e7).astype(np.int64) + _segment_cumsum(step, doc)
    lat7 = np.round(lat0[doc] * 1e7).astype(np.int64)
    cafe0 = rng.random(n_docs) < 0.3
    flip = ~move & ~first
    cafe = cafe0[doc] ^ (_segment_cumsum(flip.astype(np.int64), doc) % 2 == 1)
    rows = pd.DataFrame({
        "id": (first_id + doc).astype(np.int64),
        "version": version.astype(np.int32),
        "ts": ts.astype(np.int64),
        "lon": lon7,
        "lat": lat7,
        "amenity": np.where(cafe, "cafe", "bench"),
    })
    return rows, {"hot_tile_docs_frac": float(hot.mean()),
                  "hot_tile_center": [round(cx, 4), round(cy, 4)]}


def _segment_cumsum(x: np.ndarray, seg: np.ndarray) -> np.ndarray:
    """Running sum of ``x`` restarted at each new value of sorted ``seg``."""
    c = np.cumsum(x)
    starts = np.flatnonzero(np.r_[True, seg[1:] != seg[:-1]])
    before = np.r_[0, c[starts[1:] - 1]]
    return c - np.repeat(before, np.diff(np.r_[starts, len(x)]))


def update_batch(rows: pd.DataFrame, seed: int,
                 frac: float = 0.03) -> tuple[pd.DataFrame, dict]:
    """Full replacement histories for a seeded ``frac`` of the docs: each
    changed doc gains one version a year after its last; a third of them
    jump far away, so their store cell prefix changes."""
    rng = np.random.default_rng([seed, 2])
    ids = np.unique(rows["id"].to_numpy())
    pick = np.sort(rng.choice(ids, max(1, int(len(ids) * frac)), replace=False))
    old = rows[rows["id"].isin(pick)]
    last = old.groupby("id").tail(1).copy()
    moved = rng.random(len(last)) < 1 / 3
    last["version"] = last["version"] + 1
    last["ts"] = last["ts"] + YEAR
    last.loc[moved, "lon"] = -last.loc[moved, "lon"]
    last.loc[moved, "lat"] = -last.loc[moved, "lat"]
    last.loc[~moved, "amenity"] = np.where(
        last.loc[~moved, "amenity"] == "cafe", "bench", "cafe")
    changed = pd.concat([old, last]).sort_values(["id", "version"])
    return changed.reset_index(drop=True), {
        "changed_docs": int(len(pick)),
        "changed_docs_frac": len(pick) / len(ids),
        "moved_docs": int(moved.sum()),
    }


def node_bboxes(seed: int, hot_center, n: int = 2) -> list[tuple]:
    """Seeded bbox AOIs of equal size, each holding the hot tile."""
    rng = np.random.default_rng([seed, 3])
    out = []
    for _ in range(n):
        w = float(rng.uniform(-150.0, -110.0)) + 1e-7 * 0.37
        s = float(rng.uniform(-58.0, -50.0)) + 1e-7 * 0.59
        out.append((w, s, w + 250.0, s + 120.0))
    if not all(w < hot_center[0] < e and s < hot_center[1] < n_
               for w, s, e, n_ in out):
        raise ValueError("a bbox AOI misses the hot tile")
    return out


def events(seed: int, n_users: int) -> pd.DataFrame:
    """An events table shaped like the engine's `events` test table
    (event_id, ts, user_id, event_type, value, props), January 2024, for a
    seeded subset of user ids with 72 events each (the testdata's
    median), so the work per op does not drift with the seed."""
    rng = np.random.default_rng([seed, 4])
    users = np.sort(rng.choice(np.arange(1, 200_000), n_users, replace=False))
    per = np.full(n_users, 72)
    uid = np.repeat(users, per)
    ts = rng.integers(JAN_2024_US, JAN_2024_US + MONTH_US, len(uid))
    order = np.argsort(ts, kind="stable")
    uid, ts = uid[order], ts[order]
    n = len(uid)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(ts, unit="us").astype("datetime64[us]"),
        "user_id": uid.astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.0, 100.0, n), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n)],
    })


def rank_table(seed: int, n_rows: int, hot_frac: float = 0.9) -> pd.DataFrame:
    """(grp, val, cost) with ``hot_frac`` of the rows in group 'click';
    'click' and 'purchase' are the two samples the two-sample tests
    compare."""
    rng = np.random.default_rng([seed, 5])
    hot = rng.random(n_rows) < hot_frac
    cold = EVENT_TYPES[EVENT_TYPES != "click"]
    grp = np.where(hot, "click", cold[rng.integers(0, len(cold), n_rows)])
    return pd.DataFrame({
        "grp": grp,
        "val": rng.integers(0, 50_000, n_rows).astype(np.int64),
        "cost": rng.integers(0, 2_000, n_rows).astype(np.int64),
    })


# ---------------------------------------------------------------------------
# Spark assembly: flat node versions → store-v2 docs (spans + typed columns)
# ---------------------------------------------------------------------------

def node_docs(spark, rows: pd.DataFrame):
    """Node docs in the store-v2 layout: doc_id, spans, entity_type, id,
    versions, members — the shape model.synth and model.history emit."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from oshdb_spark.model import schemas

    flat = spark.createDataFrame(
        rows, "id long, version int, ts long, lon long, lat long, amenity string"
    )
    vstruct = F.expr(
        """named_struct(
             'version', version, 'visible', true,
             'ts', date_format(timestamp_seconds(ts), "yyyy-MM-dd'T'HH:mm:ssX"),
             'changeset', id * 16 + version, 'uid', cast(pmod(id, 1000) as int),
             'tags', map('amenity', amenity), 'lon', lon, 'lat', lat,
             'refs', cast(array() as array<struct<type:string,ref:bigint,role:string>>))"""
    )
    docs = (
        flat.withColumn("_v", vstruct)
        .groupBy("id")
        .agg(F.expr(
            "transform(array_sort(collect_list(struct(version as k, _v as v)),"
            " (a, b) -> case when a.k < b.k then -1 when a.k > b.k then 1"
            " else 0 end), x -> x.v)").alias("versions"))
        .withColumn("versions", F.col("versions").cast(T.ArrayType(schemas.VERSION_JSON)))
    )
    spans = F.expr(
        """concat(
             array(named_struct('kind', 'meta',
               'text', to_json(named_struct('entity_type', 'node', 'id', id)),
               'media_ref', '', 'offset', 0)),
             transform(versions, (v, j) -> named_struct('kind', 'version',
               'text', to_json(v), 'media_ref', '', 'offset', j + 1)))"""
    )
    return docs.select(
        F.concat(F.lit("node/"), F.col("id")).alias("doc_id"),
        spans.alias("spans"),
        F.lit("node").alias("entity_type"),
        F.col("id"),
        F.col("versions"),
        F.expr("array()").cast(T.ArrayType(schemas.MEMBER_JSON)).alias("members"),
    )


def replicated(docs, reps: int):
    """``reps`` copies of each derived doc under distinct doc ids."""
    from pyspark.sql import functions as F

    r = docs.sparkSession.range(reps).select(F.col("id").alias("rep"))
    return docs.crossJoin(r).select(
        F.concat("doc_id", F.lit("#"), "rep").alias("doc_id"),
        "spans", "entity_type", docs["id"], "versions", "members",
    )
