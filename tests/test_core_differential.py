"""Seeded random-corpus differential: vectorized kernels vs general path.

Random node, way and relation histories — hand-built through
``model.synth`` and derived from a seeded events table through
``model.history`` — run through both views twice: once on the vectorized
kernels, once forced onto the general per-doc path by a no-op
('py', ...) filter (the technique of test_fast_paths). Both runs must
produce identical rows under no AOI, a bbox AOI and a polygon AOI, and
for every Arrow batch size in {1, 7, default}, so no result can depend on
how the batch was cut.

The synthetic corpus deliberately holds node and way docs with two
versions at one timestamp: the general path builds one state per distinct
(doc, ts), so a vectorized kernel that builds one state per version would
emit an extra row there.

Generated histories stay clear of the documented degenerate-input
divergences of the vectorized kernels (kernels.contribution and
kernels.relation_vec docstrings): ways reference nodes only, visible
members always carry coordinates, member versions are stored oldest
first, and a member version's changeset is a function of its timestamp,
so changeset-map ties between different members cannot disagree.

KERNEL_PROP_SCALE=8 grows every corpus eightfold for offline soaks.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd
import pytest

from oshdb_spark.kernels.contribution import contributions
from oshdb_spark.kernels.snapshot import snapshots
from oshdb_spark.model.synth import docs_df, make_doc, make_version

_PROP_SCALE = int(os.environ.get("KERNEL_PROP_SCALE", "1"))

T0 = 1_199_145_600  # 2008-01-01
DAY = 86_400
N_STEPS = 24  # timestamps sit on a coarse day lattice so they collide
TAG_POOL = [
    {}, {"highway": "path"}, {"highway": "track"}, {"building": "yes"},
    {"amenity": "cafe"}, {"landuse": "farm", "area": "no"},
]
REL_TAGS = [
    {"kind": "route"}, {"kind": "trail"},
    {"type": "multipolygon", "landuse": "forest"},
]
NOOP = ("py", lambda v, et, i: True)

# AOI bounds are off the 1e-7 coordinate lattice's round values and the
# polygon's edges are skewed, so no generated point lies on an AOI edge
BBOX = (-6.00000005, -6.00000005, 6.00000005, 6.00000005)
POLYGON = [[(-7.0000013, -6.0000021), (6.5000017, -7.0000011),
            (7.0000019, 6.0000023), (0.3000001, 2.5000003),
            (-6.5000015, 7.0000027), (-7.0000013, -6.0000021)]]
AOIS = {"none": {}, "bbox": {"bbox": BBOX}, "polygon": {"polygon": POLYGON}}


def _ts(step: int) -> int:
    return T0 + step * DAY


def _steps(rng: random.Random, k: int, dup: bool) -> list[int]:
    """k sorted timestamp steps; with ``dup`` one step repeats."""
    s = sorted(rng.sample(range(N_STEPS), k))
    if dup and k >= 2:
        i = rng.randrange(k - 1)
        s[i + 1] = s[i]
    return s


def _coord(rng: random.Random, center: float) -> int:
    return int(round((center + rng.uniform(-1.5, 1.5)) * 1e7))


def _own_versions(rng, k, dup, center=None, refs_of=None, tags=TAG_POOL):
    """Own versions with squash runs (a changeset repeats 30% of the
    time) and deletions; nodes get coordinates, ways/relations refs. Two
    versions at one timestamp share a changeset here;
    test_same_timestamp_versions pins the case where they do not."""
    out, cs, prev = [], rng.randrange(1, 10) * 1000, None
    for i, s in enumerate(_steps(rng, k, dup)):
        if s != prev and rng.random() > 0.3:
            cs += rng.randrange(1, 5)
        prev = s
        visible = i == 0 or rng.random() < 0.8
        kw = {}
        if visible and center is not None:
            kw = {"lon": _coord(rng, center[0]), "lat": _coord(rng, center[1])}
        if visible and refs_of is not None:
            kw = {"refs": refs_of()}
        out.append(make_version(
            i + 1, _ts(s), cs, uid=rng.randrange(1, 6),
            tags=rng.choice(tags) if visible else None,
            visible=visible, **kw,
        ))
    return out


def _member_versions(rng, center, refs_of=None):
    """Member history, oldest first; changeset and uid follow the ts."""
    out = []
    for i, s in enumerate(_steps(rng, rng.randrange(1, 4), rng.random() < 0.2)):
        visible = i == 0 or rng.random() < 0.85
        kw = {}
        if visible and refs_of is None:
            kw = {"lon": _coord(rng, center[0]), "lat": _coord(rng, center[1])}
        if visible and refs_of is not None:
            kw = {"refs": refs_of()}
        out.append(make_version(
            i + 1, _ts(s), 50_000 + s, uid=100 + s % 7,
            tags=rng.choice(TAG_POOL) if refs_of is not None else None,
            visible=visible, **kw,
        ))
    return out


def _nref(i, role=""):
    return {"type": "node", "ref": i, "role": role}


def _node_members(rng, center, ids):
    # one referenced node stays missing now and then (redaction case)
    return [
        {"entity_type": "node", "id": i, "versions": _member_versions(rng, center)}
        for i in ids if rng.random() < 0.95
    ]


def _ring_or_chain(rng, ids):
    k = rng.randrange(2, len(ids) + 1)
    chain = rng.sample(ids, k)
    if k >= 3 and rng.random() < 0.4:
        chain = chain + [chain[0]]
    return chain


def _synth_corpus(seed: int, n: int) -> list[dict]:
    rng = random.Random(seed)
    docs = []
    for d in range(n):
        center = (rng.uniform(-8, 8), rng.uniform(-8, 8))
        docs.append(make_doc("node", d + 1, _own_versions(
            rng, rng.randrange(1, 6), rng.random() < 0.3, center=center,
        )))
    for d in range(n):
        center = (rng.uniform(-8, 8), rng.uniform(-8, 8))
        ids = [10_000 * (d + 1) + j for j in range(rng.randrange(2, 6))]
        versions = _own_versions(
            rng, rng.randrange(1, 5), rng.random() < 0.3,
            refs_of=lambda: [_nref(i) for i in _ring_or_chain(rng, ids)],
        )
        docs.append(make_doc("way", d + 1, versions,
                             members=_node_members(rng, center, ids)))
    # a way none of whose nodes is embedded: at batch size 1 its batch
    # holds no member version at all
    docs.append(make_doc("way", n + 1, [make_version(
        1, _ts(3), 77, uid=1, tags={"highway": "path"}, refs=[_nref(1), _nref(2)],
    )]))
    for d in range(max(n // 2, 1)):
        center = (rng.uniform(-8, 8), rng.uniform(-8, 8))
        base = 1_000_000 * (d + 1)
        way_nodes = {base + 100 * w: [base + 100 * w + j for j in range(4)]
                     for w in range(1, rng.randrange(2, 4))}
        node_ids = [base + j for j in range(1, rng.randrange(2, 4))]
        members = []
        for wid, nids in way_nodes.items():
            members.append({"entity_type": "way", "id": wid,
                            "versions": _member_versions(
                                rng, center,
                                refs_of=lambda nids=nids: [
                                    _nref(i) for i in _ring_or_chain(rng, nids)
                                ])})
            members += _node_members(rng, center, nids)
        members += _node_members(rng, center, node_ids)

        def rel_refs():
            refs = [{"type": "way", "ref": w, "role": rng.choice(["outer", "inner", ""])}
                    for w in way_nodes if rng.random() < 0.8]
            refs += [_nref(i, "stop") for i in node_ids if rng.random() < 0.7]
            if rng.random() < 0.1:
                refs.append({"type": "relation", "ref": 7, "role": ""})
            return refs

        docs.append(make_doc("relation", d + 1, _own_versions(
            rng, rng.randrange(1, 4), False, refs_of=rel_refs, tags=REL_TAGS,
        ), members=members))
    return docs


def _events(seed: int, n_users: int) -> pd.DataFrame:
    """A small events table (the shape model.history derives docs from):
    second-resolution timestamps, so same-second events collide."""
    rng = np.random.default_rng([seed, 2])
    users = rng.choice(np.arange(1, 5000), n_users, replace=False)
    uid = np.repeat(users, rng.integers(2, 12, n_users))
    sec = JAN_2024 + rng.integers(0, 30, len(uid)) * 43_200
    return pd.DataFrame({
        "event_id": np.arange(len(uid), dtype=np.int64),
        "ts": pd.to_datetime(sec, unit="s").astype("datetime64[us]"),
        "user_id": uid.astype(np.int64),
        "event_type": np.array(["signup", "click", "error", "view"])[
            rng.integers(0, 4, len(uid))
        ],
        "value": rng.uniform(0, 100, len(uid)),
        "props": ["{}"] * len(uid),
    })


def _corpus(spark, kind: str, seed: int):
    n = 12 * _PROP_SCALE
    if kind == "synth":
        return docs_df(spark, _synth_corpus(seed, n))
    from oshdb_spark.model.history import (
        docs_from_events,
        relation_docs_from_events,
        way_docs_from_events,
    )

    ev = spark.createDataFrame(_events(seed, n))
    return (
        docs_from_events(ev)
        .unionByName(way_docs_from_events(ev))
        .unionByName(relation_docs_from_events(ev))
    )


def _canon(df):
    pdf = df.toPandas()
    for c in ("tags", "tags_before", "tags_after", "contrib_types"):
        if c in pdf.columns:
            pdf[c] = pdf[c].map(
                lambda v: None if v is None else repr(
                    sorted(v.items()) if isinstance(v, dict) else list(v)
                )
            )
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: None if v is None else repr(v))
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True).fillna("~")


JAN_2024 = 1_704_067_200


def _run_view(view, kind, docs, seed, aoi_kw, flt):
    rng = random.Random(seed)
    if view == "snapshot":
        if kind == "events":
            ts = [JAN_2024 + k * 3 * DAY + 1 for k in range(11)]
        else:
            ts = sorted({_ts(s) + rng.choice([0, 0, 1, -1])
                         for s in rng.sample(range(-1, N_STEPS + 1), 8)})
        return snapshots(docs, ts, filter_spec=flt, **aoi_kw)
    if kind == "events":
        interval = (JAN_2024 + 5 * DAY, JAN_2024 + 20 * DAY)
    else:
        a = rng.randrange(0, N_STEPS // 2)
        interval = (_ts(a), _ts(a + N_STEPS // 2) + 1)
    return contributions(docs, interval, filter_spec=flt, **aoi_kw)


@pytest.mark.parametrize("batch", [1, 7, None], ids=["b1", "b7", "bdefault"])
@pytest.mark.parametrize("aoi", list(AOIS))
@pytest.mark.parametrize("view", ["snapshot", "contribution"])
@pytest.mark.parametrize("kind,seed", [("synth", 11), ("events", 13)])
def test_random_corpus_fast_vs_general(spark, kind, seed, view, aoi, batch):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if batch is not None:
        spark.conf.set(key, str(batch))
    try:
        docs = _corpus(spark, kind, seed)
        fast = _canon(_run_view(view, kind, docs, seed, AOIS[aoi], None))
        slow = _canon(_run_view(view, kind, docs, seed, AOIS[aoi], [NOOP]))
    finally:
        spark.conf.set(key, old)
    pd.testing.assert_frame_equal(fast, slow)
    assert len(slow) > 0


def test_same_timestamp_versions(spark):
    """Two own versions at one timestamp with DIFFERENT changesets: the
    changeset map keeps the last version's changeset for that timestamp
    (OSHEntities.java:115-170), so the t1 state squashes into the
    same-changeset t2 state. The general path decides; both paths must
    emit exactly these rows."""
    n = lambda i: {"type": "node", "ref": i, "role": ""}  # noqa: E731
    docs = docs_df(spark, [
        make_doc("node", 1, [
            make_version(1, _ts(0), 10, uid=1, tags={"a": "1"}, lon=0, lat=0),
            make_version(2, _ts(1), 11, uid=2, tags={"a": "2"}, lon=10_000_000, lat=0),
            make_version(3, _ts(1), 12, uid=3, tags={"a": "3"}, lon=20_000_000, lat=0),
            make_version(4, _ts(2), 12, uid=3, tags={"a": "3"}, lon=30_000_000, lat=0),
        ]),
        make_doc("way", 2, [
            make_version(1, _ts(0), 20, uid=1, tags={"highway": "path"}, refs=[n(1), n(2)]),
            make_version(2, _ts(1), 21, uid=2, tags={"highway": "track"}, refs=[n(1), n(2)]),
            make_version(3, _ts(1), 22, uid=3, tags={"highway": "track"}, refs=[n(2), n(1)]),
            make_version(4, _ts(2), 22, uid=3, tags={"highway": "primary"}, refs=[n(2), n(1)]),
        ], members=[
            {"entity_type": "node", "id": i, "versions": [
                make_version(1, _ts(0), 20, lon=i * 10_000_000, lat=i * 10_000_000)]}
            for i in (1, 2)
        ]),
    ])
    want = [
        (_ts(0), "node", 1, ["CREATION"], None, 1, 10),
        (_ts(0), "way", 2, ["CREATION"], None, 1, 20),
        (_ts(2), "node", 1, ["GEOMETRY_CHANGE", "TAG_CHANGE"], 1, 4, 12),
        (_ts(2), "way", 2, ["GEOMETRY_CHANGE", "TAG_CHANGE"], 1, 4, 22),
    ]
    interval = (_ts(0), _ts(3))
    for flt in (None, [NOOP]):
        rows = contributions(docs, interval, filter_spec=flt).collect()
        got = sorted(
            (r.ts, r.entity_type, r.id, list(r.contrib_types), r.version_before,
             r.version_after, r.changeset)
            for r in rows
        )
        assert got == want, flt
    fast = _canon(contributions(docs, interval))
    pd.testing.assert_frame_equal(
        fast, _canon(contributions(docs, interval, filter_spec=[NOOP]))
    )
