"""Contribution kernel: one row per modification of each entity.

Semantics ≙ CellIterator.iterateByContribution
(oshdb-util/.../celliterator/CellIterator.java:437-712):

- modification timestamps = filter-aware own+member timestamps, squashed
  by changeset (OSHEntities.java:240-267)
- walk states oldest→newest carrying `prev`; emit per state:
  * DELETION when visibility lost / filter no longer matches / geometry
    left the AOI (clipped empty) — each only if prev wasn't already a
    DELETION (ref :533-552, 578-595, 625-639)
  * CREATION when no prev or prev was a DELETION (ref :640-642)
  * else TAG_CHANGE on tag diff, GEOMETRY_CHANGE on exact clipped-geometry
    inequality (ref :649-665; JTS equalsExact ≙ geo.geom.geoms_equal)
- requested interval [first,last) half-open
  (OSHDBTimestampInterval.java:30-33); states before the interval are
  processed but output-suppressed (`skipOutput`, ref :510-531); states at/
  after the interval end abort the walk
- contributor attribution: the entity's own uid if the entity itself
  changed at t, else the uid of the first changed child member
  (object/OSMContribution.java:211-257)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..geo import geom as G
from ..model import schemas
from .aoi import AOI
from .core import (
    contribution_frame,
    dispatch,
    member_table,
    own_table,
    point_geometry,
    point_presence,
    way_geometry,
)
from .filters import compile_python
from .geometry_builder import DEFAULT_INTERPRETER, build_geometry
from .relation_vec import rels_contrib_vec
from .snapshot import _doc_structs, _kernel_input, _normalize_ts
from .temporal import (
    changeset_timestamps,
    get_by_timestamps,
    mod_timestamps,
    squash_by_changeset,
)

def _nodes_contrib_vec(
    pdf: pd.DataFrame, t_first: int, t_last: int, aoi: AOI, with_geometry: bool
) -> pd.DataFrame:
    """Vectorized contribution kernel for member-less node docs: own
    states only, presence includes the exact point-in-AOI test."""
    o = own_table(pdf)
    return contribution_frame(pdf, "node", o, None, t_first, t_last,
                              with_geometry, point_geometry(o),
                              point_presence(pdf, o, aoi))


def _ways_contrib_vec(
    pdf: pd.DataFrame, t_first: int, t_last: int, with_geometry: bool, decider
) -> pd.DataFrame:
    """Vectorized contribution kernel for fully-inside WAY docs (never
    an AOI exit): own ∪ member-window states, geometry change by the
    resolved ladder. Divergences from the general path, both
    degenerate-input only: refs of non-node type count toward member
    windows (real way refs are always nodes), and same-(ts, member)
    contributor-uid ties resolve in sorted rather than stored version
    order."""
    o, mt = own_table(pdf), member_table(pdf, "way")
    return contribution_frame(pdf, "way", o, mt, t_first, t_last,
                              with_geometry, way_geometry(o, mt, decider))


def contributions(
    docs: DataFrame,
    interval: tuple[int, int] | list[int],
    bbox=None,
    polygon=None,
    filter_spec=None,
    area_decider=None,
    with_geometry: bool = True,
) -> DataFrame:
    """The contribution view (schema model.schemas.CONTRIBUTIONS).

    Node, way and relation docs the vectorized core can take (see
    snapshot.prepared_docs) run through its contribution state machine
    batch-wide; python-filtered docs, custom area deciders, nested
    relations and docs crossing a polygon AOI's boundary take the general
    per-doc walk (_emit_doc_contributions)."""
    if isinstance(interval, (list, tuple)) and len(interval) >= 2:
        t_first, t_last = int(min(interval)), int(max(interval))
    else:
        raise ValueError("interval must provide (first, last) timestamps")
    aoi = AOI(bbox=bbox, polygon=polygon)
    decider = area_decider or DEFAULT_INTERPRETER
    flt = compile_python(filter_spec)
    return dispatch(
        _kernel_input(docs, filter_spec, aoi, decider),
        schemas.CONTRIBUTIONS,
        {
            "node": lambda p: _nodes_contrib_vec(
                p, t_first, t_last, aoi, with_geometry),
            "way": lambda p: _ways_contrib_vec(
                p, t_first, t_last, with_geometry, decider),
            "relation": lambda p: rels_contrib_vec(
                p, t_first, t_last, with_geometry, decider),
        },
        lambda row, tok, out: _emit_doc_contributions(
            row, t_first, t_last, aoi, flt, decider, with_geometry, out,
            token=tok),
        aoi,
    )


def _tags_equal(a: dict | None, b: dict | None) -> bool:
    return (a or {}) == (b or {})


def _contributor_uid(entity_type, versions_asof, t, v, members_by_key):
    """OSMContribution.getContributorUserId (ref :211-257): entity's uid if
    the entity version changed exactly at t, else uid of the first child
    whose own version timestamp equals t (recursing way→nodes)."""
    if v["ts"] == t:
        return v["uid"]
    for m in members_by_key.values():
        for mv in m["versions"]:
            if mv["ts"] == t:
                return mv["uid"]
    return v["uid"]


def _emit_doc_contributions(
    row, t_first, t_last, aoi, flt, decider, with_geometry, out, token=None
):
    entity_type = row["entity_type"]
    eid = row["id"]
    versions, members_by_key, fbbox, token = _doc_structs(row, token)
    versions = _normalize_ts(versions)
    for m in members_by_key.values():
        _normalize_ts(m["versions"])

    rel = aoi.relation_of_bbox(fbbox) if fbbox is not None else (1 if aoi.is_world else 0)
    if rel == 0:
        return
    fully_inside = rel == 1

    vflt = (lambda v: flt(v, entity_type, eid)) if flt else None
    if vflt is not None and not any(v["visible"] and vflt(v) for v in versions):
        return

    members = list(members_by_key.values())
    cs_map = changeset_timestamps(entity_type, versions, members)
    mod_ts = squash_by_changeset(
        mod_timestamps(entity_type, versions, members, vflt), cs_map
    )
    if not mod_ts or not (t_last >= mod_ts[0] and t_first <= mod_ts[-1]):
        return  # history fully outside interval (inclusive intersects)

    asof = get_by_timestamps(versions, mod_ts)

    prev = None  # (version_dict, geom, clipped, contrib_types)

    def emit(t, types, v_after, v_before, geom_after, clip_after, geom_before,
             clip_before, changeset, skip):
        nonlocal prev
        prev = (v_after, geom_after, clip_after, types)
        if skip:
            return
        uid = _contributor_uid(entity_type, asof, t, v_after, members_by_key)
        out.append(
            (
                t,
                entity_type,
                eid,
                sorted(types),
                changeset,
                uid,
                v_before["version"] if v_before else None,
                v_after["version"],
                (v_before.get("tags") or {}) if v_before else None,
                v_after.get("tags") or {},
                G.to_wkb(geom_before) if with_geometry else None,
                G.to_wkb(geom_after) if with_geometry else None,
                G.to_wkb(clip_before) if with_geometry else None,
                G.to_wkb(clip_after) if with_geometry else None,
                token,
                row["doc_id"],
            )
        )

    for idx, t in enumerate(mod_ts):
        if t not in asof:
            continue
        v = asof[t]
        skip_output = False
        next_t = mod_ts[idx + 1] if idx + 1 < len(mod_ts) else None

        in_interval = t_first <= t < t_last
        if not in_interval:
            if t >= t_last:
                break  # future of the interval → abort (ref :520-521)
            if next_t is None or not (t_first <= next_t < t_last):
                continue  # next state also outside → skip entirely
            skip_output = True  # process for prev-carry, suppress output

        if not v["visible"]:
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    v["changeset"], skip_output,
                )
            continue

        if vflt is not None and not vflt(v):
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    cs_map.get(t), skip_output,
                )
            continue

        geom = build_geometry(entity_type, v, t, members_by_key, decider)
        clipped = geom if fully_inside else aoi.clip(geom)

        if not fully_inside and (clipped is None or G.is_empty(clipped)):
            # left the AOI (or invalid geometry) → DELETION (ref :625-639)
            if prev is not None and "DELETION" not in prev[3]:
                emit(
                    t, {"DELETION"}, v, prev[0], None, None, prev[1], prev[2],
                    cs_map.get(t), skip_output,
                )
            continue

        if prev is None or "DELETION" in prev[3]:
            types = {"CREATION"}
            v_before, g_before, c_before = None, None, None
            if prev is not None:
                v_before, g_before, c_before = prev[0], prev[1], prev[2]
            emit(
                t, types, v, v_before, geom, clipped, g_before, c_before,
                cs_map.get(t), skip_output,
            )
            continue

        types = set()
        if not _tags_equal(prev[0].get("tags"), v.get("tags")):
            types.add("TAG_CHANGE")
        if not G.geoms_equal(
            prev[2] if prev[2] is not None else prev[1],
            clipped if clipped is not None else geom,
        ):
            types.add("GEOMETRY_CHANGE")
        emit(
            t, types, v, prev[0], geom, clipped, prev[1], prev[2],
            cs_map.get(t), skip_output,
        )
