"""Vectorized RELATION kernels: the temporal core, one level deeper.

Relation docs whose members are nodes and ways run through
kernels.core like ways do; the typed member table resolves

    relation version refs (typed) ──► member slot (doc, type, id)
    way-member version refs        ──► node-member slot (doc, node, id)

Semantics reproduced (all from kernels.temporal, which cites the
reference line-by-line):

- snapshot rows: as-of own version visible ∧ matching ∧ has refs
  (CellIterator.java:254-257 empty-member skip)
- contribution states: own filter-aware modification timestamps ∪ direct
  member timestamps inside relation membership windows, where a way
  member's timestamp stream is its own transition timestamps ∪ its node
  children's timestamps inside the WAY's windows
  (OSHEntities.java:315-478 recursive dispatch; core.member_window_keys)
- geometry: a GeometryCollection of the ordered member geometries
  (OSHDBGeometryBuilder.java:140-185); missing members and members with
  no version yet are skipped (ref :154-163 redaction case); invisible
  nodes → empty Point, invisible ways → empty LineString; visible ways
  run the core's way ladder incl. the area decider's closed-ring
  precheck (BaseTagInterpreter.java:82-86). Multipolygon-typed versions
  are assembled from the resolved chains instead, falling back to the
  collection when assembly fails (ref :126-131).

Documented divergences (degenerate-input only, same posture as the way
kernel's): changeset-map putIfAbsent ties between DIFFERENT members
sharing an identical timestamp resolve in member span order rather than
the reference's way-children-first order, and visible members with null
coordinates yield empty geometries instead of raising.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .core import (
    _LON_SENTINEL,
    _segments,
    contribution_frame,
    geom_rows,
    has_refs,
    member_asof,
    member_slots,
    member_table,
    own_table,
    parse_tags,
    ref_rows,
    snapshot_frame,
    way_ladder,
)
from .geometry_builder import DefaultTagInterpreter, NeverArea


def rel_fast_mode(decider) -> str | None:
    """Eligibility mode for the relation fast path, per area decider:
    'default' and 'never' both route every node/way-membered relation —
    multipolygon-typed versions are assembled IN the kernel
    (_mp_assembly_wkb over resolved flat chains). None (AlwaysArea /
    custom deciders) keeps the general path: their is_area/role rules
    aren't guaranteed to match the vectorized area-flag batch logic."""
    if type(decider) is DefaultTagInterpreter:
        return "default"
    if type(decider) is NeverArea:
        return "never"
    return None


def rel_geometry(o: dict, mt: dict, decider):
    """Geometry of relation states: per row the components of its
    GeometryCollection, in ref order (ref list of own version `idx`);
    multipolygon-typed rows get the assembled geometry as an override."""

    def build(idx, doc, t):
        row, off = ref_rows(mt["refcnt"], mt["ref_starts"], idx)
        slot, found = member_slots(mt, doc[row], mt["reftype"][off], mt["ref"][off])
        mp, exists = member_asof(mt, slot, found, t[row])
        # included components: member embedded AND has a version as-of t
        crow, mp, off = row[exists], mp[exists], off[exists]
        ctype = mt["reftype"][off]
        kind = np.zeros(len(crow), dtype=np.int64)
        nc = np.zeros(len(crow), dtype=np.int64)
        vis = mt["vis"][mp]
        node_pt = (ctype == 0) & vis & (mt["lon"][mp] != _LON_SENTINEL)
        kind[node_pt], nc[node_pt] = 1, 1
        kind[(ctype == 1) & ~vis] = 4
        winc = np.nonzero((ctype == 1) & vis)[0]
        wkind, wnc, wlon, wlat, wnid = way_ladder(
            mt, mt["m_refcnt"], mt["m_ref"], mt["m_ref_starts"], mp[winc],
            doc[crow[winc]], t[crow[winc]], mt, decider,
        )
        kind[winc], nc[winc] = wkind, wnc
        # coords in component order (node points interleave with way
        # chains): scatter both sources to their component offsets
        cstart = np.cumsum(nc) - nc
        lon7 = np.zeros(int(nc.sum()), dtype=np.int64)
        lat7 = np.zeros_like(lon7)
        nid = np.zeros_like(lon7)
        npt = np.nonzero(node_pt)[0]
        lon7[cstart[npt]] = mt["lon"][mp[npt]]
        lat7[cstart[npt]] = mt["lat"][mp[npt]]
        wr, wloc = _segments(wnc)
        dest = cstart[winc][wr] + wloc
        lon7[dest], lat7[dest], nid[dest] = wlon, wlat, wnid
        g = geom_rows(
            np.bincount(crow, minlength=len(idx)).astype(np.int64),
            kind, nc, lon7, lat7, nid,
            ctype=ctype, role=mt["refrole"][off], collection=True,
        )
        parsed, inv = parse_tags(o)
        is_mp = np.array(
            [bool(decider.is_area("relation", tg, [])) for tg in parsed],
            dtype=bool,
        )[inv[idx]]
        if is_mp.any():
            g["override"] = _mp_assembly_wkb(g, np.nonzero(is_mp)[0], decider)
        return g

    return build


def _mp_assembly_wkb(rc: dict, rows, decider) -> dict:
    """Multipolygon assembly over RESOLVED components (ref
    getMultiPolygonGeometry, OSHDBGeometryBuilder.java:187-301): for each
    given row, split its visible way-member chains by role, join rings by
    node id, assemble. Returns {row: wkb} for rows whose assembly
    succeeded non-empty; absent rows keep the GeometryCollection fallback
    (ref :126-131 exception/empty fallback). Only the small ring-joining
    step is per-row Python — member resolution/as-of work happened in the
    flat batch kernels."""
    from ..geo import geom as G
    from .geometry_builder import assemble_multipolygon

    out: dict[int, bytes] = {}
    for r in rows:
        r = int(r)
        c0 = int(rc["comp_starts"][r])
        outer: list[list] = []
        inner: list[list] = []
        for ci in range(c0, c0 + int(rc["ncomp"][r])):
            # visible way chains with ≥1 coord only (kind 0 = empty
            # chain, 4 = invisible way; nodes never join rings)
            if rc["ctype"][ci] != 1 or rc["kind"][ci] in (0, 4):
                continue
            role = rc["role"][ci]
            if decider.is_outer_role(role):
                dest = outer
            elif decider.is_inner_role(role):
                dest = inner
            else:
                continue
            s = int(rc["cstart"][ci])
            k = int(rc["nc"][ci])
            dest.append(
                list(
                    zip(
                        rc["nid"][s : s + k].tolist(),
                        (rc["lon7"][s : s + k] * 1e-7).tolist(),
                        (rc["lat7"][s : s + k] * 1e-7).tolist(),
                    )
                )
            )
        try:
            mp = assemble_multipolygon(outer, inner)
        except (ValueError, IndexError):
            continue
        if mp is None or G.is_empty(mp):
            continue
        out[r] = G.to_wkb(mp)
    return out



def rels_snapshot_vec(
    pdf: pd.DataFrame, requested: list[int], with_geometry: bool, decider
) -> pd.DataFrame:
    """Vectorized snapshot kernel for fully-inside RELATION docs."""
    o, mt = own_table(pdf), member_table(pdf, "relation")
    return snapshot_frame(pdf, "relation", o, requested, with_geometry,
                          rel_geometry(o, mt, decider), has_refs(mt))


def rels_contrib_vec(
    pdf: pd.DataFrame, t_first: int, t_last: int, with_geometry: bool, decider
) -> pd.DataFrame:
    """Vectorized contribution kernel for fully-inside RELATION docs."""
    o, mt = own_table(pdf), member_table(pdf, "relation")
    return contribution_frame(pdf, "relation", o, mt, t_first, t_last,
                              with_geometry, rel_geometry(o, mt, decider))
