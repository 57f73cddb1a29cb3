"""One vectorized temporal core under the node/way/relation kernels.

The reference drives both views from one CellIterator walk
(iterateByTimestamps, CellIterator.java:181-347; iterateByContribution,
:437-712). This module is that walk, batch-wide in numpy, for every doc
of an Arrow batch at once:

- the flat own-version table, keyed ``doc·2^34 + ts`` (ts < 2^31 « 2^34,
  and versions are (ts, version)-sorted per doc, so the key is globally
  monotonic) and the one ``asof`` primitive over such keys;
- one typed member table (node 0 / way 1; way docs' members are all
  type 0) with its slot lookup and member as-of;
- one way geometry ladder (OSHDBGeometryBuilder.java:81-110), used for
  way docs and for way members of relations;
- one geometry encoding: per output row a list of components (kind,
  coordinates), compared exactly and written as WKB byte-identical to
  geo.geom.to_wkb — a point or a way is a row with one component, a
  relation a GeometryCollection of its members;
- one contribution state machine: filter-aware keep → changeset map and
  squash → as-of → presence lag → last-emitted pointer → type key →
  contributor uid;
- one output-frame builder per view and one batch dispatcher.

The kernels in snapshot.py, contribution.py and relation_vec.py supply
only what differs per entity type: the state keys (requested timestamps
for a snapshot; own ∪ member-window timestamps for a contribution) and
the geometry (point, resolved way, relation collection or multipolygon).
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from ..geo import cells
from ..model import schemas
from .temporal import INF

_FP = 10_000_000  # degrees → fixed-point
_TS_BITS = 34
_KEY = 1 << _TS_BITS  # doc (or member slot) stride of a packed temporal key
_TS_MASK = _KEY - 1
# null-coordinate sentinel for the flat member arrays (v.lon is null on
# deleted versions; 0 is a valid coordinate, so nulls map to -2^62)
_LON_SENTINEL = -(1 << 62)

_SNAP_COLS = [f.name for f in schemas.SNAPSHOTS.fields]
_CONTRIB_COLS = [f.name for f in schemas.CONTRIBUTIONS.fields]

# contribution-type list per (creation, deletion, geom, tag) bit key
_TYPE_LUT = [
    sorted(
        name
        for bit, name in enumerate(
            ("CREATION", "DELETION", "GEOMETRY_CHANGE", "TAG_CHANGE")
        )
        if k >> bit & 1
    )
    for k in range(16)
]


def asof(keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Index of the last sorted packed key ≤ each query key, or -1 — the
    latest version with ts ≤ t of the query's doc/slot when the caller
    checks the result against that doc's/slot's first index
    (OSHEntities.java:36-86 getByTimestamps)."""
    return np.searchsorted(keys, q, side="right") - 1


def _empty_frame(cols: list[str]) -> pd.DataFrame:
    """Zero-row frame with all-object dtype columns — a plain
    pd.DataFrame({c: []}) defaults to float64, which pyarrow refuses to
    cast to map/binary types on the Arrow return path."""
    return pd.DataFrame({c: pd.Series([], dtype=object) for c in cols},
                        columns=cols)


def _flat_i64(col, fill: int = 0) -> np.ndarray:
    """Concatenate a pandas column of per-doc arrays into one int64 array,
    mapping nulls (e.g. missing coords on deleted versions) to `fill`."""
    if len(col) == 0:
        return np.empty(0, dtype=np.int64)
    x = np.concatenate([np.asarray(v) for v in col])
    if x.dtype == object or np.issubdtype(x.dtype, np.floating):
        mask = pd.isna(x)
        if mask.any():
            x = np.where(mask, fill, x)
    return x.astype(np.int64)


def _flat_bool(col) -> np.ndarray:
    return _flat_i64(col).astype(bool)


def _flat_str(col) -> np.ndarray:
    """Concatenated per-doc string arrays; nulls → '{}' (tag JSON)."""
    if len(col) == 0:
        return np.empty(0, dtype=object)
    x = np.concatenate([np.asarray(v, dtype=object) for v in col])
    null = pd.isna(x)
    return np.where(null, "{}", x) if null.any() else x


def _segments(lens: np.ndarray):
    """(row, local) of the flattened elements of segments with the given
    lengths: element k belongs to segment row[k], at position local[k]."""
    row = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    local = np.arange(len(row), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    return row, local


def _segment_ends(starts, lens, n):
    """(first, last) boolean masks of the non-empty segments of n slots."""
    first = np.zeros(n, dtype=bool)
    last = np.zeros(n, dtype=bool)
    nz = lens > 0
    first[starts[nz]] = True
    last[starts[nz] + lens[nz] - 1] = True
    return first, last


def _doc_tokens(pdf: pd.DataFrame) -> np.ndarray:
    """Per-doc Hilbert cell token; '' for docs with no coordinates at all
    (null bbox — matches _doc_structs's empty-token case)."""
    nulls = pdf["bbox_min_lon"].isna().to_numpy()
    toks = cells.token_of_bboxes(
        pdf["bbox_min_lon"].fillna(0).to_numpy(np.int64),
        pdf["bbox_min_lat"].fillna(0).to_numpy(np.int64),
        pdf["bbox_max_lon"].fillna(0).to_numpy(np.int64),
        pdf["bbox_max_lat"].fillna(0).to_numpy(np.int64),
    )
    toks = np.asarray(toks, dtype=object)
    toks[nulls] = ""
    return toks


def _doc_rel_vec(pdf: pd.DataFrame, aoi) -> np.ndarray:
    """Vector of per-doc AOI 3-states (0 disjoint / 1 inside / 2 boundary)."""
    n_docs = len(pdf)
    if aoi.is_world:
        return np.ones(n_docs, dtype=np.int8)
    bmin_lon = pdf["bbox_min_lon"].to_numpy(dtype=np.float64) / _FP
    bmin_lat = pdf["bbox_min_lat"].to_numpy(dtype=np.float64) / _FP
    bmax_lon = pdf["bbox_max_lon"].to_numpy(dtype=np.float64) / _FP
    bmax_lat = pdf["bbox_max_lat"].to_numpy(dtype=np.float64) / _FP
    w, s, e, n = aoi.bbox
    inside = (bmin_lon >= w) & (bmax_lon <= e) & (bmin_lat >= s) & (bmax_lat <= n)
    overlap = (bmin_lon <= e) & (bmax_lon >= w) & (bmin_lat <= n) & (bmax_lat >= s)
    doc_rel = np.where(inside, 1, np.where(overlap, 2, 0)).astype(np.int8)
    if aoi.polygon is not None:
        from .aoi import bbox_vs_polygon

        for i in np.nonzero(doc_rel != 0)[0]:
            prel = bbox_vs_polygon(
                (bmin_lon[i], bmin_lat[i], bmax_lon[i], bmax_lat[i]), aoi.polygon
            )
            if prel == 0:
                doc_rel[i] = 0
            elif prel == 2 or doc_rel[i] == 2:
                doc_rel[i] = 2
    return doc_rel


def _points_in_aoi(lon_deg: np.ndarray, lat_deg: np.ndarray, aoi) -> np.ndarray:
    if aoi.polygon is not None:
        from ..geo.clip import points_in_polygon

        return points_in_polygon(lon_deg, lat_deg, aoi.polygon)
    w, s, e, n = aoi.bbox
    return (lon_deg >= w) & (lon_deg <= e) & (lat_deg >= s) & (lat_deg <= n)


# ---------------------------------------------------------------------------
# flat tables
# ---------------------------------------------------------------------------

def own_table(pdf: pd.DataFrame) -> dict:
    """Flat (all docs of the batch concatenated) own-version table + doc
    segmentation. `key` = doc_index·2^34 + ts is globally monotonic."""
    n_docs = len(pdf)
    lens = np.fromiter((len(v) for v in pdf["vts"]), dtype=np.int64, count=n_docs)
    o = {
        "n_docs": n_docs,
        "lens": lens,
        "starts": np.cumsum(lens) - lens,
        "ts": _flat_i64(pdf["vts"]),
        "version": _flat_i64(pdf["vversion"]),
        "visible": _flat_bool(pdf["vvisible"]),
        "changeset": _flat_i64(pdf["vchangeset"]),
        "uid": _flat_i64(pdf["vuid"]),
        "lon": _flat_i64(pdf["vlon"]),
        "lat": _flat_i64(pdf["vlat"]),
        "tags": _flat_str(pdf["vtags"]),
    }
    first = pdf["vmatch"].iloc[0]
    if first is not None and not (isinstance(first, float) and pd.isna(first)):
        o["match"] = _flat_bool(pdf["vmatch"])
    else:
        o["match"] = np.ones(len(o["ts"]), dtype=bool)
    o["doc_idx"] = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    o["key"] = o["doc_idx"] * _KEY + o["ts"]
    return o


def member_table(pdf: pd.DataFrame, kind: str) -> dict:
    """Batch-global typed member table of way or relation docs.

    Own refs (per own version: count + flat ids/types/roles) resolve to
    member SLOTS — one per embedded member, numbered in (doc, span) order —
    through the composite key (doc·3 + type)·n_ids + dense id rank: the
    type radix keeps node/way members sharing an id apart, ref type 2
    ('other', always a missing member) never matches, and no assumption
    about id magnitude is made. Each slot's (ts, version)-sorted history is
    a segment of the flat m_* arrays keyed slot·2^34 + ts. Way members
    (relations only) carry tags and their own node-ref lists."""
    rel = kind == "relation"
    p = "r" if rel else ""  # relation columns: the way names, 'r'-prefixed

    def col(name, fn=_flat_i64, **kw):
        return fn(pdf[p + name], **kw)

    refcnt, ref = col("vrefcnt"), col("vref")
    mem_id, m_lens = col("mid"), col("mvcnt")
    nm = np.fromiter((len(v) for v in pdf[p + "mid"]), dtype=np.int64, count=len(pdf))
    slot_of_ver = np.repeat(np.arange(len(mem_id), dtype=np.int64), m_lens)
    m = {
        "ts": col("mts"),
        "vis": col("mvis", _flat_bool),
        "lon": col("mlon", fill=_LON_SENTINEL),
        "lat": col("mlat", fill=_LON_SENTINEL),
        "cs": col("mcs"),
        "uid": col("muid"),
    }
    n_ver = len(m["ts"])
    if rel:
        reftype, refrole, mem_type = col("vreftype"), col("vrefrole", _flat_str), col("mtype")
        m["tags"] = col("mtags", _flat_str)
        m_refcnt, m_ref = col("mrefcnt"), col("mref")
        # sort member versions (ts, version) within each slot — one
        # lexsort over flat primitives instead of a JVM array_sort that
        # would re-materialize every member struct; a no-op permutation
        # (the usual already-sorted store) costs one comparison pass
        order = np.lexsort((col("mver"), m["ts"], slot_of_ver))
        if not np.array_equal(order, np.arange(n_ver)):
            m = {k: v[order] for k, v in m.items()}
            old_starts = np.cumsum(m_refcnt) - m_refcnt
            m_refcnt = m_refcnt[order]
            _, loc = _segments(m_refcnt)
            m_ref = m_ref[np.repeat(old_starts[order], m_refcnt) + loc]
    else:  # way docs: node members only, no roles
        reftype, refrole = np.zeros(len(ref), dtype=np.int64), None
        mem_type = np.zeros(len(mem_id), dtype=np.int64)
        m_refcnt, m_ref = np.zeros(n_ver, dtype=np.int64), np.empty(0, dtype=np.int64)
    mem_doc = np.repeat(np.arange(len(pdf), dtype=np.int64), nm)
    all_ids = np.unique(np.concatenate([mem_id, ref, m_ref]))
    mem_key = (mem_doc * 3 + mem_type) * max(len(all_ids), 1) + np.searchsorted(
        all_ids, mem_id
    )
    order = np.argsort(mem_key)
    m.update({
        "refcnt": refcnt,
        "ref": ref,
        "ref_starts": np.cumsum(refcnt) - refcnt,
        "reftype": reftype,
        "refrole": refrole,
        "mem_doc": mem_doc,
        "mem_type": mem_type,
        "m_lens": m_lens,
        "m_starts": np.cumsum(m_lens) - m_lens,
        "slot_of_ver": slot_of_ver,
        "key": slot_of_ver * _KEY + m["ts"],
        "m_refcnt": m_refcnt,
        "m_ref": m_ref,
        "m_ref_starts": np.cumsum(m_refcnt) - m_refcnt,
        "all_ids": all_ids,
        "sorted_mem_keys": mem_key[order],
        "mem_order": order,
    })
    return m


def member_slots(mt: dict, doc: np.ndarray, rtype: np.ndarray, rid: np.ndarray):
    """(slot, found) per (doc, ref type, id) — missing members (the
    reference's redaction/incomplete-extract case) report found=False."""
    sk = mt["sorted_mem_keys"]
    if len(sk) == 0:
        return np.zeros(len(doc), dtype=np.int64), np.zeros(len(doc), dtype=bool)
    keys = (doc * 3 + rtype) * max(len(mt["all_ids"]), 1) + np.searchsorted(
        mt["all_ids"], rid
    )
    pos = np.minimum(np.searchsorted(sk, keys), len(sk) - 1)
    found = sk[pos] == keys
    return np.where(found, mt["mem_order"][pos], 0), found


def member_asof(mt: dict, slot: np.ndarray, found: np.ndarray, t: np.ndarray):
    """(version index, exists) per (slot, t) — exists means the member HAS
    a version at or before t (the reference's `_asof is None` skip is
    ¬exists; visibility is the caller's geometry rule)."""
    if len(mt["key"]) == 0:
        return np.zeros(len(slot), dtype=np.int64), np.zeros(len(slot), dtype=bool)
    mp = asof(mt["key"], slot * _KEY + t)
    exists = found & (mp >= mt["m_starts"][slot])
    return np.where(exists, mp, 0), exists


def ref_rows(refcnt, ref_starts, idx):
    """(row, flat ref offset) of every ref of the versions `idx`."""
    rn = refcnt[idx]
    row, local = _segments(rn)
    return row, np.repeat(ref_starts[idx], rn) + local


# ---------------------------------------------------------------------------
# geometry: way ladder, component rows, exact compare, WKB
# ---------------------------------------------------------------------------

def area_flags(decider, parsed_tags: np.ndarray) -> tuple[np.ndarray, bool]:
    """(tags_area per tag dict, require_closed_refs) for the three built-in
    interpreters (BaseTagInterpreter.java:18-158 semantics); callers route
    custom deciders to the general path."""
    from .geometry_builder import AlwaysArea, DefaultTagInterpreter, NeverArea

    if isinstance(decider, AlwaysArea):
        return np.ones(len(parsed_tags), dtype=bool), False
    if isinstance(decider, NeverArea):
        return np.zeros(len(parsed_tags), dtype=bool), False
    assert isinstance(decider, DefaultTagInterpreter)
    return (
        np.fromiter(
            (decider._tags_area(t) for t in parsed_tags),
            dtype=bool,
            count=len(parsed_tags),
        ),
        True,
    )


def parse_tags(table: dict):
    """(parsed dict per distinct tag JSON, inverse index per version) of a
    flat table's `tags`, computed once per table — each distinct payload
    is parsed once (real tag payloads repeat a lot)."""
    if "tag_inv" not in table:
        uniq, inv = np.unique(table["tags"].astype(str), return_inverse=True)
        table["tag_dicts"] = np.array([json.loads(x) for x in uniq], dtype=object)
        table["tag_inv"] = inv
    return table["tag_dicts"], table["tag_inv"]


def way_ladder(mt, refcnt, ref, ref_starts, idx, doc, t, tagged, decider):
    """Way geometry per (version idx, doc, t) row: each node ref → the
    member node's as-of coordinate (missing, versionless, invisible and
    coordless members skipped, OSHDBGeometryBuilder._resolve refs, ref
    :87-93), then the ladder (ref :81-110): Polygon iff the decider says
    area (incl. the closed-ref-list precheck, BaseTagInterpreter.java:
    82-86) and the resolved ring closes (≥4 coords, first == last in
    fixed point), else LineString (≥2), Point (1) or empty Point (0).
    `tagged` is the table whose tags at `idx` decide the area. Returns
    (kind, ncoords, lon7, lat7, node_id) with coordinates grouped by row
    ascending; kinds are _wkb_write's codes."""
    row, off = ref_rows(refcnt, ref_starts, idx)
    rid = ref[off]
    slot, found = member_slots(mt, doc[row], np.zeros(len(rid), np.int64), rid)
    mp, valid = member_asof(mt, slot, found, t[row])
    v = np.nonzero(valid)[0]  # (a batch may embed no member at all)
    valid[v] = mt["vis"][mp[v]] & (mt["lon"][mp[v]] != _LON_SENTINEL)
    c_row = row[valid]
    lon7, lat7 = mt["lon"][mp[valid]], mt["lat"][mp[valid]]
    nc = np.bincount(c_row, minlength=len(idx)).astype(np.int64)
    cstart = np.cumsum(nc) - nc
    closed = np.zeros(len(idx), dtype=bool)
    nz = nc >= 4
    if nz.any():
        fi, li = cstart[nz], cstart[nz] + nc[nz] - 1
        closed[nz] = (lon7[fi] == lon7[li]) & (lat7[fi] == lat7[li])
    parsed, inv = parse_tags(tagged)
    tags_area, need_closed_refs = area_flags(decider, parsed)
    is_area = tags_area[inv[idx]]
    if need_closed_refs:
        rn = refcnt[idx]
        if len(ref):
            zero = rn == 0
            fr = ref[np.where(zero, 0, ref_starts[idx])]
            lr = ref[np.where(zero, 0, ref_starts[idx] + rn - 1)]
            is_area &= (rn >= 4) & (fr == lr)
        else:
            is_area &= False
    kind = np.select([is_area & closed, nc >= 2, nc == 1], [3, 2, 1], 0)
    return kind.astype(np.int64), nc, lon7, lat7, rid[valid]


def geom_rows(ncomp, kind, nc, lon7, lat7, nid=None, **extra) -> dict:
    """Component-list geometry: row r owns components
    comp_starts[r] .. +ncomp[r], component c owns coordinates
    cstart[c] .. +nc[c]; both stored in row order."""
    comp_row = np.repeat(np.arange(len(ncomp), dtype=np.int64), ncomp)
    row_nc = np.bincount(
        np.repeat(comp_row, nc), minlength=len(ncomp)
    ).astype(np.int64)
    return {
        "ncomp": ncomp,
        "comp_starts": np.cumsum(ncomp) - ncomp,
        "kind": kind,
        "nc": nc,
        "cstart": np.cumsum(nc) - nc,
        "lon7": lon7,
        "lat7": lat7,
        "nid": nid,
        "row_nc": row_nc,
        "row_coord_starts": np.cumsum(row_nc) - row_nc,
        "override": {},  # row → WKB replacing the encoded components
        **extra,
    }


def single_rows(kind, nc, lon7, lat7, nid=None) -> dict:
    """Rows of one component each (a point, or a resolved way)."""
    return geom_rows(np.ones(len(kind), dtype=np.int64), kind, nc, lon7, lat7, nid)


def _all_equal(eq: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per segment: are all of its `eq` entries true (lens > 0)."""
    return np.add.reduceat(eq.astype(np.int64), np.cumsum(lens) - lens) == lens


def geoms_differ(g: dict, ga: np.ndarray, gb: np.ndarray) -> np.ndarray:
    """Exact inequality of rows ga vs gb: component count, per-component
    kind and size, then fixed-point coordinates (≙ JTS equalsExact on the
    built degree coordinates, CellIterator.java:649-665). Rows with an
    override WKB compare by the final bytes instead: differing components
    can still assemble to equal rings."""
    neq = g["ncomp"][ga] != g["ncomp"][gb]
    pairs = np.nonzero(~neq & (g["ncomp"][ga] > 0))[0]
    if len(pairs):
        plen = g["ncomp"][ga[pairs]]
        pr, loc = _segments(plen)
        ia = g["comp_starts"][ga[pairs]][pr] + loc
        ib = g["comp_starts"][gb[pairs]][pr] + loc
        same = (g["kind"][ia] == g["kind"][ib]) & (g["nc"][ia] == g["nc"][ib])
        ok = _all_equal(same, plen)
        neq[pairs[~ok]] = True
        p3 = pairs[ok][g["row_nc"][ga[pairs[ok]]] > 0]
        if len(p3):
            clen = g["row_nc"][ga[p3]]
            cr, cloc = _segments(clen)
            ja = g["row_coord_starts"][ga[p3]][cr] + cloc
            jb = g["row_coord_starts"][gb[p3]][cr] + cloc
            ceq = (g["lon7"][ja] == g["lon7"][jb]) & (g["lat7"][ja] == g["lat7"][jb])
            neq[p3[~_all_equal(ceq, clen)]] = True
    ov = g["override"]
    if ov:
        involved = [i for i in range(len(ga)) if int(ga[i]) in ov or int(gb[i]) in ov]
        if involved:
            rows = np.unique(np.concatenate([ga[involved], gb[involved]]))
            w = dict(zip(rows.tolist(), geom_wkb(g, rows)))
            for i in involved:
                neq[i] = w[int(ga[i])] != w[int(gb[i])]
    return neq


_NAN_POINT = np.frombuffer(
    np.array([np.nan, np.nan], dtype="<f8").tobytes(), dtype=np.uint8
)


def _wkb_nbytes(kind: np.ndarray, ncoords: np.ndarray) -> np.ndarray:
    """Encoded byte length per component."""
    return np.select(
        [kind <= 1, kind == 2, kind == 4],
        [21, 9 + 16 * ncoords, 9],
        13 + 16 * ncoords,
    ).astype(np.int64)


def _put_u32(buf: np.ndarray, pos: np.ndarray, val: np.ndarray) -> None:
    for b in range(4):
        buf[pos + b] = (val >> (8 * b)) & 0xFF


def _wkb_write(buf, offs, kind, ncoords, c_comp, x, y) -> None:
    """Write each component's ISO little-endian WKB at buf[offs[c]:].
    kind: 0 empty Point, 1 Point, 2 LineString, 3 Polygon (single ring),
    4 empty LineString (invisible way members inside relation
    collections, OSHDBGeometryBuilder.java:83-84). Coordinates (x, y
    degrees) are grouped by component (c_comp ascending)."""
    buf[offs] = 1  # little-endian marker
    # geometry type code (u32 LE; codes < 256 so one byte suffices)
    buf[offs + 1] = np.select([kind == 0, kind == 4], [1, 2], kind)
    ls = kind == 2
    pg = kind == 3
    if ls.any():
        _put_u32(buf, offs[ls] + 5, ncoords[ls])
    if pg.any():
        _put_u32(buf, offs[pg] + 5, np.ones(int(pg.sum()), dtype=np.int64))
        _put_u32(buf, offs[pg] + 9, ncoords[pg])
    empty = kind == 0
    if empty.any():
        buf[offs[empty][:, None] + (5 + np.arange(16))[None, :]] = _NAN_POINT[None, :]
    if len(x):
        pair_u8 = (
            np.ascontiguousarray(np.stack([x, y], axis=1), dtype="<f8")
            .view(np.uint8)
            .reshape(-1, 16)
        )
        coord_base = offs + np.select([kind == 1, kind == 2], [5, 9], 13)
        local = np.arange(len(x), dtype=np.int64) - (np.cumsum(ncoords) - ncoords)[c_comp]
        dest = coord_base[c_comp] + 16 * local
        buf[dest[:, None] + np.arange(16)[None, :]] = pair_u8


def geom_wkb(g: dict, rows: np.ndarray) -> np.ndarray:
    """WKB per row of `rows` — byte-identical to geo.geom.to_wkb: the
    component itself for one-component rows without a collection flag,
    else a GeometryCollection whose components are written directly at
    their final positions (all offset math per component/coordinate)."""
    collection = g.get("collection", False)
    ncomp = g["ncomp"][rows]
    crow, loc = _segments(ncomp)
    cidx = g["comp_starts"][rows][crow] + loc
    kind, nc = g["kind"][cidx], g["nc"][cidx]
    nbytes = _wkb_nbytes(kind, nc)
    head = 9 if collection else 0
    payload = np.bincount(crow, weights=nbytes, minlength=len(rows)).astype(np.int64)
    row_total = head + payload
    row_offs = np.cumsum(row_total) - row_total
    comp_dst = row_offs[crow] + head + (np.cumsum(nbytes) - nbytes) - (
        np.cumsum(payload) - payload
    )[crow]
    c_comp, cloc = _segments(nc)
    src = g["cstart"][cidx][c_comp] + cloc
    buf = np.zeros(int(row_total.sum()), dtype=np.uint8)
    if collection:
        buf[row_offs] = 1  # little-endian marker
        buf[row_offs + 1] = 7  # GeometryCollection
        _put_u32(buf, row_offs + 5, ncomp)
    _wkb_write(buf, comp_dst, kind, nc, c_comp,
               g["lon7"][src] * 1e-7, g["lat7"][src] * 1e-7)
    out = np.empty(len(rows), dtype=object)
    out[:] = [buf[o : o + n].tobytes() for o, n in zip(row_offs, row_total)]
    if g["override"]:
        for i, r in enumerate(rows.tolist()):
            out[i] = g["override"].get(r, out[i])
    return out


def point_geometry(o: dict):
    """Geometry of node states: the as-of version's point."""
    def build(idx, doc, t):
        one = np.ones(len(idx), dtype=np.int64)
        return single_rows(one, one, o["lon"][idx], o["lat"][idx])

    return build


def way_geometry(o: dict, mt: dict, decider):
    """Geometry of way states: the ladder over the own version's refs."""
    return lambda idx, doc, t: single_rows(*way_ladder(
        mt, mt["refcnt"], mt["ref"], mt["ref_starts"], idx, doc, t, o, decider,
    ))


def point_presence(pdf: pd.DataFrame, o: dict, aoi):
    """Node presence in the AOI: the doc-level 3-state (bbox AOIs pruned
    disjoint docs JVM-side; polygon AOIs need the exact test here), then
    for boundary docs the exact point-in-AOI test (a point's "clip")."""
    doc_rel = _doc_rel_vec(pdf, aoi)

    def present(idx, doc, ok):
        ok &= doc_rel[doc] > 0
        b = np.nonzero(ok & (doc_rel[doc] == 2))[0]
        if len(b):
            ok[b] = _points_in_aoi(
                o["lon"][idx[b]] * 1e-7, o["lat"][idx[b]] * 1e-7, aoi
            )
        return ok

    return present


def has_refs(mt: dict):
    """Snapshot rule for ways/relations: zero-member versions are skipped
    (CellIterator.java:254-257)."""
    return lambda idx, doc, ok: ok & (mt["refcnt"][idx] > 0)


# ---------------------------------------------------------------------------
# the two views
# ---------------------------------------------------------------------------

def _frame(pdf, cols, sdoc, **values) -> pd.DataFrame:
    """Output frame: per-row values plus the doc-derived columns."""
    return pd.DataFrame(
        {
            **values,
            "id": pdf["id"].to_numpy(np.int64)[sdoc],
            "cell": _doc_tokens(pdf)[sdoc],
            "doc_id": pdf["doc_id"].to_numpy(object)[sdoc],
        },
        columns=cols,
    )


def snapshot_frame(pdf, entity_type, o, requested, with_geometry, geometry,
                   present=None) -> pd.DataFrame:
    """Snapshot rows (CellIterator.iterateByTimestamps): one per (doc,
    requested t) whose as-of own version is visible, matches the filter
    and passes `present`. Direct per-t computation matches the reference's
    queryTs carry-forward, because any own or member change between two
    requested timestamps is by construction a modification timestamp."""
    n_docs = o["n_docs"]
    row_doc = np.tile(np.arange(n_docs, dtype=np.int64), len(requested))
    row_t = np.repeat(np.asarray(requested, dtype=np.int64), n_docs)
    pos = asof(o["key"], row_doc * _KEY + row_t)
    ok = pos >= o["starts"][row_doc]
    p = np.where(ok, pos, 0)
    ok &= o["visible"][p] & o["match"][p]
    if present is not None:
        ok = present(p, row_doc, ok)
    sel = np.nonzero(ok)[0]
    if len(sel) == 0:
        return _empty_frame(_SNAP_COLS)
    ps, sdoc, st = pos[sel], row_doc[sel], row_t[sel]
    wkb = None
    if with_geometry:
        wkb = geom_wkb(geometry(ps, sdoc, st), np.arange(len(sel)))
    parsed, inv = parse_tags(o)
    return _frame(
        pdf, _SNAP_COLS, sdoc,
        ts=st,
        entity_type=entity_type,
        version=o["version"][ps].astype(np.int32),
        changeset=o["changeset"][ps],
        uid=o["uid"][ps].astype(np.int32),
        tags=parsed[inv[ps]],
        geom_wkb=wkb,
        geom_clipped_wkb=wkb,
    )


def _in_windows(win_slot, win_from, win_to, q_slot, q_ts) -> np.ndarray:
    """Keep the (slot, ts) queries covered by some [from, to]-inclusive
    window of that slot. Windows of one slot are sorted by `from` and
    non-overlapping except shared endpoints (membership windows derive
    from consecutive parent versions), so the last from ≤ ts decides."""
    if len(win_slot) == 0 or len(q_slot) == 0:
        return np.zeros(len(q_slot), dtype=bool)
    wkey = win_slot * _KEY + win_from
    order = np.argsort(wkey, kind="stable")
    pos = asof(wkey[order], q_slot * _KEY + q_ts)
    ok = pos >= 0
    w = order[np.where(ok, pos, 0)]
    return ok & (win_slot[w] == q_slot) & (q_ts <= win_to[w])


def _next_ts(ts, starts, lens) -> np.ndarray:
    """Next version's ts within each segment; INF after a segment's last."""
    nxt = np.full(len(ts), INF, dtype=np.int64)
    nxt[:-1] = ts[1:]
    nxt[_segment_ends(starts, lens, len(ts))[1]] = INF
    return nxt


def member_window_keys(o: dict, mt: dict, m: np.ndarray) -> np.ndarray:
    """State keys (doc·2^34 + ts) of member timestamps inside membership
    windows (OSHEntities.java:268-478 recursive dispatch).

    Windows [thisT, nextT] come from the MATCHING own versions (`m`,
    OSHEntities.java:335-367) × their refs. Node members contribute all
    their version timestamps (the node variant adds invisible ones too);
    way members of relations contribute their own transition timestamps
    plus their node children's timestamps inside the WAY's visible
    windows. Adjacent windows share endpoints, so the unmerged union
    selects the same timestamps as the merged one."""
    mver = np.nonzero(m & (mt["refcnt"] > 0))[0]
    row, off = ref_rows(mt["refcnt"], mt["ref_starts"], mver)
    slot, found = member_slots(
        mt, o["doc_idx"][mver][row], mt["reftype"][off], mt["ref"][off]
    )
    nxt = _next_ts(o["ts"], o["starts"], o["lens"])
    win = (slot[found], o["ts"][mver][row][found], nxt[mver][row][found])

    sov, m_ts, m_vis = mt["slot_of_ver"], mt["ts"], mt["vis"]
    ver_type = mt["mem_type"][sov]
    node_v = np.nonzero(ver_type == 0)[0]
    q_slot, q_ts = [sov[node_v]], [m_ts[node_v]]
    if (ver_type == 1).any():
        # way members: null-filter own transition timestamps
        first, _ = _segment_ends(mt["m_starts"], mt["m_lens"], len(sov))
        pv = np.zeros(len(sov), dtype=bool)
        pv[1:] = m_vis[:-1]
        pv[first] = False
        wkeep = np.nonzero((ver_type == 1) & (m_vis | pv))[0]
        q_slot.append(sov[wkeep])
        q_ts.append(m_ts[wkeep])
        # way → node children inside the way's visible-version windows;
        # windows of DIFFERENT owner ways over one child may overlap, so
        # the window search runs per (owner, child) pair
        wvis = np.nonzero((ver_type == 1) & m_vis & (mt["m_refcnt"] > 0))[0]
        wrow, woff = ref_rows(mt["m_refcnt"], mt["m_ref_starts"], wvis)
        cref = mt["m_ref"][woff]
        cslot, cfound = member_slots(
            mt, mt["mem_doc"][sov[wvis]][wrow], np.zeros(len(cref), np.int64), cref
        )
        if cfound.any():
            m_next = _next_ts(m_ts, mt["m_starts"], mt["m_lens"])
            n_slots = max(len(mt["mem_type"]), 1)
            pairs, pair_of = np.unique(
                sov[wvis][wrow][cfound] * n_slots + cslot[cfound],
                return_inverse=True,
            )
            child = pairs % n_slots
            prow, ploc = _segments(mt["m_lens"][child])
            pver = mt["m_starts"][child][prow] + ploc
            ok = _in_windows(
                pair_of, m_ts[wvis][wrow][cfound], m_next[wvis][wrow][cfound],
                prow, m_ts[pver],
            )
            q_slot.append(pairs[prow[ok]] // n_slots)
            q_ts.append(m_ts[pver[ok]])
    q_slot, q_ts = np.concatenate(q_slot), np.concatenate(q_ts)
    keep = _in_windows(*win, q_slot, q_ts)
    return mt["mem_doc"][q_slot[keep]] * _KEY + q_ts[keep]


def contribution_frame(pdf, entity_type, o, mt, t_first, t_last, with_geometry,
                       geometry, present=None) -> pd.DataFrame:
    """Contribution rows (CellIterator.iterateByContribution, :437-712),
    the reference's sequential prev-carry walk as lag comparisons over
    the batch-wide state list:

      states   = own filter-aware mod ts (match ∨ previous-version-matched,
                 OSHEntities.java:287-303) ∪ member_window_keys, one per
                 distinct (doc, ts), squashed by the changeset map (parent
                 put, last version wins > member putIfAbsent, first member
                 version in slot order wins; consecutive same-changeset
                 runs keep the LAST state, :115-170, 240-267)
      present  = as-of own version visible ∧ matching ∧ `present`
      CREATION = present ∧ ¬present(prev)      (incl. no prev)
      DELETION = ¬present ∧ present(prev)
      TAG/GEOM = present ∧ present(prev) ∧ diff (a row with an empty type
                 set when nothing changed, as the reference emits)

    `prev` is the last EMITTED state (consecutive non-present states do
    not advance it, :500-697). Emission is restricted to [t_first,
    t_last); the walk starts at the state before the first in-interval
    one (the skipOutput processing, :510-531). The contributor is the own
    uid when the entity itself changed at t, else the first member (slot
    order, then version order) with a version at exactly t
    (OSMContribution.java:211-257)."""
    vis, match, ts = o["visible"], o["match"], o["ts"]
    nv = len(ts)
    if nv == 0:
        return _empty_frame(_CONTRIB_COLS)
    # 1. filter-aware keep: matching versions + first transition-out
    m = vis & match
    pm = np.zeros(nv, dtype=bool)
    pm[1:] = m[:-1]
    pm[_segment_ends(o["starts"], o["lens"], nv)[0]] = False
    keys = [o["key"][m | pm]]
    mk = np.empty(0, dtype=np.int64)
    m_cs = m_uid = mk
    if mt is not None:
        keys.append(member_window_keys(o, mt, m))
        mk = mt["mem_doc"][mt["slot_of_ver"]] * _KEY + mt["ts"]
        m_cs, m_uid = mt["cs"], mt["uid"]
    state_key = np.unique(np.concatenate(keys))
    if len(state_key) == 0:
        return _empty_frame(_CONTRIB_COLS)

    # 2. changeset map + squash
    allk = np.concatenate([o["key"], mk])
    order = np.lexsort((
        np.concatenate([-np.arange(nv), np.arange(len(mk))]),
        np.concatenate([np.zeros(nv, np.int64), np.ones(len(mk), np.int64)]),
        allk,
    ))
    uk, ui = np.unique(allk[order], return_index=True)
    cs = np.concatenate([o["changeset"], m_cs])[order][ui]
    cs = cs[np.searchsorted(uk, state_key)]
    sdoc = state_key >> _TS_BITS
    drop = np.zeros(len(state_key), dtype=bool)
    drop[:-1] = (sdoc[:-1] == sdoc[1:]) & (cs[:-1] == cs[1:])
    state_key, sdoc, cs = state_key[~drop], sdoc[~drop], cs[~drop]
    t = state_key & _TS_MASK
    ns = len(state_key)

    # 3. as-of own version + presence
    a = asof(o["key"], state_key)
    pres = vis[a] & match[a]
    if present is not None:
        pres = present(a, sdoc, pres)

    # 4. presence lag from the per-doc walk start B
    s_first = np.ones(ns, dtype=bool)
    s_first[1:] = sdoc[1:] != sdoc[:-1]
    sidx = np.arange(ns, dtype=np.int64)
    inb = (t >= t_first) & (t < t_last)
    group_starts = np.nonzero(s_first)[0]
    fi_group = np.minimum.reduceat(np.where(inb, sidx, ns + 5), group_starts)
    bmap = np.maximum(fi_group - 1, group_starts)[np.cumsum(s_first) - 1]
    ppres = np.zeros(ns, dtype=bool)
    ppres[1:] = pres[:-1]
    ppres &= ~s_first & (sidx - 1 >= bmap)
    creation = pres & ~ppres
    deletion = ~pres & ~s_first & ppres
    both = pres & ppres

    # 5. last-emitted pointer: emitted = present states + the first
    # non-present one after a present one, from the walk start on
    emitted = (creation | deletion | both) & (sidx >= bmap)
    e_shift = np.full(ns, -1, dtype=np.int64)
    e_shift[1:] = np.where(emitted[:-1], sidx[:-1], -1)
    e_shift[s_first] = -1
    big = ns + 2
    acc = np.maximum.accumulate(sdoc * big + (e_shift + 1))
    has_prev = (acc // big == sdoc) & (acc % big > 0)
    prev = np.where(has_prev, acc % big - 1, 0)
    pa = a[prev]

    # 6. change types: order-insensitive tag compare + exact geometry
    parsed, inv = parse_tags(o)
    canon = np.array(
        [json.dumps(d, sort_keys=True) for d in parsed], dtype=object
    )[inv]
    gi = np.nonzero(pres)[0]
    g_of = np.full(ns, -1, dtype=np.int64)
    g_of[gi] = np.arange(len(gi))
    g = geometry(a[gi], sdoc[gi], t[gi])
    cmp = np.nonzero(both)[0]
    tag_chg = np.zeros(ns, dtype=bool)
    geom_chg = np.zeros(ns, dtype=bool)
    tag_chg[cmp] = canon[a[cmp]] != canon[pa[cmp]]
    geom_chg[cmp] = geoms_differ(g, g_of[cmp], g_of[prev[cmp]])

    sel = np.nonzero(emitted & inb)[0]
    if len(sel) == 0:
        return _empty_frame(_CONTRIB_COLS)
    key = (creation[sel] + 2 * deletion[sel] + 4 * geom_chg[sel]
           + 8 * tag_chg[sel].astype(np.int64))
    asel, pasel, hp = a[sel], pa[sel], has_prev[sel]

    # 7. contributor uid
    uid = o["uid"][asel].astype(np.int64)
    not_own = ts[asel] != t[sel]
    if not_own.any() and len(mk):
        morder = np.lexsort((np.arange(len(mk)), mk))
        mk_s = mk[morder]
        q = state_key[sel[not_own]]
        mpos = np.minimum(np.searchsorted(mk_s, q), len(mk_s) - 1)
        hit = mk_s[mpos] == q
        vals = uid[not_own]
        vals[hit] = m_uid[morder[mpos]][hit]
        uid[not_own] = vals

    # 8. WKB only for the states an emitted row references
    prev_present = (pres[prev] & has_prev)[sel]
    after, before = g_of[sel], g_of[prev[sel]]
    wkb = np.full(max(len(gi), 1), None, dtype=object)
    if with_geometry and len(gi):
        used = np.unique(np.concatenate(
            [after[pres[sel]], before[prev_present]]
        ))
        if len(used):
            wkb[used] = geom_wkb(g, used)
    geom_after = np.where(pres[sel], wkb[np.maximum(after, 0)], None)
    geom_before = np.where(prev_present, wkb[np.maximum(before, 0)], None)
    return _frame(
        pdf, _CONTRIB_COLS, sdoc[sel],
        ts=t[sel],
        entity_type=entity_type,
        contrib_types=[_TYPE_LUT[k] for k in key.tolist()],
        changeset=cs[sel],
        contributor_uid=uid.astype(np.int32),
        version_before=np.where(hp, o["version"][pasel].astype(object), None),
        version_after=o["version"][asel].astype(np.int32),
        tags_before=np.where(hp, parsed[inv[pasel]], None),
        tags_after=parsed[inv[asel]],
        geom_before_wkb=geom_before,
        geom_after_wkb=geom_after,
        geom_before_clipped_wkb=geom_before,
        geom_after_clipped_wkb=geom_after,
    )


# ---------------------------------------------------------------------------
# batch dispatch
# ---------------------------------------------------------------------------

def _route_way_fast(pdf: pd.DataFrame, way_mask: np.ndarray, aoi):
    """Refine the JVM way/relation-fast routing under a polygon AOI with
    the exact per-doc bbox_vs_polygon 3-state (the FastBboxIn/Outside-
    Polygon cull, CellIterator.java:182-215): fully-inside docs stay on
    the vectorized path, boundary docs demote to the general per-doc path
    (they need the exact clip), disjoint docs drop. Returns (vec_mask,
    demote_mask)."""
    if aoi.polygon is None or not way_mask.any():
        return way_mask, np.zeros(len(pdf), dtype=bool)
    rel = _doc_rel_vec(pdf[way_mask], aoi)
    idx = np.nonzero(way_mask)[0]
    vec = np.zeros(len(pdf), dtype=bool)
    dem = np.zeros(len(pdf), dtype=bool)
    vec[idx] = rel == 1
    dem[idx] = rel == 2
    return vec, dem


def dispatch(typed, schema, vectorized: dict, general, aoi):
    """mapInPandas over prepared docs: each batch's docs route by
    `fast_kind` to the vectorized kernel of their kind
    (``vectorized[kind](pdf)``) or, when unroutable or demoted at a
    polygon AOI's boundary, through ``general(row, token, out)`` one doc
    at a time."""
    cols = [f.name for f in schema.fields]

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fk = pdf["fast_kind"]
            gen = np.ones(len(pdf), dtype=bool)
            frames = []
            for kind, fn in vectorized.items():
                raw = (fk == kind).to_numpy()
                gen &= ~raw
                vec = raw
                if kind != "node":  # exact points never demote
                    vec, demote = _route_way_fast(pdf, raw, aoi)
                    gen |= demote
                if vec.any():
                    frames.append(fn(pdf[vec]))
            if gen.any():
                gpdf = pdf[gen]
                out: list[tuple] = []
                for row, tok in zip(gpdf.to_dict("records"), _doc_tokens(gpdf)):
                    general(row, tok, out)
                frames.append(pd.DataFrame(out, columns=cols))
            yield pd.concat(frames, ignore_index=True) if frames else _empty_frame(cols)

    return typed.mapInPandas(kernel, schema=schema)
