"""Snapshot view and the docs preparation both views share.

Spark plan shape (designed for 100 TB):

    parquet/iceberg scan of docs
      → Catalyst doc pre-filter (tag existence, type, id — pushed down)
      → JVM typed decode (higher-order fns; no shuffle)
      → JVM doc-bbox summary + bbox pre-filter (no shuffle)
      → mapInPandas kernel (narrow! one doc is self-contained, so
        reconstruction never shuffles; Arrow-batched): node, way and
        relation docs through the vectorized core (kernels.core), the
        rest through the general per-doc walk below
      → downstream groupBy/agg (the only shuffle, partial+final via AQE)

Kernel semantics ≙ CellIterator.iterateByTimestamps
(oshdb-util/.../celliterator/CellIterator.java:181-347): filter-aware
modification timestamps, the queryTs carry-forward optimization (geometry
computed once per changed state, O5), visibility/empty-member skips,
3-state AOI culling with boundary clipping, emit-if-nonempty.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..geo import cells
from ..geo import geom as G
from ..model import docs as docs_mod
from ..model import schemas
from .aoi import AOI
from .core import (  # noqa: F401 (_route_way_fast: routing tests import it here)
    _FP,
    _LON_SENTINEL,
    _route_way_fast,
    dispatch,
    has_refs,
    member_table,
    own_table,
    point_geometry,
    point_presence,
    snapshot_frame,
    way_geometry,
)
from .filters import compile_doc_prefilter, compile_python
from .geometry_builder import (
    DEFAULT_INTERPRETER,
    AlwaysArea,
    DefaultTagInterpreter,
    NeverArea,
    build_geometry,
)
from .temporal import (
    get_by_timestamps,
    mod_timestamps,
    query_timestamps,
    sort_versions,
)
from .relation_vec import rel_fast_mode, rels_snapshot_vec


def with_doc_bbox(typed: DataFrame) -> DataFrame:
    """Doc-level bbox summary columns (fixed-point), computed JVM-side over
    own versions ∪ embedded member versions — the analog of the OSH
    entity's stored bounding box used by the reference pre-filter
    (CellIterator.java:201-204). Reads member coords from `members`
    (LITE) and, when present, `membersR` (the relation fast path's full
    decode — those docs carry NO LITE members, avoiding a double parse)."""
    mr = (
        ", flatten(transform(coalesce(membersR, array()),"
        " m -> m.versions.lon))"
        if "membersR" in typed.columns
        else ""
    )
    mr_lat = mr.replace(".lon", ".lat")
    all_lons = (
        "concat(versions.lon, flatten(transform(coalesce(members, array()),"
        f" m -> m.versions.lon)){mr})"
    )
    all_lats = (
        "concat(versions.lat, flatten(transform(coalesce(members, array()),"
        f" m -> m.versions.lat)){mr_lat})"
    )
    return (
        typed.withColumn("_lons", F.expr(f"filter({all_lons}, x -> x is not null)"))
        .withColumn("_lats", F.expr(f"filter({all_lats}, x -> x is not null)"))
        .withColumn("bbox_min_lon", F.expr("array_min(_lons)"))
        .withColumn("bbox_max_lon", F.expr("array_max(_lons)"))
        .withColumn("bbox_min_lat", F.expr("array_min(_lats)"))
        .withColumn("bbox_max_lat", F.expr("array_max(_lats)"))
        .drop("_lons", "_lats")
    )


# ISO span timestamps carry an explicit zone ('Z'), so the plain string →
# timestamp CAST parses them TZ-independently — and takes Spark's fast
# ISO-8601 parse path instead of the DateTimeFormatter one (measured ~2×
# on the member-history decode). Sorting uses array_sort's NATURAL struct
# ordering over (ts, version)-keyed structs: the fixed-width UTC ISO string
# is chronological under lexicographic order, and natural ordering avoids
# the interpreted per-comparison lambda of a custom comparator.
_TS_PARSE = "unix_timestamp(cast({0}.ts as timestamp))"
# reduced member-version struct: only the fields the way kernel needs and
# every type orderable (no map/array), so array_sort's NATURAL ordering —
# (ts, ver) leading, fixed-width ISO strings are chronological — applies;
# extra tiebreak fields only reorder exact (ts, version) duplicates
_MSORT = (
    "transform(members, m -> array_sort(transform(m.versions,"
    " v -> struct(v.ts as ts, v.version as ver, v.visible as vis,"
    " v.lon as lon, v.lat as lat, v.changeset as cs, v.uid as uid))))"
)


def prepared_docs(
    docs: DataFrame,
    filter_spec=None,
    aoi: AOI | None = None,
    fast_arrays: bool = False,
    fast_ways: bool = False,
    fast_rels: str | None = None,
    store_mode: bool = False,
) -> DataFrame:
    """Summarized + JVM-pre-filtered docs (shared by both views).

    The typed decode runs JVM-side for pre-filtering and bbox summaries,
    but the kernel input carries only Arrow-safe columns (raw spans +
    scalars): shipping array<struct<...map...>> through the Arrow channel
    segfaults pyarrow's arrow_to_pandas, so version/member JSON is parsed
    in the kernel instead.

    With ``fast_arrays=True``, docs the vectorized core (kernels.core)
    can take additionally carry their version fields as JVM-parsed
    PRIMITIVE parallel arrays (vts, vlon, ... — Arrow-safe, no nested
    maps) and, where they can never reach the general path, NULL spans.
    Tag filters are evaluated JVM-side into a ``vmatch`` boolean array
    (the analog of fusing the reference's exact filters into the scan).
    The column `fast_kind` ('node' | 'way' | 'relation' | null) routes
    each doc:

    - 'node': member-less node docs, at any AOI (the kernel's point test
      is exact).
    - 'way' (with ``fast_ways``): way docs whose members are all nodes
      and whose doc bbox is inside the AOI bbox. They also get flat member
      arrays: per-version ref-id lists flattened to (vref, vrefcnt) and
      per-member sorted version histories flattened to (mid, mvcnt, mts,
      mvis, mlon, mlat, mcs, muid) — one np.concatenate per column
      rebuilds the batch-global member table.
    - 'relation' (with ``fast_rels``, the area-decider mode of
      relation_vec.rel_fast_mode): relation docs whose members are nodes
      and ways, under the same bbox condition, with TWO-LEVEL member
      tables: own refs keep their type and role (rvref/rvreftype/
      rvrefrole), member histories carry way tags + ref-id lists (rm*
      columns), so the kernel resolves relation→way-member→node-member
      as-of joins with pure searchsorted.

    Under a polygon AOI, way and relation docs crossing the polygon's
    boundary demote to the general path in the kernel (the exact
    bbox_vs_polygon 3-state), so they keep their spans. Python filters
    route every doc to the general path.
    """
    pre = compile_doc_prefilter(filter_spec)
    has_py = any(s[0] == "py" for s in (filter_spec or []))
    # FLAT-STORE input (plans.layout.write_typed_store): the heavy decode
    # (from_json, ts parse, member flattening, member-version sorting) ran
    # ONCE at ETL time — the store carries the kernel-ready flat primitive
    # arrays, the raw spans (general path), and the sorted nested
    # `versions` column (SQL path / vmatch / prefilter; Catalyst prunes it
    # when unreferenced). Deeply nested `members` is deliberately NOT
    # stored: array<struct<…versions:array<struct<tags:map…>>>> defeats
    # both the parquet nested reader and the Arrow transfer (measured 40×
    # slower than the flat layout on member-heavy docs).
    if "flat_kind" in docs.columns:
        return _flat_store_docs(
            docs, filter_spec, aoi, fast_arrays, fast_ways, fast_rels,
            has_py, pre,
        )
    # NATIVE-TYPED derived docs (model.history): entity_type/id/versions/
    # members are already struct columns built by the same expressions
    # whose to_json produced the spans — no from_json anywhere on this
    # path, and Catalyst materializes the to_json spans only for rows the
    # general path actually reads
    native = {"versions", "members", "entity_type", "id"} <= set(docs.columns)
    # RAW docs input: versions sort happens AFTER the barrier over a bound
    # column (index natural-sort) — the comparator-lambda sort in
    # typed_docs runs interpreted per comparison; downstream consumers
    # here either sort later (fast arrays) or are order-insensitive
    # (bbox, general kernel re-sorts in python)
    typed = docs_mod.typed_docs(docs, sort=False)
    # member-less node docs ALWAYS take the vectorized path (they never
    # demote), so their raw spans can be dropped right here instead of
    # being copied through every projection below
    memberless = (
        F.expr("size(members) = 0")
        if native
        else ~F.expr("exists(spans, s -> s.kind = 'member')")
    )
    spans_out = F.col("spans")
    if fast_arrays and not has_py and not store_mode:
        spans_out = F.when(
            ~((F.col("entity_type") == "node") & memberless),
            F.col("spans"),
        )
    # materialization barrier: a nondeterministic column blocks
    # ProjectCollapse, so the from_json decode of versions/members is
    # evaluated ONCE per row here instead of being re-inlined into every
    # downstream array column (lambda-bearing expressions are excluded
    # from codegen subexpression elimination — without the barrier the
    # wide fast-array projection re-decodes the doc ~18×). Members decode
    # with the LITE schema: neither the bbox summary nor the flat member
    # tables need member tags/refs, and from_json skips absent fields.
    if native:
        # struct re-projection instead of JSON parse: select the LITE /
        # REL field subsets straight off the native member structs
        lite_decode = (
            "transform(members, m -> named_struct("
            "'entity_type', m.entity_type, 'id', m.id,"
            " 'versions', transform(m.versions, v -> named_struct("
            "'version', v.version, 'visible', v.visible, 'ts', v.ts,"
            " 'changeset', v.changeset, 'uid', v.uid,"
            " 'lon', v.lon, 'lat', v.lat))))"
        )
        rel_decode = (
            "transform(members, m -> named_struct("
            "'entity_type', m.entity_type, 'id', m.id,"
            " 'versions', transform(m.versions, v -> named_struct("
            "'version', v.version, 'visible', v.visible, 'ts', v.ts,"
            " 'changeset', v.changeset, 'uid', v.uid, 'tags', v.tags,"
            " 'lon', v.lon, 'lat', v.lat,"
            " 'refs', transform(v.refs, r -> named_struct('ref', r.ref))))))"
        )
    else:
        lite_decode = (
            "transform(filter(spans, s -> s.kind = 'member'),"
            f" s -> from_json(s.text, '{schemas.MEMBER_LITE.simpleString()}'))"
        )
        rel_decode = (
            "transform(filter(spans, s -> s.kind = 'member'),"
            f" s -> from_json(s.text, '{schemas.MEMBER_REL.simpleString()}'))"
        )
    if not fast_rels:
        first_barrier = [
            "doc_id", "entity_type", "id",
            spans_out.alias("spans"),
            "versions",
            F.expr(lite_decode).alias("members"),
        ]
    else:
        # relation docs decode members ONCE with the full REL schema
        # (tags + ref ids for the 2-level flat tables) and carry NO LITE
        # members; everything downstream (bbox summary, way tables) reads
        # whichever column its doc kind populates — single barrier, no
        # double JSON parse, no extra projection on the non-relation path.
        first_barrier = [
            "doc_id", "entity_type", "id",
            spans_out.alias("spans"),
            "versions",
            F.expr(
                "case when entity_type = 'relation' then"
                f" {rel_decode}"
                " end"
            ).alias("membersR"),
            F.expr(
                f"case when entity_type <> 'relation' then {lite_decode} end"
            ).alias("members"),
        ]
    typed = typed.select(
        *first_barrier,
        F.monotonically_increasing_id().alias("_barrier"),
    )
    # doc pre-filter evaluated on the BOUND arrays (post-barrier): the
    # exists() predicate can never push into a parquet scan anyway (it
    # reads decoded JSON), and evaluating it below the barrier paid a
    # second full decode of every row
    if pre is not None:
        typed = typed.filter(pre)
    typed = _aoi_prefilter(with_doc_bbox(typed), aoi)
    if not fast_arrays:
        return typed.select(*_BASE, "spans")
    return _fast_projection(
        typed, filter_spec, aoi, fast_ways, fast_rels, has_py, store_mode,
    )


# flat-array column groups shared by the read-time projection and the
# flat store (same names, same element types — the store is literally the
# materialized projection)
_V_COLS = [
    "vts", "vversion", "vvisible", "vchangeset", "vuid", "vlon", "vlat",
    "vtags",
]
_W_COLS = [
    "vrefcnt", "vref", "mid", "mvcnt", "mts", "mvis", "mlon", "mlat",
    "mcs", "muid",
]
_R_COLS = [
    "rvrefcnt", "rvref", "rvreftype", "rvrefrole", "rmid", "rmtype",
    "rmvcnt", "rmts", "rmver", "rmvis", "rmlon", "rmlat", "rmcs", "rmuid",
    "rmtags", "rmrefcnt", "rmref",
]


_BASE = [
    "doc_id", "entity_type", "id",
    "bbox_min_lon", "bbox_min_lat", "bbox_max_lon", "bbox_max_lat",
]


def _fast_kind():
    return (
        F.when(F.col("_fastn"), F.lit("node"))
        .when(F.col("_fastw"), F.lit("way"))
        .when(F.col("_fastr"), F.lit("relation"))
    )


def _bbox_pred(aoi: AOI | None, inside: bool):
    """Doc-bbox test against the AOI bbox (fixed point): fully inside, or
    overlapping; None for no/world AOI."""
    if aoi is None or aoi.is_world:
        return None
    w, s, e, n = (int(x * _FP) for x in aoi.bbox)
    if inside:
        return ((F.col("bbox_min_lon") >= w) & (F.col("bbox_max_lon") <= e)
                & (F.col("bbox_min_lat") >= s) & (F.col("bbox_max_lat") <= n))
    return ((F.col("bbox_min_lon") <= e) & (F.col("bbox_max_lon") >= w)
            & (F.col("bbox_min_lat") <= n) & (F.col("bbox_max_lat") >= s))


def _aoi_prefilter(typed: DataFrame, aoi: AOI | None) -> DataFrame:
    overlap = _bbox_pred(aoi, inside=False)
    return typed if overlap is None else typed.filter(overlap)


def _routing_flags(typed, node, way, rel, aoi, fast_ways, fast_rels, has_py):
    """Add the routing columns _fastn/_fastw/_fastr/_fast from the
    structural eligibility of each kind. Ways and relations take the
    vectorized core only when their doc bbox is fully inside the AOI bbox
    (no clip step); for a polygon AOI this test is only NECESSARY — the
    kernel refines with the exact bbox_vs_polygon 3-state and demotes
    boundary docs (they keep their spans, see _spans_keep). Python
    filters route every doc to the general path."""
    inside = _bbox_pred(aoi, inside=True)
    if inside is not None:
        way, rel = way & inside, rel & inside
    off = F.lit(False)
    if has_py:
        node = off
    if has_py or not fast_ways:
        way = off
    if has_py or not fast_rels:
        rel = off
    return (
        typed.withColumn("_fastn", node)
        .withColumn("_fastw", way)
        .withColumn("_fastr", rel)
        .withColumn("_fast", F.col("_fastn") | F.col("_fastw") | F.col("_fastr"))
    )


def _spans_keep(aoi: AOI | None):
    """Docs that may reach the general path keep their raw spans: all but
    the vectorized ones, and under a polygon AOI also vectorized ways and
    relations (they demote at its boundary); nodes never demote, their
    polygon test is exact in the vectorized path."""
    if aoi is not None and aoi.polygon is not None:
        return ~F.col("_fastn")
    return ~F.col("_fast")


def _vmatch_sql(filter_spec) -> str | None:
    """Per-version filter match, evaluated JVM-side (the analog of fusing
    the reference's exact filters into the scan)."""
    from .filters import _version_pred_sql

    preds = [p for s in (filter_spec or []) for p in [_version_pred_sql(s)] if p]
    if not preds:
        return None
    conj = " and ".join(f"({p})" for p in preds)
    return f"transform(versions, v -> coalesce({conj}, false))"


def _flat_store_docs(
    docs: DataFrame,
    filter_spec,
    aoi: AOI | None,
    fast_arrays: bool,
    fast_ways: bool,
    fast_rels: str | None,
    has_py: bool,
    pre,
) -> DataFrame:
    """prepared_docs over the FLAT STORE: zero decode — only routing
    flags, the filter's vmatch, and when()-gating of the stored arrays.
    Output schema is identical to the raw-docs projection, so the kernels
    cannot tell the inputs apart. Structural routing facts were frozen at
    ETL time as `flat_kind` ('node' memberless / 'way' all-node-members /
    'relation' node-way-members / null) and `has_mp_type`; query-dependent
    conditions (AOI bbox containment, python filters, decider mode)
    compose on top here."""
    typed = docs
    if pre is not None:
        typed = typed.filter(pre)
    typed = _aoi_prefilter(typed, aoi)
    if not fast_arrays:
        return typed.select(*_BASE, "spans")
    # eqNullSafe: flat_kind is NULL for structurally-unroutable docs, and
    # a plain == would propagate that NULL into _fast and silently null
    # out the spans gate (dropping the doc from the general path)
    kind = F.col("flat_kind")
    typed = _routing_flags(
        typed, kind.eqNullSafe("node"), kind.eqNullSafe("way"),
        kind.eqNullSafe("relation"), aoi, fast_ways, fast_rels, has_py,
    )
    match_expr = _vmatch_sql(filter_spec)
    out_cols = [
        *_BASE,
        F.when(_spans_keep(aoi), F.col("spans")).alias("spans"),
        _fast_kind().alias("fast_kind"),
        *[F.when(F.col("_fast"), F.col(c)).alias(c) for c in _V_COLS],
        (
            F.when(F.col("_fast"), F.expr(match_expr))
            if match_expr
            else F.lit(None).cast("array<boolean>")
        ).alias("vmatch"),
        *[F.when(F.col("_fastw"), F.col(c)).alias(c) for c in _W_COLS],
    ]
    if fast_rels:
        out_cols += [
            F.when(F.col("_fastr"), F.col(c)).alias(c) for c in _R_COLS
        ]
    return typed.select(*out_cols)


def _fast_projection(
    typed: DataFrame,
    filter_spec,
    aoi: AOI | None,
    fast_ways: bool,
    fast_rels: str | None,
    has_py: bool,
    store_mode: bool = False,
) -> DataFrame:
    """Fast-kind routing flags + flat-array projection over JSON-decoded
    raw docs. With ``store_mode`` (plans.layout.write_typed_store), the
    projection becomes the ETL encoder for the flat store: flat arrays
    are UNGATED (computed for every doc of the right shape), spans ride
    through for all docs, routing facts are emitted as the structural
    `flat_kind` + `has_mp_type` columns, and the sorted nested `versions`
    column is kept for the SQL path — so a query over the store replays
    only _flat_store_docs' cheap gating, never this decode."""
    # relation fast path: members are node/way only (multipolygon-typed
    # versions are assembled IN the vectorized kernel, with the
    # geometry-collection fallback). coalesce: IN over a missing map key
    # is NULL, and exists() over nulls is NULL — which would silently
    # null out _fast and drop the doc from every path
    typed = _routing_flags(
        typed,
        (F.col("entity_type") == "node") & (F.size("members") == 0),
        (F.col("entity_type") == "way")
        & ~F.expr("exists(members, m -> m.entity_type <> 'node')"),
        (F.col("entity_type") == "relation") & ~F.expr(
            "exists(membersR,"
            " m -> not coalesce(m.entity_type in ('node', 'way'), false))"
        ),
        aoi, fast_ways, fast_rels, has_py,
    )
    # the store keeps every doc's spans: a later query may route ANY doc
    # to the general path (python filters)
    spans_keep = F.lit(True) if store_mode else _spans_keep(aoi)
    # second barrier: sort the OWN versions (index natural-sort over the
    # bound array — struct(ts, ver, i) keys are fully orderable, then
    # gather by i; no interpreted comparator, no re-decode) and
    # materialize the sorted member histories (they feed 7 flat member
    # columns below).
    sorted_versions = F.expr(
        "transform(array_sort(transform(versions,"
        " (v, i) -> struct(v.ts as ts, v.version as ver, i as i))),"
        " k -> versions[k.i])"
    )
    others = [c for c in typed.columns if c != "versions"]
    second_barrier = [
        *others,
        sorted_versions.alias("versions"),
        (
            F.when(F.col("_fastw"), F.expr(_MSORT))
            if fast_ways
            else F.lit(None).cast(
                "array<array<struct<ts:string,ver:int,vis:boolean,"
                "lon:bigint,lat:bigint,cs:bigint,uid:int>>>"
            )
        ).alias("_ms"),
    ]
    # relation member versions are NOT sorted JVM-side: an array_sort
    # index-gather would re-materialize every member struct (tags maps +
    # ref arrays) a second time; the kernel's core.member_table sorts the
    # flat primitive arrays with one numpy lexsort instead (free when the
    # store is already version-ordered).
    typed = typed.select(
        *second_barrier,
        F.monotonically_increasing_id().alias("_barrier2"),
    )

    def arr(expr_sql: str):
        # store mode: UNGATED — every doc's flat arrays are materialized
        # (a later query decides which docs run fast; general-path docs
        # simply get them re-gated to null at read time)
        if store_mode:
            return F.expr(expr_sql)
        return F.when(F.col("_fast"), F.expr(expr_sql))

    def warr(expr_sql: str):
        return F.when(F.col("_fastw"), F.expr(expr_sql))

    ts_expr = (
        "transform(versions, v -> " + _TS_PARSE.format("v") + ")"
    )
    match_expr = _vmatch_sql(filter_spec)
    mem_ts = (
        "flatten(transform(_ms, vs -> transform(vs, v -> "
        + _TS_PARSE.format("v")
        + ")))"
    )
    out_cols = [
        *_BASE,
        F.when(spans_keep, F.col("spans")).alias("spans"),
        _fast_kind().alias("flat_kind" if store_mode else "fast_kind"),
        arr(ts_expr).alias("vts"),
        arr("versions.version").alias("vversion"),
        arr("versions.visible").alias("vvisible"),
        arr("versions.changeset").alias("vchangeset"),
        arr("versions.uid").alias("vuid"),
        arr("versions.lon").alias("vlon"),
        arr("versions.lat").alias("vlat"),
        arr("transform(versions, v -> to_json(v.tags))").alias("vtags"),
    ]
    if not store_mode:
        out_cols.append(
            (
                arr(match_expr)
                if match_expr
                else F.lit(None).cast("array<boolean>")
            ).alias("vmatch")
        )
    out_cols += [
        # way fast-path extras: per-version refs + flat member histories
        warr(
            "transform(versions, v -> size(coalesce(v.refs, array())))"
        ).alias("vrefcnt"),
        warr(
            "flatten(transform(versions,"
            " v -> transform(coalesce(v.refs, array()), r -> r.ref)))"
        ).alias("vref"),
        warr("transform(members, m -> m.id)").alias("mid"),
        warr("transform(_ms, vs -> size(vs))").alias("mvcnt"),
        warr(mem_ts).alias("mts"),
        warr("flatten(transform(_ms, vs -> vs.vis))").alias("mvis"),
        warr(
            "flatten(transform(_ms, vs -> transform(vs,"
            f" v -> coalesce(v.lon, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("mlon"),
        warr(
            "flatten(transform(_ms, vs -> transform(vs,"
            f" v -> coalesce(v.lat, cast({_LON_SENTINEL} as bigint)))))"
        ).alias("mlat"),
        warr("flatten(transform(_ms, vs -> vs.cs))").alias("mcs"),
        warr("flatten(transform(_ms, vs -> vs.uid))").alias("muid"),
    ]
    if fast_rels:

        def rarr(expr_sql: str):
            return F.when(F.col("_fastr"), F.expr(expr_sql))

        rmem_ts = (
            "flatten(transform(membersR, m -> transform(m.versions, v -> "
            + _TS_PARSE.format("v")
            + ")))"
        )
        out_cols += [
            # relation own refs keep their TYPE (node/way/other) so the
            # kernel resolves each to the right member table
            rarr(
                "transform(versions, v -> size(coalesce(v.refs, array())))"
            ).alias("rvrefcnt"),
            rarr(
                "flatten(transform(versions,"
                " v -> transform(coalesce(v.refs, array()), r -> r.ref)))"
            ).alias("rvref"),
            rarr(
                "flatten(transform(versions,"
                " v -> transform(coalesce(v.refs, array()),"
                " r -> case when r.type = 'node' then 0"
                " when r.type = 'way' then 1 else 2 end)))"
            ).alias("rvreftype"),
            # roles feed the multipolygon outer/inner split
            # (BaseTagInterpreter.java:139-151 via the area decider)
            rarr(
                "flatten(transform(versions,"
                " v -> transform(coalesce(v.refs, array()),"
                " r -> coalesce(r.role, ''))))"
            ).alias("rvrefrole"),
            rarr("transform(membersR, m -> m.id)").alias("rmid"),
            rarr(
                "transform(membersR,"
                " m -> case when m.entity_type = 'node' then 0 else 1 end)"
            ).alias("rmtype"),
            rarr("transform(membersR, m -> size(m.versions))").alias("rmvcnt"),
            rarr(rmem_ts).alias("rmts"),
            rarr(
                "flatten(transform(membersR, m -> m.versions.version))"
            ).alias("rmver"),
            rarr(
                "flatten(transform(membersR, m -> m.versions.visible))"
            ).alias("rmvis"),
            rarr(
                "flatten(transform(membersR, m -> transform(m.versions,"
                f" v -> coalesce(v.lon, cast({_LON_SENTINEL} as bigint)))))"
            ).alias("rmlon"),
            rarr(
                "flatten(transform(membersR, m -> transform(m.versions,"
                f" v -> coalesce(v.lat, cast({_LON_SENTINEL} as bigint)))))"
            ).alias("rmlat"),
            rarr(
                "flatten(transform(membersR, m -> m.versions.changeset))"
            ).alias("rmcs"),
            rarr(
                "flatten(transform(membersR, m -> m.versions.uid))"
            ).alias("rmuid"),
            # tags ride only for WAY member versions (the area decision);
            # node member tags are never read by the kernel — nulls keep
            # the flat offsets aligned without per-version to_json cost
            rarr(
                "flatten(transform(membersR, m ->"
                " case when m.entity_type = 'way'"
                " then transform(m.versions, v -> to_json(v.tags))"
                " else transform(m.versions, v -> cast(null as string)) end))"
            ).alias("rmtags"),
            # third level: way-member version ref-id lists (flat)
            rarr(
                "flatten(transform(membersR, m -> transform(m.versions,"
                " v -> size(coalesce(v.refs, array())))))"
            ).alias("rmrefcnt"),
            rarr(
                "flatten(transform(membersR, m -> flatten(transform("
                "m.versions,"
                " v -> transform(coalesce(v.refs, array()), r -> r.ref)))))"
            ).alias("rmref"),
        ]
    if store_mode:
        # the sorted nested versions ride along for the SQL path
        # (versions_table) and read-time vmatch/prefilter; structural
        # has_mp_type lets mode-'default' queries rule out multipolygon
        # assembly without touching the nested column
        out_cols += [
            F.col("versions"),
            F.expr(
                "exists(versions, v -> coalesce("
                "v.tags['type'] in ('multipolygon', 'boundary'), false))"
            ).alias("has_mp_type"),
        ]
    return typed.select(*out_cols)


def _doc_structs(row, token=None):
    """Arrow row → (versions, members_by_key, fbbox_degrees, cell_token).

    Parses version/member spans from their JSON payloads (the spans array
    itself is Arrow-safe; parsed nested structs with maps are not).

    Kernels pass the doc's cell token precomputed (one batched
    _doc_tokens call per batch — the per-doc single-element vectorized
    call was 1/3 of the whole general path); token=None computes it here
    (direct test callers)."""
    import json

    versions = []
    members = []
    spans = row["spans"]
    if len(spans) and not isinstance(spans[0], dict):
        spans = [
            {"kind": s["kind"], "text": s["text"]}
            if isinstance(s, dict)
            else {"kind": s.kind, "text": s.text}
            for s in spans
        ]
    for s in spans:
        if s["kind"] == "version":
            versions.append(json.loads(s["text"]))
        elif s["kind"] == "member":
            members.append(json.loads(s["text"]))
    versions = sort_versions(versions)
    members_by_key = {(m["entity_type"], m["id"]): m for m in members}
    if row["bbox_min_lon"] is None or pd.isna(row["bbox_min_lon"]):
        fbbox = None
        token = ""
    else:
        fbbox = (
            row["bbox_min_lon"] / _FP,
            row["bbox_min_lat"] / _FP,
            row["bbox_max_lon"] / _FP,
            row["bbox_max_lat"] / _FP,
        )
        if token is None:
            token = cells.token_of_bboxes(
                np.array([row["bbox_min_lon"]], dtype=np.int64),
                np.array([row["bbox_min_lat"]], dtype=np.int64),
                np.array([row["bbox_max_lon"]], dtype=np.int64),
                np.array([row["bbox_max_lat"]], dtype=np.int64),
            )[0]
    return versions, members_by_key, fbbox, token


def _normalize_ts(versions):
    """Version dicts carry ISO strings from JSON; kernels need unix secs."""
    from ..model.synth import unix

    for v in versions:
        if isinstance(v.get("ts"), str):
            v["ts"] = unix(v["ts"])
    return versions


def _nodes_snapshot_vec(
    pdf: pd.DataFrame, requested: list[int], aoi: AOI, with_geometry: bool
) -> pd.DataFrame:
    """Vectorized snapshot kernel for member-less node docs: the point
    geometry comes straight from the as-of state (the queryTs/O5 reuse
    rule is subsumed), boundary docs get the exact point-in-AOI test."""
    o = own_table(pdf)
    return snapshot_frame(pdf, "node", o, requested, with_geometry,
                          point_geometry(o), point_presence(pdf, o, aoi))


def _ways_snapshot_vec(
    pdf: pd.DataFrame, requested: list[int], with_geometry: bool, decider
) -> pd.DataFrame:
    """Vectorized snapshot kernel for fully-inside WAY docs: a row exists
    at t iff the as-of own version is visible, matches and has refs; its
    geometry resolves each ref to the member node's as-of state."""
    o, mt = own_table(pdf), member_table(pdf, "way")
    return snapshot_frame(pdf, "way", o, requested, with_geometry,
                          way_geometry(o, mt, decider), has_refs(mt))


def _vectorizable_decider(decider) -> bool:
    return type(decider) in (DefaultTagInterpreter, AlwaysArea, NeverArea)


def _allowed_types(filter_spec) -> set[str] | None:
    """Entity types a filter_spec can match (None = unrestricted) — used
    to skip building member-table projections a query can never touch
    (a type_in('node') query pays nothing for way/relation machinery)."""
    types = None
    for s in filter_spec or []:
        if s[0] == "type_in":
            types = set(s[1]) if types is None else types & set(s[1])
    return types


def _kernel_input(docs: DataFrame, filter_spec, aoi: AOI, decider) -> DataFrame:
    """prepared_docs as both views feed it to the vectorized core: way
    tables when the area decider is a vectorizable built-in, relation
    tables per relation_vec.rel_fast_mode, and neither for a query whose
    type filter excludes that kind."""
    types = _allowed_types(filter_spec)
    return prepared_docs(
        docs, filter_spec, aoi, fast_arrays=True,
        fast_ways=_vectorizable_decider(decider)
        and (types is None or "way" in types),
        fast_rels=rel_fast_mode(decider)
        if types is None or "relation" in types else None,
    )


def snapshots(
    docs: DataFrame,
    timestamps: list[int],
    bbox=None,
    polygon=None,
    filter_spec=None,
    area_decider=None,
    with_geometry: bool = True,
) -> DataFrame:
    """The snapshot view: one row per (entity, requested timestamp) where
    the entity exists, is visible, matches the filter, and intersects the
    AOI. Returns a DataFrame with schema model.schemas.SNAPSHOTS.

    Node, way and relation docs the vectorized core can take (see
    prepared_docs) run through it batch-wide, at any AOI — under a polygon
    AOI, ways and relations crossing its boundary need the exact clip and
    demote; python-filtered docs, custom area deciders and nested
    relations take the general per-doc walk (_emit_doc_snapshots)."""
    aoi = AOI(bbox=bbox, polygon=polygon)
    decider = area_decider or DEFAULT_INTERPRETER
    requested = sorted(timestamps)
    flt = compile_python(filter_spec)
    return dispatch(
        _kernel_input(docs, filter_spec, aoi, decider),
        schemas.SNAPSHOTS,
        {
            "node": lambda p: _nodes_snapshot_vec(p, requested, aoi, with_geometry),
            "way": lambda p: _ways_snapshot_vec(p, requested, with_geometry, decider),
            "relation": lambda p: rels_snapshot_vec(
                p, requested, with_geometry, decider),
        },
        lambda row, tok, out: _emit_doc_snapshots(
            row, requested, aoi, flt, decider, with_geometry, out, token=tok),
        aoi,
    )


def _emit_doc_snapshots(row, requested, aoi, flt, decider, with_geometry, out,
                        token=None):
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
    if vflt is not None and not any(
        v["visible"] and vflt(v) for v in versions
    ):
        return  # none of the versions matches (CellIterator.java:207-211)

    members = list(members_by_key.values())
    mod_ts = mod_timestamps(entity_type, versions, members, vflt)
    query_ts = query_timestamps(requested, mod_ts)
    if not query_ts:
        return
    asof = get_by_timestamps(versions, list(query_ts.keys()))

    for t, v in asof.items():
        if not v["visible"]:
            continue
        if entity_type == "way" and not (v.get("refs") or []):
            continue  # zero-node way (CellIterator.java:254-257)
        if entity_type == "relation" and not (v.get("refs") or []):
            continue
        if vflt is not None and not vflt(v):
            continue
        geom = None
        clipped = None
        if with_geometry or not fully_inside:
            geom = build_geometry(entity_type, v, t, members_by_key, decider)
            clipped = geom if fully_inside else aoi.clip(geom)
        if fully_inside or (clipped is not None and not G.is_empty(clipped)):
            gwkb = G.to_wkb(geom) if with_geometry else None
            cwkb = G.to_wkb(clipped) if with_geometry else None
            base = (
                v["version"],
                v["changeset"],
                v["uid"],
                v.get("tags") or {},
                gwkb,
                cwkb,
                token,
                row["doc_id"],
            )
            out.append((t, entity_type, eid) + base)
            for extra_t in query_ts[t]:
                out.append((extra_t, entity_type, eid) + base)


# ---------------------------------------------------------------------------
# node-only pure-SQL fast path (zero Python; the 100 TB scale path when no
# member recursion is involved)
# ---------------------------------------------------------------------------

def node_snapshots_sql(
    docs: DataFrame, timestamps: list[int], bbox=None, filter_spec=None
) -> DataFrame:
    """Snapshot view restricted to node docs, expressed entirely in
    Catalyst: validity windows via lead() + broadcast range join against
    the timestamp list. Same output columns as `snapshots` minus WKB (lon/
    lat columns instead). Whole-stage-codegen end to end."""
    spark = docs.sparkSession
    versions = docs_mod.versions_table(docs).filter(F.col("entity_type") == "node")
    pre = None
    if filter_spec:
        from .filters import _version_pred_sql

        for s in filter_spec:
            if s[0] == "type_in" and "node" not in s[1]:
                return spark.createDataFrame([], versions.schema)
            p = _version_pred_sql(s)
            if p:
                pre = p if pre is None else f"({pre}) and ({p})"
    if pre:
        versions = versions.filter(F.expr(pre.replace("v.tags", "tags")))
    ts_df = F.broadcast(
        spark.createDataFrame([(int(t),) for t in timestamps], "ts long")
    )
    snap = versions.join(
        ts_df,
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
    ).filter(F.col("visible"))
    if bbox is not None:
        snap = snap.filter(
            (F.col("lon") >= int(bbox[0] * _FP))
            & (F.col("lon") <= int(bbox[2] * _FP))
            & (F.col("lat") >= int(bbox[1] * _FP))
            & (F.col("lat") <= int(bbox[3] * _FP))
        )
    return snap.select(
        "ts", "entity_type", "id", "version", "changeset", "uid", "tags",
        "lon", "lat", "doc_id",
    )
