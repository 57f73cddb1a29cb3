"""The benchmark's workloads: inputs, operations, answers and trace stages.

Each workload owns one seeded corpus and a closed-loop mix of two
operation types, ``snapshot`` and ``contrib``, that go through the
engine's public API only. The operation returns its rows; the expected
rows come from an independent source computed outside the timed loop.

``prefix_stages`` yields the same operation cut after each layer
(scan → ``prepared_docs`` → kernel → measure), each drained to a
``noop`` sink: the difference between consecutive stages is the marginal
cost of that layer.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from . import inputs, oracle


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def doc_bytes(docs) -> int:
    """Bytes of the docs as the input_hint defines them: doc_id plus every
    span's text and media_ref."""
    from pyspark.sql import functions as F

    return int(docs.select(F.sum(F.expr(
        "length(doc_id) + aggregate(spans, 0L,"
        " (acc, s) -> acc + length(s.text) + coalesce(length(s.media_ref), 0))"
    ))).first()[0])


def prepared(docs, filter_spec, aoi):
    """``prepared_docs`` with the arguments ``snapshots`` and
    ``contributions`` pass it for the default area decider."""
    from oshdb_spark.kernels.geometry_builder import DEFAULT_INTERPRETER
    from oshdb_spark.kernels.relation_vec import rel_fast_mode
    from oshdb_spark.kernels.snapshot import prepared_docs

    types = None
    for s in filter_spec:
        if s[0] == "type_in":
            types = set(s[1])
    return prepared_docs(
        docs, filter_spec, aoi, fast_arrays=True,
        fast_ways=types is None or "way" in types,
        fast_rels=rel_fast_mode(DEFAULT_INTERPRETER)
        if types is None or "relation" in types else None,
    )


def kernel_routing(docs, filter_spec, aoi) -> dict:
    """Per-path doc counts exactly as the kernels route them: the
    ``fast_kind`` column of ``prepared_docs``, and under a polygon AOI the
    per-doc inside/boundary split that demotes boundary-crossing ways and
    relations to the general path."""
    prep = prepared(docs, filter_spec, aoi)
    bbox_cols = ["bbox_min_lon", "bbox_min_lat", "bbox_max_lon", "bbox_max_lat"]
    pdf = prep.select("entity_type", "fast_kind", *bbox_cols).toPandas()
    kind = pdf["fast_kind"].fillna("").to_numpy()
    # 3-state of each doc bbox against the AOI: 0 disjoint, 1 inside,
    # 2 crossing the boundary (needs the exact clip)
    rel = np.ones(len(pdf), dtype=np.int8)
    if not aoi.is_world:
        bb = pdf[bbox_cols].to_numpy(dtype=np.float64) / 1e7
        rel = np.array([aoi.relation_of_bbox(tuple(b)) for b in bb], dtype=np.int8)
    # a fast-routed way/relation under a polygon AOI is demoted to the
    # general path when it crosses the boundary, dropped when disjoint
    demoted = np.isin(kind, ["way", "relation"]) & (aoi.polygon is not None) & (rel != 1)
    vec = (kind != "") & ~demoted
    general = (kind == "") | (demoted & (rel == 2))
    linear = pdf["entity_type"].isin(["way", "relation"]).to_numpy()
    return {
        "docs_node_vec": int((vec & (kind == "node")).sum()),
        "docs_way_vec": int((vec & (kind == "way")).sum()),
        "docs_rel_vec": int((vec & (kind == "relation")).sum()),
        "docs_general": int(general.sum()),
        "boundary_docs": int((general & linear & (rel == 2)).sum()),
    }


class Workload:
    name = ""
    op_types = ("snapshot", "contrib")

    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.docs_path = os.path.join(work, "docs")
        self.info: dict = {}
        self.layer: dict = {}

    def docs(self):
        return self.spark.read.parquet(self.docs_path)

    def params(self, op_type: str) -> list:
        return [None]

    def probes(self, tracer, report, cpu) -> None:
        """Traced-run extras beyond the op loop; none by default."""


# ---------------------------------------------------------------------------
# node_history
# ---------------------------------------------------------------------------

class NodeHistory(Workload):
    name = "node_history"
    N_DOCS = 3000

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.n_docs = max(50, int(self.N_DOCS * scale))

    def materialize(self, tracer) -> None:
        rows, shares = inputs.node_versions(self.seed, self.n_docs)
        self.rows = rows
        self.info.update(shares)
        with tracer.span("plans.corpus_write") as s:
            inputs.node_docs(self.spark, rows).write.mode("overwrite").parquet(
                self.docs_path
            )
        self.layer["plans.corpus_write_s"] = s.seconds
        self.bboxes = inputs.node_bboxes(self.seed, shares["hot_tile_center"])

    def describe(self) -> dict:
        docs = self.docs()
        self.info.update({
            "docs": self.n_docs,
            "versions": int(len(self.rows)),
            "doc_bytes": doc_bytes(docs),
            "stored_bytes": dir_bytes(self.docs_path),
            "bboxes": self.bboxes,
            "timestamps": len(inputs.NODE_TS),
        })
        return self.info

    def params(self, op_type):
        return list(range(len(self.bboxes))) if op_type == "snapshot" else [None]

    def filter_spec(self, op_type):
        if op_type == "snapshot":
            return [("type_in", ["node"]), ("tag_eq", "amenity", "cafe")]
        return [("type_in", ["node"])]

    def aoi(self, op_type, p):
        from oshdb_spark.kernels.aoi import AOI

        return AOI(bbox=self.bboxes[p]) if op_type == "snapshot" else AOI()

    def plan(self, op_type, p, docs):
        from oshdb_spark.api.engine import OSHDB

        if op_type == "snapshot":
            v = (OSHDB(docs).snapshot_view().area_of_interest(bbox=self.bboxes[p])
                 .timestamps(inputs.NODE_TS).osm_type("node")
                 .osm_tag("amenity", "cafe"))
        else:
            v = (OSHDB(docs).contribution_view().timestamps(inputs.NODE_TS)
                 .osm_type("node"))
        return v.aggregate_by_timestamp().count()

    def run(self, op_type, p, tracer):
        with tracer.span("api.plan"):
            df = self.plan(op_type, p, self.docs())
        with tracer.span("api.aggregate"):
            rows = df.collect()
        return sorted((int(r["ts"]), int(r["cnt"])) for r in rows)

    def prefix_stages(self, op_type, p):
        from oshdb_spark.kernels.contribution import contributions
        from oshdb_spark.kernels.snapshot import snapshots

        fs = self.filter_spec(op_type)
        aoi = self.aoi(op_type, p)
        yield "plans.scan", lambda: _noop(self.docs())
        yield "kernels.prepare", lambda: _noop(prepared(self.docs(), fs, aoi))
        if op_type == "snapshot":
            yield "kernels.kernel", lambda: _noop(snapshots(
                self.docs(), inputs.NODE_TS, bbox=self.bboxes[p], filter_spec=fs))
        else:
            yield "kernels.kernel", lambda: _noop(contributions(
                self.docs(), (inputs.NODE_TS[0], inputs.NODE_TS[-1]),
                filter_spec=fs))

    def routing(self, op_type, p):
        return kernel_routing(self.docs(), self.filter_spec(op_type),
                              self.aoi(op_type, p))

    def expected(self, op_type, p):
        if not hasattr(self, "_expected"):
            self._expected = self._compute_expected()
        return self._expected[(op_type, p)]

    def _compute_expected(self):
        """Snapshots: the pure-Catalyst ``node_snapshots_sql`` path over
        the same docs (one query, AOI applied per bbox here). Contributions:
        every version inside the interval is one contribution, counted
        from the generated rows."""
        from oshdb_spark.kernels.snapshot import node_snapshots_sql

        ts = inputs.NODE_TS
        snap = node_snapshots_sql(
            self.docs(), ts,
            filter_spec=[("type_in", ["node"]), ("tag_eq", "amenity", "cafe")],
        ).select("ts", "lon", "lat").toPandas()
        lon = snap["lon"].to_numpy(dtype=np.float64) * 1e-7
        lat = snap["lat"].to_numpy(dtype=np.float64) * 1e-7
        out = {}
        for i, (w, s, e, n) in enumerate(self.bboxes):
            inside = (lon >= w) & (lon <= e) & (lat >= s) & (lat <= n)
            counts = snap[inside].groupby("ts").size()
            out[("snapshot", i)] = [(t, int(counts.get(t, 0))) for t in ts]
        vts = self.rows["ts"].to_numpy()
        live = vts[(vts >= ts[0]) & (vts < ts[-1])]
        key = np.asarray(ts)[np.searchsorted(ts, live, side="right") - 1]
        out[("contrib", None)] = [(t, int((key == t).sum())) for t in ts[:-1]]
        return out

    def check(self, op_type, p, got) -> bool:
        return got == self.expected(op_type, p)

    # -- traced probes: typed store write/merge/vacuum and the rank ops ------

    def probes(self, tracer, report, cpu):
        self._store_probe(tracer, report)
        self._ranks_probe(tracer, report, cpu)

    def _store_probe(self, tracer, report):
        """write_typed_store with a target size that makes the hot tile
        salt, one seeded update + vacuum, then a read-after-write bbox
        snapshot checked against the same query over the current raw docs."""
        from oshdb_spark.plans import layout

        spark = self.spark
        store = os.path.join(self.work, "typed_store")
        target = max(10, self.n_docs // 10)
        with tracer.span("plans.store_write") as s:
            plan = layout.write_typed_store(self.docs(), store, target_rows=target)
        self.layer["plans.store_write_s"] = s.seconds
        self.layer["plans.salts"] = sum(1 for k in plan.values() if k > 1)
        batch, info = inputs.update_batch(self.rows, self.seed)
        self.info["changed_docs_per_update_frac"] = info["changed_docs_frac"]
        with tracer.span("plans.update") as s:
            res = layout.update_typed_store(
                inputs.node_docs(spark, batch), store, target_rows=target)
        self.layer["plans.update_s"] = s.seconds
        with tracer.span("plans.vacuum") as s:
            layout.vacuum_typed_store(store)
        self.layer["plans.vacuum_s"] = s.seconds
        aff = res["affected_prefixes"]
        self.layer["plans.prefixes_rewritten"] = len(aff)
        self.layer["plans.bytes_rewritten"] = sum(
            dir_bytes(os.path.join(store, f"cell_prefix={a}")) for a in aff)
        rows = pd.concat([self.rows[~self.rows["id"].isin(batch["id"])], batch])
        bbox = self.bboxes[0]
        total = layout.read_typed_store(spark, store).count()
        with tracer.span("plans.store_read") as s:
            kept = layout.read_typed_store(spark, store, bbox=bbox).count()
        self.layer["plans.store_read_s"] = s.seconds
        self.layer["plans.prune_frac"] = 1.0 - kept / total
        self.layer["plans.store_bytes_per_doc_byte"] = (
            dir_bytes(store) / doc_bytes(inputs.node_docs(spark, rows)))

        def bbox_count(docs):
            return sorted(tuple(r) for r in self.plan("snapshot", 0, docs).collect())

        got = bbox_count(layout.read_typed_store(spark, store, bbox=bbox))
        want = bbox_count(inputs.node_docs(spark, rows))
        report(op="store_read_after_write", ok=got == want and total == self.n_docs,
               detail=None if got == want else {"got": got, "want": want,
                                                "store_rows": total})

    def _ranks_probe(self, tracer, report, cpu):
        from oshdb_spark.ops import stats, topk

        table = inputs.rank_table(self.seed, max(200, int(3000 * self.scale)))
        path = os.path.join(self.work, "rank_table")
        self.spark.createDataFrame(table).write.mode("overwrite").parquet(path)
        t = self.spark.read.parquet(path)
        want = oracle.ranks_expected(table)
        calls = {
            "rank_normalize": lambda: stats.rank_normalize(t, "grp", "val"),
            "quartiles_exact": lambda: stats.quartiles_exact(t, "grp", "val"),
            "gini_inequality": lambda: stats.gini_inequality(t, "grp", "val"),
            "mannwhitney_u": lambda: stats.mannwhitney_u(t, "grp", "val", "click", "purchase"),
            "ks_2sample": lambda: stats.ks_2sample(t, "grp", "val", "click", "purchase"),
            "skyline2d": lambda: topk.skyline2d(t, "val", "cost"),
        }
        c0 = cpu()
        with tracer.span("ops.ranks") as batch:
            for name, call in calls.items():
                try:
                    with tracer.span(f"ops.{name}") as s:
                        got = sorted(tuple(r) for r in call().collect())
                    self.layer[f"ops.{name}_s"] = s.seconds
                    ok = oracle.rows_match(got, want[name], rel=1e-6)
                    report(op=f"ranks.{name}", ok=ok,
                           detail=None if ok else {"got": got[:5], "want": want[name][:5]})
                except Exception as e:  # a failing operator is a failed op
                    report(op=f"ranks.{name}", ok=False, detail=repr(e))
        c1 = cpu()
        # CPU-seconds per wall-second over all cores: 1/nproc means the
        # operators ran as a single task
        self.layer["ops.cpu_util"] = (
            (c1[0] - c0[0] + c1[1] - c0[1])
            / (batch.seconds * len(os.sched_getaffinity(0))))
        self.info["rank_rows"] = len(table)
        self.info["rank_hot_group_frac"] = float((table["grp"] == "click").mean())


# ---------------------------------------------------------------------------
# way_rel_geometry
# ---------------------------------------------------------------------------

class WayRelGeometry(Workload):
    name = "way_rel_geometry"
    N_USERS = 40
    REPS = 8

    def __init__(self, spark, work, seed, scale):
        super().__init__(spark, work, seed, scale)
        self.n_users = max(3, int(self.N_USERS * min(1.0, scale)))
        self.reps = max(1, int(round(self.REPS * min(1.0, scale * 4))))
        self.events_path = os.path.join(work, "events.parquet")

    def materialize(self, tracer) -> None:
        from oshdb_spark.model.history import (
            relation_docs_from_events,
            way_docs_from_events,
        )

        ev = inputs.events(self.seed, self.n_users)
        os.makedirs(self.work, exist_ok=True)
        ev.to_parquet(self.events_path, index=False)
        self.n_events = len(ev)
        events = self.spark.read.parquet(self.events_path)
        derived = way_docs_from_events(events).unionByName(
            relation_docs_from_events(events))
        if tracer.enabled:
            self.layer["model.docs_out"] = derived.count()
            with tracer.span("model.derive") as s:
                _noop(derived)
            self.layer["model.derive_s"] = s.seconds
        with tracer.span("plans.corpus_write") as s:
            inputs.replicated(derived, self.reps).write.mode("overwrite").parquet(
                self.docs_path)
        self.layer["plans.corpus_write_s"] = s.seconds

    def describe(self) -> dict:
        docs = self.docs()
        self.info.update({
            "users": self.n_users,
            "events": self.n_events,
            "replicas": self.reps,
            "docs": docs.count(),
            "doc_bytes": doc_bytes(docs),
            "stored_bytes": dir_bytes(self.docs_path),
            "timestamps": len(self._ts()),
        })
        return self.info

    @staticmethod
    def _ts():
        from oshdb_spark.model.history import SNAPSHOT_TS

        return SNAPSHOT_TS

    @staticmethod
    def ring():
        import __spark_entry__ as E

        w, s, e, n = E._CLIP_RECT
        return [(w, s), (e, s), (e, n), (w, n), (w, s)]

    FILTER = [("type_in", ["way", "relation"])]

    def aoi(self, op_type, p):
        from oshdb_spark.kernels.aoi import AOI

        return AOI(polygon=[self.ring()]) if op_type == "snapshot" else AOI()

    def plan(self, op_type, docs):
        from pyspark.sql import functions as F

        from oshdb_spark.api.engine import OSHDB
        from oshdb_spark.geo.measures import wkb_length_m

        ts = self._ts()
        if op_type == "snapshot":
            snaps = (OSHDB(docs).snapshot_view().timestamps(ts)
                     .area_of_interest(polygon=[self.ring()])
                     .osm_type("way", "relation").dataframe())
            # clipped length over ways only: geo.measures.wkb_length_m
            # measures 0 for a GeometryCollection holding a MultiLineString,
            # which is what a relation clipped across the AOI boundary
            # becomes (see perfbench/README.md, known defects)
            length = F.when(F.col("entity_type") == "way",
                            wkb_length_m("geom_clipped_wkb")).otherwise(0.0)
            return (snaps.withColumn("len_m", length)
                    .groupBy("entity_type", "ts")
                    .agg(F.count(F.lit(1)).alias("cnt"),
                         F.sum("len_m").alias("len_m")))
        df = (OSHDB(docs).contribution_view().timestamps([ts[0], ts[-1]])
              .osm_type("way", "relation").without_geometry().dataframe())
        return (df.select("entity_type", F.explode("contrib_types").alias("ct"))
                .groupBy("entity_type", "ct").agg(F.count(F.lit(1)).alias("cnt")))

    def run(self, op_type, p, tracer):
        with tracer.span("api.plan"):
            df = self.plan(op_type, self.docs())
        with tracer.span("api.aggregate"):
            rows = df.collect()
        return sorted(tuple(r) for r in rows)

    def prefix_stages(self, op_type, p):
        from oshdb_spark.geo.measures import wkb_length_m
        from oshdb_spark.kernels.contribution import contributions
        from oshdb_spark.kernels.snapshot import snapshots

        aoi = self.aoi(op_type, p)
        ts = self._ts()
        poly = [self.ring()]
        yield "plans.scan", lambda: _noop(self.docs())
        yield "kernels.prepare", lambda: _noop(prepared(self.docs(), self.FILTER, aoi))
        if op_type == "snapshot":
            yield "kernels.kernel", lambda: _noop(snapshots(
                self.docs(), ts, polygon=poly, filter_spec=self.FILTER))
            yield "geo.measure", lambda: _noop(snapshots(
                self.docs(), ts, polygon=poly, filter_spec=self.FILTER
            ).withColumn("len_m", wkb_length_m("geom_clipped_wkb")))
        else:
            yield "kernels.kernel", lambda: _noop(contributions(
                self.docs(), (ts[0], ts[-1]), filter_spec=self.FILTER,
                with_geometry=False))

    def routing(self, op_type, p):
        return kernel_routing(self.docs(), self.FILTER, self.aoi(op_type, p))

    def expected(self, op_type, p):
        if not hasattr(self, "_expected"):
            self._expected = oracle.way_rel_expected(self.events_path, self.reps)
        return self._expected[op_type]

    def check(self, op_type, p, got) -> bool:
        want = self.expected(op_type, p)
        if op_type == "snapshot":
            if len(got) != len(want):
                return False
            for et, ts, cnt, length in got:
                w = want.get((et, int(ts)))
                if w is None or cnt != w[0]:
                    return False
                # the oracle rounds each replica's sum to whole metres
                if et == "way" and abs(length - w[1]) > 0.5 * self.reps + 1e-6 * w[1]:
                    return False
            return True
        return {(et, ct): cnt for et, ct, cnt in got} == want


WORKLOADS = {w.name: w for w in (NodeHistory, WayRelGeometry)}
