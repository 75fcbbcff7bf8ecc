"""Map-index subsystem — the reference's core capability, Spark-first.

The reference maintains secondary indexes over a CDC stream of JSON
documents: a per-document map function (user JS ``OnMap(meta, doc)`` +
``emit(...)``, or a declarative N1QL expression) produces zero-or-more
composite keys per document, and the index is maintained incrementally
(old-key retraction + new-key insert + delete broadcast;
``/root/reference/Projector/indexjs.go:73-191``).

Spark re-expression:

- **Expression indexes** (reference ``ExprType_N1QL``, M4) evaluate key
  parts as Spark SQL expressions — pure Catalyst, whole-stage codegen,
  filter pushdown (the reference's WHERE FIXME at indexjs.go:125-127 is
  simply Catalyst's default behavior here).
- **Function indexes** (reference ``ExprType_JAVASCRIPT``, M1/M2) run a
  registered Python ``on_map(meta, doc) -> list[tuple]`` as a UDF returning
  ``array<struct>`` that is exploded — one emit ⇒ one index entry, zero
  emits ⇒ WHERE-false (indexjs.go:109-111). Evaluation is panic-safe
  (indexjs.go:77-81): an exception yields no entries.
- **Incremental maintenance** (M6/M7) is a per-batch anti-join MERGE:
  retract all entries of changed doc-ids, insert fresh entries for live
  upserts. Retraction is by the ``doc_id`` column the index carries: that
  anti-join IS the back-index lookup the reference's old-key (``okey``)
  shipping avoids by mapping the document's old value as well
  (indexjs.go:103-108, 134-138). Only the lookup exists here.
- **At scale**: entries are hash/range-partitioned by declared partition
  keys (P1/P2); a committed MERGE reads its batch once, and a small
  batch's retraction ids are broadcast, so the state is not shuffled;
  state between batches would live in a real table (Delta/Iceberg MERGE
  INTO) — here it is a DataFrame lineage with local checkpoints.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduceindex_demo_spark.catalog import Catalog, IndexDefn
from mapreduceindex_demo_spark.collation import MISSING, collate_key
from mapreduceindex_demo_spark.sources import hadoopfs

#: inclusion flags for range scans (reference Inclusion enum, index.go:31-37)
INCL_NEITHER, INCL_LOW, INCL_HIGH, INCL_BOTH = 0, 1, 2, 3

#: the measure fields of a reduce view's descriptor, by the keyword names
#: the _view_* helpers take them under
_MEASURES = ("sum_col", "distinct_col", "minmax_col")


def _measures(d: dict) -> dict:
    """The measure fields of a view descriptor (or view sidecar)."""
    return {m: d.get(m) for m in _MEASURES}


def _key_cols(n: int) -> list[str]:
    return [f"key_{i}" for i in range(n)]


class MapIndexEngine:
    """Create/maintain/scan secondary indexes over DataFrames."""

    #: index lifecycle states (reference index.go:66-85, collapsed to the
    #: states meaningful in-process: INITIAL/CATCHUP are transient inside
    #: build/apply calls)
    ST_CREATED, ST_ACTIVE = "CREATED", "ACTIVE"

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.catalog = Catalog()
        self._state: dict[str, DataFrame] = {}
        self._status: dict[str, str] = {}
        #: queued CDC batches not yet merged — consumed by session/query
        #: consistency scans (T3) or an explicit drain
        self._pending: dict[str, list[tuple[DataFrame, dict]]] = {}
        self._batches_applied: dict[str, int] = {}
        #: durable indexes: name → (parquet path, bucket count). Durable
        #: state outlives the SparkSession (save_index/load_index) — the
        #: reference's maintained-on-storage index (index.go:173-214).
        self._durable: dict[str, tuple[str, int]] = {}
        #: reduce views: name → {"index", "group", "sum_col", "frame"} —
        #: incrementally-maintained grouped aggregates over an index
        #: (see create_reduce_view)
        self._views: dict[str, dict] = {}
        #: durable reduce views: name → {"index", "group", "sum_col",
        #: "distinct_col"}. Persisted as per-bucket PARTIAL aggregates next
        #: to the index (see save_reduce_view_durable)
        self._durable_views: dict[str, dict] = {}
        #: ("index", name) / ("view", name) → the frame this engine last
        #: materialized for it. A state or view frame that IS (identity)
        #: its entry here is already computed, so a commit skips it.
        self._committed: dict[tuple[str, str], DataFrame] = {}

    # -- function library --------------------------------------------------

    def register_function(self, name, fn, description: str = ""):
        return self.catalog.register_function(name, fn, description)

    def register_function_from_file(self, name, path, description: str = ""):
        return self.catalog.register_function_from_file(name, path, description)

    # -- DDL (D1) ----------------------------------------------------------

    def create_index(
        self,
        defn: IndexDefn,
        source: DataFrame,
        doc_id_col: str,
        seq_col: str | None = None,
    ) -> DataFrame | None:
        """CREATE INDEX: register the defn and backfill from a source
        snapshot (reference lifecycle CREATED→INITIAL→ACTIVE, index.go:66-85;
        deferred indexes stay CREATED until :meth:`build`)."""
        self.catalog.add_index(defn)
        if defn.deferred:
            # deferred build (index.go:190): defn registered, state CREATED
            # until an explicit build() (reference WITH {"defer_build":true})
            self._status[defn.name] = self.ST_CREATED
            return None
        return self.build(defn.name, source, doc_id_col, seq_col)

    def build(
        self,
        name: str,
        source: DataFrame,
        doc_id_col: str,
        seq_col: str | None = None,
    ) -> DataFrame:
        """(Re)build from a snapshot — the INIT_STREAM backfill (T2)."""
        defn = self.catalog.get_index(name)
        entries = self._entries(defn, source, doc_id_col, seq_col)
        entries = self._partitioned(defn, entries)
        self._state[name] = entries
        self._status[name] = self.ST_ACTIVE
        self._batches_applied.setdefault(name, 0)
        self._rederive_views(name, entries)
        return entries

    def build_deferred(
        self,
        source: DataFrame,
        doc_id_col: str,
        seq_col: str | None = None,
        names: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Build every deferred (CREATED) index in ONE pass over the source.

        The reference amortizes deferred builds by opening a single
        INIT_STREAM for an instance *list* (kv_sender.go:235-347,
        projector.go:237-260) — N evaluators fed by one scan. Spark twin:
        materialize the source snapshot once (`localCheckpoint`, the single
        scan job), then derive each index's entry plan from the
        materialized snapshot, so no per-index re-scan of the source ever
        happens (asserted in tests/test_mapindex.py). The streaming path
        shares its feed the same way: one readStream and one offset log
        serve every index given to run_streaming_index_maintenance.

        Callers with wide sources should project to the needed columns
        before calling — the snapshot holds exactly what it is given.
        """
        todo = [
            n
            for n in (names if names is not None else list(self._status))
            if self._status.get(n) == self.ST_CREATED
        ]
        if names is not None:
            missing = [n for n in names if self._status.get(n) != self.ST_CREATED]
            if missing:
                raise ValueError(f"not deferred/CREATED: {missing}")
        if not todo:
            return {}
        snap = source.localCheckpoint(eager=True)  # the one source scan
        return {n: self.build(n, snap, doc_id_col, seq_col) for n in todo}

    def drop_index(self, name: str) -> None:
        in_use = [v for v, d in self._views.items() if d["index"] == name] + [
            v for v, d in self._durable_views.items() if d["index"] == name
        ]
        if in_use:
            # same in-use rule as function deletion (D5): a dependent view
            # must be dropped first, never silently orphaned
            raise ValueError(f"index {name!r} has dependent reduce views: {in_use}")
        self.catalog.drop_index(name)
        self._state.pop(name, None)
        self._status.pop(name, None)
        self._pending.pop(name, None)
        self._batches_applied.pop(name, None)
        self._committed.pop(("index", name), None)

    def index_table(self, name: str) -> DataFrame:
        if name not in self._state:
            raise KeyError(f"index {name!r} has no built state")
        return self._state[name]

    def checkpoint_state(self, name: str) -> DataFrame:
        """Commit index `name`: materialize its state and every dependent
        reduce view's frame (an eager localCheckpoint each) and swap the
        truncated lineages in.

        This is the engine-owned commit point the streaming sinks (S7) call
        after each applied batch: exactly-once requires the batch's effect
        to be durable (computed, not a lazy plan over the batch DataFrame,
        which is only valid inside the foreachBatch call) before the stream
        checkpoint commits the offset — and it keeps the lineage from
        growing one MERGE deeper per batch.

        A frame this engine already materialized is kept as is, so right
        after ``apply_changes(checkpoint=True)``, which commits, this runs
        no Spark job."""
        if name not in self._state:
            raise KeyError(f"index {name!r} has no built state")
        self._state[name] = self._materialized(("index", name), self._state[name])
        for v, d in self._views.items():
            if d["index"] == name:
                d["frame"] = self._materialized(("view", v), d["frame"])
        return self._state[name]

    def _materialized(self, key: tuple[str, str], df: DataFrame) -> DataFrame:
        """``df`` computed once into an eager local checkpoint, or ``df``
        itself when it is the frame last materialized under ``key``."""
        if self._committed.get(key) is not df:
            df = df.localCheckpoint(eager=True)
            self._committed[key] = df
        return df

    # -- reduce views (incremental view maintenance) -----------------------

    def create_reduce_view(
        self,
        name: str,
        index_name: str,
        group_cols: list[str],
        sum_col: str | None = None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> DataFrame:
        """Materialized grouped aggregate over an index, maintained
        INCREMENTALLY as CDC batches land — the "Reduce" the repo's name
        promises but the reference never implements (SURVEY §2.7: zero
        occurrences of reduce in any reference source; couchbase-style
        map/reduce views are the design this completes).

        ``group_cols`` are index columns (``key_i``/``doc_id``); measures
        are ``cnt`` (entry count), ``total`` (sum of ``sum_col``) and, for
        an IMMUTABLE index, ``approx_distinct`` (a mergeable Datasketches
        HLL over ``distinct_col`` — sketches union across batches but
        cannot delete, so the delta fold only admits them append-only;
        the durable path recomputes partials and takes them on any
        index). These are the SELF-MAINTAINABLE aggregates: a change
        batch updates the view from the batch's delta alone — the merge in
        :meth:`apply_changes` already computes (retracted old entries, fresh
        new entries), and the view absorbs Δ = +new − old folded per group,
        dropping groups whose count reaches zero. Never a FULL base
        rescan: the retraction side reads only the changed docs' current
        entries — the same rows the merge's anti-join already prices
        (bucket-pruned on the durable path); AVG derives as total/cnt at
        read time.

        ``minmax_col`` is the EXPLICIT opt-in to the non-self-maintainable
        measure class: MIN/MAX cannot absorb a retraction from the delta
        alone (deleting the current minimum forces a re-derive), so on a
        MUTABLE index each batch re-aggregates exactly the groups the
        batch retracted from — a null-safe semi-join of the post-merge
        base against the (delta-bounded) affected group keys — while
        untouched groups keep the cheap fold. On an immutable index the
        extreme folds for free (min-of-mins). This is a different
        per-batch cost class (one probe of the base per batch, priced by
        the batch's group fan-out) and the parameter name is the
        contract: you asked for it.

        At scale: the per-batch cost is one groupBy over the view's rows
        plus the DELTA's (fresh and retracted entries as ±1 partial rows,
        combined map-side), one exchange. The union-then-groupBy spelling
        here is the in-memory twin of ``MERGE INTO view`` on the group
        key; the view's size is |groups|, independent of base-index size.
        Use exact-typed measures (long / decimal) — incremental and rebuilt
        views are then bit-identical, which tests/test_mapindex.py asserts.
        """
        idx = self.index_table(index_name)
        missing = [c for c in group_cols if c not in idx.columns]
        if missing:
            raise KeyError(f"group columns not in index: {missing}")
        for c in (sum_col, distinct_col, minmax_col):
            if c is not None and c not in idx.columns:
                raise KeyError(f"measure column not in index: {c!r}")
        self._check_sketchable(idx, distinct_col)
        if distinct_col is not None and not self.catalog.get_index(
            index_name
        ).immutable:
            # HLL sketches merge but never delete: the delta fold is only
            # sound when no batch ever retracts (append-only). A MUTABLE
            # index can still have a distinct measure DURABLY —
            # save_reduce_view_durable recomputes affected buckets'
            # partials instead of folding, which is retraction-safe.
            raise ValueError(
                "distinct_col requires an immutable (append-only) index; "
                "for mutable indexes use save_reduce_view_durable, whose "
                "per-bucket recompute is retraction-safe"
            )
        if name in self._views:
            raise ValueError(f"reduce view {name!r} already exists")
        frame = self._view_agg(idx, group_cols, sum_col, distinct_col, minmax_col)
        self._views[name] = {
            "index": index_name,
            "group": list(group_cols),
            "sum_col": sum_col,
            "distinct_col": distinct_col,
            "minmax_col": minmax_col,
            "frame": frame,
        }
        return frame

    def reduce_view_table(self, name: str, consistency: str = "any") -> DataFrame:
        """Serve a view. ``consistency`` follows the scan contract (T3):
        ``session``/``query`` first drain the underlying index's queued CDC
        batches — each drained batch folds its delta into the view — so the
        served aggregate observes everything enqueued before the read."""
        if name not in self._views:
            raise KeyError(f"reduce view {name!r} does not exist")
        if consistency not in ("any", "session", "query"):
            raise ValueError(f"unknown consistency {consistency!r}")
        d = self._views[name]
        if consistency in ("session", "query"):
            self.drain_pending(d["index"])
        return self._view_serve(d["frame"], **_measures(d))

    def serve_aggregate(
        self,
        index_name: str,
        group_cols: list[str],
        sum_col: str | None = None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
        consistency: str = "any",
    ) -> tuple[DataFrame, bool]:
        """Aggregate NAVIGATOR — the view twin of :meth:`scan_by_expr`'s
        index selection (D4): callers ask for an aggregate SHAPE (group
        columns + measure spec, the same vocabulary as
        :meth:`create_reduce_view`), and the engine serves it from a
        registered reduce view when an equivalent one exists — a
        |groups|-row read instead of a base-index aggregation — falling
        back to an ad-hoc aggregation over the index otherwise. Returns
        ``(frame, served_from_view)``; both paths produce the identical
        output shape, so callers never branch.

        Equivalence: same index, same group-column SET, and the view's
        measure spec covers the request (a view with extra measures still
        serves — the surplus columns are projected away). The
        ``consistency`` contract follows view serving (session/query
        drain pending CDC first); the ad-hoc path reads the live index
        table, which is exact by construction."""
        req = {
            "sum_col": sum_col,
            "distinct_col": distinct_col,
            "minmax_col": minmax_col,
        }
        for vname, d in self._views.items():
            if d["index"] != index_name:
                continue
            if set(d["group"]) != set(group_cols):
                continue
            if any(
                want is not None and d.get(k) != want
                for k, want in req.items()
            ):
                continue
            served = self.reduce_view_table(vname, consistency=consistency)
            # keep the AD-HOC path's column order (cnt, total, min/max,
            # approx_distinct — _view_serve appends the distinct estimate
            # last) so the two paths really are interchangeable
            keep = ["cnt"]
            if sum_col is not None:
                keep.append("total")
            if minmax_col is not None:
                keep += ["min_val", "max_val"]
            if distinct_col is not None:
                keep.append("approx_distinct")
            return served.select(*group_cols, *keep), True
        if consistency in ("session", "query"):
            self.drain_pending(index_name)
        frame = self._view_agg(
            self.index_table(index_name),
            list(group_cols),
            sum_col,
            distinct_col,
            minmax_col,
        )
        return self._view_serve(frame, sum_col, distinct_col, minmax_col), False

    def drop_reduce_view(self, name: str) -> None:
        if name not in self._views:
            raise KeyError(f"reduce view {name!r} does not exist")
        del self._views[name]
        self._committed.pop(("view", name), None)

    def drop_reduce_view_durable(self, name: str) -> None:
        """Unregister a durable view and delete its on-disk partials (the
        files must go too, or the next load_index would auto-resurrect the
        dropped view from its sidecar)."""
        if name not in self._durable_views:
            raise KeyError(f"durable reduce view {name!r} does not exist")
        index_name = self._durable_views.pop(name)["index"]
        path, _ = self._durable[index_name]
        self._hfs(path).delete(self._view_dir(path, name))

    @staticmethod
    def _view_aggs(
        sum_col: str | None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> list[Column]:
        """Measure set per group: cnt; for a sum measure additionally
        ``__nn`` (count of NON-NULL measure values) + total; for a distinct
        measure ``__nd`` (a mergeable HLL sketch — Spark's Datasketches
        hll_sketch_agg); for an extreme ``__mn``/``__mx``. __nn is what
        makes retraction NULL-correct: a group whose last non-null measure
        is retracted must serve total=NULL (what a rebuild's SUM gives),
        not the 0 a plain ± fold would leave — the served total is ``CASE
        WHEN __nn > 0 THEN total END`` (see _view_serve)."""
        aggs = [F.count(F.lit(1)).alias("cnt")]
        if sum_col is not None:
            aggs.append(F.count(sum_col).alias("__nn"))
            aggs.append(F.sum(sum_col).alias("total"))
        if distinct_col is not None:
            aggs.append(F.hll_sketch_agg(distinct_col).alias("__nd"))
        if minmax_col is not None:
            aggs.append(F.min(minmax_col).alias("__mn"))
            aggs.append(F.max(minmax_col).alias("__mx"))
        return aggs

    @classmethod
    def _view_agg(
        cls,
        entries: DataFrame,
        group_cols: list[str],
        sum_col: str | None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> DataFrame:
        return entries.groupBy(*group_cols).agg(
            *cls._view_aggs(sum_col, distinct_col, minmax_col=minmax_col)
        )

    def _rederive_views(self, name: str, state: DataFrame) -> None:
        """Point every in-memory view on index ``name`` at a fresh
        aggregation of ``state``, from the view's whole descriptor: the
        path for a new base that no delta fold describes (a rebuild, a
        reopened index, a merge through the durable table)."""
        for d in self._views.values():
            if d["index"] == name:
                d["frame"] = self._view_agg(state, d["group"], **_measures(d))

    @staticmethod
    def _view_merge_aggs(
        sum_col: str | None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> list[Column]:
        """Fold partial/previous measure rows: sums add, sketches union,
        extremes take min-of-mins / max-of-maxes (sound because partials
        are never negated — see _row_partials)."""
        aggs = [F.sum("cnt").alias("cnt")]
        if sum_col is not None:
            aggs.append(F.sum("__nn").alias("__nn"))
            aggs.append(F.sum("total").alias("total"))
        if distinct_col is not None:
            aggs.append(F.hll_union_agg("__nd").alias("__nd"))
        if minmax_col is not None:
            aggs.append(F.min("__mn").alias("__mn"))
            aggs.append(F.max("__mx").alias("__mx"))
        return aggs

    @staticmethod
    def _view_serve(
        frame: DataFrame,
        sum_col: str | None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> DataFrame:
        """Public shape of a view: hide __nn, NULL the total of an
        all-NULL-measure group (SUM semantics), estimate the distinct
        sketch as ``approx_distinct``, surface extremes as
        ``min_val``/``max_val`` (NULL for an all-NULL-measure group —
        MIN/MAX ignore NULLs, matching a rebuild)."""
        if sum_col is not None:
            frame = frame.withColumn(
                "total", F.when(F.col("__nn") > 0, F.col("total"))
            ).drop("__nn")
        if distinct_col is not None:
            frame = frame.withColumn(
                "approx_distinct", F.hll_sketch_estimate("__nd")
            ).drop("__nd")
        if minmax_col is not None:
            frame = frame.withColumnRenamed(
                "__mn", "min_val"
            ).withColumnRenamed("__mx", "max_val")
        return frame

    @staticmethod
    def _check_sketchable(df: DataFrame, distinct_col: str | None) -> None:
        """Datasketches HLL accepts int/bigint/string/binary only; fail
        EAGERLY with the column's actual type rather than letting the
        lazy plan throw at first action."""
        if distinct_col is None:
            return
        t = dict(df.dtypes).get(distinct_col)
        if t not in ("int", "bigint", "string", "binary"):
            raise ValueError(
                f"distinct_col must be int/bigint/string/binary for the "
                f"HLL sketch; {distinct_col!r} is {t} — cast it in the "
                f"index's key expression"
            )

    def _update_views(
        self,
        index_name: str,
        cur: DataFrame,
        changed_ids: DataFrame,
        new_entries: DataFrame,
        post: DataFrame,
        immutable: bool,
    ) -> dict[str, DataFrame]:
        """Every view on ``index_name`` with one CDC batch's delta folded
        in: lazy frames by view name, for the caller to materialize and
        swap in.

        ``cur`` is the index state BEFORE the merge and ``post`` the state
        after it; the retracted old contribution is ``cur ⋉ changed_ids``.
        A view without a sketch measure folds in ONE aggregation: the
        batch's fresh (+1) and retracted (−1) entries join the view's own
        rows as per-row partial measures (:meth:`_row_partials`), so the
        fold is one exchange over the view plus the delta."""
        views = {v: d for v, d in self._views.items() if d["index"] == index_name}
        if not views:
            return {}
        old = None
        if not immutable:
            old = cur.join(changed_ids.select("doc_id"), "doc_id", "left_semi")
        out = {}
        for v, d in views.items():
            g, s, dc = d["group"], d["sum_col"], d["distinct_col"]
            mm = d.get("minmax_col")
            frame = d["frame"]
            if mm is not None and old is not None:
                # The opt-in cost class (see create_reduce_view): groups
                # the batch retracted from re-aggregate from the
                # post-merge base — bounded by the batch's group fan-out —
                # while untouched groups keep the cheap fold. Null-safe
                # joins: NULL group keys are real groups.
                affected = old.select(*g).distinct()
                part_a = self._view_agg(
                    self._nullsafe_key_join(post, affected, g, "left_semi"),
                    g, s, dc, mm,
                )
                folded = frame.unionByName(
                    self._row_partials(new_entries, frame, g, s, mm)
                )
                merged = (
                    self._nullsafe_key_join(folded, affected, g, "left_anti")
                    .groupBy(*g)
                    .agg(*self._view_merge_aggs(s, dc, mm))
                    .filter(F.col("cnt") > 0)
                    .unionByName(part_a)
                )
            else:
                if dc is None:
                    delta = self._row_partials(new_entries, frame, g, s, mm)
                    if old is not None:
                        # mm is None on this branch (handled above)
                        delta = delta.unionByName(
                            self._row_partials(old, frame, g, s, negate=True)
                        )
                else:
                    # sketches only union: aggregate the batch first. No
                    # retraction meets them — a distinct measure requires
                    # an immutable index, and immutable ⇒ old is None
                    delta = self._view_agg(new_entries, g, s, dc, mm)
                merged = (
                    frame.unionByName(delta)
                    .groupBy(*g)
                    .agg(*self._view_merge_aggs(s, dc, mm))
                    .filter(F.col("cnt") > 0)
                )
            out[v] = merged
        return out

    @staticmethod
    def _row_partials(
        entries: DataFrame,
        like: DataFrame,
        group_cols: list[str],
        sum_col: str | None,
        minmax_col: str | None = None,
        negate: bool = False,
    ) -> DataFrame:
        """One partial-measure row per entry, typed like the view frame
        ``like``: cnt = 1, __nn = 1 when the measure is not NULL, total =
        the measure, __mn = __mx = the extreme column; negated for a
        retraction. Folded by :meth:`_view_merge_aggs`, these give what
        aggregating the entries with :meth:`_view_aggs` first gives, bit
        for bit on exact types (the casts are to the SUM result types the
        frame already holds).

        Extremes cannot be negated (an extreme has no inverse), nor can
        sketches (an HLL has no delete, so sketches have no per-row form
        here): a mutable index routes minmax views through the
        affected-group RECOMPUTE in _update_views, a distinct measure
        requires an append-only index, and the durable path always
        recomputes partials."""
        assert not (negate and minmax_col is not None)
        types = {f.name: f.dataType for f in like.schema.fields}
        sign = (lambda c: -c) if negate else (lambda c: c)
        cols = [*group_cols, sign(F.lit(1).cast(types["cnt"])).alias("cnt")]
        if sum_col is not None:
            cols.append(
                sign(F.col(sum_col).isNotNull().cast(types["__nn"])).alias("__nn")
            )
            cols.append(sign(F.col(sum_col).cast(types["total"])).alias("total"))
        if minmax_col is not None:
            cols.append(F.col(minmax_col).cast(types["__mn"]).alias("__mn"))
            cols.append(F.col(minmax_col).cast(types["__mx"]).alias("__mx"))
        return entries.select(*cols)

    @staticmethod
    def _nullsafe_key_join(
        df: DataFrame, keys: DataFrame, group_cols: list[str], how: str
    ) -> DataFrame:
        """Semi/anti-join ``df`` against the distinct ``group_cols`` rows of
        ``keys`` with NULL-SAFE equality — a plain equi-join would silently
        exempt NULL-keyed groups from the recompute (NULL = NULL is
        unknown), leaving them on the fold path without negation."""
        k = keys.select(
            *[F.col(c).alias(f"__k_{c}") for c in group_cols]
        ).distinct()
        cond = None
        for c in group_cols:
            e = F.col(c).eqNullSafe(F.col(f"__k_{c}"))
            cond = e if cond is None else (cond & e)
        return df.join(k, cond, how)

    # -- the map pipeline (M1-M9) ------------------------------------------

    def _entries(
        self,
        defn: IndexDefn,
        df: DataFrame,
        doc_id_col: str,
        seq_col: str | None = None,
    ) -> DataFrame:
        """Evaluate the index's map over documents → entry rows
        ``(key_0..key_{n-1}, doc_id)``."""
        if defn.where_expr:
            # WHERE suppression (M5) — pushed into the scan by Catalyst,
            # fixing the reference's "not used to optimize out messages"
            # FIXME (indexjs.go:125-127)
            df = df.filter(F.expr(defn.where_expr))

        if defn.is_primary:
            out = df.select(F.col(doc_id_col).alias("doc_id"))
            return out

        if defn.sec_exprs is not None:
            keys = [F.expr(e) for e in defn.sec_exprs]
            if defn.key_types:
                keys = [k.cast(t) for k, t in zip(keys, defn.key_types)]
            if defn.is_array_index:
                # array index: one entry per element of the first key
                # expression (reference IsArrayIndex, index.go:187)
                first = F.explode(keys[0]).alias("key_0")
                rest = [k.alias(f"key_{i+1}") for i, k in enumerate(keys[1:])]
                out = df.select(first, *rest, F.col(doc_id_col).alias("doc_id"))
            else:
                named = [k.alias(f"key_{i}") for i, k in enumerate(keys)]
                out = df.select(*named, F.col(doc_id_col).alias("doc_id"))
        else:
            out = self._entries_from_function(defn, df, doc_id_col, seq_col)

        if defn.use_collation:
            # mixed-type key contract: each key part is a STRING holding a
            # JSON value ('1.5', '"abc"', '[1]', '{"a":1}', 'false'); parts
            # that don't parse as JSON collate as plain strings
            keycols = [c for c in out.columns if c.startswith("key_")]
            out = out.withColumn(
                "sort_key",
                _collate_udf(F.array(*[F.col(c).cast("string") for c in keycols])),
            )
        return out

    def _entries_from_function(
        self, defn: IndexDefn, df: DataFrame, doc_id_col: str, seq_col: str | None
    ) -> DataFrame:
        """Programmable branch: registered on_map over (meta, doc).

        The user contract is per-document (reference OnMap/emit,
        indexjs.go:73-191) but the EXECUTION is Arrow-batched via
        ``mapInPandas``: one Python round trip per ~10k-row batch instead of
        one per row (r1 used a row-at-a-time ``F.udf`` — same semantics,
        ~10x the JVM<->Python boundary cost at scale). The 1→N emit fan-out
        happens inside the batch, so no explode pass is needed either.
        """
        fn = self.catalog.get_function(defn.func_name).fn
        n = len(defn.key_types)
        out_schema = T.StructType(
            [
                T.StructField(f"key_{i}", _parse_type(t), True)
                for i, t in enumerate(defn.key_types)
            ]
            + [T.StructField("doc_id", df.schema[doc_id_col].dataType, True)]
        )
        seq_name = seq_col or doc_id_col

        def run_batches(batches):
            import pandas as pd

            for pdf in batches:
                cols: dict[str, list] = {f"key_{i}": [] for i in range(n)}
                cols["doc_id"] = []
                for rec in pdf.to_dict("records"):
                    # native-Python doc dict (numpy scalars unwrapped) so the
                    # user function sees the same values the row-UDF gave it
                    doc = {
                        k: (v.item() if hasattr(v, "item") else v)
                        for k, v in rec.items()
                    }
                    seq_v = doc.get(seq_name)
                    # meta projection (M9): the reference's dcpEvent2Meta.
                    # byseqno is numeric in the reference; a non-numeric
                    # stand-in (string doc id, no seq_col) projects as None
                    # rather than failing the whole build.
                    try:
                        byseqno = None if pd.isna(seq_v) else int(seq_v)
                    except (TypeError, ValueError):
                        byseqno = None
                    meta = {
                        "id": str(doc[doc_id_col]),
                        "byseqno": byseqno,
                    }
                    try:
                        # panic-safe evaluation: any error ⇒ no entries
                        # (reference recover(), indexjs.go:77-81)
                        emits = fn(meta, doc) or []
                    except Exception:
                        continue
                    for e in emits:
                        t = list(e) if isinstance(e, (list, tuple)) else [e]
                        t = (t + [None] * n)[:n]
                        for i in range(n):
                            cols[f"key_{i}"].append(t[i])
                        cols["doc_id"].append(doc[doc_id_col])
                yield pd.DataFrame(cols)

        return df.mapInPandas(run_batches, out_schema)

    def _partitioned(self, defn: IndexDefn, entries: DataFrame) -> DataFrame:
        """Partition placement (P1/P2). SINGLE stays as-is (a logical table;
        physically coalescing to 1 would serialize the build)."""
        pk = list(defn.partition_keys or [c for c in entries.columns if c.startswith("key_")])
        if defn.partition_scheme in ("KEY", "HASH") and pk:
            return entries.repartition(defn.num_partitions, *[F.col(c) for c in pk])
        if defn.partition_scheme == "RANGE" and pk:
            return entries.repartitionByRange(defn.num_partitions, *[F.col(c) for c in pk])
        return entries

    # -- incremental maintenance (M6/M7/M8, S7) ----------------------------

    def apply_changes(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None = None,
        xattr_col: str | None = None,
        checkpoint: bool = True,
    ) -> DataFrame:
        """Apply one CDC micro-batch: ops are ``upsert`` / ``delete`` /
        ``expiration`` per document (reference opcodes at indexjs.go:123-189).

        MERGE semantics:
          1. last change per doc wins within the batch (seq order);
          2. every changed doc's old entries are retracted (anti-join on
             doc_id) — unless the index is Immutable (indexjs.go:158-160);
          3. live upserts re-emit entries (WHERE-false upserts emit nothing,
             which *is* the retraction case AddUpsertDeletion,
             indexjs.go:158-173; deletes emit nothing, AddDeletion,
             indexjs.go:175-188);
          4. every reduce view on the index folds the same delta.

        ``checkpoint=True`` commits before returning: the reduced batch is
        computed once into a frame this call owns (and releases before it
        returns), the merge and every view fold read it from there, and
        the new state and each view frame are materialized exactly once
        (eager local checkpoints), so the source is read once and the
        following :meth:`checkpoint_state` runs no job. If the batch
        fails, nothing is swapped in. ``checkpoint=False`` only builds the
        plans: no job runs, and the state and views stay lazy plans over
        ``changes`` until an action or :meth:`checkpoint_state`.

        With ``seq_col`` the last-change reduction leaves one row per doc;
        without it the retraction ids are de-duplicated with a
        ``distinct()``.

        ``retain_deleted_xattr`` (M8, indexjs.go:92-99): a delete carrying
        xattrs is treated as a mutation when the index opts in.
        """
        return self._apply(
            name, changes, doc_id_col, op_col, seq_col=seq_col,
            xattr_col=xattr_col, checkpoint=checkpoint,
        )

    def apply_backlog(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None = None,
        batch_col: str | None = None,
        checkpoint: bool = True,
        n_batches: int | None = None,
    ) -> DataFrame:
        """Catch-up merge — the reference's CATCHUP stream phase (T2,
        index.go:340-349): apply an ordered BACKLOG of CDC micro-batches in
        ONE merge instead of replaying them one by one.

        Equivalent by construction to folding :meth:`apply_changes` over
        the batches in ``(batch, seq)`` order: under sequential replay each
        later batch retracts everything an earlier batch wrote for the same
        doc, so only the per-doc FINAL change ever survives — which is
        exactly what the single ``row_number`` reduction over
        ``(batch_col, seq_col)`` keeps (equivalence is asserted against the
        literal fold in tests/test_mapindex_backlog.py). The wire cost is
        one shuffle on doc_id + one anti-join REGARDLESS of backlog depth,
        where the fold pays an anti-join per batch — the difference between
        O(1) and O(batches) plan depth when an index re-attaches after
        falling far behind (the scenario the reference handles with a
        dedicated CATCHUP stream).
        """
        return self._apply(
            name, changes, doc_id_col, op_col, seq_col=seq_col,
            batch_col=batch_col, checkpoint=checkpoint,
            batches=max(n_batches or 1, 1),
        )

    def _apply(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        *,
        seq_col: str | None,
        batch_col: str | None = None,
        xattr_col: str | None = None,
        checkpoint: bool,
        batches: int = 1,
    ) -> DataFrame:
        """The in-memory commit behind :meth:`apply_changes` and
        :meth:`apply_backlog`; ``batches`` is what the call adds to the
        applied-batch count."""
        defn = self.catalog.get_index(name)
        cur = self.index_table(name)
        with self._cdc_batch(
            defn, changes, doc_id_col, op_col, seq_col, batch_col, xattr_col,
            commit=checkpoint,
        ) as (changed_ids, new_entries):
            merged = self._merge(defn, cur, changed_ids, new_entries)
            if checkpoint:
                merged = self._materialized(
                    ("index", name), self._bounded(name, cur, merged)
                )
            frames = self._update_views(
                name, cur, changed_ids, new_entries, merged, defn.immutable
            )
            if checkpoint:
                frames = {
                    v: self._materialized(("view", v), f) for v, f in frames.items()
                }
        self._state[name] = merged
        for v, f in frames.items():
            self._views[v]["frame"] = f
        self._batches_applied[name] = self._batches_applied.get(name, 0) + batches
        return merged

    def _bounded(self, name: str, cur: DataFrame, merged: DataFrame) -> DataFrame:
        """``merged`` on at most as many partitions as the committed state
        ``cur`` holds or ``spark.sql.shuffle.partitions``, whichever is
        more. The merge's union appends the batch's partitions to the
        state's, and when the retraction anti-join is a broadcast nothing
        re-shuffles the state, so the count would otherwise grow with
        every batch. A lazy ``cur`` is left alone: counting its
        partitions would run its plan."""
        if cur is not self._committed.get(("index", name)):
            return merged
        n = max(
            cur.rdd.getNumPartitions(),
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        )
        return merged.coalesce(n)

    # -- CDC merge core (shared by in-memory and durable paths) ------------

    @contextmanager
    def _cdc_batch(
        self,
        defn: IndexDefn,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None,
        batch_col: str | None,
        xattr_col: str | None,
        commit: bool,
        count: bool = True,
    ):
        """The one owner of a CDC batch, for every apply path: validate
        the ops, keep the last change per doc over ``(batch_col,
        seq_col)`` (dropping ``batch_col``), and yield the reduced batch's
        ``(retraction ids, fresh entries)`` — see :meth:`_delta`.

        With ``commit`` the reduced batch is persisted and counted once
        before anything is planned over it, so every reader (the merge,
        each view fold, the durable path's bucket list) reads it from that
        frame, and the planner sees the batch's real size: a small batch's
        retraction ids are broadcast and the state is not shuffled. A
        caller whose first job inside the block reads the batch anyway
        passes ``count=False`` and lets that job fill the frame (the
        durable path's affected-bucket collect). The frame is released
        when the block exits, failed or not, so every job reading the
        batch must run inside it. Without ``commit`` no job runs and both
        yielded frames stay lazy plans over ``changes``, sharing the
        reduction's Exchange (ReuseExchange)."""
        order = [c for c in (batch_col, seq_col) if c]
        changes = self._validated_ops(changes, op_col)
        if order:
            w = Window.partitionBy(doc_id_col).orderBy(*[F.desc(c) for c in order])
            changes = (
                changes.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", *([batch_col] if batch_col else []))
            )
        if commit:
            changes = changes.persist()
        try:
            if commit and count:
                changes.count()
            yield self._delta(
                defn, changes, doc_id_col, op_col, seq_col, xattr_col, bool(order)
            )
        finally:
            if commit:
                changes.unpersist()

    def _validated_ops(self, changes: DataFrame, op_col: str) -> DataFrame:
        """ADVICE r1: a NULL/typo'd opcode must ERROR, not silently retract
        the doc's entries. The check is a plan-embedded raise_error inside
        the same pass (zero extra jobs) — it fires on the first bad row."""
        known_ops = ("upsert", "delete", "expiration")
        return changes.withColumn(
            op_col,
            F.when(F.lower(F.col(op_col)).isin(*known_ops), F.lower(F.col(op_col)))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"unknown CDC op (expected one of {known_ops}): "),
                        F.coalesce(F.col(op_col).cast("string"), F.lit("NULL")),
                    )
                )
            ),
        )

    def _delta(
        self,
        defn: IndexDefn,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None,
        xattr_col: str | None,
        one_row_per_doc: bool,
    ) -> tuple[DataFrame, DataFrame]:
        """One reduced CDC batch → (retraction ids, fresh entries):
          - every changed doc's old entries are retracted (by doc_id); the
            ids are de-duplicated unless the batch already holds one row
            per doc (``one_row_per_doc``);
          - live upserts re-emit entries (WHERE-false upserts emit nothing,
            which *is* AddUpsertDeletion, indexjs.go:158-173; deletes emit
            nothing, AddDeletion, indexjs.go:175-188);
          - ``retain_deleted_xattr`` (M8, indexjs.go:92-99): a delete
            carrying xattrs is treated as a mutation when the index opts in.
        """
        op = F.lower(F.col(op_col))
        is_delete = op.isin("delete", "expiration")
        if defn.retain_deleted_xattr and xattr_col:
            is_delete = is_delete & F.col(xattr_col).isNull()
        live = changes.filter(~is_delete).drop(op_col)
        new_entries = self._partitioned(
            defn, self._entries(defn, live, doc_id_col, seq_col)
        )
        changed_ids = changes.select(F.col(doc_id_col).alias("doc_id"))
        if not one_row_per_doc:
            changed_ids = changed_ids.distinct()
        return changed_ids, new_entries

    @staticmethod
    def _merge(
        defn: IndexDefn, cur: DataFrame, changed_ids: DataFrame, new_entries: DataFrame
    ) -> DataFrame:
        """The MERGE: retract every changed doc's entries from ``cur``
        (anti-join on doc_id) and add the fresh ones; an Immutable index
        never retracts (indexjs.go:158-160), so it only appends."""
        if not defn.immutable:
            # keep the canonical column order (key_*, doc_id[, __bucket])
            cur = cur.join(changed_ids, "doc_id", "left_anti").select(*cur.columns)
        return cur.unionByName(new_entries)

    # -- durable persistence (index.go:173-214; dataport sink
    # -- indexjs.go:129-188 writing through to storage) ---------------------

    #: defn + layout sidecar inside the index directory; the leading
    #: underscore keeps Spark's parquet reader from treating it as data
    DURABLE_META = "_index_defn.json"

    def _bucket_expr(self, col: str, buckets: int) -> Column:
        """Durable layout key: hash(doc_id) mod buckets. Retraction joins on
        doc_id, so bucketing BY doc_id makes every CDC merge touch only the
        partitions holding changed docs — the vbucket of this design."""
        return F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)).cast("int")

    @staticmethod
    def _bucket_dir(path: str, b: int) -> str:
        return hadoopfs.join(path, f"__bucket={int(b)}")

    def _hfs(self, path: str) -> hadoopfs.HadoopFS:
        """Hadoop FileSystem bound to `path`'s scheme — all durable-layout
        metadata IO goes through it so the same code addresses file:/,
        hdfs:// or s3a:// paths (see sources/hadoopfs.py for the
        object-store rename caveat)."""
        return hadoopfs.HadoopFS(self.spark, path)

    def _read_sidecar(self, path: str) -> dict:
        return json.loads(
            self._hfs(path).read_text(hadoopfs.join(path, self.DURABLE_META))
        )

    def _write_sidecar(self, name: str, path: str, buckets: int, schema) -> None:
        from dataclasses import asdict

        meta = {
            "defn": asdict(self.catalog.get_index(name)),
            "buckets": buckets,
            "batches_applied": self._batches_applied.get(name, 0),
            "entry_schema": json.loads(schema.json()),
        }
        self._hfs(path).write_text(
            hadoopfs.join(path, self.DURABLE_META), json.dumps(meta, indent=1)
        )

    def _read_durable_state(self, path: str, schema) -> DataFrame:
        """Read persisted entries with the recorded entry ``schema`` (no
        schema-inference job); an index whose every bucket was retracted
        has no parquet files left, so fall back to an empty frame."""
        if any(
            e.startswith("__bucket=") for e in self._hfs(path).list_names(path)
        ):
            full = T.StructType(
                [*schema.fields, T.StructField("__bucket", T.IntegerType())]
            )
            return self.spark.read.schema(full).parquet(path).drop("__bucket")
        return self.spark.createDataFrame([], schema)

    def save_index(self, name: str, path: str, buckets: int | None = None) -> None:
        """Persist built index state as a bucketed parquet table + defn
        sidecar — the durable twin of the reference's index-on-storage
        (IndexDefn shipped to storage nodes, index.go:173-214). After
        saving, the index is DURABLE: :meth:`apply_changes_durable` merges
        CDC batches through the table on disk, and a fresh engine (or a
        fresh SparkSession) reopens it with :meth:`load_index`.

        Layout: one directory per ``hash(doc_id) % buckets`` partition,
        coalesced to one file per bucket (the repartition below — without
        it, partitionBy writes a file per task×bucket). At 100 TB you raise
        ``buckets`` into the thousands; merges stay proportional to the
        buckets actually containing changed docs, never to index size.
        """
        defn = self.catalog.get_index(name)
        df = self.index_table(name)
        k = int(buckets or defn.num_partitions)
        out = df.withColumn("__bucket", self._bucket_expr("doc_id", k))
        (
            self._key_sorted(out.repartition(k, F.col("__bucket")))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(path)
        )
        self._write_sidecar(name, path, k, df.schema)
        self._durable[name] = (path, k)
        # a full re-save wipes the directory, views included — regenerate
        # any registered durable view against the new layout/bucketing
        for vname, d in list(self._durable_views.items()):
            if d["index"] == name:
                self.save_reduce_view_durable(vname, name, d["group"], **_measures(d))

    @staticmethod
    def _key_sorted(out: DataFrame) -> DataFrame:
        """Sort rows by index key WITHIN each bucket task before writing:
        the parquet row-group/page min-max stats then bracket disjoint key
        ranges, so a key-range scan over the durable index prunes row
        groups inside every bucket file (the LSM/SSTable layout, for free
        from the format). Task-local sort — no exchange."""
        if "sort_key" in out.columns:  # collated index scans order by it
            keys = ["sort_key"]
        else:
            keys = [c for c in out.columns if c.startswith("key_")] or ["doc_id"]
        return out.sortWithinPartitions("__bucket", *keys)

    def load_index(self, path: str) -> DataFrame:
        """Reopen a saved index from its directory: restore the defn from
        the sidecar into this engine's catalog (function indexes require
        their map function registered FIRST — the defn references it by
        name, exactly like the reference resolves evaluators from metakv),
        and point the index state at the durable table.
        """
        meta = self._read_sidecar(path)
        d = dict(meta["defn"])
        for fld in ("sec_exprs", "key_types", "desc", "partition_keys"):
            if d.get(fld) is not None:
                d[fld] = tuple(d[fld])
        defn = IndexDefn(**d)
        try:
            existing = self.catalog.get_index(defn.name)
            if existing != defn:
                raise ValueError(
                    f"index {defn.name!r} already registered with a DIFFERENT "
                    "definition than the sidecar at "
                    f"{path!r} — drop it first or load into a fresh engine"
                )
        except KeyError:
            self.catalog.add_index(defn)  # validates func_name is registered
        schema = T.StructType.fromJson(meta["entry_schema"])
        state = self._read_durable_state(path, schema)
        self._state[defn.name] = state
        self._status[defn.name] = self.ST_ACTIVE
        self._batches_applied[defn.name] = int(meta.get("batches_applied", 0))
        self._durable[defn.name] = (path, int(meta["buckets"]))
        # auto-register persisted reduce views: an engine that reopened the
        # index but not its views would silently stop maintaining them —
        # the views are part of the on-disk index state, so they reopen
        # with it
        fs = self._hfs(path)
        for entry in fs.list_names(path):
            vdir = hadoopfs.join(path, entry)
            if (
                entry.startswith("_view_")
                and fs.is_dir(vdir)
                # a crash between the partials write and the sidecar write
                # leaves a meta-less view dir — skip it (the view is lost
                # and must be re-created) rather than fail the whole
                # index reopen
                and fs.exists(hadoopfs.join(vdir, self.VIEW_META))
            ):
                self.load_reduce_view_durable(
                    defn.name, entry[len("_view_"):]
                )
        # in-memory views created against a PREVIOUS state of this index
        # re-derive from the reopened state (as in build())
        self._rederive_views(defn.name, state)
        return state

    # -- durable reduce views ---------------------------------------------

    VIEW_META = "_view_defn.json"

    @staticmethod
    def _view_dir(index_path: str, vname: str) -> str:
        # leading underscore: parquet readers treat _-prefixed dirs as
        # hidden, so the view's files never leak into the index scan
        return hadoopfs.join(index_path, f"_view_{vname}")

    def save_reduce_view_durable(
        self,
        name: str,
        index_name: str,
        group_cols: list[str],
        sum_col: str | None = None,
        distinct_col: str | None = None,
        minmax_col: str | None = None,
    ) -> None:
        """Persist a reduce view of a DURABLE index as per-bucket PARTIAL
        aggregates, partitioned by the same ``__bucket`` key as the index.

        The partial layout is what makes durable maintenance IDEMPOTENT —
        the property the in-memory delta fold cannot give. A view stored
        as final totals would need ``total += delta`` per batch, and a
        replayed batch (crash after the view write, before the stream
        checkpoint commits) would double-apply the delta. Stored as
        per-bucket partials, maintenance is instead a pure function of the
        post-merge index state: recompute the AFFECTED buckets' partials
        from the buckets just rewritten and dynamic-partition-overwrite
        exactly those view partitions — replaying a batch rewrites the
        same partitions with the same bytes, the identical idempotency
        argument :meth:`apply_changes_durable` makes for the index itself.

        Serving cost: the read-side final aggregation folds ≤
        buckets × |groups| partial rows — metadata-scale next to the
        index. Maintenance cost: one re-read + re-agg of the affected
        buckets (bytes already bounded by the merge itself)."""
        if index_name not in self._durable:
            raise KeyError(f"index {index_name!r} is not durable")
        path, k = self._durable[index_name]
        idx_cols = set(self.index_table(index_name).columns)
        missing = [c for c in group_cols if c not in idx_cols]
        if missing:
            raise KeyError(f"group columns not in index: {missing}")
        for c in (sum_col, distinct_col, minmax_col):
            if c is not None and c not in idx_cols:
                raise KeyError(f"measure column not in index: {c!r}")
        self._check_sketchable(self.index_table(index_name), distinct_col)
        vpath = self._view_dir(path, name)
        # explicit schema from the index sidecar: a bootstrapped-empty
        # index has no parquet files yet, so inference would fail
        side = self._read_sidecar(path)
        full_schema = T.StructType.fromJson(side["entry_schema"]).add(
            "__bucket", T.IntegerType()
        )
        cur = self.spark.read.schema(full_schema).parquet(path)
        # min/max need no special durable treatment: partials are always
        # RECOMPUTED from post-merge bucket state (never folded/negated),
        # which is retraction-safe for every measure class
        partials = cur.groupBy("__bucket", *group_cols).agg(
            *self._view_aggs(sum_col, distinct_col, minmax_col=minmax_col)
        )
        (
            partials.repartition(k, F.col("__bucket"))
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(vpath)
        )
        desc = {
            "index": index_name,
            "group": list(group_cols),
            "sum_col": sum_col,
            "distinct_col": distinct_col,
            "minmax_col": minmax_col,
        }
        partial_schema = T.StructType(
            [f for f in partials.schema.fields if f.name != "__bucket"]
        )
        self._hfs(vpath).write_text(
            hadoopfs.join(vpath, self.VIEW_META),
            json.dumps({**desc, "partial_schema": json.loads(partial_schema.json())}),
        )
        self._durable_views[name] = desc

    def load_reduce_view_durable(self, index_name: str, name: str) -> None:
        """Reopen a persisted view from its sidecar (the index must already
        be loaded in this engine)."""
        if index_name not in self._durable:
            raise KeyError(f"index {index_name!r} is not durable/loaded")
        path, _ = self._durable[index_name]
        vpath = self._view_dir(path, name)
        meta = json.loads(
            self._hfs(vpath).read_text(hadoopfs.join(vpath, self.VIEW_META))
        )
        if meta["index"] != index_name:
            raise ValueError(
                f"view {name!r} belongs to index {meta['index']!r}, not "
                f"{index_name!r}"
            )
        self._durable_views[name] = {
            "index": index_name,
            "group": list(meta["group"]),
            **_measures(meta),
        }

    def reduce_view_table_durable(self, name: str) -> DataFrame:
        """Final aggregation over the persisted per-bucket partials."""
        if name not in self._durable_views:
            raise KeyError(f"durable reduce view {name!r} does not exist")
        dv = self._durable_views[name]
        path, _ = self._durable[dv["index"]]
        vpath = self._view_dir(path, name)
        if any(
            e.startswith("__bucket=") for e in self._hfs(vpath).list_names(vpath)
        ):
            partials = self.spark.read.parquet(vpath).drop("__bucket")
        else:  # every bucket retracted → empty view with the recorded schema
            meta = json.loads(
                self._hfs(vpath).read_text(hadoopfs.join(vpath, self.VIEW_META))
            )
            partials = self.spark.createDataFrame(
                [], T.StructType.fromJson(meta["partial_schema"])
            )
        final = partials.groupBy(*dv["group"]).agg(
            *self._view_merge_aggs(**_measures(dv))
        )
        return self._view_serve(final, **_measures(dv))

    def _update_durable_views(
        self, index_name: str, path: str, affected, full_schema
    ) -> None:
        """Recompute affected buckets' view partials from the POST-merge
        index state on disk — a pure function of that state, hence
        idempotent under batch replay (see save_reduce_view_durable).
        ``full_schema`` (entry schema + __bucket) keeps the read valid
        even when the merge emptied the whole index: the empty partials
        then drive the unchanged-listing drop of the view partitions."""
        todo = [
            (v, d) for v, d in self._durable_views.items() if d["index"] == index_name
        ]
        if not todo:
            return
        cur = (
            self.spark.read.schema(full_schema)
            .parquet(path)
            .filter(F.col("__bucket").isin(list(affected)))
        )
        for vname, d in todo:
            vpath = self._view_dir(path, vname)
            partials = cur.groupBy("__bucket", *d["group"]).agg(
                *self._view_aggs(**_measures(d))
            )
            hadoopfs.dynamic_overwrite_dropping_emptied(
                self.spark,
                partials.repartition(max(len(affected), 1), F.col("__bucket")),
                vpath,
                "__bucket",
                lambda b, _vp=vpath: hadoopfs.join(_vp, f"__bucket={int(b)}"),
                affected,
            )

    def apply_backlog_durable(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None = None,
        batch_col: str | None = None,
        n_batches: int | None = None,
    ) -> DataFrame:
        """Catch-up merge THROUGH the durable table (reference CATCHUP
        stream, index.go:340-349, against index-on-storage): reduce an
        ordered backlog of CDC batches to the per-doc final change —
        equivalent by construction to replaying them one by one, as in
        :meth:`apply_backlog` — then apply it as ONE bucket-pruned
        idempotent partition rewrite. The storage cost of re-attaching a
        far-behind index is one merge regardless of backlog depth."""
        return self._apply_durable(
            name, changes, doc_id_col, op_col, seq_col=seq_col,
            batch_col=batch_col, batches=max(n_batches or 1, 1),
        )

    def rebucket_index(self, name: str, buckets: int) -> None:
        """Change a durable index's bucket count — the Spark twin of the
        reference's REBALANCE (index partitions redistributed across
        storage nodes as the cluster grows). Bucket count is a layout
        choice frozen at save time; as the index grows, merges touch
        ever-larger partitions until a rescale. One full read + one full
        bucketed write (exactly what a rebalance costs), committed by a
        STAGING-directory swap: the new layout is written complete to a
        sibling directory, then swapped in via two renames — the old
        layout stays intact (and in-flight readers of its immutable
        parquet files unaffected) until the new one is fully durable, so
        a crash mid-rebucket leaves either the old or the new index,
        never neither. On HDFS/POSIX the renames are atomic; an
        object-store deployment (S3A rename = non-atomic copy) should
        commit the swap through a metastore/manifest pointer instead —
        see sources/hadoopfs.py."""
        if name not in self._durable:
            raise KeyError(f"index {name!r} is not durable")
        path, _ = self._durable[name]
        fs = self._hfs(path)
        meta = self._read_sidecar(path)
        schema = T.StructType.fromJson(meta["entry_schema"])
        # the staging write is the one full read of the current layout;
        # it completes before the swap below touches ``path``
        self._state[name] = self._read_durable_state(path, schema)
        staging = path.rstrip("/") + ".__rebucket_staging"
        old = path.rstrip("/") + ".__rebucket_old"
        fs.delete(staging)  # clear a dead staging dir from a prior crash
        fs.delete(old)
        self.save_index(name, staging, buckets=buckets)
        fs.rename(path, old)
        fs.rename(staging, path)
        fs.delete(old)
        self._durable[name] = (path, int(buckets))
        state = self._read_durable_state(path, schema)
        self._state[name] = state
        # in-memory views were derived from a read of the old layout,
        # whose files the swap deleted
        self._rederive_views(name, state)

    def apply_changes_durable(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        seq_col: str | None = None,
        xattr_col: str | None = None,
    ) -> DataFrame:
        """Apply one CDC micro-batch THROUGH the durable table: read only
        the bucket partitions holding changed docs, merge (same retract +
        re-emit semantics as :meth:`apply_changes`), and idempotently
        rewrite exactly those partitions (dynamic partition overwrite).
        Re-running the same batch rewrites the same partitions with the
        same bytes — the write is idempotent, so at-least-once delivery
        upstream still yields exactly-once index state (T1).

        Cost model at 100 TB: the scan is pruned to the affected bucket
        dirs (static partition pruning on ``__bucket``), the merge reads
        only those buckets plus the batch (read once, as in
        :meth:`apply_changes`), and the rewrite is proportional to
        affected-bucket bytes — never to index size.
        """
        return self._apply_durable(
            name, changes, doc_id_col, op_col, seq_col=seq_col, xattr_col=xattr_col
        )

    def _apply_durable(
        self,
        name: str,
        changes: DataFrame,
        doc_id_col: str,
        op_col: str,
        *,
        seq_col: str | None,
        batch_col: str | None = None,
        xattr_col: str | None = None,
        batches: int = 1,
    ) -> DataFrame:
        """The durable commit behind :meth:`apply_changes_durable` and
        :meth:`apply_backlog_durable`; ``batches`` is what the call adds to
        the applied-batch count."""
        if name not in self._durable:
            raise KeyError(
                f"index {name!r} is not durable; save_index() or load_index() first"
            )
        path, k = self._durable[name]
        defn = self.catalog.get_index(name)
        # explicit schema from the sidecar: a bootstrapped-empty index has
        # no parquet files yet, so inference would fail; partition-column
        # type pinned so the isin prune below stays a static partition
        # filter
        side = self._read_sidecar(path)
        full_schema = T.StructType.fromJson(side["entry_schema"]).add(
            "__bucket", T.IntegerType()
        )
        cur = self.spark.read.schema(full_schema).parquet(path)
        with self._cdc_batch(
            defn, changes, doc_id_col, op_col, seq_col, batch_col, xattr_col,
            commit=True, count=False,
        ) as (changed_ids, new_entries):
            # Affected-bucket id list: O(buckets) driver-side METADATA (≤k
            # small ints, independent of data volume) — the analogue of the
            # vbucket list a DCP StreamBegin carries. This is a metadata
            # action like the parquet-footer offsets in
            # session.parquet_col_max, not a data collect: its size is
            # bounded by the bucket count however large the batch or the
            # index grows. It is the first job over the persisted batch,
            # so it fills the batch's frame before the merge is planned.
            affected = sorted(
                int(r["__b"])
                for r in changed_ids.select(
                    self._bucket_expr("doc_id", k).alias("__b")
                )
                .distinct()
                .collect()
            )
            merged = self._merge(
                defn,
                cur.filter(F.col("__bucket").isin(affected)),
                changed_ids,
                new_entries.withColumn("__bucket", self._bucket_expr("doc_id", k)),
            )
            hadoopfs.dynamic_overwrite_dropping_emptied(
                self.spark,
                self._key_sorted(
                    merged.repartition(max(len(affected), 1), F.col("__bucket"))
                ),
                path,
                "__bucket",
                lambda b: self._bucket_dir(path, b),
                affected,
            )

        # durable views recompute their affected partials from the index
        # state just written — post-rewrite, so the read sees the merge
        self._update_durable_views(name, path, affected, full_schema)

        self._batches_applied[name] = self._batches_applied.get(name, 0) + batches
        entry_schema = T.StructType(
            [f for f in merged.schema.fields if f.name != "__bucket"]
        )
        self._write_sidecar(name, path, k, entry_schema)
        state = self._read_durable_state(path, entry_schema)
        self._state[name] = state
        # any IN-MEMORY views on this index re-derive from the post-merge
        # state — the durable merge bypasses apply_changes' delta fold, and
        # leaving them on the pre-batch lineage would serve stale answers
        self._rederive_views(name, state)
        return state

    # -- consistency levels (T3: index.go:137-156) -------------------------

    def enqueue_changes(self, name: str, changes: DataFrame, **apply_kwargs) -> None:
        """Queue a CDC batch without merging it yet — models the maintenance
        stream lagging behind the scan."""
        self.catalog.get_index(name)
        self._pending.setdefault(name, []).append((changes, apply_kwargs))

    def drain_pending(self, name: str) -> None:
        for changes, kwargs in self._pending.pop(name, []):
            self.apply_changes(name, changes, **kwargs)

    def pending_count(self, name: str) -> int:
        return len(self._pending.get(name, []))

    # -- scan surface (declared contract: index.go:39-43, 137-156) ---------

    def scan(
        self,
        name: str,
        low=None,
        high=None,
        inclusion: int = INCL_BOTH,
        descending: bool | None = None,
        consistency: str = "any",
        limit: int | None = None,
        projection: list[str] | None = None,
        ordered: bool = True,
    ) -> DataFrame:
        """Range scan, ordered per the index's declared Desc flags
        (index.go:285-296). ``low``/``high`` are either a single leading-key
        value or a list/tuple of leading key-part values — the reference's
        composite Low/High scan keys (index.go:137-156). A bound given as a
        PREFIX of the key brackets every entry sharing that prefix:
        exclusive excludes the whole prefix range, inclusive includes it
        (LSM/SSTable bracket semantics).

        ``limit`` (reference scan Limit, index.go:137-156) plans as
        TakeOrdered — per-partition top-k heaps merged at the driver, no
        global sort. Keyset pagination falls out of composite bounds: pass
        the last key seen as an EXCLUSIVE ``low`` to fetch the next page.
        ``projection`` trims returned columns (the reference's scan-side
        field selection) and reaches the source scan via column pruning.

        Consistency (T3, index.go:137-156): ``any`` scans current state;
        ``session``/``query`` first drain queued CDC batches so the scan
        observes everything enqueued before it (the stability barrier the
        reference implements with timestamp-vector waits).

        ``ordered=False`` skips the key-order delivery: an aggregating
        consumer (per-doc counts over a key range, joins) pays only the
        range FILTER, not a global sort Exchange it would immediately
        destroy with its own shuffle. ``limit`` and ``descending`` only
        mean anything under ordered delivery, so either combined with
        ``ordered=False`` raises rather than silently returning arbitrary
        order."""
        if limit is not None and not ordered:
            raise ValueError("limit requires ordered=True")
        if descending is not None and not ordered:
            raise ValueError("descending requires ordered=True")
        if consistency not in ("any", "session", "query"):
            raise ValueError(f"unknown consistency {consistency!r}")
        if consistency in ("session", "query"):
            self.drain_pending(name)
        defn = self.catalog.get_index(name)
        df = self.index_table(name)

        def as_parts(v):
            return list(v) if isinstance(v, (list, tuple)) else [v]

        if "sort_key" in df.columns:
            # Collated index: bounds are JSON values, encoded through the
            # SAME order-preserving encoding the scan orders by — filtering
            # raw key_0 text would use a different order than the collation
            # advertises ('10' < '9' lexicographically; cross-type bounds
            # plain wrong). Bound encoding exploits the composite-key array
            # framing: b"\x08"+enc(v0)+enc(v1)... is a strict prefix of
            # every entry whose leading parts equal those values, and \xff
            # is strictly above any continuation byte (tags <= 0x09,
            # terminator 0x00), so the four inclusive/exclusive cases are
            # pure byte-range predicates — exactly how an LSM/SSTable range
            # scan brackets a prefix.
            from mapreduceindex_demo_spark.collation import encode_value

            sk = F.col("sort_key")
            if low is not None:
                p = b"\x08" + b"".join(encode_value(v) for v in as_parts(low))
                df = df.filter(
                    sk >= F.lit(p) if inclusion & INCL_LOW else sk >= F.lit(p + b"\xff")
                )
            if high is not None:
                p = b"\x08" + b"".join(encode_value(v) for v in as_parts(high))
                df = df.filter(
                    sk <= F.lit(p + b"\xff") if inclusion & INCL_HIGH else sk < F.lit(p)
                )
            keys = ["sort_key"]
        else:
            def bound_pair(vals):
                # composite bounds compare field-wise via struct ordering —
                # Spark's struct comparison is exactly the lexicographic
                # multi-part key order the index declares
                names = (
                    ["doc_id"]
                    if defn.is_primary
                    else [f"key_{i}" for i in range(len(vals))]
                )
                if len(vals) == 1:
                    return F.col(names[0]), F.lit(vals[0])
                # struct comparison requires matching field names AND types
                return (
                    F.struct(
                        *[
                            F.col(n).cast(dict(df.dtypes)[n]).alias(n)
                            for n in names
                        ]
                    ),
                    F.struct(
                        *[
                            F.lit(v).cast(dict(df.dtypes)[n]).alias(n)
                            for n, v in zip(names, vals)
                        ]
                    ),
                )

            if low is not None:
                c, v = bound_pair(as_parts(low))
                df = df.filter(c >= v if inclusion & INCL_LOW else c > v)
            if high is not None:
                c, v = bound_pair(as_parts(high))
                df = df.filter(c <= v if inclusion & INCL_HIGH else c < v)
            keys = [c for c in df.columns if c.startswith("key_")] or ["doc_id"]
        desc_flags = list(defn.desc or (False,) * len(keys))
        desc_flags += [False] * (len(keys) - len(desc_flags))
        if descending is not None:
            desc_flags[0] = descending
        order = [
            F.col(c).desc() if d else F.col(c).asc()
            for c, d in zip(keys, desc_flags)
        ]
        out = df.orderBy(*order) if ordered else df
        if limit is not None:
            out = out.limit(limit)
        if projection is not None:
            missing = [c for c in projection if c not in out.columns]
            if missing:
                raise KeyError(f"projection columns not in index: {missing}")
            out = out.select(*projection)
        return out

    def scan_by_expr(
        self,
        bucket: str,
        leading_expr: str | None = None,
        **scan_kwargs,
    ) -> DataFrame:
        """Route a scan through index SELECTION (reference query-service
        planner): find the index on ``bucket`` whose leading key is
        ``leading_expr`` (primary index when None) and scan it — callers
        ask for data shapes, not index names."""
        defn = self.catalog.find_index(bucket, leading_expr)
        return self.scan(defn.name, **scan_kwargs)

    def stats(self, name: str, approx: bool = False) -> DataFrame:
        """Declared scan-side statistics (IndexStatistics, index.go:39-43):
        Count / MinKey / MaxKey / DistinctCount as one row.

        ``approx=True`` swaps exact distinct for HyperLogLog
        approx_count_distinct — the 100 TB default (exact distinct is a
        full shuffle of the key column; HLL is a fixed-size sketch merged
        map-side)."""
        defn = self.catalog.get_index(name)
        df = self.index_table(name)
        key0 = "doc_id" if defn.is_primary else "key_0"
        distinct = (
            F.approx_count_distinct(key0) if approx else F.countDistinct(key0)
        )
        return df.agg(
            F.count(F.lit(1)).alias("entry_count"),
            F.min(key0).alias("min_key"),
            F.max(key0).alias("max_key"),
            distinct.alias("distinct_keys"),
        )

    def stats_validated(self, name: str, rel_err: float = 0.05) -> DataFrame:
        """A4 at 100 TB is sketch-based: one pass computing exact count /
        min / max plus BOTH HyperLogLog and exact distinct, emitting the
        sketch's relative-error check as a column. The exact distinct
        exists only to *prove* the sketch's contract distributively — a
        production deployment drops it and keeps the HLL (stats(approx=True)).
        """
        defn = self.catalog.get_index(name)
        df = self.index_table(name)
        key0 = "doc_id" if defn.is_primary else "key_0"
        return df.agg(
            F.count(F.lit(1)).alias("entry_count"),
            F.min(key0).alias("min_key"),
            F.max(key0).alias("max_key"),
            F.approx_count_distinct(key0).alias("__hll"),
            F.countDistinct(key0).alias("__exact"),
        ).select(
            "entry_count",
            "min_key",
            "max_key",
            (
                F.abs(F.col("__hll") - F.col("__exact"))
                <= F.lit(rel_err) * F.col("__exact")
            ).alias("distinct_ok"),
        )

    def engine_stats(self, name: str | None = None) -> dict:
        """Observability (D9, reference statsHandler http_handlers.go:1748-
        1809): per-index lifecycle status, applied-batch count, pending CDC
        backlog. Cheap (no jobs); row counts come from :meth:`stats`."""
        names = [name] if name else self.catalog.list_indexes()
        return {
            n: {
                "status": self._status.get(n, self.ST_CREATED),
                "batches_applied": self._batches_applied.get(n, 0),
                "pending_batches": self.pending_count(n),
                "defn": self.catalog.get_index(n).name,
                "durable": (
                    {"path": self._durable[n][0], "buckets": self._durable[n][1]}
                    if n in self._durable
                    else None
                ),
                "reduce_views": sorted(
                    v for v, d in self._views.items() if d["index"] == n
                ),
                "durable_reduce_views": sorted(
                    v
                    for v, d in self._durable_views.items()
                    if d["index"] == n
                ),
            }
            for n in names
        }

    def bins(self, name: str, n: int, lo: float, hi: float) -> DataFrame:
        """Histogram bins over a numeric leading key (Bins(), index.go:43):
        width_bucket-style, single shuffle."""
        df = self.index_table(name)
        bucket = F.least(
            F.lit(n - 1),
            F.greatest(
                F.lit(0),
                F.floor((F.col("key_0") - lo) / ((hi - lo) / n)).cast("int"),
            ),
        ).alias("bin")
        return (
            df.select(bucket)
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy("bin")
        )


def _parse_type(t: str) -> T.DataType:
    mapping = {
        "string": T.StringType(),
        "bigint": T.LongType(),
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "boolean": T.BooleanType(),
        "binary": T.BinaryType(),
    }
    if t in mapping:
        return mapping[t]
    return T._parse_datatype_string(t)  # full DDL strings


def _collate_udf(col: Column) -> Column:
    """Arrow-batched collation of JSON-encoded key parts → order-preserving
    binary sort key (engaged only for mixed-type keys; see collation.py).
    Built lazily: pandas_udf needs an active session."""

    @F.pandas_udf("binary")
    def _enc_series(parts):  # type: ignore[no-untyped-def]
        def parse(p):
            if p is None:
                # a key expression that evaluated to SQL NULL means the doc
                # lacks the field — the reference's MISSING, which collates
                # BELOW json null (_TAG_MISSING, collation.py). An explicit
                # json null arrives as the text 'null' and parses to None
                # below, so the two remain distinct end-to-end (ADVICE r1).
                return MISSING
            try:
                return json.loads(p)
            except (ValueError, TypeError):
                return p  # non-JSON text collates as a plain string

        def enc(arr):
            if arr is None:
                return collate_key([])
            return collate_key([parse(p) for p in arr])

        return parts.map(enc)

    return _enc_series(col)
