"""Durable IVF vector index: train once, persist cell-partitioned, serve
many ANN probes with partition-pruned reads.

This is the vector twin of the engine's durable secondary index
(mapindex.py save_index/load_index; reference: the index-on-storage
lifecycle, index.go:173-214): the expensive phase (k-means training +
corpus assignment) runs ONCE and lands on storage; every subsequent query
reopens the layout and reads only the cells it probes.

Layout under ``path``:

- ``cells/`` — the assignment table (vec_id, ee, csim) written
  ``partitionBy("cid")``: one directory per IVF cell. A probe of
  ``nprobe`` cells therefore reads nprobe/k of the files — and because
  the probe arrives as a JOIN against the (tiny) centroid-derived probe
  list, Spark's dynamic partition pruning injects the cell filter into
  the scan at runtime: no driver-side collect of probe ids, no full scan.
- ``centroids/`` — the k trained centroid rows (cid, ce), a parquet table
  small enough to broadcast at any corpus scale (k × dim doubles).

Scale shape at 100 TB: build cost is iters+1 corpus passes (each one
k-row broadcast + one map-side-combined (cid, pos) shuffle — see
functions/similarity.py) plus one cell-partitioned write; query cost is
one k-row centroid read + a partition-pruned scan of the probed cells +
a top-k heap merge. Raising k shrinks per-query bytes linearly; the
assignment write repartitions by cell so each cell lands as one file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduceindex_demo_spark.functions import similarity as S
from mapreduceindex_demo_spark.mapindex import validated_ops


class IVFVectorIndex:
    """A persisted IVF-Flat index over an (vec_id, ee: array<double>)
    corpus. Build with :meth:`build`, reopen (any engine/session) with
    :meth:`open`, query with :meth:`probe`."""

    def __init__(self, spark: SparkSession, path: str, k: int):
        self.spark = spark
        self.path = path.rstrip("/")
        self.k = k

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        path: str,
        k: int = 8,
        iters: int = 2,
    ) -> "IVFVectorIndex":
        """Train the coarse quantizer on `corpus` (vec_id, ee) and persist
        centroids + cell-partitioned assignments."""
        spark = corpus.sparkSession
        path = path.rstrip("/")
        centroids = S.train_ivf_centroids(corpus, k, iters)
        centroids.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
        # re-read the persisted centroids so the assignment pass does not
        # re-run the training lineage per partition
        trained = spark.read.parquet(f"{path}/centroids")
        assigned = S.assign_cells(corpus, trained)
        (
            assigned.repartition(k, F.col("cid"))
            .sortWithinPartitions("cid", "vec_id")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(f"{path}/cells")
        )
        return cls(spark, path, k)

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "IVFVectorIndex":
        """Reopen a persisted index; k is recovered from the centroid
        table (k rows — a metadata-scale read)."""
        k = spark.read.parquet(f"{path.rstrip('/')}/centroids").count()
        return cls(spark, path, int(k))

    # -- incremental maintenance ------------------------------------------

    def apply_changes(self, changes: DataFrame, op_col: str = "op") -> None:
        """Apply a resolved CDC batch (one row per vec_id; ``op`` in
        upsert/delete, upserts carrying the new ``ee``) THROUGH the
        persisted layout, with the quantizer FROZEN — the standard IVF
        maintenance contract (re-training moves cell boundaries and would
        invalidate every stored assignment; rebuild() is the re-train
        path).

        Cost model: new assignments price against the k stored centroid
        rows (broadcast); locating the cells that currently hold changed
        vectors is a column-pruned scan of (vec_id, cid) only — the one
        place a vector index pays for not being partitioned by id; the
        rewrite is a dynamic partition overwrite of ONLY the affected
        cell directories, proportional to their bytes, never index size.
        Cells emptied by deletes are dropped driver-side through the
        Hadoop FS API (dynamic overwrite cannot rewrite a partition to
        empty), same as the mapindex durable layer.

        Idempotent: re-applying the same batch rewrites the same
        partitions with the same bytes, so at-least-once delivery still
        yields exactly-once index state.
        """
        from mapreduceindex_demo_spark.sources import hadoopfs

        cells_path = f"{self.path}/cells"
        # the batch feeds the affected-cell collect and the rewrite:
        # persisted and counted once, released when the call ends, failed
        # or not (the map index's batch rule, mapindex.py:_cdc_batch); an
        # unknown op fails that count before any cell is rewritten
        changes = validated_ops(changes, op_col).persist()
        try:
            changes.count()
            changed = changes.select("vec_id").distinct()
            upserts = changes.where(F.col(op_col) == "upsert").select(
                "vec_id", "ee"
            )
            new_assign = S.assign_cells(upserts, self.centroids())

            # Affected-cell id list: driver-side METADATA, ≤k small ints
            # regardless of batch or index size (same justification as the
            # mapindex affected-bucket list, mapindex.py:apply_changes_durable).
            # no broadcast hints on `changed`: it grows with the batch, and a
            # hint can never be demoted by AQE (the round-6 broadcast policy —
            # AQE broadcasts small batches from measured runtime bytes and
            # degrades to shuffle exactly when a backfill batch outgrows it)
            cur = self.cells()
            old_cells = cur.join(changed, "vec_id").select("cid").distinct()
            new_cells = new_assign.select("cid").distinct()
            affected = sorted(
                int(r["cid"]) for r in old_cells.union(new_cells).distinct().collect()
            )
            if not affected:
                return

            merged = (
                cur.filter(F.col("cid").isin(affected))
                .join(changed, "vec_id", "left_anti")
                .unionByName(new_assign)
            )
            hadoopfs.dynamic_overwrite_dropping_emptied(
                self.spark,
                merged.repartition(len(affected), F.col("cid")).sortWithinPartitions(
                    "cid", "vec_id"
                ),
                cells_path,
                "cid",
                lambda c: hadoopfs.join(cells_path, f"cid={int(c)}"),
                affected,
            )
        finally:
            changes.unpersist()

    # -- query -------------------------------------------------------------

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/centroids")

    def cells(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/cells")

    def probe(self, qvec: DataFrame, nprobe: int, topk: int) -> DataFrame:
        """ANN top-k for a single query vector frame ``qvec`` with one
        column ``qe: array<double>``: rank the reopened centroids by
        cosine to the query, take the nprobe nearest cells (tie cid asc),
        join the cell-partitioned assignment table on cid — dynamic
        partition pruning limits the scan to the probed directories —
        and exact-rerank by cosine with a total (cos_sim desc, vec_id)
        order. Returns (vec_id, cos_sim)."""
        ranked_cells = (
            self.centroids()
            .crossJoin(F.broadcast(qvec))
            .select("cid", S.cosine(F.col("ce"), F.col("qe")).alias("csim"))
            .orderBy(F.desc("csim"), F.asc("cid"))
            .limit(nprobe)
            .select(F.col("cid").alias("pcid"))
        )
        return (
            self.cells()
            .join(F.broadcast(ranked_cells), F.col("cid") == F.col("pcid"))
            .crossJoin(F.broadcast(qvec))
            .select("vec_id", S.cosine(F.col("ee"), F.col("qe")).alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            .limit(topk)
        )

    def probe_batch(
        self,
        qvecs: DataFrame,
        nprobe: int,
        topk: int,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Batch ANN against the persisted layout: ``qvecs`` carries
        (qid, qe); per-query probe lists come from one window over the
        (query × stored-centroid) frame, the probe list joins the cells
        scan on the partition column — dynamic partition pruning limits
        the read to the UNION of all probed cell directories — and
        per-query top-k is a window partitioned by qid over the
        candidates. ``exclude_self`` drops vec_id == qid matches — pass
        False when qids are EXTERNAL query identifiers rather than corpus
        members, or a corpus vector sharing a qid would silently vanish
        from that query's top-k. Returns (qid, vec_id, cos_sim, rk). The probe and query frames stay
        broadcast-size at any batch size (Q × nprobe and Q × dim);
        nothing else grows with Q."""
        from pyspark.sql import Window

        wq = Window.partitionBy("qid").orderBy(F.desc("csim"), F.asc("cid"))
        probes = (
            self.centroids()
            .crossJoin(F.broadcast(qvecs))
            .select(
                "qid", "cid", S.cosine(F.col("ce"), F.col("qe")).alias("csim")
            )
            .withColumn("rn", F.row_number().over(wq))
            .where(F.col("rn") <= nprobe)
            .select("qid", F.col("cid").alias("pcid"))
        )
        wr = Window.partitionBy("qid").orderBy(
            F.desc("cos_sim"), F.asc("vec_id")
        )
        cand = (
            self.cells()
            .join(F.broadcast(probes), F.col("cid") == F.col("pcid"))
            .join(F.broadcast(qvecs), "qid")
        )
        if exclude_self:
            cand = cand.where(F.col("vec_id") != F.col("qid"))
        return (
            cand
            .select(
                "qid", "vec_id", S.cosine(F.col("ee"), F.col("qe")).alias("cos_sim")
            )
            .withColumn("rk", F.row_number().over(wr))
            .where(F.col("rk") <= topk)
            .select("qid", "vec_id", "cos_sim", F.col("rk").cast("int"))
        )
