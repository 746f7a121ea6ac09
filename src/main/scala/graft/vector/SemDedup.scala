package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
  * direction-normalized embeddings with a k-means coarse quantizer,
  * then find near-duplicate pairs WITHIN each cluster by exact cosine
  * — the standard embedding-level dedup stage of LLM training-data
  * pipelines, catching paraphrases and re-encodings that n-gram
  * methods miss.
  *
  * Scale design: the candidate join is an equi-join on cell id — never
  * all-pairs; per-cell work is quadratic only in the cell size, which
  * the caller bounds by scaling `nCells` with the corpus (the paper
  * uses ~1 cell per 10-50k docs). Training cost is bounded by
  * [[Ivf.trainCentroids]]'s hash-sample cap; the only full-corpus
  * passes are one normalization+assignment scan and the bucketed
  * self-join.
  *
  * Determinism: normalization is one IEEE division per component,
  * clustering runs on [[Ivf]]'s exact fixed-point grid, and the keep
  * decision is min-id — the verdict is bitwise reproducible across
  * runs, partitionings, and engines (the DuckDB oracle replays it).
  */
object SemDedup {

  /** VENUE switch for quantizer training, not a cell-count ceiling:
    * up to 2048 cells the 32-per-cell sample (~65k vectors, ~4e10
    * madds over 5 iters) fits the driver-array Lloyd budget
    * ([[Ivf.lloydLocal]] — faster: no per-iteration job overhead);
    * past it, training runs DISTRIBUTED ([[Ivf.lloydDistributed]]) with
    * the sample kept as a Spark table — bitwise the same centroids,
    * scaling with the cluster instead of one driver core. */
  private[graft] val MaxAutoCells = 2048L

  /** Hard cell-count ceiling: centroids live as one driver array (the
    * seed collect and the per-iteration k×(dim+1) aggregate are both
    * O(cells × dim)), so the distributed venue removes the TRAINING
    * bottleneck but not the driver-array footprint — 65536 cells × 64
    * dims ≈ 34 MB, a sane driver budget. Past n ≈ MaxCells ×
    * targetCellSize vectors the mean cell outgrows targetCellSize
    * linearly; raise targetCellSize (the per-cell quadratic is the
    * price of SemDeDup's exactness) rather than this ceiling. */
  private[graft] val MaxCells = 65536L

  /** Auto-scaled cell count: mean cell population ~targetCellSize,
    * floored at 16 so tiny corpora still get a non-trivial quantizer,
    * ceilinged at [[MaxCells]] so the driver-side centroid array stays
    * bounded for ANY corpus size (counts past [[MaxAutoCells]] switch
    * the training venue to the distributed Lloyd; counts past
    * [[MaxCells]] would unboundedly regrow the driver footprint the
    * venue switch exists to remove). */
  private[graft] def autoCells(n: Long, targetCellSize: Long): Int =
    math.max(16L, n / math.max(1L, targetCellSize)).min(MaxCells).toInt

  /** Per-vector semantic-dedup verdict.
    *
    * A vector is a duplicate iff some LOWER-ID vector in its cell has
    * cosine >= `threshold` with it; `keep_id` names the smallest such
    * neighbor (the cluster representative), self otherwise.
    *
    * @param nCells cell count for the coarse quantizer; `<= 0` (the
    *               default) auto-scales to `max(16, n / targetCellSize)`
    *               from one cheap count, so the per-cell quadratic stays
    *               bounded as the corpus grows without caller tuning —
    *               no ceiling: counts past [[MaxAutoCells]] train the
    *               quantizer with the distributed Lloyd
    *               ([[Ivf.trainCentroidsDistributed]]) instead of
    *               driver arrays, bitwise the same centroids
    * @param targetCellSize intended mean cell population under
    *               auto-scaling (the paper runs ~10-50k docs per cell)
    * @param trained optional pre-trained centroid matrix over the
    *               DIRECTION-NORMALIZED vectors (e.g. reused from a
    *               previous run); when given, nCells/iters are ignored
    * @return (vec_id, cell, n_dups, keep_id, is_dup) — n_dups counts
    *         the lower-id near-duplicate neighbors
    */
  def semDedup(
      emb: DataFrame,
      nCells: Int = 0,
      threshold: Double = 0.95,
      iters: Int = 5,
      targetCellSize: Long = 20000,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trained: Option[Array[Array[Double]]] = None): DataFrame = {
    // direction-normalize: cosine geometry becomes L2 geometry, so the
    // scaled/re-encoded copies SemDeDup exists to catch land in the
    // same cell as their originals
    val nrm = emb.select(col(idCol), col(vecCol),
        Similarity.l2Norm(col(vecCol)).as("__n"))
      .withColumn("__nv",
        transform(col(vecCol), x => x.cast("double") / col("__n")))
    val centroids = trained.getOrElse {
      // one count(*) — parquet-metadata cheap — bounds the per-cell
      // quadratic: mean cell size stays ~targetCellSize with no upper
      // ceiling on the corpus: past MaxAutoCells the quantizer trains
      // DISTRIBUTED (same exact arithmetic, Spark-aggregated Lloyd)
      val cells =
        if (nCells > 0) nCells else autoCells(emb.count(), targetCellSize)
      // the training sample must grow with the cell count (a k-means
      // with more cells than samples clamps down and the per-cell
      // quadratic silently resumes growing): 32 samples per cell,
      // floored at the default cap. Up to MaxAutoCells the sample fits
      // the driver-array budget (O(sample × cells) Lloyd on one core);
      // past it, the sample stays a distributed table and each Lloyd
      // iteration is one Spark aggregation — bitwise the same result.
      if (cells <= MaxAutoCells)
        Ivf.trainCentroids(nrm, cells, iters, idCol, "__nv",
          trainCap = math.max(4096, 32 * cells))
      else
        Ivf.trainCentroidsDistributed(nrm, cells, iters, idCol, "__nv")
    }
    // the non-nullable kernel (-1 for a null vector): the cell
    // self-join then infers no isnotnull(<kernel>) Filter that would
    // evaluate it twice; null vectors leave the join through a filter
    // on the RAW column, which pushes to the scan. The norms are made
    // non-nullable for the same reason: the cosine filter would infer
    // isnotnull(norm) and push it below the Project as
    // isnotnull(sqrt(graft_dot(v, v))). A norm is null only for a
    // vector with a null component, whose pair dot is null too, so the
    // pair is dropped either way.
    val a = nrm.select(col(idCol), col(vecCol), col("__n"),
      Ivf.nearestCell(col("__nv"), centroids).as("cell"))
    val live = a.filter(col(vecCol).isNotNull)
    val norm = coalesce(col("__n"), lit(0.0))
    val pairs = live.select(col(idCol).as("__ida"), col(vecCol).as("__va"),
        norm.as("__na"), col("cell"))
      .join(live.select(col(idCol).as("__idb"), col(vecCol).as("__vb"),
        norm.as("__nb"), col("cell")), Seq("cell"))
      .filter(col("__ida") < col("__idb"))
      .withColumn("__cos",
        Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("__cos") >= threshold)
    val dups = pairs.groupBy(col("__idb").as(idCol))
      .agg(count(lit(1)).as("n_dups"), min(col("__ida")).as("__keep"))
    a.select(col(idCol),
        when(col(vecCol).isNotNull, col("cell").cast("long")).as("cell"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("__keep"), col(idCol)).as("keep_id"),
        when(col("n_dups").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_dup"))
  }
}
