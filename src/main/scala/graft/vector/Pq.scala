package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011): split each vector into
  * `m` contiguous subspaces, train an independent small codebook per
  * subspace, and store each vector as `m` one-byte codes. Asymmetric
  * distance computation (ADC) then scores corpus codes against a
  * per-query table of exact query-to-centroid distances — one lookup
  * + add per subspace instead of a full d-dimensional product. With an
  * IVF coarse stage this is the standard 100 TB vector-search layout
  * (IVFADC); the memory win here is the same without the extra stage.
  *
  * Scale design: codebook training is m bounded hash-sample k-means
  * runs ([[Ivf.trainCentroids]]); encoding is a single map-only pass
  * (argmin over 16-row codebooks per subspace, codegen'd); the ADC
  * scan broadcasts the bounded query batch (with its m×k distance
  * tables) against the corpus codes — per pair cost is m integer adds.
  *
  * Exactness: everything runs on [[Ivf]]'s 1e6 fixed-point grid, so
  * codes AND ADC distances are exact integers — the DuckDB oracle
  * replays training, encoding, and scoring bitwise with no float
  * rounding anywhere.
  */
object Pq {

  /** Per-subspace codebooks: `m` matrices of `k` centroids over
    * `dim / m` components, each trained by the exact fixed-point
    * k-means on the corresponding vector slice. The bounded
    * hash-sample is collected ONCE (full-dim, quantized) and sliced
    * locally per subspace — the m Lloyd runs are then pure driver CPU
    * over ≤trainCap vectors, identical bit-for-bit to training each
    * subspace on its own distributed slice (quantization is
    * element-wise, so quantize∘slice = slice∘quantize). */
  def trainCodebooks(
      corpus: DataFrame,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainCap: Int = 4096): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sample = Ivf.collectSample(corpus, idCol, vecCol, trainCap)
    Array.tabulate(m) { s =>
      Ivf.lloydLocal(sample.map(v => v.slice(s * subDim, (s + 1) * subDim)),
        k, iters)
    }
  }

  /** Encode each vector as its `m` nearest-centroid codes (0-based,
    * ties toward the lower code). Map-only. */
  def encode(
      df: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      dim: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    df.select(col(idCol),
      array(Array.tabulate(m)(s =>
        Ivf.cellOf(slice(col(vecCol), s * subDim + 1, subDim),
          codebooks(s))).toIndexedSeq: _*).as("codes"))
  }

  /** Per-subspace RESIDUAL codebooks for IVFADC (Jégou et al. 2011
    * §III: the product quantizer encodes r = x − c_cell, the residual
    * of the coarse assignment, NOT the raw vector — residual energy is
    * a fraction of vector energy, so the same m×k byte budget spends
    * its resolution where the coarse stage left signal). Training:
    * the same bounded hash-sample as [[trainCodebooks]], each sample
    * vector assigned to its coarse cell with exactly the distributed
    * argmin semantics, residuals formed on the integer grid (both
    * operands integer-valued, so residuals are exact), then m
    * driver-local Lloyd runs over the residual slices. */
  def trainResidualCodebooks(
      corpus: DataFrame,
      coarse: Array[Array[Double]],
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainCap: Int = 4096): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sample = Ivf.collectSample(corpus, idCol, vecCol, trainCap)
    val resid = sample.map { v =>
      val c = coarse(Ivf.nearestLocal(v, coarse))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    Array.tabulate(m) { s =>
      Ivf.lloydLocal(resid.map(_.slice(s * subDim, (s + 1) * subDim)),
        k, iters)
    }
  }

  /** IVFADC top-k (the full Jégou et al. layout): an IVF coarse
    * quantizer routes each corpus vector to a cell; queries probe the
    * `nProbe` nearest cells and ADC-score ONLY those cells' codes.
    * Unlike [[adcTopK]]'s full scan, the candidate join is an
    * equi-join on cell id — at 1000-executor scale the probe touches
    * `nProbe / nCells` of the corpus and nothing is broadcast but the
    * query batch. All distances stay exact integers.
    *
    * Codes are RESIDUAL codes (pass [[trainResidualCodebooks]] output):
    * each corpus vector stores the PQ codes of x − c_cell, and each
    * query builds one ADC table PER PROBED CELL from q − c_cell — the
    * classic IVFADC read path, which concentrates quantization
    * resolution on the residual signal and lifts ADC recall at the
    * same byte budget vs raw-vector codes. The per-cell centroid rows
    * reach both sides through a broadcast of the nCells-row centroid
    * table (never a plan literal on the corpus scan).
    *
    * ADC distances are lossy (m-subspace code distortion), so ranking
    * by them alone caps recall well below the probe's ceiling (0.33
    * vs 0.82 on the sf0.001 fixture at m=8/k=16). The standard fix is
    * a two-stage read: shortlist the top `rerank`×k candidates by ADC,
    * then rerank ONLY those by exact cosine against the raw vectors.
    * The shortlist is bounded (`rerank`·k rows per query), so the
    * rerank fetch is a broadcast join against the corpus — the probed
    * candidates themselves never carry raw vectors through a shuffle.
    *
    * @param rerank exact-rerank shortlist multiplier (top `rerank`·k
    *               ADC candidates get exact-cosine reranked); 0 skips
    *               the rerank stage and ranks by raw ADC distance.
    * @return (query_id, rank, neighbor_id, cosine) with rerank > 0,
    *         (query_id, rank, neighbor_id, adc_dist) with rerank = 0
    */
  def ivfAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      dim: Int,
      k: Int = 10,
      nProbe: Int = 4,
      rerank: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    import corpus.sparkSession.implicits._
    val centsDf = broadcast(coarse.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("__cell", "__cent"))
    val residual = zip_with(col("__vq"), col("__cent"), (x, c) => x - c)
    val codes = corpus.select(col(idCol).as("neighbor_id"),
        Ivf.nearestCell(col(vecCol), coarse).as("__cell"),
        Ivf.quantizedVec(col(vecCol)).as("__vq"))
      .join(centsDf, Seq("__cell"))
      .withColumn("__r", residual)
      .select(col("neighbor_id"), col("__cell"),
        array(Array.tabulate(m)(s =>
          Ivf.cellOfQuantized(slice(col("__r"), s * subDim + 1, subDim),
            codebooks(s))).toIndexedSeq: _*).as("codes"))
    val probed = queries.select(col(idCol).as("query_id"),
        Ivf.quantizedVec(col(vecCol)).as("__vq"),
        explode(Ivf.nearestCellsOf(col(vecCol), coarse, nProbe)).as("__cell"))
      .join(centsDf, Seq("__cell"))
      .withColumn("__r", residual)
      .select(col("query_id"), col("__cell"),
        array(Array.tabulate(m)(s =>
          Ivf.distsOfQuantized(slice(col("__r"), s * subDim + 1, subDim),
            codebooks(s))).toIndexedSeq: _*).as("__dt"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("__dt"), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("neighbor_id"))
    val kShort = if (rerank > 0) k * rerank else k
    val ranked = codes.join(broadcast(probed), Seq("__cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc.cast("long"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= kShort)
    if (rerank <= 0)
      ranked.select(col("query_id"), col("__rk").cast("long").as("rank"),
          col("neighbor_id"), col("adc_dist"))
        .orderBy("query_id", "rank")
    else {
      // exact second stage: the bounded shortlist broadcasts against the
      // corpus to fetch raw vectors; cosine + tie-break match ivfTopK
      val shortlist = ranked.select("query_id", "neighbor_id")
      val cv = corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__cv"), Similarity.l2Norm(col(vecCol)).as("__cn"))
      val qv = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), Similarity.l2Norm(col(vecCol)).as("__qn"))
      val w2 = Window.partitionBy("query_id")
        .orderBy(col("__cos").desc, col("neighbor_id"))
      cv.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(qv), Seq("query_id"))
        .withColumn("__cos",
          Similarity.dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
        .withColumn("__rk", row_number().over(w2))
        .filter(col("__rk") <= k)
        .select(col("query_id"), col("__rk").cast("long").as("rank"),
          col("neighbor_id"), round(col("__cos"), 6).as("cosine"))
        .orderBy("query_id", "rank")
    }
  }

  /** ADC top-k: for every query, the `k` corpus vectors with the
    * smallest code-approximated squared distance (sum over subspaces
    * of the exact query-to-assigned-centroid distance). Distances are
    * exact integers on the fixed-point grid; ties break by neighbor
    * id, so the ranking is engine-reproducible with no rounding.
    *
    * @return (query_id, rank, neighbor_id, adc_dist)
    */
  def adcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      dim: Int,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val subDim = dim / m
    val codes = encode(corpus, codebooks, dim, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    // per-query distance tables: dt[s][c] = exact squared distance from
    // the query's s-th subvector to codebook s centroid c
    val q = queries.select(col(idCol).as("query_id"),
      array(Array.tabulate(m)(s =>
        Ivf.quantizedDists(slice(col(vecCol), s * subDim + 1, subDim),
          codebooks(s))).toIndexedSeq: _*).as("__dt"))
    val adc = (0 until m).map(s =>
      element_at(element_at(col("__dt"), s + 1),
        element_at(col("codes"), s + 1) + 1)).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("neighbor_id"))
    codes.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_dist", adc.cast("long"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), col("adc_dist"))
      .orderBy("query_id", "rank")
  }
}
