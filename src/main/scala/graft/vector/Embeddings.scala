package graft.vector

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Embedding aggregation / classification operators for training-data
  * curation: per-group centroids (the building block of cluster-based
  * curation such as SemDeDup / domain discovery) and k-NN label
  * classification (label propagation from a labeled seed set — the
  * standard embedding-quality-classifier shape).
  *
  * Scale design (the 100 TB contract):
  *  - centroids: one explode + one hash aggregate keyed on
  *    (group, dim) — fully map-side combinable, output is
  *    |groups| x dim rows regardless of corpus size;
  *  - knnClassify: the labeled seed set rides the broadcast side of
  *    [[Similarity.bruteForceTopK]]'s scan; votes aggregate per query
  *    (bounded: |queries| x k rows into the shuffle);
  *  - determinism: centroid sums are exact integer arithmetic on a
  *    1e6 fixed-point grid (float partial-sum merge order is
  *    run-dependent; integer sums are not), and votes are integer
  *    counts with lexicographic tie-breaks.
  */
object Embeddings {

  /** Per-group mean vector in long form: (group, dim, value, n_vecs).
    *
    * Each float component is snapped to a 1e6 fixed-point integer
    * (exact for the descriptive purpose of a centroid; 1e-6 absolute),
    * summed exactly, and divided once — bitwise reproducible across
    * runs, partitionings, and engines. */
  def centroidsLong(
      emb: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame = {
    val d = emb.select(col(groupCol).as("group"),
      posexplode(col(vecCol)).as(Seq("dim", "__v")))
    d.groupBy("group", "dim")
      .agg(
        sum(round(col("__v").cast("double") * lit(1e6), 0).cast(DecimalType(38, 0)))
          .as("__s"),
        count(lit(1)).as("n_vecs"))
      .select(col("group"), col("dim"),
        (col("__s").cast("double") / (col("n_vecs").cast("double") * lit(1e6)))
          .as("value"),
        col("n_vecs"))
  }

  /** [[centroidsLong]] reassembled to one `array<double>` row per group:
    * (group, centroid, n_vecs). The collect_list spans `dim` rows per
    * group — bounded by the embedding width, not the corpus. */
  def centroids(
      emb: DataFrame,
      groupCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    centroidsLong(emb, groupCol, vecCol)
      .groupBy("group")
      .agg(
        array_sort(collect_list(struct(col("dim"), col("value"))))
          .getField("value").as("centroid"),
        first(col("n_vecs")).as("n_vecs"))

  /** Per-dimension affine int8 scalar quantization — the standard 4x
    * embedding-storage compression for vector search at scale (codes
    * feed asymmetric-distance reranking; the corpus keeps one byte per
    * dimension). Long-form output so codes are engine-comparable ints.
    *
    * Scale design: the stats pass is one explode + bounded hash
    * aggregate (dim rows out, map-side combinable); the coding pass
    * broadcasts the dim-sized stats table back — no corpus shuffle.
    * Determinism: min/max are exact comparisons, the step and code are
    * single IEEE ops, round half-up — bitwise engine-reproducible.
    *
    * @return (vec_id, dim, code 0..255, recon) — recon = lo+code*step,
    *         rounded 1e-9
    */
  def int8Quantize(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val e = emb.select(col(idCol).as("vec_id"),
      posexplode(col(vecCol)).as(Seq("dim", "__xf")))
      .withColumn("__x", col("__xf").cast("double"))
    val stats = e.groupBy("dim")
      .agg(min(col("__x")).as("__lo"), max(col("__x")).as("__hi"))
      .withColumn("__step", (col("__hi") - col("__lo")) / lit(255.0))
    e.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("__hi") === col("__lo"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            round((col("__x") - col("__lo")) / col("__step"), 0).cast("long")))))
      .select(col("vec_id"), col("dim"), col("code"),
        round(when(col("__hi") === col("__lo"), col("__lo"))
          .otherwise(col("__lo") + col("code").cast("double") * col("__step")), 9)
          .as("recon"))
  }

  /** k-NN majority-vote classification: every query vector gets the
    * modal label among its k nearest labeled neighbors (exact cosine;
    * ties broken by higher vote count then smaller label — integer
    * tie-breaks only, so the prediction is engine-reproducible).
    *
    * @param labeled corpus with (idCol, vecCol, labelCol)
    * @param queries vectors to classify (idCol, vecCol)
    * @return (query_id, pred_label, votes) — votes = neighbors sharing
    *         the winning label
    */
  def knnClassify(
      labeled: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val topk = Similarity.bruteForceTopK(labeled, queries, k, idCol, vecCol)
    val labels = labeled.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("__lbl"))
    val votes = topk.join(labels, Seq("neighbor_id"))
      .groupBy("query_id", "__lbl").agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("__lbl"))
    votes.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("query_id"), col("__lbl").as("pred_label"), col("votes"))
  }

  /** Embedding OUTLIER scores — the curation pass that prunes vectors
    * far from their own region (mislabeled pairs, encoder failures,
    * off-distribution shards): each vector's exact quantized squared
    * distance to its assigned coarse cell ([[Ivf]] fixed-point grid —
    * an integer-valued double), z-scored against ITS CELL's
    * distance distribution, so dense and sparse regions are judged on
    * their own scale (a global cut would flag every small cell).
    *
    * Exactness: distances are grid integers; per-cell moment sums run
    * in decimal(38,0) (n·Σd² ~ 1e34 stays exact where a double sum
    * would round); the z is then 4 IEEE ops on deterministically
    * rounded operands, so the oracle replays it bitwise on the 1e-9
    * grid. Cells with n < 2 or zero variance yield null z. One scan +
    * one 16-row broadcast join — nothing scales beyond the corpus
    * pass.
    *
    * Output: (idCol, cell, dist, z) — z rounded 1e-9. */
  def outlierScores(
      df: DataFrame,
      centroids: Array[Array[Double]],
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val base = assignDist(df, centroids, idCol, vecCol)
    scoreAgainstStats(base, cellStats(base), idCol).orderBy(idCol)
  }

  /** (idCol, cell, dist): each vector's assigned coarse cell and its
    * exact grid squared distance to it — one fused kernel evaluation.
    * Null vectors are dropped on the raw column (they never joined a
    * cell's stats), and the kernel is non-nullable, so the join on
    * `cell` infers no Filter that would evaluate it a second time. */
  private[graft] def assignDist(
      df: DataFrame,
      centroids: Array[Array[Double]],
      idCol: String,
      vecCol: String,
      passthrough: Seq[String] = Nil): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol) +: passthrough.map(col) :+
        Ivf.nearestCellDist(col(vecCol), centroids).as("__nd"): _*)
      .select(col(idCol) +: passthrough.map(col) :+
        col("__nd.cell").as("cell") :+ col("__nd.dist").as("dist"): _*)

  /** Per-cell exact distance moments (cell, n, __s1, __s2) — the
    * bounded, persistable artifact an online outlier gate scores
    * against ([[graft.streaming.Streaming.streamingOutlierGate]]). */
  def cellStats(assigned: DataFrame): DataFrame = {
    val dd = col("dist").cast(DecimalType(38, 0))
    assigned.groupBy("cell").agg(count(lit(1)).as("n"),
      sum(dd).as("__s1"), sum(dd * dd).as("__s2"))
  }

  /** z of each assigned vector against precomputed [[cellStats]] —
    * identical arithmetic whether the stats come from this batch or a
    * persisted artifact (the streamed gate replays bitwise).
    *
    * Exactness has a hard ceiling: `__s1 * __s1` lives in
    * Decimal(38,0), so cells whose |Σdist| reaches ~1e19 (≈1e6 vectors
    * at ~1e13 squared grid distances) would overflow precision 38 —
    * and Spark's non-ANSI decimal multiply NULLs silently rather than
    * raising, while the DuckDB HUGEINT oracle twin dies at the same
    * ~1.7e38 ceiling. Rather than returning silently-null z for
    * exactly the hottest cells, the kernel FAILS FAST an order of
    * magnitude early (|s1| ≥ 1e18 or n·s2 ≥ 1e37, checked in double
    * space); callers with cells that hot should center distances per
    * cell or raise the centroid count. */
  private[graft] def scoreAgainstStats(
      assigned: DataFrame,
      stats: DataFrame,
      idCol: String,
      passthrough: Seq[String] = Nil): DataFrame = {
    val dd = col("dist").cast(DecimalType(38, 0))
    val nD = col("n").cast(DecimalType(38, 0))
    val momentsTooHot =
      abs(col("__s1").cast("double")) >= 1e18 ||
        col("n").cast("double") * col("__s2").cast("double") >= 1e37
    assigned.join(broadcast(stats), Seq("cell"))
      .withColumn("__a", (nD * dd - col("__s1")).cast("double"))
      .withColumn("__b",
        when(momentsTooHot, raise_error(concat(
          lit("cellStats moments for cell "), col("cell").cast("string"),
          lit(" exceed the exact Decimal(38,0) range (s1="),
          col("__s1").cast("string"), lit(", n="), col("n").cast("string"),
          lit("); center distances per cell or raise the centroid count")))
          .cast("double"))
          .otherwise(
            (nD * col("__s2") - col("__s1") * col("__s1")).cast("double")))
      .withColumn("__c", (col("n") * (col("n") - 1L)).cast("double"))
      .select(col(idCol) +: passthrough.map(col) :+ col("cell") :+
        col("dist") :+
        when(col("n") < 2L || col("__b") <= 0.0, lit(null).cast("double"))
          .otherwise(round((col("__a") / col("n").cast("double")) /
            sqrt(col("__b") / col("__c")), 9)).as("z"): _*)
  }
}
