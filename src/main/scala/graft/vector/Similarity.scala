package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Embedding-similarity operators over an `array<float>` column:
  * brute-force cosine top-k (the exact baseline) and sign-LSH
  * (random-hyperplane) bucketed ANN (the scale path), plus
  * cosine-threshold near-duplicate detection.
  *
  * Scale design (the 100 TB contract):
  *  - the query set is always broadcast (top-k serves a bounded query
  *    batch); the corpus is scanned once, never collected;
  *  - the LSH path only joins within hyperplane-sign buckets (bands of
  *    the bit signature), never all-pairs; band count trades recall for
  *    candidate volume;
  *  - all arithmetic is codegen'd builtins (`zip_with`/`aggregate`) —
  *    no UDFs in the hot path;
  *  - hyperplane projections are a deterministic integer-hash formula
  *    (reproducible across engines and runs, no stored model state).
  */
object Similarity {

  /** Ordered dot product of two float-array columns, computed in IEEE
    * double exactly left-to-right (cross-engine reproducible): the
    * native codegen'd [[graft.functions.DotProduct]] expression,
    * bit-identical to [[hofDot]] (same widening, same summation
    * order). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** `aggregate`/`zip_with` dot product — the builtin-only reference
    * [[dot]] is checked against. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two float-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact cosine top-k: for every query vector the k nearest corpus
    * vectors by cosine (descending, ties broken by neighbor id; self
    * matches excluded).
    *
    * The query set is broadcast — the corpus partitions stream past it
    * with no shuffle; only the per-query top-k (bounded: |queries|·k
    * rows) shuffles for the final rank. Norms are computed once per SIDE
    * (not per pair), so each pair costs one ordered dot product. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      l2Norm(col(vecCol)).as("__qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      l2Norm(col(vecCol)).as("__cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__cos",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    scored
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"), col("neighbor_id"),
        round(col("__cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Dimension-adaptive exact retrieval — the Matryoshka read pattern
    * (Kusupati et al., NeurIPS '22 "Matryoshka Representation
    * Learning"): the first pass scores every (query, corpus) pair on
    * only the LEADING `prefixDim` components (a prefixDim/dim fraction
    * of the dot-product flops — the dim-budget axis, complementing the
    * PQ/IVF byte-budget axis), shortlists `shortlist` candidates per
    * query by prefix cosine, and an exact full-dimension rerank of the
    * bounded shortlist restores the final order. Recall measures how
    * much cosine mass the embedding packs into its prefix — MRL-trained
    * embeddings are built for exactly this read; for generic embeddings
    * raise `shortlist` (SimilaritySpec pins the recall on clustered
    * data). In a production layout the prefix lives in its own stored
    * column/index so the first pass never reads full vectors; here both
    * ride one scan (the slice is free once the column is read). */
  def truncatedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      prefixDim: Int,
      k: Int = 10,
      shortlist: Int = 40,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
      slice(col(vecCol), 1, prefixDim).as("__qp"))
      .withColumn("__qpn", l2Norm(col("__qp")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"),
      slice(col(vecCol), 1, prefixDim).as("__cp"))
      .withColumn("__cpn", l2Norm(col("__cp")))
    val pass1 = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("__pcos",
        dot(col("__qp"), col("__cp")) / (col("__qpn") * col("__cpn")))
    val w1 = Window.partitionBy("query_id")
      .orderBy(col("__pcos").desc, col("neighbor_id"))
    val short = pass1.withColumn("__r1", row_number().over(w1))
      .filter(col("__r1") <= shortlist)
    val rer = short.withColumn("__cos",
      dot(col("__qv"), col("__cv")) /
        (l2Norm(col("__qv")) * l2Norm(col("__cv"))))
    val w2 = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    rer.withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"),
        col("neighbor_id"), round(col("__cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** HARD negative mining for contrastive training — the
    * embedding-space complement of
    * [[graft.text.CorpusOps.negativeSample]]'s uniform draws: each
    * anchor's negatives are its NEAREST candidates by cosine that are
    * not the anchor itself or one of its positives (the
    * highest-gradient negatives; in-batch uniform negatives quickly
    * become trivial). Composition: one [[bruteForceTopK]] pass at
    * k = n + margin (margin absorbs excluded hits — raise it above
    * the max positives-per-anchor), an anti-join against the positive
    * pairs, and a bounded per-anchor re-rank. Swap the kNN stage for
    * the IVF/IVFADC path when the candidate pool outgrows brute force;
    * the exclusion + re-rank tail is unchanged.
    *
    * @param positives (anchorCol, positiveCol) pairs; anchors must
    *                  exist in `corpus`
    * @return (anchorCol, neg_rank 1..n, negative_id, cosine) */
  def hardNegatives(
      corpus: DataFrame,
      positives: DataFrame,
      n: Int,
      margin: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      anchorCol: String = "anchor_id",
      positiveCol: String = "positive_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(margin >= 1, s"margin must be >= 1, got $margin")
    val anchors = positives.select(col(anchorCol).as(idCol)).distinct()
      .join(corpus, Seq(idCol))
    val knn = bruteForceTopK(corpus, anchors, k = n + margin, idCol, vecCol)
    negTail(knn, positives, n, anchorCol, positiveCol)
  }

  /** [[hardNegatives]] with the kNN stage on the IVF path — the scale
    * variant for candidate pools past brute force: identical exclusion
    * + re-rank tail over [[Ivf.ivfTopK]]'s probed search. At
    * nProbe = nCells the probe covers every cell and the result is
    * EXACTLY [[hardNegatives]] (SimilaritySpec pins it); below that
    * the mined set is approximate with the IVF recall profile. */
  def hardNegativesIvf(
      corpus: DataFrame,
      positives: DataFrame,
      n: Int,
      margin: Int = 8,
      nCells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      anchorCol: String = "anchor_id",
      positiveCol: String = "positive_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(margin >= 1, s"margin must be >= 1, got $margin")
    val anchors = positives.select(col(anchorCol).as(idCol)).distinct()
      .join(corpus, Seq(idCol))
    val knn = Ivf.ivfTopK(corpus, anchors, k = n + margin, nCells, nProbe,
      iters, idCol, vecCol)
    negTail(knn, positives, n, anchorCol, positiveCol)
  }

  /** [[hardNegatives]] with the kNN stage on the full residual IVFADC
    * read path ([[Pq.ivfAdcTopK]]: coarse probe + residual-code ADC
    * shortlist + exact-cosine rerank) — the byte-budget scale variant
    * for candidate pools where even per-cell raw vectors are too hot
    * to scan. The exclusion + re-rank tail is shared unchanged. The
    * mined set carries the IVFADC recall profile (probe misses AND
    * ADC shortlist misses); raise `nProbe`/`rerank` to tighten it. */
  def hardNegativesAdc(
      corpus: DataFrame,
      positives: DataFrame,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      dim: Int,
      n: Int,
      margin: Int = 8,
      nProbe: Int = 4,
      rerank: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      anchorCol: String = "anchor_id",
      positiveCol: String = "positive_id"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(margin >= 1, s"margin must be >= 1, got $margin")
    require(rerank >= 1,
      "hard negatives rank by exact cosine - the ADC rerank stage must be on")
    val anchors = positives.select(col(anchorCol).as(idCol)).distinct()
      .join(corpus, Seq(idCol))
    val knn = Pq.ivfAdcTopK(corpus, anchors, coarse, codebooks, dim,
      k = n + margin, nProbe, rerank, idCol, vecCol)
    negTail(knn, positives, n, anchorCol, positiveCol)
  }

  private def negTail(
      knn: DataFrame, positives: DataFrame, n: Int,
      anchorCol: String, positiveCol: String): DataFrame = {
    val excl = positives.select(col(anchorCol).as("query_id"),
      col(positiveCol).as("neighbor_id"))
    val w = Window.partitionBy("query_id").orderBy("rank")
    knn.join(excl, Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= n)
      .select(col("query_id").as(anchorCol), col("neg_rank"),
        col("neighbor_id").as("negative_id"), col("cosine"))
      .orderBy(anchorCol, "neg_rank")
  }

  /** Deterministic pseudo-random hyperplane weight for (bit j, dim d):
    * an integer LCG-style mix mapped into [-0.5, 0.5). Identical formula
    * is emitted in the DuckDB oracle SQL. */
  def projWeight(j: Int, d: Int): Double =
    (((j + 1).toLong * 2654435761L + (d + 1).toLong * 40503L) % 1000003L).toDouble /
      1000003.0 - 0.5

  /** Sign-LSH bit signature: bit j = [ dot(v, r_j) > 0 ] for `nBits`
    * deterministic hyperplanes r_j, as columns __b0..__b{n-1}.
    *
    * The whole signature is ONE codegen'd `graft_sign_bits` bitmask
    * call (a per-bit dot composition embeds nBits*dim literal nodes
    * whose codegen compile time dominated the cold run; a `transform`
    * over a 2-D literal is interpreted per row — measured 3x
    * slower). */
  private def withSignBits(
      df: DataFrame, nBits: Int, dim: Int, idCol: String, vecCol: String): DataFrame = {
    val mat = typedLit(
      (0 until nBits).map(j => (0 until dim).map(d => projWeight(j, d))))
    val masked = df.select(col(idCol), col(vecCol).as("__v"),
      ColumnBridge.column(graft.functions.SignBits(
        ColumnBridge.expression(col(vecCol)), ColumnBridge.expression(mat)))
        .as("__mask"))
    val bits = (0 until nBits).map(j =>
      shiftright(col("__mask"), j).bitwiseAND(lit(1L)).cast("int").as(s"__b$j"))
    masked.select(col(idCol) +: col("__v") +: bits: _*)
  }

  /** Band keys "b:bit:bit:..." over the __b* signature columns. */
  private def bandKeyCols(nBits: Int, bands: Int): Seq[Column] = {
    val rows = nBits / bands
    (0 until bands).map { b =>
      concat_ws(":", lit(b.toString) +: (0 until rows).map(r =>
        col(s"__b${b * rows + r}").cast("string")): _*)
    }
  }

  /** ANN top-k via banded sign-LSH: signatures of `nBits` hyperplane
    * signs are cut into `bands`; vectors sharing any full band with the
    * query become candidates (bucket equi-join — never all-pairs) and
    * are reranked by exact cosine. Recall < 1 by construction; increase
    * `bands` (or lower bits per band) for higher recall.
    *
    * Output schema matches [[bruteForceTopK]] so recall is measurable
    * by direct comparison. */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nBits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nBits % bands == 0, s"bands ($bands) must divide nBits ($nBits)")
    def bucketed(df: DataFrame, role: String): DataFrame = {
      val sig = withSignBits(df, nBits, dim, idCol, vecCol)
      sig.select(col(idCol).as(role), col("__v").as(s"__v_$role"),
        l2Norm(col("__v")).as(s"__n_$role"),
        explode(array(bandKeyCols(nBits, bands): _*)).as("__bk"))
    }
    val qb = bucketed(queries, "query_id")
    val cb = bucketed(corpus, "neighbor_id")
    val cand = cb.join(broadcast(qb), Seq("__bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("__v_query_id").as("__qv"), col("__v_neighbor_id").as("__cv"),
        col("__n_query_id").as("__qn"), col("__n_neighbor_id").as("__cn"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("__cos").desc, col("neighbor_id"))
    cand
      .withColumn("__cos",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= k)
      .select(col("query_id"), col("__rk").cast("long").as("rank"), col("neighbor_id"),
        round(col("__cos"), 6).as("cosine"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-duplicate pairs: sign-LSH candidate generation over
    * the whole corpus (self-join within band buckets), exact-cosine
    * verification at `minCosine`. Output (id_a < id_b, cosine). */
  def cosineNearDups(
      corpus: DataFrame,
      minCosine: Double = 0.95,
      nBits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nBits % bands == 0, s"bands ($bands) must divide nBits ($nBits)")
    val sig = withSignBits(corpus, nBits, dim, idCol, vecCol)
    // candidate generation shuffles ONLY (band, id) rows: carrying the
    // dim-float vectors through the self-join and the pair dedup
    // multiplied the shuffle volume by ~100x (measured — candidates per
    // band are quadratic in bucket size, and near-dups collide in every
    // band). The vectors re-attach AFTER dedup via two corpus lookups,
    // each broadcastable when the corpus is small and a skinny shuffled
    // join at scale.
    val buckets = sig.select(col(idCol).as("__id"),
      explode(array(bandKeyCols(nBits, bands): _*)).as("__bk"))
    val a = buckets.select(col("__bk"), col("__id").as("id_a"))
    val b = buckets.select(col("__bk"), col("__id").as("id_b"))
    val cand = a.join(b, Seq("__bk")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    def vecs(role: String, v: String, n: String): DataFrame =
      corpus.select(col(idCol).as(role), col(vecCol).as(v),
        l2Norm(col(vecCol)).as(n))
    cand
      .join(vecs("id_a", "__va", "__na"), Seq("id_a"))
      .join(vecs("id_b", "__vb", "__nb"), Seq("id_b"))
      .withColumn("cosine", round(
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }
}
